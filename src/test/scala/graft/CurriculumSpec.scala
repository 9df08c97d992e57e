package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** Curriculum rank/phase assignment without a global sort
  * (TextOps.curriculumPhases; query x65_curriculum): bucketed two-phase
  * ranking must equal the naive global window EXACTLY, stay
  * partition-invariant, bucket the corpus window (never a
  * single-partition corpus sort), drop NULL order values, and land
  * every phase boundary on the ⌊nPhases·(rank−1)/n⌋ arithmetic. */
class CurriculumSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id"), (col("n_chars") % 97).cast("double").as("v"))

  private def got(df: org.apache.spark.sql.DataFrame, phases: Int,
                  buckets: Int): Map[Long, (Long, Int)] =
    TextOps.curriculumPhases(df, "doc_id", col("v"), phases, buckets)
      .select("doc_id", "rank", "phase").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap

  test("equals the naive global window exactly (heavy ties included)") {
    // v = n_chars % 97 gives many exact ties across docs
    val naive = docs.withColumn("rank",
        row_number().over(Window.orderBy(col("v"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val n = naive.size
    for (buckets <- Seq(1, 7, 64)) {
      val g = got(docs, 4, buckets)
      assert(g.view.mapValues(_._1).toMap == naive,
        s"ranks diverge from the global window at nBuckets=$buckets")
      g.foreach { case (id, (rank, phase)) =>
        assert(phase == (4L * (rank - 1) / n).toInt,
          s"phase arithmetic broken for doc $id")
      }
    }
  }

  test("constant order column: id-range sub-buckets keep the exact rank (tie degeneracy)") {
    // the limit case of the r11 seam: a single-valued order column puts
    // EVERY row into one value bucket — the id-range sub-bucket pass
    // must keep ranks exact (inside a one-value bucket the sort key
    // degenerates to the id, so id ranges preserve the global order)
    val const = docs.withColumn("v", lit(7.5))
    val naive = const.withColumn("rank",
        row_number().over(Window.orderBy(col("v"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val g = got(const, 4, 32)
    assert(g.view.mapValues(_._1).toMap == naive,
      "constant order column must still rank by id, exactly")
    val n = naive.size
    g.foreach { case (id, (rank, phase)) =>
      assert(phase == (4L * (rank - 1) / n).toInt,
        s"phase arithmetic broken for doc $id under constant order")
    }
  }

  test("partition-invariant and re-run stable") {
    val a = got(docs, 4, 32)
    val b = got(docs.repartition(17), 4, 32)
    val c = got(docs.coalesce(1), 4, 32)
    assert(a == b && a == c)
  }

  test("empty input (or all-NULL/NaN order) returns an empty frame, not an NPE") {
    val empty = docs.filter(lit(false))
    val out = TextOps.curriculumPhases(empty, "doc_id", col("v"), 4)
    assert(out.count() == 0 &&
      out.columns.contains("rank") && out.columns.contains("phase"))
    val allNaN = docs.withColumn("v", lit(Double.NaN))
    assert(TextOps.curriculumPhases(allNaN, "doc_id", col("v"), 4)
      .count() == 0)
  }

  test("NaN order values are excluded (they would poison the envelope and rank first)") {
    val withNaN = docs.withColumn("v",
      when(col("doc_id") % 7 === 0, lit(Double.NaN)).otherwise(col("v")))
    val out = TextOps.curriculumPhases(withNaN, "doc_id", col("v"), 4)
    val n = withNaN.filter(!isnan(col("v"))).count()
    assert(out.count() == n)
    assert(out.agg(max("rank")).collect()(0).getLong(0) == n,
      "ranks dense over the finite rows")
  }

  test("NULL order values are excluded") {
    val withNulls = docs.withColumn("v",
      when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("v")))
    val out = TextOps.curriculumPhases(withNulls, "doc_id", col("v"), 4)
    val n = withNulls.filter(col("v").isNotNull).count()
    assert(out.count() == n)
    assert(out.agg(max("rank")).collect()(0).getLong(0) == n,
      "ranks must stay dense over the non-null rows")
  }

  test("corpus window is bucket-keyed; only the offset prefix-sum is single-partition") {
    val plan = TextOps.curriculumPhases(docs, "doc_id", col("v"), 4,
      nBuckets = 32).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bkt"),
      s"expected bucket-keyed corpus window:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single <= 1, s"unexpected single-partition stages:\n$plan")
  }
}
