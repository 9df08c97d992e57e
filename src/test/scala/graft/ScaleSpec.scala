package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** The scale harness ([[Scale]], `graft.Profile scale`): its m = 2
  * blow-up of sf0.001 is an ordinary table dir that keeps the base rows
  * as copy 0 and shares no ids and no word shingles across copies, and
  * its rows are shipped queries or declared scenarios, never twins. */
class ScaleSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private lazy val d = Scale.dir(spark, sf, 2)

  private val idOf = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id")

  private def load(name: String, dir: String): DataFrame =
    if (name == "events") Tables.events(spark, dir) else Tables.table(spark, dir, name)

  test("the blow-up holds every table under its usual name") {
    Tables.names.foreach { t =>
      assert(Files.exists(Paths.get(d, s"$t.parquet")), s"$t missing from $d")
      val copies = if (idOf.toMap.contains(t)) 2 else 1
      assert(load(t, d).count() == copies * load(t, sf).count(), t)
    }
  }

  test("copy 0 is the base rows; ids are disjoint across copies") {
    idOf.foreach { case (t, id) =>
      val base = load(t, sf)
      val all = load(t, d)
      val copy0 = all.filter(col(id) < Scale.CopyOffset)
      assert(copy0.exceptAll(base).isEmpty && base.exceptAll(copy0).isEmpty, t)
      assert(all.select(id).distinct().count() == all.count(), s"$t ids repeat")
    }
    val users = Tables.events(spark, d)
      .groupBy((col("user_id") / Scale.CopyOffset).cast("long").as("copy"))
      .agg(countDistinct("user_id").as("n")).collect().map(_.getLong(1))
    assert(users.length == 2 && users.distinct.length == 1,
      "each copy has its own user universe of the base's size")
  }

  test("no word 3-shingle is shared across copies") {
    val sh = Tables.documents(spark, d).select(
      (col("doc_id") / Scale.CopyOffset).cast("long").as("copy"),
      explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
    val perCopy = sh.groupBy("copy").agg(countDistinct("sh").as("n"))
      .collect().map(_.getLong(1))
    assert(perCopy.length == 2 && perCopy.distinct.length == 1,
      "each copy keeps the base's shingle structure")
    assert(sh.groupBy("sh").agg(countDistinct("copy").as("n"))
      .filter(col("n") > 1).isEmpty)
  }

  test("each embedding keeps its norm under the ±1 pattern") {
    def norms(filter: org.apache.spark.sql.Column, shift: Long) =
      Tables.embeddings(spark, d).filter(filter).select(
        (col("vec_id") - shift).as("vec_id"), col("embedding"),
        sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)).as("norm"))
    val off = Scale.CopyOffset
    val pairs = norms(col("vec_id") < off, 0L).as("a")
      .join(norms(col("vec_id") >= off, off).as("b"), "vec_id")
    assert(pairs.count() == Tables.embeddings(spark, sf).count())
    assert(pairs.filter(abs(col("a.norm") - col("b.norm")) > lit(1e-6) * col("a.norm"))
      .isEmpty)
    assert(!pairs.filter(col("a.embedding") =!= col("b.embedding")).isEmpty,
      "copy 1 is not the base vectors")
  }

  test("every row is a shipped query or a declared scenario") {
    assert(Scale.scenarios.keySet == Set(
      "x7_zipf_bucket", "groupby_zipf", "skewjoin_zipf",
      "a3_asof_skew_plain", "a3_asof_skew_sliced", "a3_asof_auto_zipf",
      "a3_asof_plain_zipf", "takedown_forget_fixed", "takedown_attest_fixed",
      "release_full_fixed", "release_delta_fixed", "release_delta_folded",
      "release_delta_state", "clustered_shard_read", "release_delta_clustered",
      "release_delta_linked", "recall_emb", "recall_rag", "recall_hybrid"),
      "a scenario times work no query runs; a query's shape is timed " +
        "through its SparkEntry function")
    assert(Scale.rows.distinct == Scale.rows)
    val unknown = Scale.rows.filterNot(r =>
      SparkEntry.queries.contains(r) || Scale.scenarios.contains(r))
    assert(unknown.isEmpty, s"rows that are neither: $unknown")
    assert(Scale.scenarios.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
  }

  test("a query row and a scenario run on the m = 2 dir") {
    assert(Profile.run(spark, Scale.row("x1_dedup_exact"), d).rows > 0)
    // every doc's Zipf key is in 1..5000, so the join keeps every doc
    assert(Profile.run(spark, Scale.row("skewjoin_zipf"), d).rows ==
      Tables.documents(spark, d).count())
  }
}
