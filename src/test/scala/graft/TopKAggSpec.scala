package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TopKAgg

/** The bounded top-k aggregate ([[TopKAgg]]) must be BIT-IDENTICAL to
  * the rank-window form under the shared (score desc, id asc) order —
  * including exact-tie groups, keys with fewer than k rows, and rows
  * scattered across partitions (the map-side partial-merge path). */
class TopKAggSpec extends AnyFunSuite with SharedSpark {
  private def windowForm(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("rank", row_number().over(
        Window.partitionBy("q").orderBy(col("s").desc, col("id"))))
      .filter(col("rank") <= k)
      .select("q", "rank", "id", "s")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("parity with the rank window: random scores, ties, short keys, many partitions") {
    import spark.implicits._
    // deterministic mix: 3 keys × 400 rows with engineered exact ties
    // (score quantized to 1 dp) + one key with fewer than k rows
    val data = (0L until 1200L).map { i =>
      (i % 3, math.round(math.sin(i * 2.7) * 10) / 10.0, i)
    } ++ Seq((7L, 0.5, 1L), (7L, 0.5, 0L)) // short key, exact tie
    val df = data.toDF("q", "s", "id").repartition(13) // scatter partitions
    for (k <- Seq(1, 5, 10)) {
      val win = rows(windowForm(df, k))
      val agg = rows(TopKAgg.topKByKey(df, "q", "s", "id", k)
        .select("q", "rank", "id", "s"))
      assert(agg == win, s"k=$k mismatch")
    }
  }

  test("parity on the real brute-force kernel shape") {
    import graft.ext.Similarity
    val sf = "/root/testdata/sf0.001"
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val scores = Similarity.bruteForceScores(
      c.filter(col("vec_id") < 5), c, "vec_id", "vec_id", "vec")
    val win = scores.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= 10).select("q_id", "rank", "c_id", "cos")
    val agg = TopKAgg.topKByKey(scores, "q_id", "cos", "c_id", 10)
      .select("q_id", "rank", "c_id", "cos")
    assert(rows(agg.withColumnRenamed("q_id", "q")) ==
      rows(win.withColumnRenamed("q_id", "q")))
  }

  test("NaN scores rank LAST and never evict a real candidate") {
    import spark.implicits._
    // deliberate deviation from Spark's desc sort (NaN first there):
    // a degenerate score must not displace real neighbours
    val df = Seq((1L, 0.5, 10L), (1L, Double.NaN, 11L), (1L, 0.9, 12L),
      (1L, Double.NaN, 9L)).toDF("q", "s", "id")
    val got = TopKAgg.topKByKey(df, "q", "s", "id", 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    // 0.9, 0.5 first; then NaNs by id
    assert(got.toSeq == Seq((1, 12L), (2, 10L), (3, 9L)))
    // with k=2 the NaNs are fully evicted
    val k2 = TopKAgg.topKByKey(df, "q", "s", "id", 2)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(k2.toSeq == Seq(12L, 10L))
  }

  test("NULL rank keys rank LAST (window desc = nulls-last parity), NULL carry survives") {
    import spark.implicits._
    // cosine yields NULL on a zero-norm vector; Entry's fields are
    // primitive Doubles, so an uncoalesced NULL would either fail
    // decoding or decode to 0.0 and outrank the real -0.9 candidate
    val df = Seq[(Long, java.lang.Double, Long)](
      (1L, 0.5, 10L), (1L, null, 11L), (1L, -0.9, 12L), (1L, null, 9L)
    ).toDF("q", "s", "id")
    def triples(d: org.apache.spark.sql.DataFrame) = d.orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), Option(r.get(3)))).toSeq
    val win = triples(df.withColumn("rank", row_number().over(
        Window.partitionBy("q").orderBy(col("s").desc, col("id"))))
      .filter(col("rank") <= 3).select("q", "rank", "id", "s"))
    val agg = triples(TopKAgg.topKByKey(df, "q", "s", "id", 3)
      .select("q", "rank", "id", "s"))
    assert(agg == win)
    // NULL never outranks a real negative score; the surviving NULL
    // carry comes back as NULL, not 0.0
    assert(agg.map(_._2) == Seq(10L, 12L, 9L))
    assert(agg(2)._3.isEmpty)
  }

  test("plan: partial aggregation bounds the shuffle (no rank window, no sort-all)") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 4, i * 0.001, i)).toDF("q", "s", "id")
    val plan = TopKAgg.topKByKey(df, "q", "s", "id", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // ObjectHashAggregate appears twice: partial (map-side) + final
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }
}
