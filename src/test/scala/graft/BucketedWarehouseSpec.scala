package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TimeSeries

/** SCALING.md's remaining TODO (VERDICT round 1 item 9): a bucketed
  * warehouse removes the per-query hash shuffle from every key-partitioned
  * stage. Writing the event/quote facts `bucketBy(key)` + `sortBy(key, ts)`
  * once means the ffill/as-of windows, the keyed aggregations, and
  * co-bucketed joins all start from a scan whose outputPartitioning already
  * satisfies their required distribution — `.explain` shows NO Exchange.
  * At 100 TB that converts the dominant per-query cost (shuffling the fact
  * table by key) into a one-time write-side cost.
  */
class BucketedWarehouseSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private lazy val table: String = {
    // a previous run's managed-table directory survives the in-memory
    // catalog (which starts empty), so clear both sides first
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "events_bucketed")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists) rm(loc)
    Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "value")
      .write.bucketBy(8, "user_id").sortBy("user_id", "ts")
      .saveAsTable("events_bucketed")
    "events_bucketed"
  }

  /** Build + stringify the plan with AQE off — the assertions inspect the
    * static plan; an AdaptiveSparkPlan wrapper would print its pre-AQE
    * Exchanges regardless of what runs. */
  private def plan(mkDf: => org.apache.spark.sql.DataFrame): String =
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      mkDf.queryExecution.executedPlan.toString
    }

  test("keyed window (T1 ffill) over the bucketed fact runs with zero Exchange") {
    val p = plan(TimeSeries.ffill(spark.table(table),
      Seq("user_id"), Seq("ts"), "value", "filled"))
    assert(p.contains("Window"))
    assert(!p.contains("Exchange"), s"bucketed scan must feed the window directly:\n$p")
    // the same pipeline on the raw parquet DOES shuffle — the bucketing is
    // what removed it
    val raw = plan(TimeSeries.ffill(
      Tables.events(spark, sf).select("user_id", "ts", "event_id", "value"),
      Seq("user_id"), Seq("ts"), "value", "filled"))
    assert(raw.contains("Exchange"))
  }

  test("keyed aggregation over the bucketed fact runs with zero Exchange") {
    val p = plan(spark.table(table).groupBy("user_id")
      .agg(avg("value").as("m"), count(lit(1)).as("n")))
    assert(!p.contains("Exchange"), s"bucketed agg should skip the shuffle:\n$p")
  }

  test("co-bucketed self-join (as-of shape) runs with zero Exchange") {
    val t1 = spark.table(table)
    val t2 = spark.table(table).select(col("user_id"),
      col("ts").as("ts2"), col("value").as("fx"))
    // hint("merge"): at fixture scale the planner would broadcast the tiny
    // side; the production-relevant plan for two fact-sized tables is the
    // sort-merge join, which co-bucketing makes exchange-free
    val p = plan(t1.hint("merge").join(t2, Seq("user_id"))
      .filter(col("ts2") <= col("ts"))
      .groupBy("user_id").agg(count(lit(1)).as("n")))
    assert(!p.contains("Exchange"),
      s"co-bucketed join + agg should be shuffle-free:\n$p")
  }
}
