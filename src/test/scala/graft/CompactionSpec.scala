package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Compaction

/** Small-file compaction of a landed dt-partitioned table
  * (ops.Compaction): per-partition rewrite, content preservation, cold
  * partitions untouched. */
class CompactionSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("hot partition compacts to target; content and cold files unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val ev = Tables.events(spark, sf).withColumn("dt", to_date(col("ts")))
    // land with artificial fragmentation: many tiny appends per day
    ev.repartition(24).write.partitionBy("dt").mode("overwrite").parquet(dir)
    val days = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("dt=")).map(_.getName).sorted
    assert(days.length >= 2)
    val (hot, cold) = (days.head, days.last)
    val fragmented = Compaction.dataFiles(s"$dir/$hot").size
    assert(fragmented > 4, s"fixture must fragment, got $fragmented files")
    val coldBefore = Compaction.dataFiles(s"$dir/$cold").sorted
    val contentBefore = spark.read.parquet(dir)
      .filter(col("dt").isNotNull).orderBy("event_id").collect().toSeq

    val (before, after) =
      Compaction.compactPartition(spark, dir, hot, targetFiles = 2)
    assert(before == fragmented && after == 2,
      s"expected $fragmented -> 2 files, got $before -> $after")
    // cold partition byte-untouched (same file paths)
    assert(Compaction.dataFiles(s"$dir/$cold").sorted == coldBefore)
    // table content identical row-for-row
    val contentAfter = spark.read.parquet(dir)
      .filter(col("dt").isNotNull).orderBy("event_id").collect().toSeq
    assert(contentAfter == contentBefore, "compaction must not change rows")
    // and the compacted partition still prunes + pushes down
    val p = spark.read.parquet(dir)
      .filter(col("dt") === hot.stripPrefix("dt=") && col("user_id") === 7)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("user_id"),
      s"pushdown lost after compaction:\n$p")
  }
}
