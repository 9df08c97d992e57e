package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-layout pruning, proven at the plan level (the SCALING.md
  * claim "put `ts`'s date in the partition layout and time-slice queries
  * prune for free" — BucketedWarehouseSpec's sibling for the OTHER
  * physical-layout lever). A date filter over a `dt`-partitioned parquet
  * layout must turn into PartitionFilters on the scan and read strictly
  * fewer partitions/files than the table holds — at 100 TB this is the
  * difference between scanning a day and scanning three years. */
class PartitionLayoutSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    plan.collectLeaves().collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
  }

  test("a dt= layout prunes partitions at plan time; results are unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("events_by_dt").toString
    val events = Tables.events(spark, sf)
    events
      .withColumn("dt", to_date(col("ts")))
      .write.partitionBy("dt").mode("overwrite").parquet(dir)

    val layout = spark.read.parquet(dir)
    val nDates = layout.select("dt").distinct().count()
    assert(nDates > 1, "fixture must span multiple dates for this proof")

    // the P5/F12-shaped query: one day's slice
    val day = layout.filter(col("dt") === lit("2024-01-03"))
    val scan = scanOf(day)
    assert(scan.partitionFilters.nonEmpty,
      "date predicate must become a PartitionFilter, not a row filter")
    assert(scan.relation.partitionSchema.fieldNames.contains("dt"))

    // the scan must select strictly fewer partition directories than exist
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 1,
      s"expected exactly the one matching dt= directory, got $selected")
    assert(selected < nDates)

    // and a range predicate prunes to just the covered directories
    val range = layout.filter(col("dt") >= lit("2024-01-03") &&
      col("dt") <= lit("2024-01-05"))
    val rScan = scanOf(range)
    assert(rScan.partitionFilters.nonEmpty)
    assert(rScan.selectedPartitions.partitionCount <= 3)
    assert(rScan.selectedPartitions.partitionCount < nDates)

    // correctness: layout + pruning change the scan, never the answer
    val expected = events.filter(to_date(col("ts")) === lit("2024-01-03")).count()
    assert(day.count() == expected)
  }
}
