package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-format agnosticism: every operator consumes DataFrames, so the
  * engine must behave identically when the same facts arrive via CSV or
  * JSON instead of parquet (the S2 "API scan → stored table" path in
  * practice lands as JSON; exports commonly round-trip CSV). Parquet
  * remains the scale format (columnar pruning + pushdown); this spec pins
  * that the OTHER formats are correct, not that they are fast. */
class SourceFormatSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("CSV and JSON round-trips agree with the parquet scan row-for-row") {
    // events is the adversarial table (µs timestamps after Tables' nanos
    // handling, doubles) — if it round-trips, the simpler tables do too
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("events_fmt").toString
    // the format gotcha this spec exists to pin: CSV/JSON default
    // timestampFormat carries MILLIS only — events is µs-precision, so
    // both sides must spell out a 6-digit fraction or sub-ms truncates
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.option("header", "true").option("timestampFormat", tsFmt)
      .mode("overwrite").csv(s"$dir/csv")
    ev.write.option("timestampFormat", tsFmt).mode("overwrite")
      .json(s"$dir/json")

    val fromCsv = spark.read.option("header", "true")
      .option("timestampFormat", tsFmt).schema(ev.schema)
      .csv(s"$dir/csv")
    val fromJson = spark.read.option("timestampFormat", tsFmt)
      .schema(ev.schema).json(s"$dir/json")

    Seq("csv" -> fromCsv, "json" -> fromJson).foreach { case (fmt, df) =>
      assert(df.schema == ev.schema, s"$fmt schema drift")
      assert(df.count() == ev.count(), s"$fmt row count drift")
      assert(df.exceptAll(ev).isEmpty && ev.exceptAll(df).isEmpty,
        s"$fmt content drift vs parquet")
    }

    // and a representative operator (keyed as-of-style window agg) gives
    // identical results over either source
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 9).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
    assert(agg(fromCsv) == agg(ev))
    assert(agg(fromJson) == agg(ev))
  }

  test("ORC round-trips agree with the parquet scan row-for-row") {
    // ORC is the other columnar warehouse format Spark ships natively —
    // no timestampFormat gotcha (binary µs timestamps round-trip as-is)
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("events_orc").toString
    ev.write.mode("overwrite").orc(s"$dir/orc")
    val fromOrc = spark.read.schema(ev.schema).orc(s"$dir/orc")
    assert(fromOrc.schema == ev.schema, "orc schema drift")
    assert(fromOrc.exceptAll(ev).isEmpty && ev.exceptAll(fromOrc).isEmpty,
      "orc content drift vs parquet")
    // pushdown reaches the ORC scan too (columnar, same contract)
    val plan = fromOrc.filter(col("user_id") === 7)
      .select("event_id").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]")
      || plan.contains("EqualTo(user_id,7)"), s"no ORC pushdown in:\n$plan")
  }

  test("parquet schema evolution: mergeSchema unions batches, old rows backfill null") {
    // the 100 TB reality: a landed table grows a column mid-history; the
    // scan must union the schemas and backfill, not fail or drop data
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/batch=0")
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("quality", round(lit(0.5) + col("n_chars") / 1000.0, 6))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("doc_id", "lang", "n_chars", "quality", "batch"))
    assert(merged.count() == docs.count(), "no rows lost across schemas")
    // old rows backfill null; new rows keep their values
    assert(merged.filter(col("batch") === 0 && col("quality").isNotNull).count() == 0)
    assert(merged.filter(col("batch") === 1 && col("quality").isNull).count() == 0)
    // and filters on the NEW column still push down to the merged scan
    val p = merged.filter(col("quality") > 0.6).queryExecution
      .executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(quality"),
      s"no pushdown on evolved column:\n$p")
  }

  test("dynamic partition overwrite: re-landing one day touches only that day") {
    // the incremental-landing contract at 100 TB: a backfill of day K
    // must replace ONLY dt=K — static overwrite mode would wipe the
    // whole table; dynamic replaces exactly the partitions written
    val dir = java.nio.file.Files.createTempDirectory("dynpart").toString
    val ev = Tables.events(spark, sf)
      .withColumn("dt", to_date(col("ts")))
    ev.write.partitionBy("dt").mode("overwrite").parquet(dir)
    val days = spark.read.parquet(dir).select("dt").distinct()
      .orderBy("dt").collect().map(_.getDate(0))
    assert(days.length >= 2, "fixture must span multiple days")
    val (d0, d1) = (days(0), days(1))
    val before = spark.read.parquet(dir)
    val beforeD1 = before.filter(col("dt") === d1).count()
    val beforeTotal = before.count()
    val beforeD0 = before.filter(col("dt") === d0).count()
    // re-land day 0 with amounts doubled, HALF the rows (a correction)
    val fixed = ev.filter(col("dt") === d0 && col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
    withSQLConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      fixed.write.partitionBy("dt").mode("overwrite").parquet(dir)
    }
    val after = spark.read.parquet(dir)
    val afterD0 = after.filter(col("dt") === d0).count()
    assert(afterD0 < beforeD0 && afterD0 == fixed.count(),
      "day 0 must hold exactly the re-landed rows")
    assert(after.filter(col("dt") === d1).count() == beforeD1,
      "day 1 must be untouched")
    assert(after.count() == beforeTotal - beforeD0 + afterD0)
    // the corrected values actually landed
    assert(after.filter(col("dt") === d0 && col("value") < 0).count() ==
      ev.filter(col("dt") === d0 && col("event_id") % 2 === 0 &&
        col("value") < 0).count())
  }

  test("filters still push down to non-parquet scans") {
    val ev = Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("events_csv").toString
    ev.write.option("header", "true").mode("overwrite").csv(s"$dir/csv")
    val p = spark.read.option("header", "true").schema(ev.schema)
      .csv(s"$dir/csv")
      .filter(col("event_type") === "view")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"expected CSV scan pushdown, plan:\n$p")
  }
}
