package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §2).
  *
  * All reads are plain parquet scans: schema-on-read, column pruning and
  * predicate pushdown are delegated to the vectorized parquet reader —
  * callers `.select`/`.filter` early so pushdown reaches the scan.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as two physical parquet types across fixture
    * generations, so the loader adapts to the *read* schema instead of
    * assuming one:
    *  - INT64 TIMESTAMP(NANOS): Spark's reader rejects nanos, so read them
    *    as long (`nanosAsLong`) and truncate to microseconds with exact
    *    integer division (DIV — a double division would lose precision at
    *    1e18 nanos). DuckDB truncates ns→µs the same way.
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false → Spark reads
    *    TIMESTAMP_NTZ: cast to session-TZ timestamp. The session TZ is
    *    pinned to UTC everywhere (Verify/Bench/specs), so NTZ micros ≡ the
    *    oracle's naive micros and downstream instants are unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        // fail LOUDLY on an unrecognized physical encoding: a blind cast
        // (e.g. of INT64 epoch-millis, or a string column) would coerce to
        // wrong-but-plausible instants that only a downstream oracle
        // mismatch could catch. A new fixture generation should fail here
        // with a named cause and get an explicit branch above.
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other — add an explicit " +
            "decode branch in Tables.events (known: INT64 TIMESTAMP(NANOS) " +
            "via nanosAsLong, TIMESTAMP_MICROS, TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Touch every table once (file footers, codegen, JIT) so the timings
    * that follow measure queries, not session cold start. Goes through
    * the loaders, so `events` gets its schema-adaptive `ts` handling. A
    * table that fails to load is named on stderr and the warm-up moves on
    * to the next one. */
  def warm(s: SparkSession, d: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { name =>
      try (if (name == "events") events(s, d) else table(s, d, name)).count()
      catch { case t: Throwable =>
        System.err.println(s"[tables] $name warm-up failed: $t")
      }
    }
}
