package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §2).
  *
  * All reads are plain parquet scans: schema-on-read, column pruning and
  * predicate pushdown are delegated to the vectorized parquet reader —
  * callers `.select`/`.filter` early so pushdown reaches the scan.
  *
  * Every committed input table is read through [[parquet]], which infers
  * a table's schema once and hands it to later reads. Without a schema,
  * each `spark.read.parquet` launches a Spark job to read footers, so
  * building any query that loads a table paid one job per load, even for
  * a table the session had read many times. The memo is keyed by what
  * the inferred schema depends on: the path, the leaf files under it
  * (name, length, mtime — a rewritten table is inferred again) and the
  * session's explicitly set parquet reader settings. [[parquet]] turns
  * on `nanosAsLong` (which `events` needs) before it takes the key, so
  * every read in a session keys on the same settings from its first
  * read on, whichever table comes first. Only schemas
  * are kept, and each comes from Spark's own inference, so a table's
  * first read in the JVM still pays for that inference ([[warm]] pays it
  * in setup).
  */
object Tables {
  /** (path, sorted leaf listing, sorted reader settings) */
  private type SchemaKey = (String, Seq[(String, Long, Long)], Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def readerSetting(key: String): Boolean =
    key.startsWith("spark.sql.parquet.") ||
      key.startsWith("spark.sql.legacy.parquet.") ||
      key == "spark.sql.caseSensitive"

  /** The one reader for committed input parquet: `spark.read.parquet`
    * with the schema supplied when this listing was already inferred
    * under the same reader settings. A path with no file to list is read
    * the ordinary way, so its error is Spark's own.
    *
    * Sets `nanosAsLong` on the session first: without it Spark rejects
    * INT64 TIMESTAMP(NANOS) columns, and it changes no other type, so
    * setting it for every table keeps the key stable instead of
    * changing it at the session's first `events` read. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set(NanosAsLong, "true")
    val p = new Path(path)
    val files =
      try {
        val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
          .toSeq.sorted
      } catch { case _: java.io.FileNotFoundException => Nil }
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val settings = spark.conf.getAll.filter(kv => readerSetting(kv._1))
        .toSeq.sorted
      val key: SchemaKey = (path, files, settings)
      Option(schemas.get(key)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          schemas.put(key, df.schema)
          df
      }
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

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
    *  - INT64 TIMESTAMP(NANOS): Spark's reader rejects nanos, so they
    *    read as long ([[parquet]] sets `nanosAsLong`) and are truncated
    *    to microseconds with exact integer division (DIV — a double
    *    division would lose precision at 1e18 nanos). DuckDB truncates
    *    ns→µs the same way.
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false → Spark reads
    *    TIMESTAMP_NTZ: cast to session-TZ timestamp. The session TZ is
    *    pinned to UTC everywhere (Verify/Bench/specs), so NTZ micros ≡ the
    *    oracle's naive micros and downstream instants are unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
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

  /** Every table of an sf dir, as `<name>.parquet`. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Touch every table once (file footers, codegen, JIT) so the timings
    * that follow measure queries, not session cold start. Goes through
    * the loaders, so `events` gets its schema-adaptive `ts` handling, and
    * each table's inferred schema seeds [[parquet]]'s memo. A table that
    * fails to load is named on stderr and the warm-up moves on to the
    * next one. */
  def warm(s: SparkSession, d: String): Unit =
    names.foreach { name =>
      try (if (name == "events") events(s, d) else table(s, d, name)).count()
      catch { case t: Throwable =>
        System.err.println(s"[tables] $name warm-up failed: $t")
      }
    }
}
