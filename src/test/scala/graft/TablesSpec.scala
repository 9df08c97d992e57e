package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ReplayQ

/** [[Tables.parquet]], the memoized reader for committed input parquet: a
  * repeated read is given the schema Spark inferred for the same listing
  * under the same reader settings, so it launches no inference job, and a
  * rewritten table or a changed reader setting is inferred again. */
class TablesSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val reffix = Seq("quotes_daily", "stocks_dim", "quotes_5m", "fx_5m")
    .map(t => s"${ReplayQ.fixDir}/$t.parquet")

  /** Spark jobs that `body` starts from this thread. Listener events
    * arrive asynchronously but in order, so once a marker job run after
    * `body` is seen, every job `body` started has been seen too. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "reads under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a hit returns Spark's own inferred schema for every input table") {
    // events reads under nanosAsLong; the block puts the session back after
    withSQLConf(nanosAsLong -> "true") {
      loaders.foreach { case (_, load) => load(spark, sf) }
      val paths = loaders.map { case (name, _) => s"$sf/$name.parquet" } ++ reffix
      paths.foreach { path =>
        Tables.parquet(spark, path)
        val hit = Tables.parquet(spark, path).schema
        val fresh = spark.read.parquet(path).schema
        // StructField equality covers name, type, nullability and metadata
        assert(hit == fresh, s"$path:\n  hit:   $hit\n  fresh: $fresh")
      }
      loaders.filter(_._1 != "events").foreach { case (name, load) =>
        assert(load(spark, sf).schema == spark.read.parquet(s"$sf/$name.parquet").schema, name)
      }
    }
  }

  test("a repeated read of a table starts no Spark job") {
    withSQLConf(nanosAsLong -> "true") {
      loaders.foreach { case (_, load) => load(spark, sf) }
      reffix.foreach(Tables.parquet(spark, _))
      assert(jobsStartedBy {
        loaders.foreach { case (_, load) => load(spark, sf).schema }
        reffix.foreach(Tables.parquet(spark, _).schema)
      } == 0)
    }
  }

  test("a table read before the session's first events read is not inferred again after it") {
    // a fresh copy of region, so no earlier read in this JVM memoized it
    val copy = Files.createTempDirectory("tables_events").resolve("region.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), copy)
    withSQLConf(nanosAsLong -> "false") {
      Tables.parquet(spark, copy.toString)
      Tables.events(spark, sf)
      assert(jobsStartedBy(Tables.parquet(spark, copy.toString).schema) == 0)
    }
  }

  test("a table rewritten at the same path is inferred again") {
    val path = Files.createTempDirectory("tables_rewrite").resolve("t.parquet").toString
    spark.range(3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    Tables.parquet(spark, path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("a", "b"))
    spark.range(5).selectExpr("CAST(id AS STRING) AS x", "id * 10 AS y", "id AS z")
      .write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.schema.fieldNames.toSeq == Seq("x", "y", "z"))
    assert(again.orderBy("z").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      (0 until 5).map(i => (i.toString, i * 10L)))
  }

  test("a changed parquet reader setting is part of the key") {
    // written without Spark: a Spark-written footer carries Spark's own
    // schema, which takes precedence over binaryAsString
    val path = Files.createTempDirectory("tables_conf").resolve("b.parquet").toString
    val schema = MessageTypeParser.parseMessageType("message t { optional binary v; }")
    val writer = ExampleParquetWriter.builder(new HPath(s"$path/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("0", "1").foreach(v => writer.write(rows.newGroup().append("v", v)))
    finally writer.close()
    assert(Tables.parquet(spark, path).schema("v").dataType == BinaryType)
    withSQLConf("spark.sql.parquet.binaryAsString" -> "true") {
      val asString = Tables.parquet(spark, path)
      assert(asString.schema("v").dataType == StringType)
      assert(asString.orderBy("v").collect().map(_.getString(0)).toSeq == Seq("0", "1"))
    }
    assert(Tables.parquet(spark, path).schema("v").dataType == BinaryType)
  }

  test("no input read in queries or Tables goes around Tables.parquet") {
    // built from pieces so this file does not match its own pattern
    val directRead = ".read" + ".parquet("
    val queries = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(queries), s"$queries not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(queries)
    val readers = try files.iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && Files.readString(f).contains(directRead))
      .map(_.getFileName.toString).toSet
    finally files.close()
    assert(readers.isEmpty, s"direct parquet reads in $readers")

    // in Tables.scala, only the body of `def parquet` may read directly
    val lines = Files.readAllLines(Paths.get("src/main/scala/graft/Tables.scala")).asScala.toSeq
    val start = lines.indexWhere(_.startsWith("  def parquet("))
    assert(start >= 0, "def parquet not found in Tables.scala")
    val end = lines.indexWhere(l => l.startsWith("  def ") || l.startsWith("  /**"), start + 1)
    val outside = (lines.take(start) ++ lines.drop(end)).filter(_.contains(directRead))
    assert(outside.isEmpty, s"direct parquet reads outside Tables.parquet: $outside")
    assert(lines.slice(start, end).exists(_.contains(directRead)))
  }
}
