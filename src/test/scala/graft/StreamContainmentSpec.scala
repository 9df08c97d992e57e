package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.streaming.{Manifest, StreamContainment}

/** The streamed containment index (st16 — [[StreamContainment]]): a
  * maintained shingle-set table + ngb-bucketed exploded postings +
  * df deltas under the manifest protocol. Pins streamed serve ≡ the
  * scratch [[Dedup.containmentAgainst]] over a from-scratch index,
  * replay no-ops, the reset-checkpoint refusal, takedown (mask +
  * negative df delta) equal to an index never containing the deleted
  * docs, re-delete idempotence, the deleted-doc re-crawl block, and the
  * physical-forget leg: after compact + vacuum NO on-disk file under
  * the sink holds the deleted doc's rows. */
class StreamContainmentSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  /** Fixture slice + planted containment structure (ids chosen mod 4:
    * 900001/900002 land on the INDEX side, 900004 on the probe side):
    * index doc 900001 embeds the quote, index doc 900002 IS the quote,
    * probe doc 900004 is the same quote — so cross-boundary pairs exist
    * by construction on top of the organic fixture pairs. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val quote = (1 to 9).map(i => s"plant$i").mkString(" ")
    val filler = (1 to 50).map(i => s"plantfill$i").mkString(" ")
    Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Seq(
        900001L -> s"$filler $quote",
        900002L -> quote).toDF("doc_id", "text"))
  }
  private def probe: DataFrame = {
    import spark.implicits._
    val quote = (1 to 9).map(i => s"plant$i").mkString(" ")
    corpus.filter(col("doc_id") % 4 === 0)
      .unionByName(Seq(900004L -> quote).toDF("doc_id", "text"))
  }
  private def index: DataFrame = corpus.filter(col("doc_id") % 4 =!= 0)

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  /** Scratch reference: containmentAgainst over a from-scratch index of
    * `idx` (no maintained artifacts involved). */
  private def scratch(idx: DataFrame, batch: DataFrame)
      : Set[(Long, Long, Double)] = {
    val sets = Dedup.shingleSets(idx, "doc_id", "text", 5)
    val dfT = sets.select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs"))
    pairs(Dedup.containmentAgainst(sets, dfT, batch, "doc_id", "text",
      5, maxDf = 20, threshold = 0.4))
  }

  private def serve(dir: String): Set[(Long, Long, Double)] =
    pairs(StreamContainment.serve(spark, dir, probe,
      "doc_id", "text", 5, maxDf = 20, threshold = 0.4))

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("st16spec").toString

  private def ingest3(dir: String): Unit =
    (0 to 2).foreach { i =>
      StreamContainment.appendBatch(dir,
        index.filter(pmod(col("doc_id"), lit(3)) === i), i)
    }

  test("3-batch streamed ingest + full re-delivery ≡ scratch; serve finds the planted pair") {
    val dir = freshDir()
    ingest3(dir)
    val gens = Manifest.generations(spark, dir)
    // full re-delivery of batch 1: structural no-op — no delta, no gen
    StreamContainment.appendBatch(dir,
      index.filter(pmod(col("doc_id"), lit(3)) === 1), 1)
    assert(Manifest.generations(spark, dir) == gens)
    val got = serve(dir)
    assert(got == scratch(index, probe), "streamed serve must equal scratch")
    // 900004 (probe) is quoted inside 900001 (index); 900002 and
    // 900004 hold EQUAL sets, so the tie breaks to the smaller id
    assert(got.contains((900004L, 900001L, 1.0)) &&
      got.contains((900002L, 900004L, 1.0)),
      s"planted cross-boundary containment missing: $got")
  }

  test("reset-checkpoint guard: new docs on an ever-committed id refuse loudly") {
    val dir = freshDir()
    StreamContainment.appendBatch(dir,
      index.filter(col("doc_id") < 100), 0)
    val e = intercept[IllegalStateException] {
      StreamContainment.appendBatch(dir,
        index.filter(col("doc_id") >= 100 && col("doc_id") < 200), 0)
    }
    assert(e.getMessage.contains("already committed"))
  }

  test("takedown: mask + negative df ≡ an index never containing the docs; idempotent; re-crawl blocked") {
    import spark.implicits._
    val dir = freshDir()
    ingest3(dir)
    // forget the planted container 900001 and an organic slice
    val dead = index.filter(col("doc_id") === 900001L ||
      col("doc_id") % 9 === 2).select("doc_id")
    StreamContainment.deleteDocs(spark, dir, dead)
    val survivors = index.join(dead, Seq("doc_id"), "left_anti")
    assert(serve(dir) == scratch(survivors, probe),
      "post-delete serve must equal an index built without the docs")
    assert(!serve(dir).exists(p => p._1 == 900001L || p._2 == 900001L))
    // the df nets exactly: served df == scratch df over survivors
    val dfGot = StreamContainment.loadDf(spark, dir).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val dfExp = Dedup.shingleSets(survivors, "doc_id", "text", 5)
      .select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfGot == dfExp, "negative delta must net the df exactly")
    // re-delete: nothing to subtract, no commit
    val gens = Manifest.generations(spark, dir)
    StreamContainment.deleteDocs(spark, dir, dead)
    assert(Manifest.generations(spark, dir) == gens,
      "a re-delete must be a structural no-op")
    // re-crawl of a deleted id: the seen guard keeps it out
    StreamContainment.appendBatch(dir,
      Seq(900001L -> "recrawled body of the forgotten doc with enough tokens")
        .toDF("doc_id", "text"), 7)
    assert(serve(dir) == scratch(survivors, probe),
      "a re-crawl of a deleted id must not re-enter the index")
  }

  test("compact absorbs masks and deltas; vacuum leaves no on-disk row of the deleted doc") {
    val dir = freshDir()
    ingest3(dir)
    StreamContainment.deleteDocs(spark, dir,
      index.filter(col("doc_id") === 900001L).select("doc_id"))
    val survivors = index.filter(col("doc_id") =!= 900001L)
    val pre = serve(dir)
    StreamContainment.compact(spark, dir,
      StreamContainment.nextCompactId(spark, dir))
    assert(serve(dir) == pre, "compact must not move the serve")
    StreamContainment.vacuum(spark, dir)
    assert(serve(dir) == pre, "vacuum must not move the serve")
    assert(serve(dir) == scratch(survivors, probe))
    // the physical-forget leg: no parquet file under the sink still
    // holds a row keyed by the deleted doc (delids aux excepted — it
    // records the FACT of deletion, by id, not content)
    Seq("sets", "post").foreach { sub =>
      val live = spark.read.parquet(s"$dir/$sub")
      assert(live.filter(col("__cid") === 900001L).count() == 0,
        s"$sub still holds the deleted doc after compact+vacuum")
    }
    // replay guard survives the fold: the deleted id stays blocked
    import spark.implicits._
    StreamContainment.appendBatch(dir,
      Seq(900001L -> "post-vacuum recrawl").toDF("doc_id", "text"), 9)
    assert(serve(dir) == pre)
  }

  test("time travel: a pinned generation serves the pre-append index") {
    val dir = freshDir()
    StreamContainment.appendBatch(dir,
      index.filter(col("doc_id") < 300 || col("doc_id") >= 900000L), 0)
    val genBefore = Manifest.readWithGen(spark, dir).get._1
    StreamContainment.appendBatch(dir,
      index.filter(col("doc_id") >= 300 && col("doc_id") < 900000L), 1)
    val pinnedSets = StreamContainment
      .loadSetsAt(spark, dir, Some(genBefore)).get
      .select("__cid").collect().map(_.getLong(0)).toSet
    val expect = Dedup.shingleSets(
        index.filter(col("doc_id") < 300 || col("doc_id") >= 900000L),
        "doc_id", "text", 5)
      .select("__cid").collect().map(_.getLong(0)).toSet
    assert(pinnedSets == expect)
  }
}
