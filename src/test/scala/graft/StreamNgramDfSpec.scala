package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming.{Manifest, StreamNgramDf}

/** The streamed n-gram-df index (st11 — [[StreamNgramDf]]): immutable
  * per-batch (ng, ndocs) delta partitions + seen-ids guard partitions
  * under the manifest protocol, served as the keyed sum. Pins streamed
  * ≡ scratch [[TextOps.ngramDf]] on the real fixture, the structural
  * replay no-op (no generation), partial re-delivery folding only
  * novel docs, the reset-checkpoint refusal, time travel, and
  * compact ≡ serve with the replay guard surviving compaction. */
class StreamNgramDfSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = Tables.documents(spark, sf)

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("st11spec").toString

  test("3-batch streamed ingest + full re-delivery ≡ scratch ngramDf (real fixture)") {
    val dir = freshDir()
    (0 to 2).foreach { i =>
      StreamNgramDf.appendBatch(dir,
        docs.filter(pmod(col("doc_id"), lit(3)) === i), i)
    }
    val gens = Manifest.generations(spark, dir)
    // full re-delivery of batch 1: structural no-op — no delta, no gen
    StreamNgramDf.appendBatch(dir,
      docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1)
    assert(Manifest.generations(spark, dir) == gens)
    val streamed = rows(StreamNgramDf.load(spark, dir).get)
    val scratch = rows(TextOps.ngramDf(docs, "doc_id", "text"))
    assert(streamed == scratch)
    assert(streamed.nonEmpty)
  }

  test("partial re-delivery folds ONLY the novel docs") {
    val dir = freshDir()
    val b0 = docs.filter(col("doc_id") < 100)
    StreamNgramDf.appendBatch(dir, b0, 0)
    // batch 1 = all of batch 0 replayed + genuinely new docs
    val novel = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    StreamNgramDf.appendBatch(dir, b0.unionByName(novel), 1)
    val streamed = rows(StreamNgramDf.load(spark, dir).get)
    val scratch = rows(TextOps.ngramDf(docs.filter(col("doc_id") < 200),
      "doc_id", "text"))
    assert(streamed == scratch)
  }

  test("reset-checkpoint guard: new docs on an ever-committed id refuse loudly") {
    val dir = freshDir()
    StreamNgramDf.appendBatch(dir, docs.filter(col("doc_id") < 100), 0)
    val e = intercept[IllegalStateException] {
      StreamNgramDf.appendBatch(dir,
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), 0)
    }
    assert(e.getMessage.contains("already committed"))
  }

  test("time travel: a pinned generation serves the pre-append index bit-stable") {
    val dir = freshDir()
    StreamNgramDf.appendBatch(dir, docs.filter(col("doc_id") < 100), 0)
    val genBefore = Manifest.readWithGen(spark, dir).get._1
    StreamNgramDf.appendBatch(dir,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), 1)
    val pinned = rows(StreamNgramDf.loadAt(spark, dir, Some(genBefore)).get)
    assert(pinned == rows(TextOps.ngramDf(docs.filter(col("doc_id") < 100),
      "doc_id", "text")))
    assert(rows(StreamNgramDf.load(spark, dir).get) !=
      pinned, "the append must be visible at latest")
  }

  test("CONCURRENT doc append vs background compaction: pounded CAS, streamed ≡ scratch after the storm") {
    // the StreamBm25 pounded contract on the df sink: ingest appends
    // fresh doc batches while a maintainer continuously folds every
    // live delta; the CAS serializes commits and afterwards the summed
    // index equals a scratch ngramDf over every appended doc — a lost
    // delta shows as missing grams, a resurrected folded delta as a
    // double-counted df.
    val dir = freshDir()
    def docsFor(b: Int): DataFrame =
      docs.filter(col("doc_id") >= b * 50L && col("doc_id") < (b + 1) * 50L)
    StreamNgramDf.appendBatch(dir, docsFor(0), 0L)
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintainerErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val nextNeg = new java.util.concurrent.atomic.AtomicInteger(-1)
    val maintainer = new Thread(() => {
      while (!stop.get()) {
        try {
          // fold only when ≥ 2 live deltas exist (the BM25 candidate
          // gate): an unconditional compactor starves the appender
          if (Manifest.read(spark, dir).exists(_.size >= 2))
            StreamNgramDf.compact(spark, dir, nextNeg.getAndDecrement())
        } catch {
          case _: java.util.ConcurrentModificationException =>
            cme.incrementAndGet()
          case t: Throwable => maintainerErr.set(t); stop.set(true)
        }
      }
    })
    maintainer.start()
    val lastBatch = 5
    try {
      (1 to lastBatch).foreach { b =>
        var done = false
        while (!done) {
          try { StreamNgramDf.appendBatch(dir, docsFor(b), b.toLong); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet()
          }
        }
      }
    } finally { stop.set(true); maintainer.join() }
    assert(maintainerErr.get() == null,
      s"maintainer died: ${maintainerErr.get()}")
    val streamed = rows(StreamNgramDf.load(spark, dir).get)
    val scratch = rows(TextOps.ngramDf(
      docs.filter(col("doc_id") < (lastBatch + 1) * 50L), "doc_id", "text"))
    assert(streamed == scratch)
    assert(streamed.nonEmpty)
  }

  test("compact folds deltas; serve identical; replay guard survives compaction") {
    val dir = freshDir()
    (0 to 2).foreach { i =>
      StreamNgramDf.appendBatch(dir,
        docs.filter(pmod(col("doc_id"), lit(3)) === i), i)
    }
    val before = rows(StreamNgramDf.load(spark, dir).get)
    StreamNgramDf.compact(spark, dir, into = -1)
    assert(rows(StreamNgramDf.load(spark, dir).get) == before)
    assert(Manifest.read(spark, dir).get == Set(-1))
    // the seen-ids table rode the compaction: a replay of batch 0's
    // docs (under a FRESH batch id) still contributes nothing
    val gens = Manifest.generations(spark, dir)
    StreamNgramDf.appendBatch(dir,
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), 100)
    assert(Manifest.generations(spark, dir) == gens)
    assert(rows(StreamNgramDf.load(spark, dir).get) == before)
    // vacuum: folded delta + seen-ids partitions reclaimed, history
    // collapsed, serve unchanged — and the replay guard SURVIVES (the
    // merged seen-ids base is live, so a post-vacuum replay still
    // no-ops instead of double-counting)
    StreamNgramDf.vacuum(spark, dir)
    assert(rows(StreamNgramDf.load(spark, dir).get) == before)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/dfparts/batch_id=0")),
      "vacuum must reclaim the folded delta partition")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/seenids/batch_id=0")),
      "vacuum must reclaim the folded seen-ids partition")
    StreamNgramDf.appendBatch(dir,
      docs.filter(pmod(col("doc_id"), lit(3)) === 1), 101)
    assert(rows(StreamNgramDf.load(spark, dir).get) == before,
      "post-vacuum replay must still no-op against the merged guard")
  }

  test("takedown by NEGATIVE DELTA: netted immediately, idempotent, absorbed by compact, re-crawl blocked") {
    val dir = freshDir()
    (0 to 2).foreach { i =>
      StreamNgramDf.appendBatch(dir,
        docs.filter(pmod(col("doc_id"), lit(3)) === i), i)
    }
    val preGen = Manifest.readWithGen(spark, dir).get._1
    val deleted = docs.filter(col("doc_id") % 10 === 0)
    val survivors = docs.filter(col("doc_id") % 10 =!= 0)
    val scratchAfter = rows(TextOps.ngramDf(survivors, "doc_id", "text"))
    // duplicate rows per id must subtract ONCE (r11 self-review #4)
    StreamNgramDf.deleteDocs(spark, dir, deleted.unionByName(deleted))
    // 1. netted IMMEDIATELY: the served sum equals a scratch index that
    //    never saw the deleted docs (zero-sum grams dropped)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter)
    // 2. idempotent: a re-delete subtracts NOTHING (double-subtraction
    //    would corrupt every shared gram's df) and commits no generation
    val gens = Manifest.generations(spark, dir)
    StreamNgramDf.deleteDocs(spark, dir, deleted)
    assert(Manifest.generations(spark, dir) == gens)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter)
    // 3. re-crawl of a deleted doc stays OUT (the seen-ids guard is
    //    untouched by the delete — x58 blocker semantics, id-shaped)
    StreamNgramDf.appendBatch(dir, deleted.limit(5), 50)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter)
    // 4. time travel: the pre-delete generation still counts them
    assert(rows(StreamNgramDf.loadAt(spark, dir, Some(preGen)).get) ==
      rows(TextOps.ngramDf(docs, "doc_id", "text")))
    // 5. compact ABSORBS the negative delta (physical reclaim); serve
    //    unchanged; the deleted-ids record survives the fold, so a
    //    post-compact re-delete STILL subtracts nothing
    StreamNgramDf.compact(spark, dir, into = -10)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter)
    StreamNgramDf.deleteDocs(spark, dir, deleted)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter,
      "a post-reclaim re-delete must not subtract again")
    // 6. vacuum removes the folded negative delta; serve unchanged
    StreamNgramDf.vacuum(spark, dir)
    assert(rows(StreamNgramDf.load(spark, dir).get) == scratchAfter)
  }
}
