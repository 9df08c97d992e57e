package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming.StreamBm25

/** Streaming BM25 segment maintenance ([[StreamBm25]]): a REAL
  * micro-batched `writeStream.foreachBatch` ingest (MemoryStream) whose
  * sink appends each batch as an immutable on-disk parquet segment must
  * serve — through the disk round trip, with query-time df — scores
  * bit-equal to a from-scratch [[TextOps.bm25Index]] over the union
  * corpus; re-delivered batches append nothing; and compaction
  * ([[TextOps.bm25SegmentCompact]]) collapses segment metadata without
  * changing a single score. */
class StreamBm25Spec extends AnyFunSuite with SharedSpark {
  private val corpus = Seq(
    1L -> "apples and oranges and pears",
    2L -> "oranges oranges oranges",
    3L -> "a basket of apples",
    4L -> "pears alone",
    5L -> "apples pears oranges mixed basket",
    6L -> "entirely unrelated words here")
  private val queryDocs = Seq(10L -> "apples oranges", 11L -> "basket")

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "rank", "key", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private def ingest(batches: Seq[Seq[(Long, String)]],
                     replayLast: Boolean = false): String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream_bm25").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamBm25.appendBatch(dir, batch, id, "doc_id", "text")
      }
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      if (replayLast) { // at-least-once source re-delivers a batch
        input.addData(batches.last: _*); q.processAllAvailable()
      }
    } finally q.stop()
    dir
  }

  test("3-micro-batch streamed ingest serves bit-equal to a scratch index") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq)
    val segs = StreamBm25.load(spark, dir).get
    val queries = queryDocs.toDF("doc_id", "text")
    val streamed = searchRows(TextOps.bm25SearchSegmented(segs, queries,
      "doc_id", "text", k = 3))
    val scratch = searchRows(TextOps.bm25Search(
      TextOps.bm25Index(corpus.toDF("doc_id", "text"), "doc_id", "text"),
      queries, "doc_id", "text", k = 3))
    assert(streamed == scratch)
    assert(streamed.nonEmpty)
    // three batches → three on-disk segments, one metadata row each
    assert(segs.segStats.count() == 3)
  }

  test("re-delivered batch appends nothing (first-seen, no empty segment)") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq, replayLast = true)
    val segs = StreamBm25.load(spark, dir).get
    assert(segs.segStats.count() == 3) // no 4th segment from the replay
    val expectedPostings = corpus.flatMap { case (_, t) => t.split("\\s+") }
      .size // one posting per (doc, distinct tok)… compute via scratch
    val scratchPostings = TextOps.bm25Index(
      corpus.toDF("doc_id", "text"), "doc_id", "text").postings.count()
    assert(segs.postings.count() == scratchPostings,
      s"replay changed postings (expected tokens≈$expectedPostings)")
  }

  test("compaction collapses metadata, scores bit-equal") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq)
    val segs = StreamBm25.load(spark, dir).get
    val compact = TextOps.bm25SegmentCompact(segs, upTo = 1, into = 0)
    assert(compact.segStats.count() == 2) // segs 0,1 folded; 2 untouched
    // postings survive untouched (pure relabel)
    assert(compact.postings.count() == segs.postings.count())
    val queries = queryDocs.toDF("doc_id", "text")
    assert(
      searchRows(TextOps.bm25SearchSegmented(compact, queries,
        "doc_id", "text", k = 3)) ==
      searchRows(TextOps.bm25SearchSegmented(segs, queries,
        "doc_id", "text", k = 3)))
    // stats conserved through the fold
    val tot = compact.segStats.agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    val tot0 = segs.segStats.agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    assert(tot == tot0)
  }

  test("ON-DISK compaction: merged layout serves bit-equal, partitions dropped") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq) // segments 0,1,2
    val before = StreamBm25.load(spark, dir).get
    val queries = queryDocs.toDF("doc_id", "text")
    val wantRows = searchRows(TextOps.bm25SearchSegmented(before, queries,
      "doc_id", "text", k = 3))
    val nPostings = before.postings.count()
    // snapshot the stats totals NOW — `before`'s listing dies with the
    // compaction's segstats swap (immutable-segment readers re-load)
    val wantTotals =
      before.segStats.agg(sum("n_docs"), sum("sum_dl")).collect()(0)
    StreamBm25.compact(spark, dir, upTo = 1,
      into = StreamBm25.nextCompactId(spark, dir))
    val after = StreamBm25.load(spark, dir).get
    // layout: segs 0,1 folded into merged seg -1; seg 2 untouched
    assert(after.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(2, -1))
    assert(after.postings.count() == nPostings) // pure relabel, no loss
    // compaction stages + flips; the folded dirs stay time-travel-
    // readable until vacuum expires history
    assert(new java.io.File(s"$dir/postings/seg_id=0").exists)
    StreamBm25.vacuum(spark, dir)
    assert(!new java.io.File(s"$dir/postings/seg_id=0").exists)
    assert(!new java.io.File(s"$dir/termdf/seg_id=1").exists)
    // serve bit-equal through the merged on-disk layout
    assert(searchRows(TextOps.bm25SearchSegmented(after, queries,
      "doc_id", "text", k = 3)) == wantRows)
    // stats conserved through the fold
    assert(after.segStats.agg(sum("n_docs"), sum("sum_dl")).collect()(0) ==
      wantTotals)
    // the first-seen append guard still sees the merged keys: a full
    // re-delivery of batch 0 after compaction appends nothing
    StreamBm25.appendBatch(dir, corpus.take(2).toDF("doc_id", "text"),
      batchId = 9, "doc_id", "text")
    assert(StreamBm25.load(spark, dir).get.postings.count() == nPostings)
    // the merged namespace is negative-only (engine batch-id collision
    // guard) and an already-used merged id is refused
    intercept[IllegalArgumentException] {
      StreamBm25.compact(spark, dir, upTo = 2, into = 2)
    }
    intercept[IllegalArgumentException] {
      StreamBm25.compact(spark, dir, upTo = 2, into = -1)
    }
    // ...and a batch id colliding with a merged segment id is refused
    // at the sink (the namespace split's other half)
    intercept[IllegalArgumentException] {
      StreamBm25.appendBatch(dir, corpus.take(1).toDF("doc_id", "text"),
        batchId = -1, "doc_id", "text")
    }
    // the engine's counter continuing past the fold appends cleanly
    // next to the merged segment — the collision the namespace split
    // exists to prevent is structurally impossible now
    StreamBm25.appendBatch(dir,
      Seq(100L -> "grapes and plums").toDF("doc_id", "text"),
      batchId = 3, "doc_id", "text")
    val grown = StreamBm25.load(spark, dir).get
    assert(grown.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(2, -1, 3))
    assert(grown.postings.count() == nPostings + 3)
  }

  test("manifest CAS: a commit based on a stale generation is refused") {
    val dir = ingest(corpus.grouped(2).toSeq)
    val (gen, live) = graft.streaming.Manifest.readWithGen(spark, dir).get
    graft.streaming.Manifest.commitAfter(spark, dir, live, basedOn = gen)
    // a concurrent maintainer that read the same generation loses —
    // its commit cannot silently overwrite the winner's
    intercept[java.util.ConcurrentModificationException] {
      graft.streaming.Manifest.commitAfter(spark, dir, live - 0,
        basedOn = gen)
    }
  }

  test("CONCURRENT append vs background compaction: pounded CAS, nothing lost, nothing double-served") {
    // the claimed contract exercised for real: an ingest thread appends
    // fresh batches while a maintainer thread continuously folds every
    // live segment; both race read→stage→commit on the shared manifest.
    // The CAS must serialize them — the loser throws and retries on
    // fresh state — and the staged parquet writes must not interfere
    // (each write owns its partition dir as the job output root, so no
    // shared _temporary staging). Afterwards the index must serve
    // bit-equal to a scratch index over exactly the appended corpus:
    // a lost append shows as a missing doc, a resurrected folded
    // segment as a double-counted df/stats row.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("stream_bm25_conc").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def docsFor(b: Int): Seq[(Long, String)] =
      (0 until 4).map(i =>
        (b * 100L + i, s"${words(i % 6)} ${words((i + b) % 6)} tok${b}x$i"))
    (0 to 1).foreach(b => StreamBm25.appendBatch(dir,
      docsFor(b).toDF("doc_id", "text"), b, "doc_id", "text"))
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintainerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintainer = new Thread(() => {
      while (!stop.get()) {
        try {
          // every live segment counts as "small" → maximum fold churn
          val cand = StreamBm25.compactionCandidates(spark, dir,
            smallFrac = 1.1)
          if (cand.size >= 2)
            StreamBm25.compactSet(spark, dir, cand,
              into = StreamBm25.nextCompactId(spark, dir))
        } catch {
          case _: java.util.ConcurrentModificationException =>
            cme.incrementAndGet() // lost the CAS — retry on fresh state
          case t: Throwable => maintainerErr.set(t); stop.set(true)
        }
      }
    })
    maintainer.start()
    val lastBatch = 9
    try {
      (2 to lastBatch).foreach { b =>
        var done = false
        while (!done) {
          try {
            StreamBm25.appendBatch(dir, docsFor(b).toDF("doc_id", "text"),
              b, "doc_id", "text")
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet() // the engine's batch retry, inlined
          }
        }
      }
    } finally { stop.set(true); maintainer.join() }
    assert(maintainerErr.get() == null,
      s"maintainer died: ${maintainerErr.get()}")
    val union = (0 to lastBatch).flatMap(docsFor)
    val segs = StreamBm25.load(spark, dir).get
    // every appended doc present exactly once, none resurrected twice
    val keys = segs.postings.select("key").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keys == union.map(_._1).toSet)
    assert(segs.segStats.agg(sum("n_docs")).head.getLong(0) ==
      union.size.toLong)
    // and the serve is bit-equal to scratch over the union corpus
    val queries = Seq(100L -> "alpha delta", 101L -> "zeta beta")
      .toDF("doc_id", "text")
    val served = searchRows(TextOps.bm25SearchSegmented(segs, queries,
      "doc_id", "text", k = 5))
    val scratch = searchRows(TextOps.bm25Search(
      TextOps.bm25Index(union.toDF("doc_id", "text"), "doc_id", "text"),
      queries, "doc_id", "text", k = 5))
    assert(served == scratch)
    assert(served.nonEmpty)
  }

  test("legacy FLAT stats layout migrates on first write — nothing goes invisible") {
    import spark.implicits._
    // a dir written by the pre-partition-layout code: postings/termdf as
    // partition dirs, stats as FLAT files (seg_id data column), no
    // manifest. Spark silently ignores root-level data files once
    // partition dirs exist, so an unmigrated new-layout write would make
    // every legacy stats row invisible — wrong corpus stats AND a
    // manifest adoption that loses the whole pre-existing index.
    val dir = java.nio.file.Files
      .createTempDirectory("stream_bm25_legacy").toString
    val old = corpus.take(4).toDF("doc_id", "text")
    val seg = TextOps.bm25SegmentOf(old, "doc_id", "text", 0)
    seg.postings.write.mode("append").partitionBy("seg_id")
      .parquet(s"$dir/postings")
    val (st0, tdf0) = TextOps.segMetaFromPostings(seg.postings)
    st0.write.mode("append").parquet(s"$dir/segstats") // FLAT, old layout
    tdf0.write.mode("append").partitionBy("seg_id").parquet(s"$dir/termdf")
    // new-layout append into the legacy dir
    StreamBm25.appendBatch(dir, corpus.drop(4).toDF("doc_id", "text"),
      1, "doc_id", "text")
    val segs = StreamBm25.load(spark, dir).get
    assert(segs.segStats.select("seg_id").collect().map(_.getInt(0)).toSet
      == Set(0, 1), "legacy segment stats must survive the migration")
    assert(segs.segStats.agg(sum("n_docs")).head.getLong(0) ==
      corpus.size.toLong)
    // serve bit-equal to scratch over the full corpus
    val queries = queryDocs.toDF("doc_id", "text")
    assert(searchRows(TextOps.bm25SearchSegmented(segs, queries,
        "doc_id", "text", k = 3)) ==
      searchRows(TextOps.bm25Search(
        TextOps.bm25Index(corpus.toDF("doc_id", "text"), "doc_id", "text"),
        queries, "doc_id", "text", k = 3)))
  }

  test("reset-checkpoint guard: a live batch id with UNINDEXED docs refuses loudly") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(3).toSeq) // batches 0, 1 committed
    val before = StreamBm25.load(spark, dir).get.postings.count()
    // a re-delivery of committed data is a silent no-op (first-seen)
    StreamBm25.appendBatch(dir, corpus.take(3).toDF("doc_id", "text"),
      0, "doc_id", "text")
    assert(StreamBm25.load(spark, dir).get.postings.count() == before)
    // but batch id 0 with NEW docs = a reset stream checkpoint pointed
    // at an existing index: overwriting the committed segment would
    // destroy its rows in the live view and every pinned generation
    intercept[IllegalStateException] {
      StreamBm25.appendBatch(dir,
        Seq(900L -> "entirely new grapes").toDF("doc_id", "text"),
        0, "doc_id", "text")
    }
    // the committed segment is untouched
    assert(StreamBm25.load(spark, dir).get.postings.count() == before)
  }

  test("reset guard covers COMPACTED-AWAY ids: history partitions survive, time travel intact") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq) // segs 0, 1, 2
    val queries = queryDocs.toDF("doc_id", "text")
    val genBefore = graft.streaming.Manifest.generations(spark, dir).last
    def servedAt(g: Int) = searchRows(TextOps.bm25SearchSegmented(
      StreamBm25.loadAt(spark, dir, Some(g)).get, queries,
      "doc_id", "text", k = 3))
    val historical = servedAt(genBefore)
    StreamBm25.compactSet(spark, dir, Set(0, 1, 2), into = -1)
    // seg 0 is no longer LIVE but history references it: a reset
    // checkpoint re-delivering id 0 with NEW docs must refuse loudly
    // BEFORE touching the committed partitions (a live-only guard would
    // let the id through and enterBatch's wipe would have deleted
    // seg 0's postings out of every pinned generation)
    intercept[IllegalStateException] {
      StreamBm25.appendBatch(dir,
        Seq(901L -> "fresh unseen kumquats").toDF("doc_id", "text"),
        0, "doc_id", "text")
    }
    // the pinned pre-compaction generation still serves bit-stable
    assert(servedAt(genBefore) == historical)
    // and re-delivery of seg 0's ORIGINAL docs (keys now live in the
    // merged segment) stays a silent no-op
    val n = StreamBm25.load(spark, dir).get.postings.count()
    StreamBm25.appendBatch(dir, corpus.take(2).toDF("doc_id", "text"),
      0, "doc_id", "text")
    assert(StreamBm25.load(spark, dir).get.postings.count() == n)
  }

  test("a first-batch crash whose retry wiped the staged partition does not brick the stream") {
    import spark.implicits._
    // crash state: birth manifest committed, postings dir exists but
    // EMPTY (the retry's enterBatch wiped the only staged partition);
    // load must mean "index not born yet", not UNABLE_TO_INFER_SCHEMA
    val dir = java.nio.file.Files
      .createTempDirectory("stream_bm25_crash0").toString
    graft.streaming.Manifest.commitAfter(spark, dir, Set.empty,
      basedOn = -1)
    new java.io.File(s"$dir/postings").mkdirs()
    assert(StreamBm25.load(spark, dir).isEmpty)
    StreamBm25.appendBatch(dir, corpus.take(3).toDF("doc_id", "text"),
      0, "doc_id", "text")
    assert(StreamBm25.load(spark, dir).get.postings.count() > 0)
  }

  test("manifest generations survive the 8-digit width boundary (no silent rollback)") {
    // writers pad to 8 digits; generation 10^8 is 9 digits wide — a
    // fixed-width reader regex would ignore it and serve the previous
    // generation, and a LEXICAL sort in vacuum would order m-100000000
    // before m-99999999 and delete the latest instead of history
    val dir = java.nio.file.Files.createTempDirectory("manifest_wide").toString
    val M = graft.streaming.Manifest
    M.commitAfter(spark, dir, Set(1), basedOn = 99999998) // m-99999999
    assert(M.readWithGen(spark, dir).contains((99999999, Set(1))))
    M.commitAfter(spark, dir, Set(1, 2), basedOn = 99999999) // m-100000000
    assert(M.readWithGen(spark, dir).contains((100000000, Set(1, 2))),
      "a 9-digit generation must be served, not silently rolled back")
    assert(M.readAt(spark, dir, Some(99999999)).contains(Set(1)))
    assert(M.generations(spark, dir) == Seq(99999999, 100000000))
    StreamBm25.vacuum(spark, dir) // no data dirs — manifest history only
    assert(M.generations(spark, dir) == Seq(100000000),
      "vacuum must keep the NUMERICALLY latest generation")
  }

  test("tiered merge policy folds a NON-CONTIGUOUS small-segment set") {
    import spark.implicits._
    // seg 0 small (1 doc), seg 1 BIG (4 docs), seg 2 small (1 doc)
    val dir = ingest(Seq(corpus.take(1), corpus.slice(1, 5), corpus.drop(5)))
    val before = StreamBm25.load(spark, dir).get
    val queries = queryDocs.toDF("doc_id", "text")
    val wantRows = searchRows(TextOps.bm25SearchSegmented(before, queries,
      "doc_id", "text", k = 3))
    // the in-memory set form agrees before touching disk
    assert(searchRows(TextOps.bm25SearchSegmented(
      TextOps.bm25SegmentCompactSet(before, Set(0, 2), into = 3),
      queries, "doc_id", "text", k = 3)) == wantRows)
    val cand = StreamBm25.compactionCandidates(spark, dir, smallFrac = 0.3)
    assert(cand == Set(0, 2), "policy must skip the big MIDDLE segment")
    StreamBm25.compactSet(spark, dir, cand, into = -1)
    StreamBm25.vacuum(spark, dir) // expire the pre-merge snapshot
    val after = StreamBm25.load(spark, dir).get
    assert(after.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(1, -1)) // big segment untouched, small pair folded into -1
    assert(new java.io.File(s"$dir/postings/seg_id=1").exists)
    assert(!new java.io.File(s"$dir/postings/seg_id=0").exists &&
      !new java.io.File(s"$dir/postings/seg_id=2").exists)
    // repeated range compaction over an already-folded range is a no-op
    // for the missing ids (the pre-manifest isin semantics), not a throw
    StreamBm25.compactSet(spark, dir, Set(0, 2), into = -2)
    assert(StreamBm25.load(spark, dir).get
      .segStats.select("seg_id").as[Int].collect().toSet == Set(1, -1))
    assert(searchRows(TextOps.bm25SearchSegmented(after, queries,
      "doc_id", "text", k = 3)) == wantRows)
    // below minSegments the policy declines (one small segment left: none)
    assert(StreamBm25.compactionCandidates(spark, dir, smallFrac = 0.3)
      .isEmpty)
  }

  test("manifest: staged-but-uncommitted partitions are invisible; flip + vacuum") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq) // segments 0,1,2 committed
    val queries = queryDocs.toDF("doc_id", "text")
    val want = searchRows(TextOps.bm25SearchSegmented(
      StreamBm25.load(spark, dir).get, queries, "doc_id", "text", k = 3))
    // simulate a crashed append/compaction: a fully-written partition
    // that never reached a manifest commit (duplicate copies of segment
    // 0's postings under a fresh id — the double-serve hazard)
    val seg0 = spark.read.parquet(s"$dir/postings")
      .withColumn("seg_id", col("seg_id").cast("int"))
      .filter(col("seg_id") === 0)
    seg0.withColumn("seg_id", lit(99))
      .write.mode("append").partitionBy("seg_id").parquet(s"$dir/postings")
    val segs = StreamBm25.load(spark, dir).get
    assert(segs.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(0, 1, 2), "orphan partition must not surface")
    assert(searchRows(TextOps.bm25SearchSegmented(segs, queries,
      "doc_id", "text", k = 3)) == want, "orphan must not change scores")
    // the manifest flip is the visibility switch: drop segment 2 from
    // the live set WITHOUT deleting its dir (crash-after-commit shape)
    val live = graft.streaming.Manifest.read(spark, dir).get
    graft.streaming.Manifest.commit(spark, dir, live - 2)
    val dropped = StreamBm25.load(spark, dir).get
    assert(dropped.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(0, 1), "committed manifest must hide seg 2 though its dir exists")
    assert(new java.io.File(s"$dir/postings/seg_id=2").exists)
    // default vacuum reclaims only HISTORY (ids some generation
    // referenced): seg 2 goes, but the never-committed partition stays —
    // it could be an in-flight append's stage, and deleting it under a
    // running stream would lose its data mid-commit
    graft.streaming.StreamBm25.vacuum(spark, dir)
    assert(!new java.io.File(s"$dir/postings/seg_id=2").exists)
    assert(new java.io.File(s"$dir/postings/seg_id=99").exists,
      "default vacuum must not touch never-committed partitions")
    // includeOrphans (quiesced-stream cleanup) reclaims those too
    graft.streaming.StreamBm25.vacuum(spark, dir, includeOrphans = true)
    assert(!new java.io.File(s"$dir/postings/seg_id=99").exists)
    val after = StreamBm25.load(spark, dir).get
    assert(after.segStats.select("seg_id").as[Int].collect().toSet ==
      Set(0, 1), "vacuum must not change the live view")
  }

  test("time travel: a pinned generation serves the pre-compaction index bit-stable; vacuum expires it") {
    import spark.implicits._
    val dir = ingest(corpus.grouped(2).toSeq) // gens: 0 empty, 1..3 batches
    val queries = queryDocs.toDF("doc_id", "text")
    def serve(segs: graft.ext.TextOps.Bm25Segments) =
      searchRows(TextOps.bm25SearchSegmented(segs, queries,
        "doc_id", "text", k = 3))
    val gens = graft.streaming.Manifest.generations(spark, dir)
    assert(gens == Seq(0, 1, 2, 3))
    val want = serve(StreamBm25.load(spark, dir).get)
    StreamBm25.compact(spark, dir, upTo = 1, into = -1) // gen 4
    // latest view: merged layout; pinned gen 3: the exact pre-merge index
    assert(StreamBm25.loadAt(spark, dir, Some(3)).get
      .segStats.select("seg_id").as[Int].collect().toSet == Set(0, 1, 2))
    assert(serve(StreamBm25.loadAt(spark, dir, Some(3)).get) == want)
    // a mid-history snapshot too: gen 2 = first two batches only
    assert(StreamBm25.loadAt(spark, dir, Some(2)).get
      .segStats.select("seg_id").as[Int].collect().toSet == Set(0, 1))
    // vacuum expires: history unreadable, latest unchanged
    StreamBm25.vacuum(spark, dir)
    intercept[IllegalArgumentException] {
      StreamBm25.loadAt(spark, dir, Some(3))
    }
    assert(serve(StreamBm25.load(spark, dir).get) == want)
  }

  test("st7 driver query: compacted streamed index equals scratch on testdata") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val qs = Tables.documents(spark, sf).filter(col("doc_id") % 101 === 11)
    val scratch = TextOps.bm25Search(
      TextOps.bm25Index(docs, "doc_id", "text"), qs, "doc_id", "text",
      k = 5, rankRound = Some(6))
    val st7 = graft.SparkEntry.queries("st7_bm25_compacted")(spark, sf)
    assert(searchRows(st7
        .select(col("q_id"), col("rank"), col("key"), col("score"))) ==
      searchRows(scratch.select(col("q_id"), col("rank"), col("key"),
        round(col("score"), 6).as("score"))))
  }

  test("st6 driver query matches the one-shot segmented form on testdata") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val qs = Tables.documents(spark, sf).filter(col("doc_id") % 101 === 7)
    val oneShot = TextOps.bm25SearchSegmented(
      TextOps.bm25SegmentAppend(
        TextOps.bm25SegmentAppend(
          TextOps.bm25SegmentInit(docs.filter(col("doc_id") % 3 === 0),
            "doc_id", "text"),
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", segId = 1),
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", segId = 2),
      qs, "doc_id", "text", k = 5)
    val st6 = graft.SparkEntry.queries("st6_bm25_stream")(spark, sf)
    assert(searchRows(st6.withColumn("score", col("score"))
        .select(col("q_id"), col("rank"), col("key"), col("score"))) ==
      searchRows(oneShot.select(col("q_id"), col("rank"), col("key"),
        round(col("score"), 6).as("score"))))
  }

  test("takedown deletes: masked immediately, Lucene df semantics, physically reclaimed by full compaction") {
    import spark.implicits._
    val dir = ingest(Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4)))
    val queries = queryDocs.toDF("doc_id", "text")
    def serve() = searchRows(TextOps.bm25SearchSegmented(
      StreamBm25.load(spark, dir).get, queries, "doc_id", "text", k = 5))
    val preGen = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    val preStats = StreamBm25.load(spark, dir).get
      .segStats.agg(sum("n_docs")).head.getLong(0)
    // delete docs 2 and 5 (+ a never-indexed key: must no-op inside)
    StreamBm25.deleteDocs(spark, dir, Seq(2L, 5L, 999L).toDF("doc_id"),
      "doc_id")
    // 1. masked IMMEDIATELY: no served hit and no postings row for 2/5
    val served = serve()
    assert(served.nonEmpty && !served.exists(r => r._3 == 2L || r._3 == 5L))
    val segs = StreamBm25.load(spark, dir).get
    assert(segs.postings.filter(col("key").isin(2L, 5L)).count() == 0)
    // 2. Lucene semantics: df/corpus stats still count the deleted docs
    //    until a merge (n_docs unchanged by the delete)
    assert(segs.segStats.agg(sum("n_docs")).head.getLong(0) == preStats)
    // 3. idempotent: re-deleting commits no generation
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamBm25.deleteDocs(spark, dir, Seq(2L, 5L).toDF("doc_id"), "doc_id")
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
    // 4. re-ingest of a taken-down doc stays OUT (the first-seen guard
    //    counts tombstoned keys as seen); the fresh doc in the same
    //    batch lands
    StreamBm25.appendBatch(dir,
      Seq(2L -> "oranges oranges oranges", 7L -> "novel basket words")
        .toDF("doc_id", "text"), 100L, "doc_id", "text")
    val keys = StreamBm25.load(spark, dir).get
      .postings.select("key").distinct().collect().map(_.getLong(0)).toSet
    assert(keys.contains(7L) && !keys.contains(2L))
    // 5. time travel: the pre-delete generation still serves doc 2
    val pinned = StreamBm25.loadAt(spark, dir, Some(preGen)).get
    assert(pinned.postings.filter(col("key") === 2L).count() > 0)
    // 6. FULL compaction physically reclaims: serve becomes bit-equal to
    //    a scratch index over exactly the surviving corpus (df/stats
    //    re-derived from surviving rows), and the tombstone ids leave
    //    the live set in the same flip
    StreamBm25.compactSet(spark, dir,
      graft.streaming.Manifest.read(spark, dir).get,
      into = StreamBm25.nextCompactId(spark, dir))
    val remaining = (corpus.filter(d => d._1 != 2L && d._1 != 5L) :+
      (7L -> "novel basket words"))
    val scratch = searchRows(TextOps.bm25Search(
      TextOps.bm25Index(remaining.toDF("doc_id", "text"), "doc_id", "text"),
      queries, "doc_id", "text", k = 5))
    assert(serve() == scratch)
    val liveAfter = graft.streaming.Manifest.read(spark, dir).get
    assert(liveAfter.size == 1, s"tombstones must clear on a full fold: $liveAfter")
    assert(StreamBm25.load(spark, dir).get
      .segStats.agg(sum("n_docs")).head.getLong(0) == remaining.size.toLong)
    // 7. post-reclaim, the key is genuinely gone: a new crawl under it
    //    is a new document (re-crawl suppression is a blocklist concern)
    StreamBm25.appendBatch(dir,
      Seq(2L -> "reborn doc").toDF("doc_id", "text"), 101L, "doc_id", "text")
    assert(StreamBm25.load(spark, dir).get
      .postings.filter(col("key") === 2L).count() > 0)
    // 8. vacuum reclaims the folded segments AND the tombstone partition
    StreamBm25.vacuum(spark, dir)
    assert(!java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/tombstones"))
      .iterator().hasNext, "vacuum must reclaim expired tombstone partitions")
  }

  test("PARTIAL compaction keeps the mask: unfolded segments still hide deleted keys") {
    import spark.implicits._
    val dir = ingest(Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4)))
    // delete doc 1 (lives in segment 0) and doc 6 (lives in segment 2)
    StreamBm25.deleteDocs(spark, dir, Seq(1L, 6L).toDF("doc_id"), "doc_id")
    // fold ONLY segments 0 and 1: doc 1 physically reclaimed by the
    // merge; doc 6 still sits in unfolded segment 2 behind the mask
    StreamBm25.compactSet(spark, dir, Set(0, 1),
      into = StreamBm25.nextCompactId(spark, dir))
    val segs = StreamBm25.load(spark, dir).get
    val keys = segs.postings.select("key").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!keys.contains(1L) && !keys.contains(6L))
    assert(keys.contains(2L) && keys.contains(5L))
    // the tombstone must still be live (it masks segment 2), and the
    // merged segment's stats no longer count the reclaimed doc
    val live = graft.streaming.Manifest.read(spark, dir).get
    assert(live.exists(_ < 0) && live.contains(2),
      s"partial fold must keep unfolded segments + tombstones live: $live")
    // merged stats drop the reclaimed doc 1 (n_docs 3: docs 2,3,4);
    // UNFOLDED segment 2 still counts its deleted doc 6 (n_docs 2) —
    // deleted docs leave the stats only when THEIR segment merges
    assert(segs.segStats.agg(sum("n_docs")).head.getLong(0) == 5L)
  }

  test("THREE-ACTOR storm: appends vs compactions vs takedowns — claimed ids + declared families hold") {
    // the r11 contract under fire: an ingest thread appends, a
    // maintainer folds, and a TAKEDOWN thread deletes a deterministic
    // slice — all racing read→stage→commit on one manifest. Claimed ids
    // mean no two maintainers ever share a partition id (the r10
    // overwrite race); declared families mean a tombstone committed mid
    // -fold can never misclassify a merged segment. End state must be
    // bit-equal to scratch over exactly (appended − deleted).
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("stream_bm25_storm3").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def docsFor(b: Int): Seq[(Long, String)] =
      (0 until 4).map(i =>
        (b * 100L + i, s"${words(i % 6)} ${words((i + b) % 6)} tok${b}x$i"))
    val lastBatch = 7
    val victimIds = (0 to lastBatch).map(b => b * 100L) // first doc per batch
    (0 to 1).foreach(b => StreamBm25.appendBatch(dir,
      docsFor(b).toDF("doc_id", "text"), b, "doc_id", "text"))
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val actorErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def actor(body: () => Unit) = new Thread(() => {
      while (!stop.get()) {
        try body()
        catch {
          case _: java.util.ConcurrentModificationException =>
            cme.incrementAndGet()
          case t: Throwable => actorErr.set(t); stop.set(true)
        }
      }
    })
    val maintainer = actor { () =>
      val cand = StreamBm25.compactionCandidates(spark, dir, smallFrac = 1.1)
      if (cand.size >= 2)
        StreamBm25.compactSet(spark, dir, cand,
          into = StreamBm25.nextCompactId(spark, dir))
    }
    val deleter = actor { () =>
      // re-deletes no-op; ids whose batch hasn't landed yet are out of
      // scope this pass and caught by the final deterministic sweep
      StreamBm25.deleteDocs(spark, dir, victimIds.toDF("doc_id"), "doc_id")
    }
    maintainer.start(); deleter.start()
    try {
      (2 to lastBatch).foreach { b =>
        var done = false
        while (!done) {
          try {
            StreamBm25.appendBatch(dir, docsFor(b).toDF("doc_id", "text"),
              b, "doc_id", "text")
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet()
          }
        }
      }
    } finally { stop.set(true); maintainer.join(); deleter.join() }
    assert(actorErr.get() == null, s"an actor died: ${actorErr.get()}")
    // final deterministic sweep (every victim's batch has landed now)
    var swept = false
    while (!swept) {
      try {
        StreamBm25.deleteDocs(spark, dir, victimIds.toDF("doc_id"), "doc_id")
        swept = true
      } catch {
        case _: java.util.ConcurrentModificationException => ()
      }
    }
    val survivors = (0 to lastBatch).flatMap(docsFor)
      .filterNot(d => victimIds.contains(d._1))
    def servedKeySet(): Set[Long] = StreamBm25.load(spark, dir).get
      .postings.select("key").distinct().collect().map(_.getLong(0)).toSet
    // pre-fold: the MASK is exact (keys = survivors), while df/stats
    // may still count deleted docs from unfolded segments — the
    // documented Lucene stale-until-merge semantics, so no score
    // comparison yet
    assert(servedKeySet() == survivors.map(_._1).toSet,
      "served keys must be exactly the survivors after the storm")
    // full physical reclaim after the storm → bit-equality with scratch
    StreamBm25.compactSet(spark, dir,
      graft.streaming.Manifest.read(spark, dir).get,
      into = StreamBm25.nextCompactId(spark, dir))
    assert(servedKeySet() == survivors.map(_._1).toSet)
    val queries = Seq(100L -> "alpha delta", 101L -> "zeta beta")
      .toDF("doc_id", "text")
    assert(searchRows(TextOps.bm25SearchSegmented(
        StreamBm25.load(spark, dir).get, queries,
        "doc_id", "text", k = 5)) ==
      searchRows(TextOps.bm25Search(
        TextOps.bm25Index(survivors.toDF("doc_id", "text"),
          "doc_id", "text"),
        queries, "doc_id", "text", k = 5)),
      "post-fold serve must be bit-equal to scratch over the survivors")
    assert(cme.get() > 0, "the storm should actually contend at least once")
  }

  test("blockRecrawl: the blocklist survives the full fold — a post-reclaim re-crawl stays out") {
    import spark.implicits._
    val dir = ingest(Seq(corpus.take(3), corpus.drop(3)))
    def servedKeys() = StreamBm25.load(spark, dir).get
      .postings.select("key").distinct().collect().map(_.getLong(0)).toSet
    // takedown WITH the persistent blocklist
    StreamBm25.deleteDocs(spark, dir, Seq(2L).toDF("doc_id"), "doc_id",
      blockRecrawl = true)
    assert(!servedKeys().contains(2L))
    // FULL fold: physical reclaim clears the tombstone, but the
    // blocklist (aux family) rides through the flip
    StreamBm25.compactSet(spark, dir,
      graft.streaming.Manifest.read(spark, dir).get,
      into = StreamBm25.nextCompactId(spark, dir))
    val live = graft.streaming.Manifest.readLiveWithGen(spark, dir).get._2
    assert(live.tombs.isEmpty && live.aux.nonEmpty,
      s"full fold must clear tombstones and keep the blocklist: $live")
    // the post-reclaim re-crawl: WITHOUT the blocklist this key would be
    // a NEW document (the step-7 pin in the takedown test); with it, it
    // stays out — while a genuinely fresh doc in the same batch lands
    StreamBm25.appendBatch(dir,
      Seq(2L -> "reborn doc words", 42L -> "genuinely fresh doc")
        .toDF("doc_id", "text"), 100L, "doc_id", "text")
    val keys = servedKeys()
    assert(keys.contains(42L) && !keys.contains(2L),
      s"blocked key must stay out after reclaim, got $keys")
    // second fold: blocklist STILL survives (not a one-fold fluke)
    StreamBm25.compactSet(spark, dir,
      graft.streaming.Manifest.read(spark, dir).get,
      into = StreamBm25.nextCompactId(spark, dir))
    StreamBm25.appendBatch(dir,
      Seq(2L -> "reborn again").toDF("doc_id", "text"), 101L,
      "doc_id", "text")
    assert(!servedKeys().contains(2L))
    // vacuum never reclaims a live blocklist partition
    StreamBm25.vacuum(spark, dir)
    assert(!servedKeys().contains(2L))
    StreamBm25.appendBatch(dir,
      Seq(2L -> "reborn thrice").toDF("doc_id", "text"), 102L,
      "doc_id", "text")
    assert(!servedKeys().contains(2L))
    // an UNSERVED key is still blockable (the legal-order-arrives-late
    // case): doc 3 was never deleted; doc 1 was... delete 1 plainly,
    // then blockRecrawl BOTH — the already-tombstoned 1 and a fully
    // reclaimed key would previously be silently dropped from the
    // blocklist (r11 self-review #1)
    StreamBm25.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    StreamBm25.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"), "doc_id",
      blockRecrawl = true)
    StreamBm25.compactSet(spark, dir,
      graft.streaming.Manifest.read(spark, dir).get,
      into = StreamBm25.nextCompactId(spark, dir))
    StreamBm25.appendBatch(dir,
      Seq(1L -> "one reborn").toDF("doc_id", "text"), 103L,
      "doc_id", "text")
    assert(!servedKeys().contains(1L),
      "a key blocked AFTER its tombstone must still stay out post-fold")
    // blocking the same key twice commits nothing new
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamBm25.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"), "doc_id",
      blockRecrawl = true)
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
  }
}
