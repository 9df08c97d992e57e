package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{KeptDoc, StreamCurate}

/** One row of the curation firehose (top-level for the encoder). */
case class CurDoc(doc_id: Long, text: String, n_chars: Long)

/** The streaming curation demo: x21's quality predicate + st3's first-seen
  * dedup as ONE pipeline, proven batch ≡ stream on the documents fixture —
  * and the row-shaped quality verdict proven equal to x21's aggregate
  * form. */
class StreamCurationSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val stops = Seq("the", "a", "data", "row", "value")

  test("row-shaped quality verdict equals x21's aggregate form") {
    val docs = Tables.documents(spark, sf)
    val rowShaped = docs
      .filter(StreamCurate.qualityOk(col("text"), col("n_chars"), stops))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val aggShaped = SparkEntry.queries("x21_quality_filter")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rowShaped == aggShaped,
      s"row-shaped vs aggregate x21 differ: ${rowShaped.diff(aggShaped)} / ${aggShaped.diff(rowShaped)}")
    assert(rowShaped.nonEmpty && rowShaped.size < docs.count())
  }

  test("streaming curation emits exactly the batch-curated corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val originals = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").as[CurDoc]
      .collect().sortBy(_.doc_id)
    // fixture has no exact dups — plant them across AND within batches
    val shifted = originals.map(d => d.copy(doc_id = d.doc_id + 100000L))
    val sameBatch = originals.take(10).map(d => d.copy(doc_id = d.doc_id + 200000L))

    val input = MemoryStream[CurDoc]
    val q = StreamCurate.curate(input.toDS().toDF(), stops)
      .writeStream.format("memory").queryName("curated")
      .outputMode("update").start()
    try {
      input.addData(originals.take(30) ++ sameBatch)
      q.processAllAvailable()
      input.addData(originals.drop(30) ++ shifted.take(200))
      q.processAllAvailable()
      input.addData(shifted.drop(200))
      q.processAllAvailable()

      val streamed = spark.table("curated").as[KeptDoc].collect()
      // one emission per digest, never a duplicate
      assert(streamed.map(_.digest).distinct.length == streamed.length)
      // originals always arrive no later than their planted twins → every
      // survivor is an original id
      assert(streamed.forall(_.doc_id < 100000L))

      // batch ≡ stream: the same curate() over the full union as a batch
      // frame (flatMapGroupsWithState degenerates to keep-min per digest)
      val union = (originals ++ shifted ++ sameBatch).toSeq
        .toDF("doc_id", "text", "n_chars")
      val batch = StreamCurate.curate(union, stops).collect()
        .map(k => k.digest -> k.doc_id).toMap
      assert(streamed.length == batch.size)
      streamed.foreach(k => assert(batch(k.digest) == k.doc_id))

      // and the survivors are exactly x21 ∘ first-seen on the original
      // corpus: quality-passing ids that own their digest
      val x21Ids = SparkEntry.queries("x21_quality_filter")(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed.map(_.doc_id).toSet == x21Ids,
        "no exact dups among originals → curation = the x21 survivor set")
    } finally q.stop()
  }

  test("PSI admission gate: a planted drifted batch quarantines; the clean re-delivery admits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("admitspec").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars", "text")
    val policy = (b: org.apache.spark.sql.DataFrame) =>
      b.select("doc_id", "n_chars")
    val bin = least(floor(col("n_chars") / 100), lit(9))
    def admit(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamCurate.admitBatch(dir, b, id, policy, bin, nBins = 10,
        threshold = 0.25).collect().head
    // first batch: no reference — auto-admit with NULL psi
    val d0 = admit(docs.filter(col("doc_id") % 3 === 0), 0L)
    assert(d0.isNullAt(2) && d0.getBoolean(4), s"first batch must auto-admit: $d0")
    // same-distribution slice: admitted
    val d1 = admit(docs.filter(col("doc_id") % 3 === 1), 1L)
    assert(d1.getBoolean(4) && d1.getDouble(2) <= 0.25)
    val genBefore = graft.streaming.Manifest.generations(spark, dir)
    val corpusBefore = StreamCurate.load(spark, dir).get.count()
    // PLANTED drift: the %3==2 slice restricted to long docs — refused
    val drifted = docs.filter(col("doc_id") % 3 === 2 &&
      col("n_chars") >= 400)
    val d2 = admit(drifted, 2L)
    assert(!d2.getBoolean(4) && d2.getDouble(2) > 0.25,
      s"planted drift must quarantine: $d2")
    // the refusal left NO residue: no generation, no corpus rows, no
    // seen digests — and the raw batch sits in the operator outbox
    assert(graft.streaming.Manifest.generations(spark, dir) == genBefore,
      "a quarantined batch must commit nothing")
    assert(StreamCurate.load(spark, dir).get.count() == corpusBefore)
    assert(StreamCurate.quarantine(spark, dir).get
      .select("doc_id").distinct().count() == drifted.count())
    // the undistorted slice then admits cleanly (its digests were
    // never marked seen by the refusal)
    val d3 = admit(docs.filter(col("doc_id") % 3 === 2), 3L)
    assert(d3.getBoolean(4), s"clean re-delivery must admit: $d3")
    assert(StreamCurate.load(spark, dir).get.count() > corpusBefore)
    // the MAINTAINED reference (per-commit bin partials, O(state)) is
    // live and equals a scan of the served corpus — admission never
    // needs a corpus read once the partials cover the live set
    def counts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val maintained = counts(StreamCurate.binCounts(spark, dir).get)
    val scanned = counts(graft.ext.TextOps.psiBinCounts(
      StreamCurate.load(spark, dir).get, bin, 10))
    assert(maintained == scanned,
      s"maintained reference diverged: $maintained vs $scanned")
    // a fold carries the partials by METADATA — coverage survives
    StreamCurate.compact(spark, dir,
      StreamCurate.nextCompactId(spark, dir))
    assert(counts(StreamCurate.binCounts(spark, dir).get) == scanned,
      "the compaction fold must carry the reference partials")
  }

  test("quarantine release: re-refusal re-outboxes under the new id; forced release ingests and clears; guards loud") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("releasespec").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars", "text")
    val policy = (b: org.apache.spark.sql.DataFrame) =>
      b.select("doc_id", "n_chars")
    val bin = least(floor(col("n_chars") / 100), lit(9))
    // reference + a planted drifted batch → quarantined under id 1
    StreamCurate.admitBatch(dir, docs.filter(col("doc_id") % 3 === 0), 0L,
      policy, bin, nBins = 10, threshold = 0.25)
    val drifted = docs.filter(col("doc_id") % 3 === 2 &&
      col("n_chars") >= 400)
    StreamCurate.admitBatch(dir, drifted, 1L, policy, bin, nBins = 10,
      threshold = 0.25)
    val nDrift = drifted.count()
    val corpusBefore = StreamCurate.load(spark, dir).get.count()
    // non-forced release against the unchanged reference: re-refused —
    // rows move to the NEW outbox id, the old partition clears, exactly
    // one copy exists, nothing ingests
    val r = StreamCurate.releaseQuarantine(spark, dir, 1L, 2L, policy,
      bin, nBins = 10, threshold = 0.25).collect().head
    assert(!r.getBoolean(4) && r.getString(5) == "quarantined")
    val outbox = StreamCurate.quarantine(spark, dir).get
    assert(outbox.count() == nDrift, "exactly one copy of the rows")
    assert(outbox.select("batch_id").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(2), "rows must ride the new id")
    assert(StreamCurate.load(spark, dir).get.count() == corpusBefore)
    // forced release: the human overrules the gate — ingests under the
    // fresh id, decision says so, outbox fully clears
    val f = StreamCurate.releaseQuarantine(spark, dir, 2L, 3L, policy,
      bin, nBins = 10, threshold = 0.25, force = true).collect().head
    assert(f.getBoolean(4) && f.getString(5) == "ingested_forced" &&
      f.isNullAt(2))
    assert(StreamCurate.quarantine(spark, dir).isEmpty,
      "forced release must clear the outbox")
    // the ingest still applies the digest dedup: expected growth = the
    // drifted batch's digests not already seen via batch 0
    val newDigests = drifted.select(md5(col("text")).as("g")).distinct()
      .join(docs.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("g")).distinct(), Seq("g"),
        "left_anti").count()
    assert(StreamCurate.load(spark, dir).get.count() ==
      corpusBefore + newDigests, "the released rows must serve")
    // guards: unknown quarantine id and a reused id are loud
    intercept[IllegalArgumentException] {
      StreamCurate.releaseQuarantine(spark, dir, 1L, 4L, policy, bin,
        10, 0.25)
    }
    intercept[IllegalArgumentException] {
      StreamCurate.releaseQuarantine(spark, dir, 5L, 5L, policy, bin,
        10, 0.25)
    }
    // collision guard (ADVICE r12, medium): with TWO batches in the
    // outbox, releasing one UNDER THE OTHER'S id must refuse loudly —
    // a re-refusal would mode(overwrite) the victim's only copy of rows
    val qa = docs.filter(col("doc_id") % 3 === 1 && col("n_chars") >= 400)
    val qb = docs.filter(col("doc_id") % 3 === 2 && col("n_chars") < 200)
    StreamCurate.admitBatch(dir, qa, 6L, policy, bin, nBins = 10,
      threshold = -1.0) // psi >= 0 > -1: always refused
    StreamCurate.admitBatch(dir, qb, 7L, policy, bin, nBins = 10,
      threshold = -1.0)
    intercept[IllegalArgumentException] {
      StreamCurate.releaseQuarantine(spark, dir, 6L, 7L, policy, bin,
        10, 0.25)
    }
    val both = StreamCurate.quarantine(spark, dir).get
      .groupBy("batch_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(both == Map(6 -> qa.count(), 7 -> qb.count()),
      s"a refused collision must leave both outbox batches intact: $both")
  }

  test("on-disk sink: seen index blocks re-crawls of REJECTED docs; retry no-op; manifest guards orphans") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream_cur9").toString
    // policy = quality only (no decontam/sample — this spec pins the
    // SINK's dedup/state semantics, the driver oracle pins the policy)
    def policy(b: org.apache.spark.sql.DataFrame) =
      b.filter(StreamCurate.qualityOk(col("text"), col("n_chars"), stops))
        .select("doc_id")
    val good = "the data row holds a good long value " * 4
    val junk = "zzzz" // fails the length floor AND the quality score
    val input = MemoryStream[CurDoc]
    val q = input.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamCurate.appendBatch(dir, batch, id, policy)
      }.start()
    try {
      // batch 0: one keeper + one quality-REJECT
      input.addData(CurDoc(1L, good + "alpha", 200),
        CurDoc(2L, junk, 4))
      q.processAllAvailable()
      // batch 1: a re-crawl of the REJECTED doc's exact bytes (new id)
      // + a within-batch dup pair + a fresh keeper
      input.addData(CurDoc(10L, junk, 4),
        CurDoc(11L, good + "beta", 200), CurDoc(12L, good + "beta", 200),
        CurDoc(13L, good + "gamma", 200))
      q.processAllAvailable()
      val kept = StreamCurate.load(spark, dir).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 2 rejected for quality; 10 blocked by the SEEN index even though
      // its batch-0 twin was never kept; 12 loses within-batch keep-min
      assert(kept == Set(1L, 11L, 13L), s"got $kept")
      // re-delivery of batch 1's data (a NEW engine batch) appends nothing
      input.addData(CurDoc(11L, good + "beta", 200),
        CurDoc(13L, good + "gamma", 200))
      q.processAllAvailable()
      assert(StreamCurate.load(spark, dir).get.count() == 3)
      // time travel: the corpus as of the batch-0 commit is exactly the
      // batch-0 survivors — the reproducible "corpus a run trained on"
      assert(StreamCurate.loadAt(spark, dir, Some(1)).get
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    } finally q.stop()
    // a staged-but-uncommitted partition is invisible (crash shape)
    spark.range(1).select(lit(99).as("batch_id"), lit(999L).as("doc_id"))
      .write.mode("append").partitionBy("batch_id").parquet(s"$dir/corpus")
    assert(StreamCurate.load(spark, dir).get.count() == 3,
      "orphan corpus partition must not surface")
  }

  test("legacy (manifest-less) dir: the first commit ADOPTS on-disk batches, not Set.empty") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("stream_cur_legacy").toString
    val good = "the data row holds a good long value " * 4
    // a pre-manifest deployment left batch 0 on disk, no manifest dir
    Seq((0, good + "legacy")).toDF("batch_id", "text")
      .select(col("batch_id"), md5(col("text")).as("digest"))
      .write.partitionBy("batch_id").parquet(s"$dir/seen")
    Seq((0, 100L)).toDF("batch_id", "doc_id")
      .write.partitionBy("batch_id").parquet(s"$dir/corpus")
    def policy(b: org.apache.spark.sql.DataFrame) = b.select("doc_id")
    StreamCurate.appendBatch(dir,
      Seq((200L, good + "fresh")).toDF("doc_id", "text"), 5, policy)
    val kept = StreamCurate.load(spark, dir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 200L),
      s"legacy batch must survive the first manifest commit, got $kept")
    // and the adopted seen index still blocks a re-crawl of its digest
    StreamCurate.appendBatch(dir,
      Seq((300L, good + "legacy")).toDF("doc_id", "text"), 6, policy)
    assert(StreamCurate.load(spark, dir).get.count() == 2)
  }

  test("takedown on the curated corpus: masked immediately, re-crawl blocked by digest, compact reclaims, vacuum forgets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_cur_td").toString
    def policy(b: org.apache.spark.sql.DataFrame) =
      b.filter(StreamCurate.qualityOk(col("text"), col("n_chars"), stops))
        .select("doc_id", "text")
    val good = "the data row holds a good long value " * 4
    Seq(0, 1).foreach { i =>
      val rows = Seq(
        (i * 10L + 1, good + s"alpha$i", 200),
        (i * 10L + 2, good + s"beta$i", 200))
      StreamCurate.appendBatch(dir,
        rows.toDF("doc_id", "text", "n_chars"), i.toLong, policy)
    }
    assert(StreamCurate.load(spark, dir).get.count() == 4)
    val preGen = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    // delete docs 1 and 11 (+ a never-kept id: no-ops inside)
    StreamCurate.deleteCurated(spark, dir,
      Seq(1L, 11L, 999L).toDF("doc_id"))
    def keptIds() = StreamCurate.load(spark, dir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1. masked immediately
    assert(keptIds() == Set(2L, 12L))
    // 2. idempotent: re-deleting commits no generation
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamCurate.deleteCurated(spark, dir, Seq(1L, 11L).toDF("doc_id"))
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
    // 3. a re-crawl of the taken-down BYTES never re-enters: the seen
    //    digest index is untouched by the delete (the processed-set
    //    guard IS the takedown re-crawl blocker)
    StreamCurate.appendBatch(dir,
      Seq((100L, good + "alpha0", 200)).toDF("doc_id", "text", "n_chars"),
      5L, policy)
    assert(keptIds() == Set(2L, 12L))
    // 4. time travel: the pre-delete generation still serves doc 1
    assert(StreamCurate.loadAt(spark, dir, Some(preGen)).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 11L, 12L))
    // 5. compact: physical reclaim — one base partition, tombstones
    //    cleared, serve unchanged; the re-crawl guard SURVIVES
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(keptIds() == Set(2L, 12L))
    assert(graft.streaming.Manifest.read(spark, dir).get.size == 1)
    StreamCurate.appendBatch(dir,
      Seq((101L, good + "alpha0", 200)).toDF("doc_id", "text", "n_chars"),
      6L, policy)
    assert(keptIds() == Set(2L, 12L),
      "post-compact re-crawl must still hit the compacted seen index")
    // 6. vacuum removes the last readable copy of the taken-down bodies
    StreamCurate.vacuum(spark, dir)
    assert(keptIds() == Set(2L, 12L))
    intercept[IllegalArgumentException] {
      StreamCurate.loadAt(spark, dir, Some(preGen))
    }
    import scala.jdk.CollectionConverters._
    val survivorsOnDisk = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/corpus")).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    val served = spark.read.parquet(survivorsOnDisk.map(_.toString): _*)
    assert(served.filter(col("doc_id").isin(1L, 11L)).count() == 0,
      "after vacuum no on-disk corpus file may still hold a deleted body")
  }

  test("content-addressed takedown: forget by BYTES via the digest map; pre-map content refuses loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("stream_cur_bytes").toString
    val good = "the data row holds a good long value " * 4
    def policy(b: org.apache.spark.sql.DataFrame) =
      b.select("doc_id", "text")
    // a PRE-UPGRADE deployment: seen + corpus partitions on disk, no
    // digest map, no manifest (adopted on first touch)
    Seq((0, good + "legacy")).toDF("batch_id", "text")
      .select(col("batch_id"), md5(col("text")).as("digest"))
      .write.partitionBy("batch_id").parquet(s"$dir/seen")
    Seq((0, 100L, good + "legacy")).toDF("batch_id", "doc_id", "text")
      .write.partitionBy("batch_id").parquet(s"$dir/corpus")
    StreamCurate.appendBatch(dir, Seq(
        (1L, good + "alpha", 200), (2L, good + "beta", 200))
      .toDF("doc_id", "text", "n_chars"), 5L, policy)
    def kept() = StreamCurate.load(spark, dir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept() == Set(100L, 1L, 2L))
    // forget by bytes: the post-upgrade doc resolves through the map
    StreamCurate.deleteCuratedByContent(spark, dir,
      Seq(good + "alpha").toDF("text"))
    assert(kept() == Set(100L, 2L))
    // idempotent + unknown content no-ops (no new generation)
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamCurate.deleteCuratedByContent(spark, dir,
      Seq(good + "alpha", "never ingested bytes").toDF("text"))
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
    // pre-map content is KNOWN to seen but unresolvable — loud refusal,
    // never a silent skip (the by-id verb still covers it)
    val e = intercept[IllegalStateException] {
      StreamCurate.deleteCuratedByContent(spark, dir,
        Seq(good + "legacy").toDF("text"))
    }
    assert(e.getMessage.contains("digest map"))
    StreamCurate.deleteCurated(spark, dir, Seq(100L).toDF("doc_id"))
    assert(kept() == Set(2L))
    // the map rides compaction: content-deleting post-fold still works
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    StreamCurate.deleteCuratedByContent(spark, dir,
      Seq(good + "beta").toDF("text"))
    assert(kept().isEmpty)
  }

  test("mixed-idCol takedowns: each tombstone masks on ITS key column; neither resurfaces") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_cur_mix").toString
    val good = "the data row holds a good long value " * 4
    def policy(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id"), col("text"),
        substring(col("text"), -6, 6).as("source"))
    StreamCurate.appendBatch(dir, Seq(
        (1L, good + "alpha0", 200), (2L, good + "beta00", 200),
        (3L, good + "gamma0", 200)).toDF("doc_id", "text", "n_chars"),
      0L, policy)
    // delete #1 by doc_id, then a second takedown by a DIFFERENT key
    // column (source) — the r10 merged read silently resolved the two
    // tombstone schemas to one and let the earlier delete resurface
    StreamCurate.deleteCurated(spark, dir, Seq(1L).toDF("doc_id"))
    StreamCurate.deleteCurated(spark, dir,
      Seq("beta00").toDF("source"), idCol = "source")
    val kept = StreamCurate.load(spark, dir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), s"both masks must apply, got $kept")
  }
}
