package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity
import graft.streaming.StreamIvf

/** Streaming dense-index maintenance ([[StreamIvf]]): a REAL
  * micro-batched `writeStream.foreachBatch` ingest (MemoryStream) whose
  * sink trains the quantizer on batch 0 and appends every later batch as
  * an immutable on-disk partition must (a) leave the centroid bytes
  * frozen after batch 0, (b) hold postings set-equal to the in-memory
  * [[Similarity.ivfAppend]] lifecycle under the same centroids, (c) be a
  * no-op on re-delivery, and (d) serve FULL-DEPTH top-k equal to brute
  * force over the union corpus through the disk round trip — the
  * probe-depth-independence that makes st8's DuckDB oracle a streamed ≡
  * scratch proof. The drift trigger ([[Similarity.ivfRetrainNeeded]])
  * flips on a planted hot-cell batch and stays quiet under uniform
  * ingest. */
class StreamIvfSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val NCells = 8

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))

  /** Ingest vec_id % 3 == i as micro-batch i through a real stream. */
  private def ingest(replayLast: Boolean = false): String = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_ivf").toString
    val input = MemoryStream[Long]
    val all = corpus.persist()
    val q = input.toDS().toDF("batch_no").writeStream
      .foreachBatch { (ticket: org.apache.spark.sql.DataFrame, id: Long) =>
        // the ticket row carries which slice arrives; the sink body is
        // the production one — batch in, partition out
        val i = ticket.select("batch_no").head.getLong(0)
        StreamIvf.appendBatch(dir,
          all.filter(col("vec_id") % 3 === i), id, "vec_id", "vec",
          nCells = NCells)
      }
      .start()
    try {
      (0L to 2L).foreach { i => input.addData(i); q.processAllAvailable() }
      if (replayLast) { input.addData(2L); q.processAllAvailable() }
    } finally { q.stop(); all.unpersist() }
    dir
  }

  private def postingSet(idx: Similarity.IvfIndex): Set[(Long, Int)] =
    idx.postings.select(col("vec_id"), col("ivf_cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private lazy val streamedDir = ingest()
  private def streamed = StreamIvf.load(spark, streamedDir, "vec_id", "vec").get

  test("streamed ingest == the in-memory train-then-add lifecycle") {
    val idx = streamed
    // rebuild the same lifecycle in memory UNDER THE STREAMED CENTROIDS:
    // batch 0's index with the frozen quantizer, then two ivfAppends
    val b0 = corpus.filter(col("vec_id") % 3 === 0)
    val seed = Similarity.IvfIndex(
      centroids = idx.centroids,
      postings = Similarity.assignTo(b0, idx.centroids, "vec_id", "vec", 2),
      idCol = "vec_id", vecCol = "vec")
    val after = (1 to 2).foldLeft(seed) { (acc, i) =>
      Similarity.ivfAppend(acc, corpus.filter(col("vec_id") % 3 === i),
        nCellsHint = Some(NCells))
    }
    assert(postingSet(idx) == postingSet(after))
    assert(postingSet(idx).nonEmpty)
  }

  test("centroids are frozen after batch 0 (bytes never change)") {
    val dir = ingest()
    val before = StreamIvf.load(spark, dir, "vec_id", "vec").get
      .centroids.orderBy("ivf_cell").collect().toSeq
    // two more appends (fresh ids — vec_id space above the fixture)
    import spark.implicits._
    val extra = corpus.limit(6)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    StreamIvf.appendBatch(dir, extra, 7, "vec_id", "vec", nCells = NCells)
    val after = StreamIvf.load(spark, dir, "vec_id", "vec").get
      .centroids.orderBy("ivf_cell").collect().toSeq
    assert(before == after)
  }

  test("re-delivered batch appends nothing (first-seen, no empty partition)") {
    val dir = ingest(replayLast = true)
    val idx = StreamIvf.load(spark, dir, "vec_id", "vec").get
    val expected = streamed
    assert(idx.postings.count() == expected.postings.count())
    // no 4th partition materialized by the replay
    assert(idx.postings.select("batch_id").distinct().count() == 3)
  }

  test("full-depth probe over the disk round trip == brute force") {
    val idx = streamed
    val qs = corpus.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rank"), col("c_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = rows(Similarity.probeIvf(idx, qs, "vec_id",
      nProbe = NCells, k = 8))
    val brute = rows(Similarity.bruteForceTopK(qs, corpus,
      "vec_id", "vec_id", "vec", k = 8))
    assert(full == brute)
    assert(full.nonEmpty)
  }

  test("manifest: a staged-but-uncommitted partition is invisible") {
    val dir = ingest()
    val idx0 = StreamIvf.load(spark, dir, "vec_id", "vec").get
    val n0 = idx0.postings.count()
    // simulate a crashed append: a fully-written partition that never
    // reached a manifest commit (duplicate copies of batch 0's postings
    // under a fresh batch id — the double-index hazard)
    spark.read.parquet(s"$dir/postings")
      .withColumn("batch_id", col("batch_id").cast("int"))
      .filter(col("batch_id") === 0)
      .withColumn("batch_id", lit(50))
      .write.mode("append").partitionBy("batch_id").parquet(s"$dir/postings")
    val idx = StreamIvf.load(spark, dir, "vec_id", "vec").get
    assert(idx.postings.count() == n0, "orphan partition must not surface")
    assert(idx.postings.select("batch_id").distinct().count() == 3)
  }

  test("drift trigger: quiet under uniform ingest, flips on a hot-cell batch") {
    // drop the batch_id provenance column: ivfAppend is strict about
    // postings metadata existing on the batch (silently null-filling a
    // keepCols column would be worse); the streamed production append is
    // StreamIvf.appendBatch
    val loaded = streamed
    val idx = loaded.copy(postings = loaded.postings.drop("batch_id"))
    assert(!Similarity.ivfRetrainNeeded(idx, skewThreshold = 4.0))
    // plant drift: many fresh vectors all equal to one existing vector —
    // they assign to the same cells and blow its occupancy up
    val hot = corpus.limit(1).select(col("vec")).crossJoin(
        spark.range(0, 2000).select(col("id").as("vec_id")))
      .select(col("vec_id") + 2000000L as "vec_id", col("vec"))
    val drifted = Similarity.ivfAppend(idx, hot, nCellsHint = Some(NCells))
    // skew is bounded by nCells/nAssign (= 4 here) even under total
    // concentration, so pin the trigger's DIRECTION: drift must raise
    // skew well past the uniform baseline, and a threshold between the
    // two separates them
    def skew(i: Similarity.IvfIndex) =
      Similarity.ivfDriftReport(i).select("occ_skew").head.getDouble(0)
    val (s0, s1) = (skew(idx), skew(drifted))
    assert(s1 > s0 * 1.5)
    val mid = (s0 + s1) / 2
    assert(!Similarity.ivfRetrainNeeded(idx, skewThreshold = mid))
    assert(Similarity.ivfRetrainNeeded(drifted, skewThreshold = mid))
    // and the report's account stays exact: postings total = occupancy sum
    val rep = Similarity.ivfDriftReport(drifted).head
    assert(rep.getLong(0) == drifted.postings.count())
  }

  test("retrain: fresh quantizer serves identically at full depth, drift resets") {
    // build a DRIFTED on-disk index: normal 3-batch ingest + a hot batch
    // of near-identical vectors (all copies of one corpus vector)
    val dir = ingest()
    val hot = corpus.limit(1).select(col("vec")).crossJoin(
        spark.range(0, 1500).select(col("id").as("vec_id")))
      .select(col("vec_id") + 3000000L as "vec_id", col("vec"))
    StreamIvf.appendBatch(dir, hot, 7, "vec_id", "vec", nCells = NCells)
    val old = StreamIvf.load(spark, dir, "vec_id", "vec").get
    def skew(i: Similarity.IvfIndex) =
      Similarity.ivfDriftReport(i).select("occ_skew").head.getDouble(0)
    val skewBefore = skew(old)
    // retrain into a fresh dir; the pointer swap is the commit
    val newDir = java.nio.file.Files
      .createTempDirectory("stream_ivf_rt").toString
    StreamIvf.retrain(spark, dir, newDir, nCells = NCells)
    val fresh = StreamIvf.load(spark, newDir, "vec_id", "vec").get
    // same corpus, one posting pair per id
    assert(fresh.postings.select("vec_id").distinct().count() ==
      old.postings.select("vec_id").distinct().count())
    // full-depth serve identical (probe-depth independence of training)
    val qs = corpus.filter(col("vec_id") < 5)
    def rows(i: Similarity.IvfIndex) =
      Similarity.probeIvf(i, qs, "vec_id", nProbe = NCells, k = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(fresh) == rows(old))
    // the retrained quantizer has SEEN the hot mass, so it spends cells
    // on it: occupancy skew drops back toward the uniform band
    assert(skew(fresh) < skewBefore * 0.7,
      s"retrain must reduce skew (before ${skewBefore}, after ${skew(fresh)})")
  }

  test("retrain uses the reserved negative id — a fresh stream's batch 0 cannot collide") {
    // a new stream checkpoint pointed at the retrained dir restarts at
    // batchId 0; if retrain had claimed 0, enterBatch would see it live,
    // skip the crash-wipe, and the append would write into a COMMITTED
    // partition (rows visible without a manifest flip, older pinned
    // snapshots polluted)
    val dir = ingest()
    val newDir = java.nio.file.Files
      .createTempDirectory("stream_ivf_rt0").toString
    StreamIvf.retrain(spark, dir, newDir, nCells = NCells)
    val fresh = StreamIvf.load(spark, newDir, "vec_id", "vec").get
    def partIds(i: Similarity.IvfIndex) = i.postings.select("batch_id")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(partIds(fresh) == Set(StreamIvf.RetrainBatchId.toInt))
    val nRetrained = fresh.postings.count()
    // the new stream's first batch: genuinely new vectors at batchId 0
    val extra = corpus.limit(4)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    StreamIvf.appendBatch(newDir, extra, 0, "vec_id", "vec",
      nCells = NCells)
    val after = StreamIvf.load(spark, newDir, "vec_id", "vec").get
    assert(partIds(after) == Set(StreamIvf.RetrainBatchId.toInt, 0))
    assert(after.postings.count() > nRetrained)
    // time travel: the pre-append generation still serves ONLY the
    // retrained corpus (nothing leaked into an already-committed batch)
    val gens = graft.streaming.Manifest.generations(spark, newDir)
    val pinned = StreamIvf.loadAt(spark, newDir, "vec_id", "vec",
      Some(gens.dropRight(1).last)).get
    assert(pinned.postings.count() == nRetrained)
    assert(partIds(pinned) == Set(StreamIvf.RetrainBatchId.toInt))
  }

  test("takedown deletes: masked in every cell, re-ingest blocked, compactAll reclaims, vacuum forgets") {
    import spark.implicits._
    val dir = ingest()
    val preGen = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    def idx = StreamIvf.load(spark, dir, "vec_id", "vec").get
    def servedIds = idx.postings.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val victims = servedIds.toSeq.sorted.take(3)
    val keep = servedIds -- victims
    // delete 3 indexed vectors (+ a never-indexed id: no-ops inside)
    StreamIvf.deleteVecs(spark, dir,
      (victims :+ 99999999L).toDF("vec_id"), "vec_id")
    // 1. masked immediately — no postings row in ANY assigned cell
    assert(servedIds == keep)
    // 2. full-depth probe == brute force over the SURVIVING corpus
    val qs = corpus.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rank"), col("c_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(qs,
      corpus.filter(col("vec_id").isin(keep.toSeq: _*)),
      "vec_id", "vec_id", "vec", k = 8))
    assert(rows(Similarity.probeIvf(idx, qs, "vec_id",
      nProbe = NCells, k = 8)) == brute)
    // 3. idempotent: re-delete commits no generation
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamIvf.deleteVecs(spark, dir, victims.toDF("vec_id"), "vec_id")
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
    // 4. a re-crawl of a taken-down vector stays OUT (count-as-seen)
    StreamIvf.appendBatch(dir,
      corpus.filter(col("vec_id") === victims.head), 50L, "vec_id", "vec",
      nCells = NCells)
    assert(servedIds == keep)
    // 5. time travel: the pre-delete generation still serves the victims
    assert(StreamIvf.loadAt(spark, dir, "vec_id", "vec", Some(preGen)).get
      .postings.filter(col("vec_id") === victims.head).count() > 0)
    // 6. compactAll physically reclaims; tombstones clear in the flip;
    //    serve unchanged; cell assignments preserved verbatim
    val preSet = postingSet(idx)
    StreamIvf.compactAll(spark, dir,
      StreamIvf.nextCompactId(spark, dir), "vec_id", "vec")
    assert(graft.streaming.Manifest.read(spark, dir).get.size == 1)
    assert(postingSet(idx) == preSet)
    // 7. vacuum removes the last on-disk copy of the deleted vectors
    StreamIvf.vacuum(spark, dir)
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/postings")).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    val served = spark.read.parquet(onDisk.map(_.toString): _*)
    assert(served.filter(col("vec_id").isin(victims: _*)).count() == 0,
      "after vacuum no on-disk postings file may hold a deleted vector")
  }
}
