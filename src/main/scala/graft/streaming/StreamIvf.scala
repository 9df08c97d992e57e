package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** STREAMING maintenance of the dense IVF index — the vector-side member
  * of the streaming-ingest family (st3 exact dedup, st5 near-dup, st6/st7
  * segmented BM25): each micro-batch of arriving embeddings is assigned
  * against a FROZEN coarse quantizer and lands as an immutable on-disk
  * postings partition, completing the symmetry with [[StreamBm25]] — the
  * sparse index streams as df-free segments, the dense index streams as
  * cell-assigned postings under train-once centroids.
  *
  * Lifecycle (the FAISS train-then-add contract,
  * [[graft.ext.Similarity.ivfAppend]]'s scaladoc):
  *
  *   - The FIRST micro-batch trains the coarse quantizer
  *     ([[graft.ext.Similarity.ivfCentroids]], Lloyd-refined) and writes
  *     it once; every later batch reads it back and only ASSIGNS —
  *     centroid bytes on disk never change after batch 0
  *     (StreamIvfSpec pins this), so concurrent probes always score
  *     against the same cell geometry.
  *   - Each batch's postings append as their own `batch_id=` parquet
  *     partition: a partition ADD, never a rewrite — existing postings
  *     are never read, re-assigned, or rewritten, so ingest cost is
  *     bounded by batch size and a reader mid-append sees only whole
  *     batches.
  *   - At-least-once sources re-deliver: the first-seen guard drops
  *     batch ids already indexed (the [[StreamBm25.appendBatch]] /
  *     bm25SegmentAppend guard; at scale the membership probe is
  *     per-partition id-range/bloom metadata, not the postings scan used
  *     at test scale). A fully re-delivered batch appends nothing — not
  *     even an empty partition.
  *
  * Training on the first batch rather than the full stream is the
  * production reality (the stream has no end to train on); the cost is
  * quantizer drift as the ingest distribution shifts, which is exactly
  * what [[graft.ext.Similarity.ivfDriftReport]] meters and
  * [[graft.ext.Similarity.ivfRetrainNeeded]] turns into the re-train
  * trigger — the dense-index analogue of [[StreamBm25
  * .compactionCandidates]]'s metadata-only merge decision.
  *
  * Serve correctness is probe-depth-independent of training quality:
  * st8_bm25_stream's driver query probes the streamed index at FULL
  * depth (nProbe = nCells), which is exact top-k whatever the centroids
  * learned — the streamed ≡ scratch proof runs against a DuckDB
  * brute-force oracle on real data.
  */
object StreamIvf extends ManagedSink {

  private def centroidsDir(dir: String) = s"$dir/centroids"
  private def postingsDir(dir: String) = s"$dir/postings"

  /** Postings, tombstone and fingerprint partitions expire with
    * history; the id ledger is postings and tombstones (a fingerprint
    * partial reuses its partition's id). */
  protected def vacuumFamilies(dir: String): Seq[(String, String)] = Seq(
    postingsDir(dir) -> "batch_id=", tombDir(dir) -> "ts_id=",
    FpState.fpDir(dir) -> "batch_id=")
  protected def ledgerFamilies(dir: String): Seq[(String, String)] = Seq(
    postingsDir(dir) -> "batch_id=", tombDir(dir) -> "ts_id=")

  /** A pre-family tombstone id has no postings partition
    * ([[ManagedSink.families]]). */
  override protected def dataFamilies(dir: String): Seq[(String, String)] =
    Seq(postingsDir(dir) -> "batch_id=")

  /** `foreachBatch` sink body: micro-batch `batchId` → one immutable
    * on-disk postings partition (`batch_id=<batchId>`), training the
    * frozen quantizer iff this is the first non-empty batch. Docs
    * already indexed are dropped (first-seen, re-delivery-safe). */
  def appendBatch(dir: String, batch: DataFrame, batchId: Long,
                  idCol: String, vecCol: String, nCells: Int,
                  nAssign: Int = 2, refineIters: Int = 2,
                  hierAssignFrom: Int = 512): Unit =
    append(dir, batch, batchId, idCol, vecCol, nCells, nAssign,
      refineIters, hierAssignFrom, engineBatch = true)

  /** [[appendBatch]]'s body; `engineBatch = false` only for
    * [[retrain]]'s reserved [[RetrainBatchId]]. */
  private def append(dir: String, batch: DataFrame, batchId: Long,
                     idCol: String, vecCol: String, nCells: Int,
                     nAssign: Int, refineIters: Int, hierAssignFrom: Int,
                     engineBatch: Boolean): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, dir)
    // the shared append entry ([[ManagedSink.enterAppend]]): id guard,
    // birth commit, same-batchId crash-retry wipe, ONE manifest read
    // shared by the reset guard and the commit
    val (gen, manifest, referenced) = enterAppend(spark, dir, batchId,
      postingsDir(dir), Seq(s"${postingsDir(dir)}/batch_id=${batchId.toInt}",
        FpState.path(dir, batchId.toInt)), engineBatch)
    // first-seen guard counts TOMBSTONED ids as seen (the StreamBm25
    // discipline): load() masks them out of the postings, so without
    // this leg a re-crawl of a taken-down vector would re-index rows
    // the mask makes unservable
    val tombstoned = readIds(spark, tombDir(dir), "ts_id=",
      families(spark, dir, manifest.getOrElse(Manifest.Live.empty))._2,
      "key")
    val guarded = tombstoned match {
      case Some(deleted) =>
        batch.join(deleted.select(col("key").as(idCol)),
          Seq(idCol), "left_anti")
      case None => batch
    }
    val fresh = (load(spark, dir, idCol, vecCol) match {
      case Some(idx) =>
        guarded.join(idx.postings.select(col(idCol)).distinct(),
          Seq(idCol), "left_anti")
      case None => guarded
    }).select(col(idCol), col(vecCol)).persist()
    try {
      // one materialized snapshot drives the (possible) train AND the
      // assignment — the StreamBm25 listing-consistency discipline: no
      // later action can see a file listing containing this batch's own
      // postings
      if (fresh.count() == 0) return
      refuseReset(dir, batchId, referenced, "unindexed vectors")
      val cPath = new org.apache.hadoop.fs.Path(centroidsDir(dir))
      // a centroid dir without its _SUCCESS job-commit marker is a
      // crashed training write — wipe and retrain (the quantizer is
      // only frozen once COMPLETELY written)
      if (fs.exists(cPath) && !fs.exists(
          new org.apache.hadoop.fs.Path(cPath, "_SUCCESS")))
        fs.delete(cPath, true)
      if (!fs.exists(cPath)) {
        // train ONCE, on the first batch (FAISS train-then-add); the
        // write is the freeze — no later batch ever touches this dir
        Similarity.ivfCentroids(fresh, idCol, vecCol, nCells,
            refineIters, hierAssignFrom)
          .coalesce(1) // nCells rows — one footer, page-cached reload
          .write.mode("errorifexists").parquet(centroidsDir(dir))
      }
      val centroids = spark.read.parquet(centroidsDir(dir))
      val assigned =
        if (nCells >= hierAssignFrom)
          Similarity.assignToHier(fresh, centroids, idCol, vecCol, nAssign)
        else Similarity.assignTo(fresh, centroids, idCol, vecCol, nAssign)
      assigned
        .select(col(idCol), col(vecCol), col("ivf_cell"))
        .write.mode("overwrite") // direct partition write — no shared-
        .parquet(                // root _temporary staging to race on
          s"${postingsDir(dir)}/batch_id=${batchId.toInt}")
      // maintained fingerprint partial ([[fingerprintState]]): the
      // served VECTOR-ID set this batch adds, hashed from the
      // just-written partition (nAssign > 1 duplicates rows per id —
      // the identity is per id, so distinct); rides the same flip
      FpState.write(dir, batchId.toInt, FpState.partial(
        spark.read.parquet(
            s"${postingsDir(dir)}/batch_id=${batchId.toInt}")
          .select(col(idCol)).distinct(), Seq(idCol), sign = 1))
      // COMMIT (CAS on the generation read at entry): the batch's
      // postings become visible atomically; a concurrent maintenance
      // commit throws and the engine's batch retry re-runs fresh
      // legacy adoption baseline from partition-NAME listing (no data
      // read — the StreamBm25.everUsedIds discipline)
      commitAppend(spark, dir, batchId, gen, manifest)(Manifest.Live(
        partitionIds(spark, postingsDir(dir)) - batchId.toInt, Set.empty))
    } finally fresh.unpersist()
  }

  /** RE-TRAIN — the remedy [[graft.ext.Similarity.ivfRetrainNeeded]]
    * triggers, completing the dense maintenance lifecycle the way
    * [[StreamBm25.compactSet]] completes the sparse one (ingest → serve
    * → drift audit → RETRAIN): the live corpus (ids + vectors read from
    * the current postings, first assignment per id) trains a fresh
    * quantizer and re-assigns into `newDir` as that index's batch 0.
    *
    * The retrained index is a NEW index dir, and the serving layer's
    * pointer swap is the commit — deliberately: a re-train invalidates
    * every cell id at once (unlike compaction, there is no shared
    * postings layout to stage into), so the only honest atomic unit is
    * the whole index, exactly FAISS's rebuild-and-swap contract. The
    * old dir keeps serving until the swap, then becomes garbage. The
    * ingest stream targets `newDir` afterwards; its first-seen guard
    * sees all retrained ids (StreamIvfSpec: retrained full-depth serve
    * ≡ the old index's ≡ brute force, and the planted drift skew
    * resets).
    *
    * The rebuilt corpus lands as the RESERVED partition
    * `batch_id=`[[RetrainBatchId]] (negative — the same
    * outside-the-engine namespace as [[StreamBm25]]'s merged segments):
    * a fresh stream checkpoint pointed at `newDir` restarts at batchId
    * 0, and if the retrain output had claimed 0, `enterBatch` would see
    * it already live, skip the crash-wipe, and the new batch's rows
    * would append into a COMMITTED partition — visible without a
    * manifest flip and leaking into older pinned snapshots. Streaming
    * engine batch ids are always ≥ 0, so the negative id can never
    * collide. */
  def retrain(s: SparkSession, oldDir: String, newDir: String, nCells: Int,
              nAssign: Int = 2, refineIters: Int = 2,
              hierAssignFrom: Int = 512,
              idCol: String = "vec_id", vecCol: String = "vec"): Unit = {
    val idx = load(s, oldDir, idCol, vecCol).getOrElse(
      throw new IllegalArgumentException(s"no index at $oldDir"))
    val corpus = idx.postings
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("ivf_cell"))))
      .filter(col("__rk") === 1)
      .select(col(idCol), col(vecCol))
    append(newDir, corpus, RetrainBatchId, idCol, vecCol, nCells, nAssign,
      refineIters, hierAssignFrom, engineBatch = false)
  }

  /** Reserved partition id for [[retrain]] output — outside the
    * streaming engine's (≥ 0) batch-id namespace. */
  val RetrainBatchId: Long = -1L

  /** TAKEDOWN deletes on the dense index — the [[StreamBm25.deleteDocs]]
    * pattern for the vector derivative of forgotten content: a deleted
    * document's EMBEDDINGS are as much its content as its postings, so
    * a right-to-be-forgotten cascade must reach this sink too. `ids`
    * become a tombstone partition (`tombstones/ts_id=<claimed negative
    * id>`) committed in the SAME manifest live set as the postings (one
    * commit point — no resurrect window). Effects mirror the sparse
    * sink: the serve masks tombstoned vectors immediately (in EVERY
    * cell they were assigned to — nAssign can be > 1); the ingest guard
    * counts them as seen so a re-crawl stays out; [[compactAll]]
    * physically reclaims and clears the tombstones in one flip; pinned
    * pre-delete generations time-travel until [[vacuum]]. Scoped to
    * currently-served ids (idempotent; empty effective set commits no
    * generation); CAS + staged-cleanup like every maintainer. */
  def deleteVecs(s: SparkSession, dir: String, ids: DataFrame,
                 idCol: String, vecCol: String = "vec"): Unit = {
    // commit-base generation BEFORE the postings snapshot (the
    // StreamBm25.deleteDocs ordering): a concurrent append between the
    // reads fails our CAS instead of slipping its key past the scope
    val st = Manifest.readLiveWithGen(s, dir)
    val idx = load(s, dir, idCol, vecCol).getOrElse(
      throw new IllegalArgumentException(s"no index at $dir"))
    val live = st.map(_._2).getOrElse(Manifest.Live(
      everUsedIds(s, dir), Set.empty))
    val del = ids.select(col(idCol).as("key")).distinct()
      .join(idx.postings.select(col(idCol).as("key")).distinct(),
        Seq("key"), "left_semi")
      .persist()
    try {
      if (del.count() == 0) return // nothing newly deleted: no commit
      val tsId = nextCompactId(s, dir)
      del.coalesce(1) // takedown-sized, not index-sized
        .write.mode("overwrite").parquet(s"${tombDir(dir)}/ts_id=$tsId")
      // NEGATIVE fingerprint partial: the ids this delete masks out of
      // the serve, XORed and counted out — same flip as the tombstone
      FpState.write(dir, tsId, FpState.partial(
        del.select(col("key").as(idCol)), Seq(idCol), sign = -1))
      commitStaged(s, dir, live.copy(tombs = live.tombs + tsId),
        basedOn = st.map(_._1).getOrElse(-1),
        staged = Seq(s"${tombDir(dir)}/ts_id=$tsId", FpState.path(dir, tsId)))
    } finally del.unpersist()
  }

  /** Fold every live postings partition into ONE base partition
    * (`into` — a fresh claimed NEGATIVE id) holding only SURVIVING
    * rows: the physical reclaim of [[deleteVecs]]' tombstones, which
    * drop out of the live set in the same atomic flip. Cell
    * assignments are preserved verbatim (the quantizer is frozen —
    * this is a rewrite, not a retrain), so the serve is bit-invariant
    * when nothing was deleted. Folded partitions stay as time-travel
    * history until [[vacuum]]. */
  def compactAll(s: SparkSession, dir: String, into: Int,
                 idCol: String, vecCol: String): Unit = {
    requireFreshMergedId(s, dir, into)
    val st = Manifest.readLiveWithGen(s, dir)
    val idx = load(s, dir, idCol, vecCol).getOrElse(
      throw new IllegalArgumentException(s"no index at $dir"))
    idx.postings.select(col(idCol), col(vecCol), col("ivf_cell"))
      .write.mode("overwrite")
      .parquet(s"${postingsDir(dir)}/batch_id=$into")
    // fresh EXACT fingerprint base from the merged survivors — absorbs
    // every prior partial in the same flip that absorbs the tombstones,
    // and mints coverage for pre-upgrade dirs (the migration path)
    FpState.write(dir, into, FpState.partial(
      s.read.parquet(s"${postingsDir(dir)}/batch_id=$into")
        .select(col(idCol)).distinct(), Seq(idCol), sign = 1))
    commitStaged(s, dir, Manifest.Live(Set(into), Set.empty),
      basedOn = st.map(_._1).getOrElse(-1), staged = Seq(
        s"${postingsDir(dir)}/batch_id=$into", FpState.path(dir, into)))
  }

  /** The maintained index as written so far; None before the first
    * batch. Serve with [[graft.ext.Similarity.probeIvf]]; audit with
    * [[graft.ext.Similarity.ivfDriftReport]]. The `batch_id` partition
    * column rides along in the postings (probeIvf selects only the
    * columns it scores), so provenance of every posting survives into
    * any serve-side audit. */
  def load(s: SparkSession, dir: String, idCol: String, vecCol: String)
      : Option[Similarity.IvfIndex] =
    loadAt(s, dir, idCol, vecCol, asOfGen = None)

  /** The MAINTAINED index fingerprint — "is this the vector snapshot
    * X" answered from O(state) metadata ([[FpState]], the st15 pattern
    * on the dense sink): one (n, xor) partial per committed batch, a
    * negative partial per takedown, an exact base at compaction. The
    * identity bound is the served VECTOR-ID set (+ count) — equal by
    * construction to `corpusFingerprint(load(dir).postings.select(id)
    * .distinct, Seq(id), Seq())`. None when some live partition
    * predates the fingerprint state; [[compactAll]] migrates. */
  def fingerprintState(s: SparkSession, dir: String): Option[DataFrame] =
    Manifest.readLiveWithGen(s, dir).map(_._2).flatMap { live =>
      val (dataIds, tombIds) = families(s, dir, live)
      val fs = fsOf(s, dir)
      def has(p: String) =
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(p))
      FpState.serve(s, dir, dataIds ++ tombIds, uncovered = id =>
        (dataIds.contains(id) &&
          has(s"${postingsDir(dir)}/batch_id=$id")) ||
        (tombIds.contains(id) && has(s"${tombDir(dir)}/ts_id=$id")))
    }

  /** TIME-TRAVEL read ([[Manifest.readAt]]): the index exactly as of a
    * committed manifest generation — postings partitions are immutable
    * and the quantizer frozen, so any un-vacuumed snapshot serves
    * bit-stable. None = latest. */
  def loadAt(s: SparkSession, dir: String, idCol: String, vecCol: String,
             asOfGen: Option[Int]): Option[Similarity.IvfIndex] = {
    val p = new org.apache.hadoop.fs.Path(postingsDir(dir))
    val fs = fsOf(s, dir)
    // the index exists only once the quantizer completed (a batch-0
    // crash can leave staged postings without one)
    if (!fs.exists(new org.apache.hadoop.fs.Path(
        centroidsDir(dir), "_SUCCESS"))) None
    else Manifest.readLiveAt(s, dir, asOfGen) match {
      case Some(live0) =>
        // SNAPSHOT-ISOLATED read (the StreamBm25.loadAt discipline):
        // the file list comes from the manifest — exactly the live
        // partitions' paths, which are immutable — never a directory
        // listing that would enumerate an in-flight append's staged
        // partition (whose crash-retry wipe could vanish files
        // mid-scan and kill a concurrent probe).
        val (dataIds, tombIds) = families(s, dir, live0)
        if (dataIds.isEmpty) None // born (birth commit) but no batch yet
        else {
          val paths = dataIds.toSeq.sorted
            .map(id => s"${postingsDir(dir)}/batch_id=$id")
          val postings0 = s.read.option("basePath", postingsDir(dir))
            .parquet(paths: _*)
            .withColumn("batch_id", col("batch_id").cast("int"))
          // takedown mask ([[deleteVecs]] — Lucene liveDocs): a
          // tombstoned vector never scores, in ANY of its assigned
          // cells; physical reclaim happens at [[compactAll]]
          val postings = readIds(s, tombDir(dir), "ts_id=", tombIds,
              "key") match {
            case Some(deleted) =>
              postings0.join(deleted.select(col("key").as(idCol)),
                Seq(idCol), "left_anti")
            case None => postings0
          }
          Some(Similarity.IvfIndex(
            centroids = s.read.parquet(centroidsDir(dir)),
            postings = postings,
            idCol = idCol, vecCol = vecCol))
        }
      case None =>
        // legacy (pre-manifest) dir: single-writer — the listing IS
        // the live set; an existing-but-empty postings dir means
        // "index not born yet", not an unreadable-parquet error
        if (!Manifest.hasDataFiles(fs, p)) None
        else Some(Similarity.IvfIndex(
          centroids = s.read.parquet(centroidsDir(dir)),
          postings = s.read.parquet(postingsDir(dir))
            .withColumn("batch_id", col("batch_id").cast("int")),
          idCol = idCol, vecCol = vecCol))
    }
  }
}
