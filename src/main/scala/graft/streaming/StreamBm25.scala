package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextOps

/** STREAMING maintenance of the segmented BM25 index — the sparse-index
  * member of the streaming-ingest family (st3 exact dedup, st5 near-dup,
  * st4 curation): each micro-batch of arriving documents becomes one
  * immutable ON-DISK segment, exactly the storage lifecycle the
  * [[graft.ext.TextOps.Bm25Segments]] scaladoc describes ("segments are
  * parquet partitions keyed by seg_id; the append is a partition add").
  *
  * The sink body is [[appendBatch]] — the `foreachBatch` function of a
  * `writeStream` over the document firehose. Because segments are
  * df-FREE (df and corpus stats derive at query time, [[graft.ext
  * .TextOps.bm25SearchSegmented]]), the sink tokenizes ONLY its batch and
  * never reads, rewrites, or recounts existing postings: an append is
  * two parquet appends (postings partition + one metadata row). That is
  * what makes the op safe at firehose rates — ingest cost is bounded by
  * batch size, serve cost by the touched posting lists, and neither ever
  * scans the corpus.
  *
  * At-least-once sources re-deliver: the first-seen guard drops batch
  * docs whose key is already indexed (the bm25SegmentAppend guard; at
  * scale the membership probe is per-segment key-range/bloom metadata,
  * not the postings scan used at test scale). StreamBm25Spec proves a
  * 3-micro-batch MemoryStream ingest serves bit-equal to a from-scratch
  * [[graft.ext.TextOps.bm25Index]] over the union corpus, and that a
  * re-delivered batch appends nothing.
  */
object StreamBm25 extends ManagedSink {

  private def postingsDir(dir: String) = s"$dir/postings"
  private def statsDir(dir: String) = s"$dir/segstats"
  private def termDfDir(dir: String) = s"$dir/termdf"
  private def blockDir(dir: String) = s"$dir/blocklist"

  /** Postings, term-df, tombstone, blocklist and fingerprint
    * partitions expire with history; `segstats` is not a vacuum family
    * (it is the id ledger's listing). */
  protected def vacuumFamilies(dir: String): Seq[(String, String)] = Seq(
    postingsDir(dir) -> "seg_id=", termDfDir(dir) -> "seg_id=",
    tombDir(dir) -> "ts_id=", blockDir(dir) -> "bl_id=",
    FpState.fpDir(dir) -> "batch_id=")

  /** The id ledger: segment stats, tombstones and blocklist partitions
    * share it, so [[nextCompactId]] allocates every maintainer family
    * from one union and families can never collide. Flat
    * pre-partition-layout stats files are covered by
    * [[migrateLegacyStats]], which every writer runs first. */
  protected def ledgerFamilies(dir: String): Seq[(String, String)] = Seq(
    statsDir(dir) -> "seg_id=", tombDir(dir) -> "ts_id=",
    blockDir(dir) -> "bl_id=")

  /** A pre-family tombstone id has no stats partition with data
    * ([[ManagedSink.families]] — the probe asks for data files here,
    * not a bare dir). */
  override protected def dataFamilies(dir: String): Seq[(String, String)] =
    Seq(statsDir(dir) -> "seg_id=")
  override protected def dataPresent(fs: org.apache.hadoop.fs.FileSystem,
                                     p: org.apache.hadoop.fs.Path): Boolean =
    Manifest.hasDataFiles(fs, p)

  /** Upgrade-on-first-touch for the stats layout: dirs written before
    * the partition-dir layout carry flat files at the statsDir root
    * (seg_id as a data column), and Spark SILENTLY IGNORES root-level
    * data files once partition directories exist — so the first
    * new-layout write into a legacy dir would make every legacy stats
    * row invisible (wrong corpus stats, and a manifest-less dir's
    * adopted live set would lose its whole pre-existing index). Every
    * WRITER migrates first: flat rows are re-written as one partition
    * dir per segment, then the flat files are deleted (partitions
    * complete BEFORE any flat delete, so a crash leaves every row
    * readable in at least one form — readers union both forms by
    * explicit path and dedupe, see [[loadAt]]). In-JVM concurrent
    * writers serialize on a per-dir lock; ACROSS JVMs the one-time
    * layout upgrade should run quiesced (one writer), like any storage
    * migration. */
  private val migrationLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def migrateLegacyStats(s: SparkSession, dir: String): Unit =
    migrationLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      migrateLegacyStatsLocked(s, dir)
    }
  override protected def beforeAppend(s: SparkSession, dir: String,
                                      seen: Option[(Int, Manifest.Live)])
      : Option[(Int, Manifest.Live)] = {
    migrateLegacyStats(s, dir)
    seen
  }
  private def migrateLegacyStatsLocked(s: SparkSession, dir: String): Unit = {
    val fs = fsOf(s, dir)
    val root = new org.apache.hadoop.fs.Path(statsDir(dir))
    if (!fs.exists(root)) return
    val flat = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.toString)
    if (flat.isEmpty) return
    val flatDf = s.read.parquet(flat: _*)
    val ids = flatDf.select(col("seg_id").cast("int")).distinct()
      .collect().map(_.getInt(0)) // one row per segment — tiny
    ids.foreach { segId =>
      flatDf.filter(col("seg_id") === segId).drop("seg_id").coalesce(1)
        .write.mode("overwrite").parquet(s"${statsDir(dir)}/seg_id=$segId")
    }
    flat.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
  }

  /** `foreachBatch` sink body: micro-batch `batchId` → one immutable
    * on-disk segment (postings partition `seg_id=<batchId>` + one
    * metadata row). Docs already indexed are dropped (first-seen,
    * re-delivery-safe). */
  def appendBatch(dir: String, batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String): Unit = {
    val spark = batch.sparkSession
    // the shared append entry ([[ManagedSink.enterAppend]]): id guard,
    // legacy stats migration, birth commit, same-batchId crash-retry
    // wipe, ONE manifest read shared by the reset guard and the commit;
    // history-referenced partitions are never wiped (time travel)
    val (gen, manifest, referenced) = enterAppend(spark, dir,
      batchId, postingsDir(dir), Seq(
        s"${postingsDir(dir)}/seg_id=${batchId.toInt}",
        s"${termDfDir(dir)}/seg_id=${batchId.toInt}",
        s"${statsDir(dir)}/seg_id=${batchId.toInt}",
        FpState.path(dir, batchId.toInt)))
    // first-seen guard counts TOMBSTONED keys as seen: load() masks
    // them out of postings, so without this leg a re-crawl of a
    // taken-down doc would re-index it — rows that cost storage but can
    // never serve (the tombstone masks the key globally). Takedown
    // semantics want the re-crawl OUT. PERSISTENT-BLOCKLIST keys
    // ([[deleteDocs]] with blockRecrawl) guard the same way — and
    // unlike tombstones they survive the full fold, so a post-reclaim
    // re-crawl stays out too (the x58 seen-digest semantics, brought to
    // the index sink).
    val liveNow = manifest.getOrElse(Manifest.Live.empty)
    val tombstoned = readIds(spark, tombDir(dir), "ts_id=",
      families(spark, dir, liveNow)._2, "key")
    val blockedKeys = readIds(spark, blockDir(dir), "bl_id=", liveNow.aux,
      "key")
    val guarded = Seq(tombstoned, blockedKeys).flatten
      .foldLeft(batch)((b, deleted) =>
        b.join(deleted.select(col("key").as(idCol)), Seq(idCol), "left_anti"))
    val fresh = (load(spark, dir) match {
      case Some(segs) =>
        guarded.join(segs.postings.select(col("key").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      case None => guarded
    }).persist()
    try {
      // ONE materialized snapshot (persist + full count, not a
      // short-circuiting isEmpty) drives every write below: the
      // anti-join + tokenize run once, and a file-listing refresh
      // between writes can no longer feed the later writes a listing
      // that already contains this batch's own postings (ADVICE r7).
      // A FULLY re-delivered batch appends nothing — not even an empty
      // segment (an n_docs=0 metadata row would be harmless for the
      // stats sums but is noise the maintained index doesn't need).
      if (fresh.count() == 0) return
      refuseReset(dir, batchId, referenced, "unindexed documents")
      val seg = TextOps.bm25SegmentOf(fresh, idCol, textCol, batchId.toInt)
      // partition-add, never a rewrite — and each staged write targets
      // its OWN partition directory as the job's output root (not a
      // `partitionBy` append into the shared root): concurrent Spark
      // jobs writing one root share its `_temporary` staging dir, and a
      // committing job's cleanup can delete a concurrent job's staged
      // task files — a silent-partial-loss window BEFORE the manifest
      // flip. Unique roots give every in-flight write (this append, a
      // background compaction's stage) disjoint staging — the same idea
      // as unique-filename object-store committers. `overwrite` =
      // crash-retry wipes the partial partition (enterBatch already
      // wiped; legacy dirs get the same safety from the mode).
      seg.postings.drop("seg_id").write.mode("overwrite")
        .parquet(s"${postingsDir(dir)}/seg_id=${batchId.toInt}")
      // stats + dictionary derive FROM the just-written partition (read
      // DIRECTLY by path — a root listing would enumerate a concurrent
      // compaction's staged partition, whose retry-overwrite can vanish
      // files mid-listing): single tokenize per batch, and the metadata
      // is consistent with the on-disk postings by construction
      val written = spark.read
        .parquet(s"${postingsDir(dir)}/seg_id=${batchId.toInt}")
        .select(lit(batchId.toInt).as("seg_id"), col("key"), col("tok"),
          col("tf"), col("dl"))
      val (segStats, termDf) = TextOps.segMetaFromPostings(written)
      segStats.drop("seg_id").write.mode("overwrite")
        .parquet(s"${statsDir(dir)}/seg_id=${batchId.toInt}")
      termDf.drop("seg_id").write.mode("overwrite")
        .parquet(s"${termDfDir(dir)}/seg_id=${batchId.toInt}")
      // maintained fingerprint partial ([[fingerprintState]]): the doc
      // set this segment adds as (key, dl) — which docs, at which token
      // counts — hashed from the just-written partition; same flip
      FpState.write(dir, batchId.toInt, FpState.partial(
        written.select(col("key"), col("dl")).distinct(),
        Seq("key", "dl"), sign = 1))
      // COMMIT (CAS on the generation read at entry): the batch becomes
      // visible in one atomic manifest flip — all three artifacts or
      // none; a concurrent maintenance commit makes this throw and the
      // engine's batch retry re-runs against fresh state. Legacy
      // (pre-manifest) dirs adopt their current listing as the baseline.
      // legacy adoption splits by directory family with the same
      // conservative DATA-FILE probes as [[families]] (a manifest-less
      // dir cannot carry tombstones — deleteDocs always commits — but a
      // crashed pre-upgrade delete can leave an EMPTY ts dir, and a
      // bare-existence probe would adopt it as a live tombstone whose
      // empty partition then breaks every read; r11 self-review #3).
      // Ids with no data files in either family are orphans — dropped,
      // not adopted.
      commitAppend(spark, dir, batchId, gen, manifest) {
        val everUsed = everUsedIds(spark, dir) - batchId.toInt
        val fs2 = fsOf(spark, dir)
        val data = everUsed.filter(id => Manifest.hasDataFiles(fs2,
          new org.apache.hadoop.fs.Path(s"${statsDir(dir)}/seg_id=$id")))
        val tombs = (everUsed -- data).filter(id =>
          Manifest.hasDataFiles(fs2, new org.apache.hadoop.fs.Path(
            s"${tombDir(dir)}/ts_id=$id")))
        Manifest.Live(data, tombs)
      }
    } finally fresh.unpersist()
  }

  /** ON-DISK segment compaction — the background merge that keeps a
    * long-lived streamed index's segment count bounded (the Lucene merge
    * policy, on the parquet layout [[appendBatch]] writes): every
    * segment with `seg_id <= upTo` folds into ONE fresh segment `into`.
    * Because segments are df-FREE, the merge is a partition rewrite of
    * only the folded segments — postings rows are relabeled, dictionary
    * rows sum per token, stats rows sum — never a corpus operation, and
    * the serve is bit-invariant (seg_id never joins;
    * [[graft.ext.TextOps.bm25SegmentCompact]] is the in-memory proof,
    * StreamBm25Spec pins the disk form).
    *
    * `into` must be a FRESH NEGATIVE id (engine batch ids own the
    * non-negative namespace — [[nextCompactId]] picks one): the merged
    * artifacts are STAGED (unreadable), then one atomic [[Manifest]]
    * flip makes the merged segment visible and the folded segments
    * invisible in the same instant — a crash at any point cannot
    * double-serve (before the flip: the stage is invisible; after: the
    * folded dirs are unreachable garbage for [[vacuum]]). At 100 TB the
    * rewrite touches only the small segments being folded, exactly like
    * tiered merging. */
  def compact(s: SparkSession, dir: String, upTo: Int, into: Int): Unit =
    compactSet(s, dir, (0 to upTo).toSet, into)

  /** [[compact]] over an ARBITRARY segment set — the form a real merge
    * policy produces: tiered merging folds the small segments wherever
    * their ids fall; a big segment between two small ones stays
    * untouched on disk. */
  def compactSet(s: SparkSession, dir: String, segIds0: Set[Int],
                 into: Int): Unit = {
    migrateLegacyStats(s, dir) // pre-partition-layout dirs upgrade
    val segs = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no index at $dir"))
    requireFreshMergedId(s, dir, into)
    val st = Manifest.readLiveWithGen(s, dir)
    val live = st.map(_._2).getOrElse(Manifest.Live(
      segs.segStats.select("seg_id").distinct()
        .collect().map(_.getInt(0)).toSet, Set.empty))
    val (segLive, tombIds) = families(s, dir, live)
    // ids already folded away (a repeated compact(upTo) range) simply
    // no longer exist — fold what is actually live, like the pre-
    // manifest isin filter did; tombstone partitions are never folded
    val segIds = segIds0.intersect(segLive)
    if (segIds.isEmpty) return
    // a PREVIOUS crashed attempt at this same `into` can only have
    // staged uncommitted partitions (require above would fail if its
    // stats partition landed) — `overwrite` below wipes them
    val fold = col("seg_id").isin(segIds.toSeq: _*)
    // 1. STAGE the merged segment: postings partition (fresh seg_id dir
    //    — collides with nothing). `segs.postings` comes from [[load]],
    //    which MASKS tombstoned keys — so the merge PHYSICALLY RECLAIMS
    //    deleted docs (Lucene's merge-applies-deletes), and the merged
    //    segment's dictionary + stats must therefore be RE-DERIVED from
    //    the surviving rows (summing the folded metadata would carry the
    //    deleted docs' df/dl forever). Without tombstones the re-derive
    //    equals the old metadata sum exactly — keys are globally unique
    //    across segments (first-seen guard), so df-from-postings =
    //    sum-of-df. Each write targets its own partition directory as
    //    the job's output root (disjoint `_temporary` staging from any
    //    in-flight append — see [[appendBatch]]). Nothing staged here is
    //    readable yet.
    segs.postings.filter(fold)
      .select(col("key"), col("tok"), col("tf"), col("dl"))
      .write.mode("overwrite").parquet(s"${postingsDir(dir)}/seg_id=$into")
    val written = s.read
      .parquet(s"${postingsDir(dir)}/seg_id=$into")
      .select(lit(into).as("seg_id"), col("key"), col("tok"),
        col("tf"), col("dl"))
    val (mergedStats, mergedDf) = TextOps.segMetaFromPostings(written)
    mergedDf.drop("seg_id")
      .write.mode("overwrite").parquet(s"${termDfDir(dir)}/seg_id=$into")
    mergedStats.drop("seg_id")
      .write.mode("overwrite").parquet(s"${statsDir(dir)}/seg_id=$into")
    // fingerprint partial for the merged segment: on a FULL fold the
    // tombstones clear in the same flip, so the partial is an EXACT
    // base over the merged (masked) survivors — also the migration
    // path for pre-upgrade dirs; on a PARTIAL fold the tombstones stay
    // live and keep subtracting, so the partial must carry the folded
    // segments' RAW (pre-mask) contributions or the kept negatives
    // would double-subtract — one distinct over the partitions the
    // merge already read
    val fullFold = segIds == segLive
    val fpSrc =
      if (fullFold) written.select(col("key"), col("dl"))
      else s.read.option("basePath", postingsDir(dir))
        .parquet(segIds.toSeq.sorted
          .map(id => s"${postingsDir(dir)}/seg_id=$id"): _*)
        .select(col("key"), col("dl"))
    FpState.write(dir, into, FpState.partial(fpSrc.distinct(),
      Seq("key", "dl"), sign = 1))
    // 2. COMMIT: one atomic manifest flip — the merged segment becomes
    //    visible and the folded segments invisible in the same instant,
    //    so no reader ever sees a posting twice. (Legacy dirs adopt
    //    manifest mode here.) The folded partitions are NOT deleted:
    //    compaction only stages and flips; every older generation stays
    //    time-travel-readable ([[Manifest.readAt]]) until [[vacuum]]
    //    reclaims — the Iceberg/Delta snapshot-then-expire layering.
    //    Tombstones: a FULL fold (every live segment) leaves no masked
    //    row anywhere, so the tombstone ids drop out of the live set in
    //    the SAME flip (their partitions stay as time-travel history);
    //    a partial fold keeps them — unfolded segments still need the
    //    mask, and the merged segment's survivors don't match it.
    //    The commit is a CAS on the generation read above: if an append
    //    landed meanwhile, this throws instead of resurrecting the
    //    folded segments over the append's commit — the maintainer
    //    retries on fresh state.
    // the aux family (persistent blocklist) SURVIVES every fold — that
    // is its contract: blocked keys stay blocked after reclaim
    val newLive =
      if (segIds == segLive) Manifest.Live(Set(into), Set.empty, live.aux)
      else Manifest.Live(segLive -- segIds + into, tombIds, live.aux)
    commitStaged(s, dir, newLive, basedOn = st.map(_._1).getOrElse(-1),
      staged = Seq(postingsDir(dir), termDfDir(dir), statsDir(dir))
        .map(d => s"$d/seg_id=$into") :+ FpState.path(dir, into))
  }

  /** TAKEDOWN deletes — Lucene's liveDocs on this layout: `ids` become
    * a tombstone partition (`tombstones/ts_id=<fresh negative id>`,
    * committed in the SAME manifest live set as the segments — one
    * commit point governs postings and deletes, so no reader can ever
    * see a post-delete segment view with a pre-delete tombstone view).
    * Effects:
    *
    *   - SERVE: tombstoned keys stop matching immediately ([[loadAt]]
    *     anti-joins them out); df/corpus stats keep counting them until
    *     a merge — exactly Lucene's deleted-docs semantics.
    *   - RE-INGEST: [[appendBatch]]'s first-seen guard treats
    *     tombstoned keys as seen, so a re-crawl of a taken-down doc
    *     stays out (the takedown point) instead of resurrecting it.
    *   - RECLAIM: [[compactSet]] folds merge only SURVIVING rows and
    *     re-derive df/stats, so compaction physically forgets the
    *     content; a full compaction clears the tombstones from the live
    *     set in the same flip. After reclaim the key is genuinely gone
    *     — a later crawl under that key is a NEW document, UNLESS the
    *     delete was issued with `blockRecrawl = true`, which also
    *     commits the keys to a PERSISTENT blocklist partition (the
    *     `aux` manifest family, surviving every fold — the x58
    *     seen-digest semantics brought to the index sink, so both
    *     takedown sinks can mean the same thing by "forgotten").
    *   - TIME TRAVEL: generations pinned before the delete still serve
    *     the doc until [[vacuum]] expires them — retention policy
    *     decides when a takedown becomes irreversible history removal.
    *
    * Deletes are scoped to currently-SERVED keys (unknown and
    * already-deleted keys no-op; an empty effective set commits no
    * generation). The scoping probe is the appendBatch first-seen shape
    * — at test scale a postings-key distinct, at 100 TB the per-segment
    * key-range/bloom metadata probe (same note as the ingest guard);
    * takedown batches are human-complaint-sized, so even the scan form
    * is a per-day cost, not a per-query one. CAS semantics match the
    * other maintainers: a concurrent commit makes this throw
    * ConcurrentModificationException — retry on fresh state. */
  def deleteDocs(s: SparkSession, dir: String, ids: DataFrame,
                 idCol: String, blockRecrawl: Boolean = false): Unit = {
    migrateLegacyStats(s, dir)
    // read the COMMIT BASE generation BEFORE the postings snapshot: a
    // key appended between the two reads then makes the CAS fail (the
    // appender committed past our base) instead of being silently
    // scoped out of the delete against an older postings view (r11
    // second-review #1 — the postings-first order let a concurrent
    // append's key slip through a successful commit)
    val st = Manifest.readLiveWithGen(s, dir)
    val segs = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no index at $dir"))
    val live = st.map(_._2).getOrElse(Manifest.Live(
      segs.segStats.select("seg_id").distinct()
        .collect().map(_.getInt(0)).toSet, Set.empty))
    // effective deletes: keys the masked view still serves — re-deletes
    // and never-indexed keys vanish here, making the op idempotent
    val req = ids.select(col(idCol).as("key")).distinct().persist()
    val del = req
      .join(segs.postings.select("key").distinct(), Seq("key"), "left_semi")
      .persist()
    // blocklist additions scope on the BLOCKLIST, not the served view:
    // an already-tombstoned (or long-reclaimed) key must still be
    // blockable — the whole point of blockRecrawl is keys the index no
    // longer serves (a served-view scope silently dropped them, r11
    // self-review finding #1)
    val blockAdds =
      if (!blockRecrawl) None
      else Some((readIds(s, blockDir(dir), "bl_id=", live.aux, "key") match {
        case Some(blocked) => req.join(blocked, Seq("key"), "left_anti")
        case None => req
      }).persist())
    try {
      val nDel = del.count()
      val nBlock = blockAdds.map(_.count()).getOrElse(0L)
      if (nDel == 0 && nBlock == 0) return // nothing new: no commit
      // CLAIMED ids ([[Manifest.claimNegId]]): a concurrent compaction
      // or second delete can never be handed the same id, so nobody can
      // overwrite these staged partitions or commit an id under the
      // other family (ADVICE r10, high)
      val tsId =
        if (nDel == 0) None
        else {
          val id = nextCompactId(s, dir)
          del.coalesce(1) // tombstones are takedown-sized
            .write.mode("overwrite").parquet(s"${tombDir(dir)}/ts_id=$id")
          // NEGATIVE fingerprint partial: the (key, dl) doc rows this
          // delete masks out of the serve — same flip as the tombstone
          FpState.write(dir, id, FpState.partial(
            segs.postings.join(del, Seq("key"), "left_semi")
              .select(col("key"), col("dl")).distinct(),
            Seq("key", "dl"), sign = -1))
          Some(id)
        }
      // persistent blocklist: its OWN claimed id + partition, committed
      // in the SAME flip as any tombstone from this call — one commit
      // point per deleteDocs invocation. (Across calls the two states
      // are independent by design: a block-later call commits
      // block-only, and a plain delete leaves keys deletable-but-
      // unblocked — the legal-order-arrives-late lifecycle.)
      val blId =
        if (nBlock == 0) None
        else {
          val id = nextCompactId(s, dir)
          blockAdds.get.coalesce(1).write.mode("overwrite")
            .parquet(s"${blockDir(dir)}/bl_id=$id")
          Some(id)
        }
      commitStaged(s, dir,
        live.copy(tombs = live.tombs ++ tsId, aux = live.aux ++ blId),
        basedOn = st.map(_._1).getOrElse(-1),
        staged = tsId.toSeq.flatMap(id => Seq(
          s"${tombDir(dir)}/ts_id=$id", FpState.path(dir, id))) ++
          blId.map(id => s"${blockDir(dir)}/bl_id=$id"))
    } finally {
      del.unpersist(); req.unpersist(); blockAdds.foreach(_.unpersist())
    }
  }

  /** A tiered MERGE POLICY over the segment metadata (Lucene's
    * by-size tiering in its simplest form): fold every segment whose
    * doc count is below `smallFrac` of the index total, but only when
    * at least `minSegments` of them exist (merging one segment is a
    * no-op rewrite). Returns the segment ids to fold — the caller
    * passes them to [[compactSet]] with a fresh `into`. A
    * metadata-only decision: reads the (segment-count-sized) stats
    * table, never the postings. */
  def compactionCandidates(s: SparkSession, dir: String,
                           smallFrac: Double = 0.2,
                           minSegments: Int = 2): Set[Int] =
    load(s, dir) match {
      case None => Set.empty
      case Some(segs) =>
        val rows = segs.segStats.select("seg_id", "n_docs").collect()
        val total = rows.map(_.getLong(1)).sum.toDouble
        val small = rows.filter(_.getLong(1) < smallFrac * total)
          .map(_.getInt(0)).toSet
        if (small.size >= minSegments) small else Set.empty
    }

  /** The maintained index as written so far; None before the first
    * batch. Serve with [[graft.ext.TextOps.bm25SearchSegmented]].
    *
    * Manifest-mode dirs serve EXACTLY the latest committed segment set
    * ([[Manifest]]): partitions staged by an in-flight append or
    * compaction — and partitions a compaction has already folded but
    * not yet deleted — are invisible, so a reader can never see a
    * posting twice or a half-written batch. Partition pruning makes the
    * `isin` filter a listing-level operation, not a scan. Legacy dirs
    * (no manifest) keep the directory-listing behavior. */
  def load(s: SparkSession, dir: String): Option[TextOps.Bm25Segments] =
    loadAt(s, dir, asOfGen = None)

  /** The MAINTAINED index fingerprint — "is this the index snapshot X"
    * answered from O(state) metadata ([[FpState]], the st15 pattern on
    * the sparse sink): one (n, xor) partial per committed segment, a
    * negative partial per takedown, a fresh base at every full fold.
    * The identity bound is the served DOC set as (key, dl) — which
    * docs, at which token counts — equal by construction to
    * `corpusFingerprint(load(dir).postings.select(key, dl).distinct,
    * Seq("dl", "key"), Seq())`. None when some live partition predates
    * the fingerprint state; a full [[compactSet]] migrates. */
  def fingerprintState(s: SparkSession, dir: String): Option[DataFrame] =
    Manifest.readLiveWithGen(s, dir).map(_._2).flatMap { live =>
      val (segLive, tombIds) = families(s, dir, live)
      val fs = fsOf(s, dir)
      def has(p: String) =
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(p))
      FpState.serve(s, dir, segLive ++ tombIds, uncovered = id =>
        (segLive.contains(id) && has(s"${statsDir(dir)}/seg_id=$id")) ||
        (tombIds.contains(id) && has(s"${tombDir(dir)}/ts_id=$id")))
    }

  /** TIME-TRAVEL read: the index exactly as of manifest generation
    * `asOfGen` ([[Manifest.readAt]]) — segments are immutable and
    * compaction no longer deletes, so any un-vacuumed snapshot serves
    * bit-stable forever. None = latest. */
  def loadAt(s: SparkSession, dir: String, asOfGen: Option[Int])
      : Option[TextOps.Bm25Segments] = {
    val fs = fsOf(s, dir)
    Manifest.readLiveAt(s, dir, asOfGen) match {
      case Some(live) =>
        // SNAPSHOT-ISOLATED read: the file list comes FROM THE MANIFEST
        // — exactly the live partitions' paths — never the directory
        // listing. A listing would enumerate partitions STAGED by an
        // in-flight append/compaction, and a concurrent crash-retry
        // wiping its own staged partition mid-listing kills the reader
        // with FileNotFoundException (caught live by the pounded
        // concurrency spec). Live partitions are immutable, so these
        // paths can never vanish under the read (until vacuum, which
        // requires the pinned generation to be expired anyway). This is
        // the Iceberg read discipline the manifest exists to provide.
        // tombstone partitions ride the SAME live set (one commit point
        // governs segments AND deletes — the Lucene commit-point idea;
        // split manifests would open a resurrect window between a
        // reader's two snapshot reads); the family is DECLARED in the
        // manifest ([[families]] — probe fallback only for pre-family
        // generations)
        val (segLive, tombIds) = families(s, dir, live)
        if (segLive.isEmpty) None // born (birth commit) but no batch yet
        else {
          def part(root: String) = {
            val paths = segLive.toSeq.sorted.map(id => s"$root/seg_id=$id")
            s.read.option("basePath", root).parquet(paths: _*)
              .withColumn("seg_id", col("seg_id").cast("int"))
          }
          // a manifest-mode dir written BEFORE the partition-dir stats
          // layout still carries flat stats files (writers migrate on
          // first touch; pure readers must tolerate the old layout —
          // and the mid-migration-crash MIXED state, where a root read
          // would silently ignore the remaining flat files). Per live
          // id: serve its partition dir if present (committed partition
          // dirs never vanish — existence probes race nothing), else
          // the flat files read by EXPLICIT path. dropDuplicates: a
          // migration crash can leave an id in both forms with
          // identical values.
          val partIds = segLive.filter(id => fs.exists(
            new org.apache.hadoop.fs.Path(s"${statsDir(dir)}/seg_id=$id")))
          val flatIds = segLive -- partIds
          val statsRoot = new org.apache.hadoop.fs.Path(statsDir(dir))
          val flatFiles =
            if (flatIds.isEmpty || !fs.exists(statsRoot)) Array.empty[String]
            else fs.listStatus(statsRoot).filter { st =>
              val n = st.getPath.getName
              st.isFile && !n.startsWith("_") && !n.startsWith(".")
            }.map(_.getPath.toString)
          val legs = Seq(
            if (partIds.isEmpty) None else Some {
              val paths = partIds.toSeq.sorted
                .map(id => s"${statsDir(dir)}/seg_id=$id")
              s.read.option("basePath", statsDir(dir)).parquet(paths: _*)
                .withColumn("seg_id", col("seg_id").cast("int"))
                .select("seg_id", "n_docs", "sum_dl")
            },
            if (flatFiles.isEmpty) None else Some {
              s.read.parquet(flatFiles.toSeq: _*)
                .withColumn("seg_id", col("seg_id").cast("int"))
                .filter(col("seg_id").isin(flatIds.toSeq: _*))
                .select("seg_id", "n_docs", "sum_dl")
            }).flatten
          val segStats = legs.reduce(_ unionByName _)
            .dropDuplicates("seg_id")
          // Lucene liveDocs semantics: tombstoned keys are MASKED out of
          // the postings (they can never serve), while segStats/termDf
          // keep counting them until a compaction physically reclaims —
          // exactly deleted-docs-still-count-toward-df-until-merge
          val postings0 = part(postingsDir(dir))
            .select("seg_id", "key", "tok", "tf", "dl")
          val postings = readIds(s, tombDir(dir), "ts_id=", tombIds,
              "key") match {
            case Some(deleted) =>
              postings0.join(deleted, Seq("key"), "left_anti")
            case None => postings0
          }
          Some(TextOps.Bm25Segments(
            postings = postings,
            segStats = segStats,
            termDf = part(termDfDir(dir))
              .select("seg_id", "tok", "df")))
        }
      case None =>
        // legacy (pre-manifest) dir: single-writer by definition — the
        // directory listing IS the live set. Empty/missing dirs mean
        // "index not born yet", not an error (a first-batch crash
        // retry's wipe leaves existing-but-empty dirs).
        if (!Manifest.hasDataFiles(fs,
              new org.apache.hadoop.fs.Path(postingsDir(dir))) ||
            !Manifest.hasDataFiles(fs,
              new org.apache.hadoop.fs.Path(statsDir(dir))) ||
            !Manifest.hasDataFiles(fs,
              new org.apache.hadoop.fs.Path(termDfDir(dir)))) None
        else {
          // mixed-safe stats read (a migration crash can leave flat
          // files AND partition dirs; a root read ignores the flats):
          // both forms by explicit path, union, value-identical dedupe
          val statsRoot = new org.apache.hadoop.fs.Path(statsDir(dir))
          val entries = fs.listStatus(statsRoot)
          val flat = entries.filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }.map(_.getPath.toString)
          val parts = entries.filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("seg_id=")).map(_.getPath.toString)
          val legs = Seq(
            if (parts.isEmpty) None else Some(
              s.read.option("basePath", statsDir(dir)).parquet(parts.toSeq: _*)
                .withColumn("seg_id", col("seg_id").cast("int"))
                .select("seg_id", "n_docs", "sum_dl")),
            if (flat.isEmpty) None else Some(
              s.read.parquet(flat.toSeq: _*)
                .withColumn("seg_id", col("seg_id").cast("int"))
                .select("seg_id", "n_docs", "sum_dl"))).flatten
          Some(TextOps.Bm25Segments(
            postings = s.read.parquet(postingsDir(dir))
              .withColumn("seg_id", col("seg_id").cast("int"))
              .select("seg_id", "key", "tok", "tf", "dl"),
            segStats = legs.reduce(_ unionByName _)
              .dropDuplicates("seg_id"),
            termDf = s.read.parquet(termDfDir(dir))
              .withColumn("seg_id", col("seg_id").cast("int"))
              .select("seg_id", "tok", "df")))
        }
    }
  }

  /** [[ManagedSink.nextCompactId]] after migrating a legacy flat stats
    * layout, so no pre-partition id is missed. */
  override def nextCompactId(s: SparkSession, dir: String): Int = {
    migrateLegacyStats(s, dir)
    super.nextCompactId(s, dir)
  }
}
