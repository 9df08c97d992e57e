package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** STREAMING maintenance of the duplicate-CLUSTER table — the
  * transitive-closure member of the streaming-ingest family (st6/st7
  * sparse index, st8 dense index, st9 curated corpus): each micro-batch
  * of new candidate edges merges into the maintained on-disk
  * (id, cluster_id) assignment via [[graft.ext.Dedup
  * .incrementalClusterParts]] — the CC loop runs over the CONTRACTED
  * root graph (≤ 2·|edges| nodes, constant in corpus size), never the
  * corpus graph.
  *
  * THE STORAGE PROBLEM this sink solves: unlike postings/corpus sinks,
  * the cluster table is not append-only — a bridge edge RELABELS
  * committed rows. Rewriting committed partitions per batch would be a
  * corpus-sized copy-on-write every night. Instead the state is a
  * union-find materialized as two tables under ONE manifest:
  *
  *   - `members/batch_id=N` — immutable (id, cluster_id) rows: the ids
  *     first seen in batch N with their component root AT INSERT;
  *   - `rootmap/batch_id=N` — the full ROOT-MAP OVERLAY as of batch N:
  *     (old_root, new_root) for every root ever merged away. One row
  *     per merged-away component — METADATA-sized (bounded by the
  *     number of merges, not rows), so rewriting it whole per batch is
  *     cheap at any corpus scale.
  *
  * The served view is `members LEFT JOIN overlay` with
  * `coalesce(new_root, root_at_insert)` — committed member partitions
  * are never rewritten (the Lucene/Iceberg immutability discipline),
  * and a merge costs one overlay rewrite + one partition append. The
  * overlay is kept ONE-STEP-RESOLVED (values are always currently-live
  * roots: each batch composes the previous overlay through its delta
  * before writing), so the read path is a single broadcast-sized join,
  * never an iterative pointer chase. [[compact]] folds the overlay into
  * a fresh resolved members partition (the negative-id namespace, the
  * StreamBm25 merged-segment convention) when the overlay or partition
  * count warrants it.
  *
  * Crash/concurrency contract = the shared [[Manifest]] protocol:
  * batches stage into their own partition dirs (disjoint `_temporary`
  * staging), become visible in one atomic manifest flip, re-delivered
  * batches no-op (replayed edges contract to self-loops and vanish; no
  * new members, no delta → no commit), a reset checkpoint carrying
  * genuinely new edges on an ever-committed id fails loudly, and every
  * un-vacuumed generation time-travels ([[loadAt]]).
  */
object StreamClusters extends ManagedSink {

  private def membersDir(dir: String) = s"$dir/members"
  private def rootmapDir(dir: String) = s"$dir/rootmap"

  /** Members, rootmap and tombstones: the vacuum families and the id
    * ledger alike. */
  protected def vacuumFamilies(dir: String): Seq[(String, String)] = Seq(
    membersDir(dir) -> "batch_id=", rootmapDir(dir) -> "batch_id=",
    tombDir(dir) -> "ts_id=")
  protected def ledgerFamilies(dir: String): Seq[(String, String)] =
    vacuumFamilies(dir)

  /** A pre-family tombstone id has no members partition
    * ([[ManagedSink.families]]). */
  override protected def dataFamilies(dir: String): Seq[(String, String)] =
    Seq(membersDir(dir) -> "batch_id=")

  /** `foreachBatch` sink body: one micro-batch of candidate edges
    * (`idA`, `idB` columns) merges into the maintained table. Appends
    * the batch's NEW member rows as partition `batch_id=<batchId>`,
    * rewrites the root-map overlay iff the batch bridged committed
    * components, and flips the manifest once. A batch whose edges are
    * all replays (every edge inside one committed component) commits
    * nothing — not even a generation. */
  def appendBatch(dir: String, edges: DataFrame, batchId: Long,
                  idA: String = "id1", idB: String = "id2",
                  checkpointDir: Option[String] = None): Unit = {
    val spark = edges.sparkSession
    val (gen, manifest, referenced) = enterAppend(spark, dir,
      batchId, membersDir(dir), Seq(
        s"${membersDir(dir)}/batch_id=${batchId.toInt}",
        s"${rootmapDir(dir)}/batch_id=${batchId.toInt}"))
    // takedown guard: an edge TOUCHING a tombstoned node is a
    // derivative of forgotten content — dropping it keeps the deleted
    // id from re-entering as a "new" member and keeps its connectivity
    // from influencing future merges (the count-tombstoned-as-seen
    // discipline, edge-shaped)
    val tombstoned = readIds(spark, tombDir(dir), "ts_id=",
      families(spark, dir, manifest.getOrElse(Manifest.Live.empty))._2, "id")
    val edgesIn = tombstoned match {
      case Some(deleted) =>
        edges
          .join(deleted.select(col("id").as(idA)), Seq(idA), "left_anti")
          .join(deleted.select(col("id").as(idB)), Seq(idB), "left_anti")
      case None => edges
    }
    val assigned = load(spark, dir).getOrElse(
      // state not born yet: contract against an empty table — every
      // edge node is a new member, the delta is empty
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType)))))
    val (newMembers0, rootDelta0) = Dedup.incrementalClusterParts(
      assigned, edgesIn, idA, idB, checkpointDir = checkpointDir)
    // ONE materialized snapshot drives the writes + the no-op decision
    // (the shared sink discipline): the contracted CC ran once, and the
    // member/overlay writes below cannot re-trigger it against state
    // that already includes this batch's own partitions (snapshot reads
    // list only LIVE partitions, so that race is structural anyway).
    val newMembers = newMembers0.persist()
    val rootDelta = rootDelta0.persist()
    try {
      val nNew = newMembers.count()
      val nDelta = rootDelta.count()
      // full re-delivery: replayed edges contract to self-loops and
      // vanish — nothing new, nothing merged, NO new generation
      if (nNew == 0 && nDelta == 0) return
      refuseReset(dir, batchId, referenced, "new edges")
      // stage 1: the batch's new member rows — partition add, own dir
      // as the job output root (disjoint staging, the StreamBm25 rule)
      if (nNew > 0)
        newMembers.select(col("id"), col("cluster_id"))
          .write.mode("overwrite")
          .parquet(s"${membersDir(dir)}/batch_id=${batchId.toInt}")
      // stage 2: the composed overlay — ONLY when the batch merged
      // something (an unchanged overlay is already served by the
      // latest existing rootmap partition)
      if (nDelta > 0) {
        val prev = overlay(spark, dir, asOfGen = None)
        val composed = (prev match {
          case Some(r) => r
            .join(rootDelta.select(col("old_root").as("new_root"),
              col("new_root").as("__nn")), Seq("new_root"), "left")
            .select(col("old_root"),
              coalesce(col("__nn"), col("new_root")).as("new_root"))
            .unionByName(rootDelta)
          case None => rootDelta
        })
        composed.select(col("old_root"), col("new_root"))
          .write.mode("overwrite")
          .parquet(s"${rootmapDir(dir)}/batch_id=${batchId.toInt}")
      }
      commitAppend(spark, dir, batchId, gen, manifest)(Manifest.Live(
        everUsedIds(spark, dir) - batchId.toInt, Set.empty))
    } finally { newMembers.unpersist(); rootDelta.unpersist() }
  }

  /** Compaction TRIGGER policy — the [[StreamBm25.compactionCandidates]]
    * discipline applied to the overlay: fold when the overlay holds at
    * least `minOverlayRows` rows AND has grown past `maxOverlayShare`
    * of the member rows. Below the floor, the serve join is a
    * broadcast-sized no-op and [[compact]]'s full members rewrite buys
    * nothing; past the share, the overlay is no longer "metadata-sized
    * relative to the table" and each serve pays a join whose build side
    * scales with merge history.
    *
    * A third leg, `maxOverlayRows`, fires on ABSOLUTE overlay size
    * regardless of share: the serve join is only cheap while the
    * overlay BROADCASTS; past the autoBroadcast threshold (~10 MB ≈ a
    * few million (long, long) rows) every serve becomes a corpus-wide
    * shuffle join — the genuinely scale-killing knee at 10⁹+ members,
    * where even a 1% share is far past broadcastable. Decision reads
    * ROW COUNTS only (the overlay is merge-history-sized; the members
    * count is a parquet metadata count — no data scan).
    *
    * Defaults are MEASURED (SCALING.md r10: 20M members on local[32]):
    * the serve is FLAT to ~1% share (0.6-1.0× the bare members scan; the
    * broadcast build is free), and
    * 2.4-3.7× bare once the overlay passes ~1M rows (share 5%+ at that
    * scale) — the build side starts to bite just where broadcastability
    * ends. So the 2% share trigger fires right at the measured knee,
    * the row floor keeps nightly micro-merges from thrashing full
    * rewrites, and the 2M-row ceiling catches the huge-corpus case
    * where a tiny share is already past the knee (the forced-shuffle
    * serve measures ~2× bare on TOP of losing the broadcast — per
    * serve, forever, until compacted).
    *
    * Run the background maintainer BEHIND this policy (or at least
    * behind a ≥ 2-live-ids gate): an unconditional fold loop commits a
    * generation per iteration and can STARVE concurrent appends' CAS
    * indefinitely — observed live in the pounded StreamClustersSpec
    * before the gate was added there. */
  def needsCompaction(s: SparkSession, dir: String,
                      maxOverlayShare: Double = 0.02,
                      minOverlayRows: Long = 4096,
                      maxOverlayRows: Long = 2000000L): Boolean = {
    val o = overlay(s, dir, asOfGen = None).map(_.count()).getOrElse(0L)
    if (o < minOverlayRows) false
    else if (o >= maxOverlayRows) true
    else {
      val m = membersAt(s, dir, asOfGen = None).map(_.count()).getOrElse(0L)
      o >= maxOverlayShare * m
    }
  }

  /** Fold the whole maintained table into ONE resolved members
    * partition (`into` — a fresh NEGATIVE id, the merged-segment
    * namespace) with an empty overlay: the copy-on-write step a real
    * deployment runs when the overlay has grown past a threshold
    * ([[needsCompaction]] is that policy), so the serve join shrinks
    * back to a bare scan. Stages, then one atomic flip; folded
    * partitions stay as time-travel history (the
    * compaction-only-stages-and-flips rule). */
  def compact(s: SparkSession, dir: String, into: Int): Unit = {
    requireFreshMergedId(s, dir, into)
    val st = Manifest.readLiveWithGen(s, dir)
    val resolved = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no cluster state at $dir"))
    // RE-MIN the labels over the survivors: [[load]] already masks
    // tombstoned members, and a deleted node that WAS a cluster's
    // min-id label must not survive as one — relabeling at the fold is
    // the closure-side physical reclaim (identity when nothing was
    // deleted, because the label invariant IS min member id). One
    // shuffle on cluster_id — a compaction is a rewrite anyway.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    resolved.select(col("id"), min("id").over(w).as("cluster_id"))
      .write.mode("overwrite")
      .parquet(s"${membersDir(dir)}/batch_id=$into")
    // CAS on the generation read before staging: an append landing
    // mid-fold makes this throw instead of silently losing its batch;
    // tombstones leave the live set in the SAME flip (their partitions
    // stay as history until [[vacuum]])
    commitStaged(s, dir, Manifest.Live(Set(into), Set.empty),
      basedOn = st.map(_._1).getOrElse(-1),
      staged = Seq(s"${membersDir(dir)}/batch_id=$into"))
  }

  /** TAKEDOWN deletes on the cluster table — membership is a derivative
    * of forgotten content, so the right-to-be-forgotten cascade reaches
    * this sink too ([[StreamBm25.deleteDocs]] pattern): `ids` become a
    * tombstone partition committed in the SAME live set (one commit
    * point), the serve masks their membership rows immediately, edges
    * touching them are dropped at ingest (the count-as-seen guard,
    * edge-shaped), and [[compact]] physically reclaims — re-minning
    * labels so a deleted id doesn't even survive as a cluster LABEL.
    * Until that fold, labels may still name a deleted id — deliberately
    * the Lucene stale-until-merge shape (the BM25 df parallel), pinned
    * by StreamClustersSpec. NOTE the semantics: takedown forgets the
    * NODE — it does not re-derive connectivity as if the node's edges
    * never arrived (surviving members stay one cluster; a true
    * edge-level re-derivation is the rebuild path, like the dense
    * index's retrain). Scoped to current members (idempotent; empty
    * effective set commits nothing); CAS + staged-cleanup like every
    * maintainer. */
  def deleteNodes(s: SparkSession, dir: String, ids: DataFrame,
                  idCol: String = "id"): Unit = {
    // commit-base generation BEFORE the members snapshot (the
    // StreamBm25.deleteDocs ordering): a concurrent append between the
    // reads fails our CAS instead of slipping its key past the scope
    val st = Manifest.readLiveWithGen(s, dir)
    val resolved = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no cluster state at $dir"))
    val live = st.map(_._2).getOrElse(Manifest.Live(
      everUsedIds(s, dir), Set.empty))
    val del = ids.select(col(idCol).as("id")).distinct()
      .join(resolved.select("id"), Seq("id"), "left_semi")
      .persist()
    try {
      if (del.count() == 0) return // nothing newly deleted: no commit
      val tsId = nextCompactId(s, dir)
      del.coalesce(1) // takedown-sized
        .write.mode("overwrite").parquet(s"${tombDir(dir)}/ts_id=$tsId")
      commitStaged(s, dir, live.copy(tombs = live.tombs + tsId),
        basedOn = st.map(_._1).getOrElse(-1),
        staged = Seq(s"${tombDir(dir)}/ts_id=$tsId"))
    } finally del.unpersist()
  }

  /** The resolved cluster table (id, cluster_id) as committed so far;
    * None before the first batch. */
  def load(s: SparkSession, dir: String): Option[DataFrame] =
    loadAt(s, dir, asOfGen = None)

  /** TIME-TRAVEL read: the resolved table exactly as of a committed
    * manifest generation — members partitions live at that generation,
    * relabeled through the overlay as of that generation. */
  def loadAt(s: SparkSession, dir: String, asOfGen: Option[Int])
      : Option[DataFrame] =
    membersAt(s, dir, asOfGen).map { m =>
      val resolved = overlay(s, dir, asOfGen) match {
        case Some(r) => m
          .join(r.select(col("old_root").as("cluster_id"),
            col("new_root").as("__nr")), Seq("cluster_id"), "left")
          .select(col("id"),
            coalesce(col("__nr"), col("cluster_id")).as("cluster_id"))
        case None => m.select("id", "cluster_id")
      }
      // takedown mask ([[deleteNodes]]): a tombstoned node's MEMBERSHIP
      // row never serves. Labels stay as-assigned until [[compact]]
      // re-mins them over the survivors — deliberately the Lucene
      // stale-until-merge shape (the BM25 sink's df has the same
      // semantics between delete and merge).
      val tombIds = familiesAt(s, dir, asOfGen).map(_._2)
        .getOrElse(Set.empty)
      readIds(s, tombDir(dir), "ts_id=", tombIds, "id") match {
        case Some(deleted) => resolved.join(deleted, Seq("id"), "left_anti")
        case None => resolved
      }
    }

  /** Members rows live at a generation — snapshot-isolated manifest-path
    * reads (the StreamBm25/StreamCurate discipline: live partitions'
    * paths, never a directory listing). */
  private def membersAt(s: SparkSession, dir: String, asOfGen: Option[Int])
      : Option[DataFrame] =
    Manifest.readLiveAt(s, dir, asOfGen) match {
      case Some(live0) if live0.all.nonEmpty =>
        val (dataIds, _) = families(s, dir, live0)
        val fs = fsOf(s, dir)
        val present = dataIds.toSeq.sorted
          .map(id => s"${membersDir(dir)}/batch_id=$id")
          .filter(p => Manifest.hasDataFiles(fs,
            new org.apache.hadoop.fs.Path(p)))
        if (present.isEmpty) None
        else Some(s.read.option("basePath", membersDir(dir))
          .parquet(present: _*).select("id", "cluster_id"))
      case _ => None
    }

  /** The root-map overlay current at a generation: each batch that
    * merged components wrote the FULL composed overlay, so the overlay
    * in force is the one of the LARGEST live batch id that has a
    * rootmap partition (batches with no merges wrote none — the next
    * older overlay is still exact); None = nothing ever merged (or
    * everything folded by [[compact]]). */
  private def overlay(s: SparkSession, dir: String, asOfGen: Option[Int])
      : Option[DataFrame] =
    familiesAt(s, dir, asOfGen).map(_._1).flatMap { live =>
      val fs = fsOf(s, dir)
      live.toSeq.sorted.reverse
        .map(id => s"${rootmapDir(dir)}/batch_id=$id")
        .find(p => Manifest.hasDataFiles(fs,
          new org.apache.hadoop.fs.Path(p)))
        .map(p => s.read.option("basePath", rootmapDir(dir)).parquet(p)
          .select("old_root", "new_root"))
    }
}
