package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Lucene-`segments_N`-style MANIFEST commit for the six streamed
  * on-disk sinks ([[StreamCurate]], [[StreamBm25]], [[StreamIvf]],
  * [[StreamClusters]], [[StreamContainment]], [[StreamNgramDf]]; the
  * maintenance verbs they share live in the [[ManagedSink]] contract):
  * the set of LIVE segment ids lives in a numbered manifest file, and
  * readers serve exactly the latest committed set — never the directory
  * listing. That closes the two crash windows the directory-listing
  * protocol had:
  *
  *   - append crash: a partially-committed postings partition (or a
  *     fully-written one whose metadata write died) is INVISIBLE until
  *     the manifest commit that includes it; the streaming engine's
  *     same-`batchId` retry wipes the orphan and rewrites.
  *   - compaction crash: the merged partition is invisible until the
  *     manifest flips, and after the flip the folded partitions are
  *     invisible even though their dirs still exist — at no point can a
  *     reader see a posting twice. The old dirs become time-travel
  *     history until [[ManagedSink.vacuum]] expires it.
  *
  * CONCURRENCY: a commit claims its generation number — the write goes
  * to a uuid-tmp file and reaches `m-<gen>` through a NO-OVERWRITE
  * rename (`FileContext.rename` with `Options.Rename.NONE`), so of two
  * writers basing on the same parent generation exactly one wins and
  * the other gets a `ConcurrentModificationException` to retry on fresh
  * state. That makes the background maintainer (compaction, vacuum)
  * safe against an in-flight append: the loser's commit can no longer
  * silently resurrect folded segments or drop a merged one. (Atomic on
  * HDFS-like stores; on a raw local FS the no-overwrite check has a
  * vanishing check-then-rename window — fine for tests, and the
  * single-driver deployments local mode implies.)
  *
  * OBJECT STORES: S3A has NO atomic rename — rename is a copy+delete
  * and the no-overwrite claim cannot be made atomically, so this
  * file-based CAS does not transfer as-is. The production answer on an
  * object store is an external commit arbiter: a catalog service doing
  * a real compare-and-swap per commit (the Iceberg/Delta answer — a
  * Hive/Nessie/REST catalog swap, or a DynamoDB conditional put as the
  * lock), with the manifest FILES staying exactly as here and only the
  * "claim generation N" step moving into the arbiter. S3 does offer
  * conditional PUT (If-None-Match), which can stand in for the
  * no-overwrite rename where available. Data/segment writes need no
  * arbiter — they are uuid/partition-unique and invisible until the
  * commit, on any store.
  *
  * Readers pick the max gen. A missing manifest dir means a legacy
  * (pre-manifest) index: callers fall back to the directory listing, so
  * existing artifacts keep serving.
  */
object Manifest {

  /** A committed live set with explicit partition FAMILIES: `data` ids
    * are segment/batch partitions, `tombs` are takedown tombstone
    * partitions ([[graft.streaming.StreamBm25.deleteDocs]]-style).
    * `aux` ids are auxiliary metadata partitions that must SURVIVE
    * compaction folds (e.g. [[StreamBm25]]'s persistent re-crawl
    * blocklist), serialized with a `b` prefix. Recording the family IN
    * the manifest (`t`/`b` prefixes on the id token) is what makes
    * classification race-free: the old scheme inferred family from
    * directory presence, and a crashed delete's orphaned `ts_id=` dir
    * could permanently misclassify a LIVE merged segment as a tombstone
    * — masking the whole index out of every read (ADVICE r10, high).
    * Manifests written before this format carry every id as `data`;
    * sink-side readers apply a conservative directory-probe fallback
    * for those (biased to `data`, the non-catastrophic direction). */
  case class Live(data: Set[Int], tombs: Set[Int],
                  aux: Set[Int] = Set.empty) {
    def all: Set[Int] = data ++ tombs ++ aux
  }
  object Live { val empty: Live = Live(Set.empty, Set.empty) }

  private def mdir(root: String) = new Path(s"$root/manifest")

  /** True iff `p` holds at least one real data file (directly, or one
    * level down inside a partition dir) — shared by every sink's
    * loaders: `spark.read.parquet` on an existing-but-empty dir throws
    * UNABLE_TO_INFER_SCHEMA, so a first-batch crash whose retry wiped
    * the only staged partition must read as "state not born yet", not
    * an error that bricks the retry loop. */
  private[streaming] def hasDataFiles(
      fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && (st.isFile ||
        fs.listStatus(st.getPath).exists { c =>
          val cn = c.getPath.getName
          c.isFile && !cn.startsWith("_") && !cn.startsWith(".")
        })
    }

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def gens(fs: FileSystem, root: String): Seq[(Int, Path)] = {
    val d = mdir(root)
    if (!fs.exists(d)) Nil
    // {8,}: writers zero-pad to 8 digits but generations past 10^8 grow
    // to 9+ — a fixed-width match would silently IGNORE them and serve
    // the previous generation (an undetected rollback).
    else fs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.matches("m-\\d{8,}"))
      .map(p => (p.getName.drop(2).toInt, p))
      .sortBy(_._1)
  }

  private def parseLive(fs: FileSystem, p: Path): Live = {
    val in = fs.open(p)
    try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      if (txt.isEmpty) Live.empty
      else {
        val toks = txt.split(",").map(_.trim)
        Live(
          data = toks.filterNot(t => t.startsWith("t") || t.startsWith("b"))
            .map(_.toInt).toSet,
          tombs = toks.filter(_.startsWith("t")).map(_.drop(1).toInt).toSet,
          aux = toks.filter(_.startsWith("b")).map(_.drop(1).toInt).toSet)
      }
    } finally in.close()
  }

  private def parse(fs: FileSystem, p: Path): Set[Int] =
    parseLive(fs, p).all

  /** Latest committed live-segment set; None = legacy index (no
    * manifest was ever committed) → caller uses the directory listing. */
  def read(s: SparkSession, root: String): Option[Set[Int]] =
    readWithGen(s, root).map(_._2)

  /** (generation, live set) of the latest commit — callers that will
    * COMMIT later must remember the generation and pass it to
    * [[commitAfter]] so concurrent maintenance is detected, not
    * overwritten. None = legacy. */
  def readWithGen(s: SparkSession, root: String): Option[(Int, Set[Int])] = {
    val fs = fsOf(s, root)
    gens(fs, root).lastOption.map { case (g, p) => (g, parse(fs, p)) }
  }

  /** [[readWithGen]] with explicit partition families ([[Live]]) —
    * the takedown sinks' entry read. */
  def readLiveWithGen(s: SparkSession, root: String)
      : Option[(Int, Live)] = {
    val fs = fsOf(s, root)
    gens(fs, root).lastOption.map { case (g, p) => (g, parseLive(fs, p)) }
  }

  /** [[readAt]] with explicit partition families. `gen = None` →
    * latest; throws on a missing generation like [[readAt]]. */
  def readLiveAt(s: SparkSession, root: String, gen: Option[Int])
      : Option[Live] =
    parseAt(s, root, gen)(parseLive)

  /** The live set AT a generation — TIME TRAVEL over the maintained
    * index (the Iceberg/Delta snapshot-read idea on this layout): every
    * commit is a numbered immutable file and segments are immutable, so
    * a reader pinned to gen G serves exactly the index as of that
    * commit, bit-stable, regardless of later appends/compactions — for
    * as long as G's segments haven't been reclaimed ([[StreamBm25
    * .vacuum]] collapses history to the latest gen; until someone runs
    * it, all history is readable). `gen = None` → latest. Throws on a
    * missing generation (a pinned reader must fail loudly, not silently
    * serve a different snapshot). */
  def readAt(s: SparkSession, root: String, gen: Option[Int])
      : Option[Set[Int]] =
    parseAt(s, root, gen)(parse)

  /** Parse generation `gen` (None = latest) of `root`'s manifest; None =
    * legacy (no generation committed). Throws on a missing generation. */
  private def parseAt[T](s: SparkSession, root: String, gen: Option[Int])(
      parse: (FileSystem, Path) => T): Option[T] = {
    val fs = fsOf(s, root)
    val all = gens(fs, root)
    val pick = gen match {
      case None => all.lastOption
      case Some(g) =>
        Some(all.find(_._1 == g).getOrElse(throw new IllegalArgumentException(
          s"no manifest generation $g at $root (have ${all.map(_._1)})")))
    }
    pick.map { case (_, p) => parse(fs, p) }
  }

  /** Committed generation numbers, oldest first (empty = legacy). */
  def generations(s: SparkSession, root: String): Seq[Int] =
    gens(fsOf(s, root), root).map(_._1)

  /** Every historical live set (oldest first) — [[ManagedSink.vacuum]]'s
    * "referenced by some generation" account. */
  def allSets(s: SparkSession, root: String): Seq[Set[Int]] = {
    val fs = fsOf(s, root)
    gens(fs, root).map { case (_, p) => parse(fs, p) }
  }

  /** Commit a new live set as generation `basedOn + 1` — the CAS: if
    * another writer committed that generation first, throws
    * `ConcurrentModificationException` and writes nothing; the caller
    * retries against fresh state (a streaming sink simply lets the
    * engine's batch retry do it). This IS the visibility flip:
    * everything staged before this call becomes readable at once. */
  def commitAfter(s: SparkSession, root: String, live: Set[Int],
                  basedOn: Int): Unit =
    commitLiveAfter(s, root, Live(live, Set.empty), basedOn)

  /** [[commitAfter]] with explicit partition families: tombstone ids
    * serialize with a `t` prefix so readers classify them from the
    * manifest itself, never from directory probes. */
  def commitLiveAfter(s: SparkSession, root: String, live: Live,
                      basedOn: Int): Unit = {
    val fs = fsOf(s, root)
    val d = mdir(root)
    if (!fs.exists(d)) {
      fs.mkdirs(d)
      // dir-identity nonce for [[referencedUnion]]'s cache: a manifest
      // dir deleted and re-created at the same path must never serve a
      // stale cached union even if its new generation files coincide in
      // (gen, length, mtime) — plausible at millisecond mtime
      // granularity in fast test loops (ADVICE r10, low). Exclusive
      // create: of two concurrent birth commits exactly one writes it.
      try fs.create(new Path(d, s"dirid-${java.util.UUID.randomUUID()}"),
        false).close()
      catch { case _: java.io.IOException => () } // racer won the birth
    }
    val gen = basedOn + 1
    val body = (live.data.toSeq.sorted.map(_.toString) ++
      live.tombs.toSeq.sorted.map(i => s"t$i") ++
      live.aux.toSeq.sorted.map(i => s"b$i")).mkString(",")
    val tmp = new Path(d, f"m-$gen%08d.tmp-${java.util.UUID.randomUUID()}")
    val fin = new Path(d, f"m-$gen%08d")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      d.toUri, s.sparkContext.hadoopConfiguration)
    try fc.rename(tmp, fin) // Options.Rename.NONE: fails if fin exists
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"manifest generation $gen at $root was committed concurrently", e)
      case e: java.io.IOException if fs.exists(fin) =>
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"manifest generation $gen at $root was committed concurrently", e)
    }
  }

  /** Non-CAS convenience for single-writer call sites (the birth commit
    * of a fresh dir, tests): bases on whatever is latest right now. */
  def commit(s: SparkSession, root: String, live: Set[Int]): Unit =
    commitAfter(s, root, live,
      basedOn = readWithGen(s, root).map(_._1).getOrElse(-1))

  /** History reclamation for a manifest-committed partition layout —
    * sinks reach it through [[ManagedSink.vacuum]], which passes their
    * declared vacuum families: under each `families` dir, delete
    * partition dirs (`<prefix><id>`) whose id is NOT in the latest live
    * set — by default only ids some generation referenced (crash
    * orphans are left for `includeOrphans = true`, which a careful
    * operator runs only with no writer in flight) — then collapse the
    * manifest to its numerically-latest generation.
    * Correctness never depends on running this; it trades time-travel
    * depth for space, and a deployment picks its retention by how often
    * it runs. No-op on legacy (manifest-less) dirs.
    *
    * TIME-BASED RETENTION (`retainMillis = Some(ms)`): generations
    * whose manifest file is YOUNGER than the cutoff survive — their
    * files stay, their referenced partitions stay, and [[readAt]] on
    * them keeps working — so an operator can promise "any snapshot from
    * the last N days is reproducible" while still reclaiming older
    * history (the Delta/Iceberg `RETAIN n HOURS` contract). This is
    * also the takedown story's legal dial: a taken-down document's
    * pre-delete generations remain readable EXACTLY until retention
    * expires them — [[vacuumHistory]] with the retention window is the
    * step that makes forgetting irreversible, on a schedule the
    * deployment chooses rather than as a side effect of maintenance.
    * The latest generation always survives regardless of age. */
  def vacuumHistory(s: SparkSession, root: String,
                    families: Seq[(String, String)],
                    includeOrphans: Boolean = false,
                    retainMillis: Option[Long] = None): Unit =
    read(s, root).foreach { _ =>
      val fs = fsOf(s, root)
      val (all, kept, keptUnion, referenced) =
        retentionAccount(fs, root, retainMillis)
      def reclaimable(id: Int): Boolean =
        !keptUnion.contains(id) &&
          (referenced.contains(id) || includeOrphans)
      families.foreach { case (d, prefix) =>
        val p = new Path(d)
        if (fs.exists(p)) fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(prefix) &&
              scala.util.Try(n.stripPrefix(prefix).toInt).toOption
                .exists(reclaimable))
            fs.delete(st.getPath, true)
        }
      }
      // gens() sorts NUMERICALLY (a lexical sort would keep
      // m-99999999 over m-100000000 — the StreamBm25Spec pin)
      val keptSet = kept.map(_._1).toSet
      all.foreach { case (g, p) =>
        if (!keptSet.contains(g)) fs.delete(p, false)
      }
    }

  /** The retention ACCOUNT [[vacuumHistory]] acts on — (every
    * generation, the kept ones, the union of ids a kept generation
    * still references, the ids ever referenced by any generation).
    * Shared with [[vacuumPlan]] so the dry run can never drift from
    * the delete. */
  private def retentionAccount(fs: FileSystem, root: String,
                               retainMillis: Option[Long])
      : (Seq[(Int, Path)], Seq[(Int, Path)], Set[Int], Set[Int]) = {
    val all = gens(fs, root)
    val cutoff = retainMillis.map(System.currentTimeMillis() - _)
    val kept = all.zipWithIndex.filter { case ((_, p), i) =>
      i == all.size - 1 || // the latest always survives
        cutoff.exists(c => fs.getFileStatus(p).getModificationTime >= c)
    }.map(_._1)
    val keptUnion = kept.map { case (_, p) => parse(fs, p) }
      .foldLeft(Set.empty[Int])(_ ++ _)
    val referenced = all.map { case (_, p) => parse(fs, p) }
      .foldLeft(Set.empty[Int])(_ ++ _)
    (all, kept, keptUnion, referenced)
  }

  /** The generations a [[vacuumHistory]] under `retainMillis` would
    * KEEP (same [[retentionAccount]] — plan and delete cannot drift):
    * the latest always, plus every generation younger than the window.
    * Empty = no commits. The metadata behind release-aware retention
    * ([[Release.retentionImpact]]): a reader pinned to a kept
    * generation stays reproducible through the vacuum. */
  def keptGenerations(s: SparkSession, root: String,
                      retainMillis: Option[Long] = None): Seq[Int] = {
    val fs = fsOf(s, root)
    if (gens(fs, root).isEmpty) Nil
    else retentionAccount(fs, root, retainMillis)._2.map(_._1)
  }

  /** DRY RUN of [[vacuumHistory]] — what WOULD a vacuum under this
    * retention window delete, without deleting anything: (total
    * generations, generations that would expire, history partitions
    * that would reclaim, orphaned partitions — staged-but-never-
    * committed dirs an `includeOrphans` vacuum would also take). None
    * before the first commit. The operator's answer to "is it safe to
    * run retention now, and what does it buy" — same account, zero
    * writes. */
  def vacuumPlan(s: SparkSession, root: String,
                 families: Seq[(String, String)],
                 retainMillis: Option[Long] = None)
      : Option[(Long, Long, Long, Long)] =
    read(s, root).map { _ =>
      val fs = fsOf(s, root)
      val (all, kept, keptUnion, referenced) =
        retentionAccount(fs, root, retainMillis)
      var reclaim = 0L
      var orphans = 0L
      families.foreach { case (d, prefix) =>
        val p = new Path(d)
        if (fs.exists(p)) fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(prefix))
            scala.util.Try(n.stripPrefix(prefix).toInt).toOption
              .foreach { id =>
                if (!keptUnion.contains(id)) {
                  if (referenced.contains(id)) reclaim += 1
                  else orphans += 1
                }
              }
        }
      }
      (all.size.toLong, (all.size - kept.size).toLong, reclaim, orphans)
    }

  /** BYTES-level extension of [[vacuumPlan]] — the same dry-run account
    * plus the bytes a vacuum would actually give back: (generations,
    * would-expire, reclaimable partitions, orphans, reclaimable bytes,
    * orphan bytes).
    *
    * LISTING-COST STORY AT 100 TB: a partition's size is summed (one
    * recursive listing) exactly ONCE in its lifetime and memoized in a
    * bytes-sized ledger file under `manifest/psz/` — sound because a
    * COMMITTED partition is immutable (the manifest protocol: writers
    * stage under fresh ids and flip visibility at commit; nothing
    * rewrites a committed dir in place). So a scheduled report costs
    * O(partitions folded since the last report) listings, not a
    * per-call `listStatus` storm over every partition of every
    * generation. ORPHANS (staged-but-never-committed ids) are the one
    * mutable class — a same-id crash retry wipes and rewrites them —
    * so their sizes are listed live, never memoized; orphan counts are
    * takedown/crash-sized by nature. The ledger rides the manifest dir
    * (the commit owner), survives [[vacuumHistory]] (marker files are
    * bytes-sized), and a missing entry just re-lists — correctness
    * never depends on it. */
  def vacuumPlanBytes(s: SparkSession, root: String,
                      families: Seq[(String, String)],
                      retainMillis: Option[Long] = None)
      : Option[(Long, Long, Long, Long, Long, Long)] =
    read(s, root).map { _ =>
      val fs = fsOf(s, root)
      val (all, kept, keptUnion, referenced) =
        retentionAccount(fs, root, retainMillis)
      val pszDir = new Path(s"$root/manifest/psz")
      def dirBytes(p: Path): Long =
        fs.getContentSummary(p).getLength
      def committedBytes(familyTag: String, p: Path, id: Int): Long = {
        val ledger = new Path(pszDir, s"$familyTag=$id")
        val recorded: Option[Long] =
          if (!fs.exists(ledger)) None
          else {
            val in = fs.open(ledger)
            // a crash between create and write leaves an EMPTY marker —
            // treat any unparsable ledger as missing (re-list, rewrite)
            // rather than poisoning every later report
            try scala.util.Try(scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim.toLong).toOption
            finally in.close()
          }
        recorded.getOrElse {
          val b = dirBytes(p)
          try {
            if (!fs.exists(pszDir)) fs.mkdirs(pszDir)
            if (fs.exists(ledger)) fs.delete(ledger, false) // corrupt marker
            val out = fs.create(ledger, false)
            try out.write(b.toString.getBytes("UTF-8"))
            finally out.close()
          } catch { case _: java.io.IOException => () } // racer wrote it
          b
        }
      }
      var reclaim = 0L; var orphans = 0L
      var reclaimBytes = 0L; var orphanBytes = 0L
      families.foreach { case (d, prefix) =>
        val p = new Path(d)
        val familyTag = p.getName
        if (fs.exists(p)) fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(prefix))
            scala.util.Try(n.stripPrefix(prefix).toInt).toOption
              .foreach { id =>
                if (!keptUnion.contains(id)) {
                  if (referenced.contains(id)) {
                    reclaim += 1
                    reclaimBytes += committedBytes(familyTag, st.getPath, id)
                  } else {
                    orphans += 1
                    orphanBytes += dirBytes(st.getPath)
                  }
                }
              }
        }
      }
      (all.size.toLong, (all.size - kept.size).toLong, reclaim, orphans,
        reclaimBytes, orphanBytes)
    }

  /** Per-dir cache of the EVER-REFERENCED id union: (identity of the
    * generation files folded in, their union). Generations are
    * immutable files, so the union is incremental — [[enterBatch]]
    * parses only generations it hasn't folded yet instead of re-reading
    * every manifest file on every micro-batch (per-commit I/O was
    * growing linearly with generation count — quadratic cumulative over
    * a long-running stream; ADVICE r9). A file's identity is
    * (gen, length, mtime), not just its number: if the listed identity
    * set is not a superset of the cached one — vacuumHistory pruned
    * files, or a dir was deleted and re-created at the same path with
    * DIFFERENT generation content — the entry is discarded and the
    * union recomputed from the surviving files. The cache key also
    * carries the dir's identity NONCE (the `dirid-<uuid>` birth file
    * [[commitLiveAfter]] creates with the manifest dir): a deleted and
    * re-created dir whose new generation files COINCIDE in (gen, len,
    * mtime) — millisecond granularity makes that plausible in fast test
    * loops — gets a fresh nonce and therefore a cache miss instead of a
    * stale union (ADVICE r10). Legacy dirs without a nonce use a
    * sentinel; any re-creation goes through commitLiveAfter and gains
    * one. Byte-identical semantics to the uncached form in every case. */
  private val refUnionCache = scala.collection.concurrent.TrieMap
    .empty[String, (Set[(Int, Long, Long)], Set[Int])]

  private def referencedUnion(fs: FileSystem, root: String): Set[Int] = {
    val d = mdir(root)
    val entries =
      if (!fs.exists(d)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(d)
    val nonce = entries.map(_.getPath.getName)
      .filter(_.startsWith("dirid-")).sorted.headOption.getOrElse("legacy")
    val cacheKey = s"$root#$nonce"
    val listed = entries.toSeq
      .filter(_.getPath.getName.matches("m-\\d{8,}"))
      .map(st => ((st.getPath.getName.drop(2).toInt, st.getLen,
        st.getModificationTime), st.getPath))
    val listedKeys = listed.map(_._1).toSet
    val (cachedKeys, cachedUnion) = refUnionCache.getOrElse(cacheKey,
      (Set.empty[(Int, Long, Long)], Set.empty[Int]))
    val (baseKeys, baseUnion) =
      if (cachedKeys.subsetOf(listedKeys)) (cachedKeys, cachedUnion)
      else (Set.empty[(Int, Long, Long)], Set.empty[Int]) // recompute
    val union = listed.foldLeft(baseUnion) { case (acc, (k, p)) =>
      if (baseKeys.contains(k)) acc else acc ++ parse(fs, p)
    }
    refUnionCache.put(cacheKey, (listedKeys, union))
    union
  }

  /** CLAIM a fresh NEGATIVE id from a shared per-index ledger — the
    * allocation primitive for the maintainer namespace (merged
    * segments, compacted bases, tombstone partitions). `usedIds` is the
    * caller's listing-based view of every id ever written; the claim is
    * an EXCLUSIVE file create under `root/idclaims/`, so two concurrent
    * maintainers (a compaction and a takedown, or two takedowns) can
    * NEVER be handed the same id — the race that previously let a
    * losing deleteDocs overwrite a winner's tombstone partition, or a
    * compaction and a delete stage different families under one id
    * (ADVICE r10, high). A claim is permanent (ids are an infinite
    * namespace; a crashed claimant just burns one), and [[vacuumHistory]]
    * leaves the marker files alone — they are bytes-sized. Exclusive
    * create is atomic on HDFS-like stores; the local FS's
    * `create(overwrite = false)` is check-then-create, so two threads of
    * one JVM could both win the same marker — `claimLock` makes the
    * list-and-create one step for every claimant in the JVM. The object-
    * store caveat is the same as the manifest CAS's (scaladoc above). */
  def claimNegId(s: SparkSession, root: String, usedIds: Set[Int]): Int =
    claimLock.synchronized {
      val fs = fsOf(s, root)
      val cdir = new Path(s"$root/idclaims")
      if (!fs.exists(cdir)) fs.mkdirs(cdir)
      val claimed = fs.listStatus(cdir).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toInt).toOption).toSet
      var cand = math.min(0, (usedIds ++ claimed + 0).min) - 1
      var won = false
      while (!won) {
        try {
          fs.create(new Path(cdir, cand.toString), false).close()
          won = true
        } catch {
          // ONLY an actually-claimed marker means the race was lost; any
          // other I/O failure (deleted claims dir, read-only FS, quota,
          // safe mode) must propagate — retrying it would spin forever
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            cand -= 1
          case e: java.io.IOException =>
            if (fs.exists(new Path(cdir, cand.toString))) cand -= 1
            else throw e
        }
      }
      cand
    }
  private val claimLock = new Object

  /** The shared sink-ENTRY protocol (every sink's `appendBatch`, through
    * [[ManagedSink.enterAppend]]): commit an empty manifest on a
    * virgin dir (manifest-mode from birth — even a batch-0 crash leaves
    * its orphan marked uncommitted), then wipe `stagedPartitions` if
    * `batchId` was never referenced by ANY manifest generation (the
    * engine re-runs foreachBatch with the SAME id after a crash, and
    * append-mode writes into the half-written partitions would double
    * rows). Referenced-but-not-live ids — batches compacted away into a
    * merged segment — are NOT wiped: their partitions are committed
    * history that older pinned generations still serve ([[readAt]]);
    * deleting them on a reset-checkpoint re-delivery would silently
    * corrupt time travel. The sinks' reset guards use the returned
    * `referenced` set for the same reason (a live-only check would let
    * a recycled historical id through). Returns (basedOn generation,
    * live set or None = legacy dir, every id referenced by any
    * generation) — ONE read sequence serves the guard and the later
    * [[commitAfter]]. `seen` is the caller's [[readLiveWithGen]] of
    * `root`, so an append that inspects the manifest before entering
    * lists it once. */
  def enterBatch(s: SparkSession, root: String, batchId: Int,
                 primaryDataDir: String, stagedPartitions: Seq[String],
                 seen: Option[(Int, Live)])
      : (Int, Option[Live], Set[Int]) = {
    val fs = fsOf(s, root)
    // read again only after a birth commit, to pick up its generation
    val st =
      if (seen.isEmpty && !fs.exists(new Path(primaryDataDir))) {
        commitAfter(s, root, Set.empty, basedOn = -1)
        readLiveWithGen(s, root)
      } else seen
    val referenced =
      if (st.isEmpty) Set.empty[Int]
      else referencedUnion(fs, root)
    if (st.nonEmpty && !referenced.contains(batchId))
      stagedPartitions.foreach(p => fs.delete(new Path(p), true))
    (st.map(_._1).getOrElse(-1), st.map(_._2), referenced)
  }
}
