package graft.streaming

import java.util.ConcurrentModificationException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** The SINK CONTRACT over [[Manifest]]: a manifest-committed sink
  * declares its on-disk layout once — the partition families a vacuum
  * reclaims, the families its id ledger lists and, for a tombstone
  * sink, the data families of its pre-family probe — and inherits
  * everything around its verbs' bodies from here. [[Takedown]]'s
  * maintenance verbs drive every configured sink through this one
  * surface. The six sinks: [[StreamCurate]], [[StreamBm25]],
  * [[StreamIvf]], [[StreamClusters]], [[StreamContainment]],
  * [[StreamNgramDf]].
  *
  * The contract owns the COMMIT PROTOCOL; a sink keeps only what it
  * writes and what it reads:
  *
  *   - append entry ([[enterAppend]]): refuse a negative engine batch
  *     id, read the manifest once, run the sink's legacy upgrade on
  *     that state, then [[Manifest.enterBatch]] (birth commit, same-id
  *     crash wipe);
  *   - reset refusal ([[refuseReset]]): an ever-committed batch id
  *     carrying fresh rows fails loudly;
  *   - merged-id check ([[requireFreshMergedId]]) before a fold stages;
  *   - commits: one CAS flip against the generation read at entry —
  *     an append's ([[commitAppend]]; a lost CAS is left to the
  *     engine's same-id retry) or a maintainer's ([[commitStaged]]; a
  *     lost CAS deletes what was staged);
  *   - live-set reads: the family split ([[families]]) and the
  *     id-partition reader ([[readIds]]);
  *   - maintenance: history reclamation ([[vacuum]]) with its dry runs
  *     ([[vacuumPlan]], [[vacuumPlanBytes]]) and negative-id allocation
  *     ([[nextCompactId]]). */
trait ManagedSink {

  /** Partition families (`dir -> prefix`) whose `<prefix><id>` dirs a
    * [[vacuum]] reclaims once no kept generation references the id. */
  protected def vacuumFamilies(dir: String): Seq[(String, String)]

  /** Partition families (`dir -> prefix`) that make up the sink's id
    * LEDGER: every id ever written, the seed [[Manifest.claimNegId]]
    * allocates below. Not the vacuum families — a ledger lists the
    * families ids are minted in (BM25's `segstats` is one, and a vacuum
    * never touches it), while derived families such as fingerprint
    * partials carry ids minted elsewhere. */
  protected def ledgerFamilies(dir: String): Seq[(String, String)]

  protected def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Ids of the `<prefix><id>` partition dirs under `d` (empty if `d`
    * does not exist) — from directory NAMES, never a data read: a
    * concurrent append retrying its lost CAS rewrites its own staged
    * partition, and a raw parquet read racing that rewrite dies with
    * FAILED_READ_FILE. Listing names races nothing. */
  protected def partitionIds(s: SparkSession, d: String,
                             prefix: String = "batch_id="): Set[Int] = {
    val fs = fsOf(s, d)
    val p = new Path(d)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toInt).toSet
  }

  /** Every id EVER written, across the [[ledgerFamilies]]. */
  protected def everUsedIds(s: SparkSession, dir: String): Set[Int] =
    ledgerFamilies(dir).flatMap { case (d, prefix) =>
      partitionIds(s, d, prefix)
    }.toSet

  /** Legacy-layout upgrade an append runs before entering the protocol
    * (BM25's flat-stats migration, the corpus sink's pre-manifest
    * adoption); none by default. `seen` is the manifest state the
    * append read at entry; an upgrade that commits a generation returns
    * the state after its commit, any other returns `seen`. */
  protected def beforeAppend(s: SparkSession, dir: String,
                             seen: Option[(Int, Manifest.Live)])
      : Option[(Int, Manifest.Live)] = seen

  /** The APPEND ENTRY. Engine batch ids are non-negative: negative ids
    * are the maintainer namespace (merged bases, tombstones, delete
    * records), and [[Manifest.enterBatch]]'s same-id wipe would delete
    * a maintainer's staged partition under the same id. Then one
    * manifest read, [[beforeAppend]] on it and [[Manifest.enterBatch]]
    * — (basedOn generation, live set or None = legacy, every id any
    * generation referenced): one read sequence serves [[refuseReset]]
    * and the commit. `engineBatch = false` admits a sink's own reserved ids
    * (IVF's retrain output), never a caller's. */
  protected def enterAppend(s: SparkSession, dir: String, batchId: Long,
                            primaryDataDir: String, staged: Seq[String],
                            engineBatch: Boolean = true)
      : (Int, Option[Manifest.Live], Set[Int]) = {
    require(!engineBatch || batchId >= 0, "engine batch ids are " +
      s"non-negative (got $batchId); negative ids are the compaction " +
      "namespace")
    val seen = beforeAppend(s, dir, Manifest.readLiveWithGen(s, dir))
    Manifest.enterBatch(s, dir, batchId.toInt, primaryDataDir, staged, seen)
  }

  /** The RESET GUARD, once an append knows it carries fresh rows
    * (`fresh` names them in the message): COMMITTED partitions are
    * immutable — including ones a fold took out of the live set, which
    * older pinned generations still serve — so a batch id EVER
    * referenced by a generation, arriving with rows the sink has never
    * seen, means a RESET stream checkpoint against an existing dir, and
    * writing would put rows into a committed partition. A true
    * at-least-once re-delivery carries nothing fresh and returned
    * before this. */
  protected def refuseReset(dir: String, batchId: Long,
                            referenced: Set[Int], fresh: String): Unit =
    if (referenced.contains(batchId.toInt))
      throw new IllegalStateException(
        s"batch $batchId was already committed in $dir (live or in " +
          s"time-travel history) but this delivery carries $fresh — a " +
          "restarted stream against existing state needs batch ids " +
          "above every id ever used (or a new dir)")

  /** A merged id must be FRESH: negative — engine batch ids own the
    * non-negative namespace, so a future micro-batch can never append
    * into a live merged partition — and never written before, by the
    * ledger listing rather than the live view: a crashed fold's orphan
    * id must not be re-used with rows already in its dirs (and a data
    * read here would race a concurrent append's staged rewrite).
    * [[nextCompactId]] allocates one. */
  protected def requireFreshMergedId(s: SparkSession, dir: String,
                                     into: Int): Unit = {
    require(into < 0, s"merged ids are negative (got into=$into); " +
      "non-negative ids belong to the streaming engine's batch counter")
    val everUsed = everUsedIds(s, dir)
    require(!everUsed.contains(into),
      s"into=$into was already used (ever-written ids: $everUsed)")
  }

  /** The STAGED COMMIT: `live` becomes generation `basedOn + 1` in one
    * atomic flip — a CAS on the generation the verb read at entry
    * ([[Manifest.commitLiveAfter]]). If a concurrent writer committed
    * first, the `staged` partition paths (fingerprint partials
    * included) are deleted — their ids were claimed, so nothing a
    * winner committed goes — and the `ConcurrentModificationException`
    * propagates: the retry re-stages under a fresh id against fresh
    * state, and no orphan burns an id in the ledger. */
  protected def commitStaged(s: SparkSession, dir: String,
                             live: Manifest.Live, basedOn: Int,
                             staged: Seq[String]): Unit =
    try Manifest.commitLiveAfter(s, dir, live, basedOn)
    catch {
      case e: ConcurrentModificationException =>
        val fs = fsOf(s, dir)
        staged.foreach(p => fs.delete(new Path(p), true))
        throw e
    }

  /** The APPEND COMMIT: batch `batchId` joins the live set read at
    * [[enterAppend]] (`manifest`; a legacy dir adopts `legacy`, its
    * listing baseline without this batch) in one CAS flip after
    * generation `gen`. A lost CAS propagates and deletes nothing: the
    * engine's same-id retry wipes the staged partitions at entry. */
  protected def commitAppend(s: SparkSession, dir: String, batchId: Long,
                             gen: Int, manifest: Option[Manifest.Live])(
                             legacy: => Manifest.Live): Unit = {
    val live = manifest.getOrElse(legacy)
    Manifest.commitLiveAfter(s, dir,
      live.copy(data = live.data + batchId.toInt), basedOn = gen)
  }

  /** The tombstone family of the four tombstone sinks (`ts_id=`). */
  protected def tombDir(dir: String): String = s"$dir/tombstones"

  /** The data families (`dir -> prefix`) a pre-family tombstone id has
    * no partition in — [[families]]'s probe; tombstone sinks declare
    * theirs. */
  protected def dataFamilies(dir: String): Seq[(String, String)] = Nil

  /** Whether a data-family partition is present for the probe: its dir
    * exists (BM25 asks for data files instead). */
  protected def dataPresent(fs: FileSystem, p: Path): Boolean =
    fs.exists(p)

  /** Split a committed live set into (data ids, tombstone ids). The
    * family is DECLARED in the manifest ([[Manifest.Live]] — the r10
    * fix: directory-presence classification let a crashed delete's
    * orphaned `ts_id=` dir mask a live merged segment out of every
    * read, and a losing fold's stranded data orphan serve under a live
    * tombstone id). Ids committed by pre-family manifests (all in
    * `data`) fall back to a conservative probe: tombstones were always
    * negative and never had a data partition, so only a negative id
    * with tombstone data AND no partition in any [[dataFamilies]]
    * classifies as one — ambiguity resolves to DATA, the direction that
    * cannot vanish the index. */
  protected def families(s: SparkSession, dir: String,
                         live: Manifest.Live): (Set[Int], Set[Int]) = {
    val fs = fsOf(s, dir)
    val legacyTombs = live.data.filter { id =>
      id < 0 &&
        Manifest.hasDataFiles(fs, new Path(s"${tombDir(dir)}/ts_id=$id")) &&
        !dataFamilies(dir).exists { case (d, prefix) =>
          dataPresent(fs, new Path(s"$d/$prefix$id"))
        }
    }
    (live.data -- legacyTombs, live.tombs ++ legacyTombs)
  }

  /** [[families]] of the live set at a generation (None = latest);
    * None = legacy (no generation committed). */
  protected def familiesAt(s: SparkSession, dir: String,
                           asOfGen: Option[Int])
      : Option[(Set[Int], Set[Int])] =
    Manifest.readLiveAt(s, dir, asOfGen).map(families(s, dir, _))

  /** `column` of the `<prefix><id>` partitions under `d` for `ids` —
    * tombstones, blocklists, delete records — one read by explicit
    * path; None when no partition is left to read. `withData` first
    * drops partitions without data files (a crashed write's empty
    * dir). */
  protected def readIds(s: SparkSession, d: String, prefix: String,
                        ids: Set[Int], column: String,
                        withData: Boolean = false): Option[DataFrame] = {
    val all = ids.toSeq.sorted.map(id => s"$d/$prefix$id")
    val paths =
      if (!withData) all
      else {
        val fs = fsOf(s, d)
        all.filter(p => Manifest.hasDataFiles(fs, new Path(p)))
      }
    if (paths.isEmpty) None
    else Some(s.read.option("basePath", d).parquet(paths: _*).select(column))
  }

  /** ALLOCATE the next maintainer id (merged base, tombstone or delete
    * record; negative namespace): one below every id ever written or
    * claimed, CLAIMED atomically ([[Manifest.claimNegId]]), so two
    * concurrent maintainers — a compaction and a takedown — can never
    * stage different families under one id. */
  def nextCompactId(s: SparkSession, dir: String): Int =
    Manifest.claimNegId(s, dir, everUsedIds(s, dir))

  /** EXPIRE history ([[Manifest.vacuumHistory]] on this layout): delete
    * the partitions no kept generation serves anymore and collapse the
    * manifest to the kept generations — after a takedown and a fold,
    * the step that removes the last readable copy of the forgotten
    * content. Partitions no generation ever referenced are left alone
    * unless `includeOrphans` (they may be an in-flight append's staged
    * batch; only safe with the ingest quiesced). `retainMillis` keeps
    * every generation younger than the window readable. Correctness
    * never depends on running it; a deployment picks its time-travel
    * retention by how often it runs. No-op before the first commit. */
  def vacuum(s: SparkSession, dir: String,
             includeOrphans: Boolean = false,
             retainMillis: Option[Long] = None): Unit =
    Manifest.vacuumHistory(s, dir, vacuumFamilies(dir),
      includeOrphans = includeOrphans, retainMillis = retainMillis)

  /** DRY RUN of [[vacuum]] ([[Manifest.vacuumPlan]] on this layout) —
    * (generations, would-expire, reclaimable partitions, orphans). */
  def vacuumPlan(s: SparkSession, dir: String,
                 retainMillis: Option[Long] = None)
      : Option[(Long, Long, Long, Long)] =
    Manifest.vacuumPlan(s, dir, vacuumFamilies(dir), retainMillis)

  /** [[vacuumPlan]] with the bytes a vacuum would give back
    * ([[Manifest.vacuumPlanBytes]] on this layout — ledgered sizes,
    * one listing per partition per lifetime). */
  def vacuumPlanBytes(s: SparkSession, dir: String,
                      retainMillis: Option[Long] = None)
      : Option[(Long, Long, Long, Long, Long, Long)] =
    Manifest.vacuumPlanBytes(s, dir, vacuumFamilies(dir), retainMillis)
}

object ManagedSink {

  /** Run one maintenance pass; a pass that loses a manifest CAS to a
    * concurrent commit is dropped — the loop's next tick retries
    * against fresh state. */
  private[streaming] def skipOnLostCas(pass: => Unit): Unit =
    try pass
    catch { case _: ConcurrentModificationException => () }
}

/** The layout [[StreamNgramDf]] and [[StreamContainment]] share: each
  * batch appends an (ng, ndocs) delta to `dfparts` (the served df is
  * the keyed sum over live deltas) and its doc ids to `seenids` (the
  * replay guard), and a takedown records the deleted ids in `delids`
  * under the manifest's `aux` family, which survives every fold. */
trait SeenIdsSink extends ManagedSink {

  protected def dfDir(dir: String): String = s"$dir/dfparts"
  protected def idsDir(dir: String): String = s"$dir/seenids"
  protected def delDir(dir: String): String = s"$dir/delids"

  /** Every family is minted here, so the id ledger is the vacuum
    * families. */
  protected def ledgerFamilies(dir: String): Seq[(String, String)] =
    vacuumFamilies(dir)

  /** Snapshot-isolated live `batch_id=` partition paths under `sub`
    * (the manifest discipline: never a directory listing) and the
    * generation's `aux` set — DATA-family ids only read as deltas; aux
    * drives the delete mask. None before the first batch. */
  protected def livePaths(s: SparkSession, dir: String, sub: String,
                          asOfGen: Option[Int])
      : Option[(Seq[String], Set[Int])] =
    Manifest.readLiveAt(s, dir, asOfGen) match {
      case Some(live) if live.all.nonEmpty =>
        val fs = fsOf(s, dir)
        val present = live.data.toSeq.sorted
          .map(id => s"$sub/batch_id=$id")
          .filter(p => Manifest.hasDataFiles(fs, new Path(p)))
        if (present.isEmpty) None else Some((present, live.aux))
      case _ => None
    }

  /** The union of deleted doc ids in the `aux` delete records; None
    * when nothing was ever deleted. */
  protected def deletedIds(s: SparkSession, dir: String,
                           aux: Set[Int]): Option[DataFrame] =
    readIds(s, delDir(dir), "del_id=", aux, "id", withData = true)

  /** The served (ng, ndocs) df at a generation — the keyed sum over
    * live deltas: negative takedown deltas net out, and grams netting
    * to zero DROP, so the table is bit-equal to one over a corpus that
    * never held the deleted docs. None before the first batch. */
  protected def dfSumAt(s: SparkSession, dir: String,
                        asOfGen: Option[Int]): Option[DataFrame] =
    livePaths(s, dir, dfDir(dir), asOfGen).map { case (paths, _) =>
      s.read.option("basePath", dfDir(dir)).parquet(paths: _*)
        .groupBy("ng").agg(sum("ndocs").as("ndocs"))
        .filter(col("ndocs") > 0)
    }

  /** The committed doc ids (the replay guard's view); None before the
    * first batch. */
  def loadSeenIds(s: SparkSession, dir: String): Option[DataFrame] =
    livePaths(s, dir, idsDir(dir), asOfGen = None).map { case (paths, _) =>
      s.read.option("basePath", idsDir(dir)).parquet(paths: _*)
        .select("id")
    }

  /** Ids whose contributions the index still COUNTS (seen minus
    * deleted) — the set a takedown cascade must be able to resolve
    * ([[Takedown.forget]]'s loud-failure guard); None before the first
    * batch. */
  def countedIds(s: SparkSession, dir: String): Option[DataFrame] =
    loadSeenIds(s, dir).map { seen =>
      Manifest.readLiveWithGen(s, dir).map(_._2)
        .flatMap(l => deletedIds(s, dir, l.aux)) match {
        case Some(del) => seen.join(del, Seq("id"), "left_anti")
        case None => seen
      }
    }
}
