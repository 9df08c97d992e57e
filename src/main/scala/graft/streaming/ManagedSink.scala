package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The SINK CONTRACT over [[Manifest]]: a manifest-committed sink
  * declares its on-disk layout once — the partition families a vacuum
  * reclaims and the families its id ledger lists — and inherits the
  * maintenance verbs every sink shares from here: history reclamation
  * ([[vacuum]]) with its dry runs ([[vacuumPlan]], [[vacuumPlanBytes]]),
  * and negative-id allocation ([[nextCompactId]]). [[Takedown]]'s
  * maintenance verbs drive every configured sink through this one
  * surface. The six sinks: [[StreamCurate]], [[StreamBm25]],
  * [[StreamIvf]], [[StreamClusters]], [[StreamContainment]],
  * [[StreamNgramDf]]. */
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
