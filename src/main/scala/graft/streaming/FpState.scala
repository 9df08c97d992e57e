package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared MAINTAINED-FINGERPRINT plumbing — [[StreamCurate
  * .fingerprintState]]'s pattern (st15) generalized to the other
  * maintained sinks (VERDICT r11 #4): every commit rides a one-row
  * signed (n, fp) partial keyed by the committed partition's id, and
  * "is this snapshot X" is answered from O(state) metadata — one row
  * per live id — never a scan of the index itself.
  *
  *   - append → `+` partial over the JUST-WRITTEN partition's served
  *     rows (hash what will serve, never a re-evaluation of the input
  *     plan — the st15 lesson);
  *   - delete → `−` partial over the rows the tombstone masks (XOR is
  *     its own inverse; the signed count keeps n honest);
  *   - compact → a fresh EXACT base from the merged survivors (also the
  *     migration path for pre-upgrade dirs: one fold mints coverage);
  *   - serve → sum/xor over the live ids' partials; None when some live
  *     partition predates the fingerprint state (coverage unprovable —
  *     refuse rather than serve a wrong checksum).
  *
  * What the fingerprint BINDS is per sink (each names its payload
  * columns): the curated corpus binds full payload rows; the BM25 index
  * binds the served doc set as (key, dl) — which docs, at which token
  * counts; the IVF index binds the served vector-id set. Binding float
  * payload bytes is deliberately left to the storage layer (parquet
  * page checksums) — a DuckDB oracle cannot re-render Spark's float
  * formatting, and the id/length identity is what corpus audits
  * compare. */
private[streaming] object FpState {

  def fpDir(root: String) = s"$root/fpstate"

  /** The partial's partition for commit id `id` — staged with its
    * data partition, and deleted with it on a lost CAS
    * ([[ManagedSink.commitStaged]]; the id was claimed, so this deletes
    * nothing a winner committed). */
  def path(root: String, id: Int): String = s"${fpDir(root)}/batch_id=$id"

  private def fsOf(s: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** One signed (n, fp) partial over `df`'s `keyCols` (sorted column
    * order — the [[graft.ext.TextOps.corpusFingerprint]] contract). */
  def partial(df: DataFrame, keyCols: Seq[String], sign: Int): DataFrame =
    df.agg((count(lit(1)) * sign).as("n"),
      bit_xor(graft.ext.TextOps.fingerprintHash(keyCols.sorted)).as("fp"))

  /** Stage the partial for commit id `id` (one tiny file; rides the
    * same manifest flip as the data partition it describes). Written
    * DIRECTLY to the partition path, never via a dynamic-partition
    * append into the table root: concurrent committers (append vs
    * takedown vs compaction — the storm shape) would race on the
    * root's shared `_temporary` staging dir and fail each other's
    * task commits; per-partition overwrite keeps every committer's
    * staging private and makes a restage of a claimed id idempotent. */
  def write(root: String, id: Int, p: DataFrame): Unit =
    p.select(col("n"), col("fp"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path(root, id))

  def hasPartial(s: SparkSession, root: String, id: Int): Boolean =
    Manifest.hasDataFiles(fsOf(s, root),
      new org.apache.hadoop.fs.Path(path(root, id)))

  /** Serve (n_rows, fingerprint) from the live ids' partials. `ids` =
    * every live id that carries state (data + tombstones); `uncovered`
    * = "this id has data on disk but no partial" (pre-upgrade) → None.
    * The all-deleted degenerate case normalizes to (0, NULL), the
    * zero-row scan agg's value. */
  def serve(s: SparkSession, root: String, ids: Set[Int],
            uncovered: Int => Boolean): Option[DataFrame] = {
    val covered = ids.toSeq.sorted.filter(hasPartial(s, root, _))
    if (ids.exists(id => !hasPartial(s, root, id) && uncovered(id)) ||
        covered.isEmpty) None
    else Some(s.read.option("basePath", fpDir(root))
      .parquet(covered.map(path(root, _)): _*)
      .agg(sum(col("n")).as("n_rows"),
        bit_xor(coalesce(col("fp"), lit(0L))).as("fingerprint"))
      .select(col("n_rows"),
        when(col("n_rows") === 0L, lit(null).cast("long"))
          .otherwise(col("fingerprint")).as("fingerprint")))
  }
}
