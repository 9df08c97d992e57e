package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.zip.CRC32
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once-if-absent PARQUET persistence of the shared serve artifacts
  * (IVF indexes, TF-IDF models, BM25 segments + pruned lists, backtest
  * folds, duplicate-cluster tables).
  *
  * Why: the bench/verify harness rebuilt every one of these inside every
  * JVM — 755.7 of 1468 task-seconds (51%) of the r7 bench went to the
  * "prematerialize" phase, even though index parquet round-trip parity was
  * already proven (IvfSpec). This is also the 100 TB-true lifecycle: a real
  * deployment writes an index ONCE next to the data and every serving job
  * loads it; only this harness ever rebuilt per process.
  *
  * Contract:
  *   - Artifacts are keyed by a FINGERPRINT of the source fixture directory
  *     (relative path + size + tail-4KiB CRC of every data file — the tail
  *     covers the parquet footer, which carries column stats and so is
  *     content-sensitive) plus the caller's `spec` string (build params;
  *     callers bump it when build semantics change). Regenerated-identical
  *     fixtures reuse artifacts; any content or parameter change rebuilds.
  *   - On a MISS the caller's build runs, every output DataFrame is written
  *     under a temp dir, the group is atomically renamed into place (last
  *     write wins under a cross-JVM race; the rename is the commit point),
  *     and the READ-BACK frames are returned — so loaders and builders
  *     serve the exact same parquet lineage, and a later JVM's results are
  *     trivially identical to the building JVM's.
  *   - `SPARK_GRAFT_ARTIFACT_REBUILD=1` forces a fresh build + overwrite
  *     (the determinism gate runs its second Verify this way, so BUILD
  *     determinism — not just load determinism — stays under test; this is
  *     what caught the x50/x52 rank-tie instability in r7).
  *   - `SPARK_GRAFT_ARTIFACT_DIR=off` disables the store entirely (build
  *     in memory, no disk); any other value overrides the location, which
  *     defaults to `<cwd>/target/graft-artifacts`.
  */
object ArtifactStore {

  private val rebuild: Boolean =
    sys.env.get("SPARK_GRAFT_ARTIFACT_REBUILD").exists(v => v == "1" || v == "true")

  private val root: Option[Path] = sys.env.get("SPARK_GRAFT_ARTIFACT_DIR") match {
    case Some("off") | Some("") => None
    case Some(p)                => Some(Paths.get(p))
    case None =>
      Some(Paths.get(sys.props.getOrElse("user.dir", "."), "target",
        "graft-artifacts"))
  }

  /** Marker filename: present (with matching spec content) ⇔ the group is
    * complete and valid. Written LAST inside the temp dir, so a crashed or
    * half-moved build can never be mistaken for a finished one. */
  private val OkMarker = "_GRAFT_OK"

  // ---- fixture fingerprint ------------------------------------------------

  /** Content fingerprint of a fixture directory: sorted (relpath, size,
    * tail-4KiB CRC32) of every regular non-hidden file, md5'd. Cheap
    * (~30 files × 4 KiB at the test SFs, computed once per artifact
    * lookup — deliberately NOT memoized, so a fixture regenerated under
    * a running JVM is picked up rather than silently served stale). */
  private[graft] def fingerprint(srcDir: String): String = {
      val base = Paths.get(srcDir)
      val md = java.security.MessageDigest.getInstance("MD5")
      if (Files.isDirectory(base)) {
        val files = {
          val s = Files.walk(base)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(p => Files.isRegularFile(p))
              .filterNot { p =>
                val n = p.getFileName.toString
                n.startsWith(".") || n.startsWith("_")
              }
              .map(p => (base.relativize(p).toString, p))
              .toVector.sortBy(_._1)
          } finally s.close()
        }
        files.foreach { case (rel, p) =>
          val size = Files.size(p)
          val crc = new CRC32
          val ch = Files.newByteChannel(p)
          try {
            val tail = math.min(4096L, size)
            ch.position(size - tail)
            val buf = java.nio.ByteBuffer.allocate(tail.toInt)
            while (buf.hasRemaining && ch.read(buf) >= 0) {}
            crc.update(buf.array(), 0, buf.position())
          } finally ch.close()
          md.update(s"$rel|$size|${crc.getValue}\n".getBytes("UTF-8"))
        }
      } else md.update(s"missing:$srcDir".getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Root directory for one fixture's artifacts (None ⇒ store disabled). */
  private def groupDir(srcDir: String, name: String): Option[Path] =
    root.map { r =>
      val sfName = Paths.get(srcDir).getFileName.toString
      r.resolve(s"$sfName-${fingerprint(srcDir)}").resolve(name)
    }

  private def isValid(dir: Path, spec: String, outs: Seq[String]): Boolean = {
    val marker = dir.resolve(OkMarker)
    Files.isRegularFile(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == specLine(spec, outs) &&
      outs.forall(o => Files.isDirectory(dir.resolve(o)))
  }

  private def specLine(spec: String, outs: Seq[String]): String =
    spec + "|" + outs.mkString(",")

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        s.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      } finally s.close()
    }

  // ---- public API ---------------------------------------------------------

  /** Load-or-build a GROUP of artifacts that one build produces together
    * (e.g. an IVF index's centroids + postings).
    *
    * Hit: returns `spark.read.parquet` of each `outs` entry. Miss (or
    * forced rebuild): runs `build` — which must return one DataFrame per
    * `outs` name, in order — writes each under a temp dir, commits the
    * group with an atomic rename, calls `afterWrite(built)` (default:
    * unpersist every built frame — builders persist intermediates
    * internally and those blocks are dead once the parquet copy exists),
    * and returns the read-backs. With the store disabled, returns the
    * built frames unchanged and never calls `afterWrite`.
    *
    * `partitioned` maps an out name to partition columns for its write
    * (e.g. the containment postings' `ngb` bucket column) so readers
    * get real partition pruning; unlisted outs write flat as before. */
  def group(s: SparkSession, srcDir: String, name: String, spec: String,
            outs: Seq[String],
            afterWrite: Seq[DataFrame] => Unit = _.foreach(df => df.unpersist()),
            partitioned: Map[String, Seq[String]] = Map.empty)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    groupDir(srcDir, name) match {
      case None => build
      case Some(dir) =>
        if (!rebuild && isValid(dir, spec, outs))
          outs.map(o => s.read.parquet(dir.resolve(o).toString))
        else {
          val built = build
          require(built.length == outs.length,
            s"artifact group $name: build returned ${built.length} frames " +
              s"for ${outs.length} outs")
          val tmp = dir.getParent.resolve(
            s".tmp-$name-${ProcessHandle.current.pid}")
          deleteRecursively(tmp)
          Files.createDirectories(tmp)
          outs.zip(built).foreach { case (o, df) =>
            val w = df.write.mode("overwrite")
            val cols = partitioned.getOrElse(o, Nil)
            (if (cols.isEmpty) w else w.partitionBy(cols: _*))
              .parquet(tmp.resolve(o).toString)
          }
          Files.write(tmp.resolve(OkMarker),
            specLine(spec, outs).getBytes("UTF-8"))
          // commit: replace any stale group, atomic-rename the fresh one
          // in. If a CONCURRENT builder committed a valid group while we
          // were building, keep theirs — deleting a committed dir another
          // JVM may already be reading would fail its in-flight scans.
          if (!rebuild && isValid(dir, spec, outs)) deleteRecursively(tmp)
          else {
            deleteRecursively(dir)
            try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.FileSystemException if isValid(dir, spec, outs) =>
                deleteRecursively(tmp) // lost the rename race; theirs is valid
            }
          }
          afterWrite(built)
          outs.map(o => s.read.parquet(dir.resolve(o).toString))
        }
    }
  }

  /** Single-DataFrame convenience over [[group]]. */
  def dataFrame(s: SparkSession, srcDir: String, name: String, spec: String,
                afterWrite: DataFrame => Unit = _.unpersist())(
      build: => DataFrame): DataFrame =
    group(s, srcDir, name, spec, Seq("data"), bs => afterWrite(bs.head))(
      Seq(build)).head

  /** Driver-side Array[Long] artifact (the x29 bloom bit array): stored as
    * a tiny (idx, word) parquet so it rides the same fingerprint/marker
    * lifecycle as the DataFrame artifacts. */
  def longArray(s: SparkSession, srcDir: String, name: String, spec: String)(
      build: => Array[Long]): Array[Long] = {
    import s.implicits._
    val df = dataFrame(s, srcDir, name, spec, _ => ()) {
      build.zipWithIndex.map { case (w, i) => (i, w) }
        .toSeq.toDF("idx", "word")
    }
    df.orderBy("idx").collect().map(_.getLong(1))
  }

  /** A directory-shaped artifact the caller writes ITSELF (the st6
    * streamed-segment dir): returns (path, alreadyValid). The caller
    * ingests into `path` when `alreadyValid` is false and must call
    * [[commitDir]] afterwards. None ⇒ store disabled (caller uses a temp
    * dir). Forced rebuild clears the old content first. Query modules go
    * through [[Artifact.storedDir]], which wraps this, the commit and the
    * tracked temp dir in one call. */
  def dirArtifact(srcDir: String, name: String, spec: String): Option[(Path, Boolean)] =
    groupDir(srcDir, name).map { dir =>
      if (!rebuild && isValid(dir, spec, Nil)) (dir, true)
      else {
        deleteRecursively(dir)
        Files.createDirectories(dir)
        (dir, false)
      }
    }

  /** Seal a [[dirArtifact]] the caller has finished writing. */
  def commitDir(dir: Path, spec: String): Unit =
    Files.write(dir.resolve(OkMarker), specLine(spec, Nil).getBytes("UTF-8"))

  /** BRANCH a lifecycle fixture (r16, guide §1.2 — don't recompute what
    * you can copy): recursively copy a finished sink dir's content into
    * `dst`, so a builder whose lifecycle shares a committed PREFIX with
    * another (the st9→st15/x58 curation family, st6→st7, st8→v32/st18,
    * st10→st12, st11→st13, the x57/x60 two-batch base) starts from the
    * prefix's bytes instead of re-running the whole ingest — the copy is
    * MBs where the ingest is a corpus-sized tokenize/join/shuffle pass,
    * and the branched dir is bit-identical to the prefix by construction
    * (BranchIngestSpec pins branch ≡ scratch through the divergent verbs;
    * the DuckDB oracle re-proves every consumer query). The store's own
    * [[OkMarker]] is NOT copied — the branch commits under its own spec. */
  def branchFrom(srcDir: String, dst: Path): Unit = {
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src), s"branch source is not a dir: $srcDir")
    val s = Files.walk(src)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        val rel = src.relativize(p)
        val out = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(out)
        else if (p.getFileName.toString != OkMarker) {
          Files.createDirectories(out.getParent)
          Files.copy(p, out,
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.COPY_ATTRIBUTES)
        }
      }
    } finally s.close()
  }
}
