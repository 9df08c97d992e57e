package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** A shared intermediate (fold, index, loaded sink, sink dir) memoized per
  * `(SparkSession, sfDir)`: `build` runs once per key, and every later call
  * returns the memoized value.
  *
  * Each artifact has its own lock, held for the whole build: a concurrent
  * caller of the same artifact waits for the first build (the shared
  * await — builders `persist` + `count` inside it), while builds of
  * different artifacts run in parallel. A build may call the artifacts it
  * names in `deps`, so locks nest only along that acyclic graph.
  *
  * `deps` are typed references, checked when the declaring object
  * initialises: a dependency declared below its dependent is still `null`
  * there and is refused. [[Artifact.tasks]] turns an ordered list of
  * artifacts into `Graft.warmAll` prewarm tasks.
  *
  * `release` frees what a memoized value holds: `Artifact.unpersistAll`,
  * which unpersists every Dataset reachable through tuples and case
  * classes and leaves driver-side values alone. [[Graft.clearCaches]]
  * releases every artifact, deletes the tracked temp dirs, then drops the
  * memos; the next call rebuilds. */
final class Artifact[T] private (val name: String, val deps: Seq[Artifact[_]],
                                 build: (SparkSession, String) => T,
                                 release: T => Unit) {
  private val memo = scala.collection.mutable.HashMap.empty[(SparkSession, String), T]

  def apply(s: SparkSession, d: String): T =
    memo.synchronized(memo.getOrElseUpdate((s, d), build(s, d)))

  private[graft] def releaseAll(): Unit = memo.synchronized(memo.values.foreach(release))

  private[graft] def drop(): Unit = memo.synchronized(memo.clear())
}

object Artifact {
  private val registry = scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  def apply[T](name: String, deps: Artifact[_]*)(build: (SparkSession, String) => T)
      : Artifact[T] = {
    require(!deps.contains(null), s"artifact $name declares a dependency " +
      "that is not initialised yet: declare it above its dependents")
    val a = new Artifact[T](name, deps.toList, build, unpersistAll)
    registry.synchronized(registry += a)
    a
  }

  /** Every artifact created so far (objects declare theirs on first use). */
  private[graft] def all: Seq[Artifact[_]] = registry.synchronized(registry.toList)

  /** Unpersist every Dataset reachable from `v` through products. */
  private def unpersistAll(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist()
    case p: Product => p.productIterator.foreach(unpersistAll)
    case _ => ()
  }

  /** A temp dir deleted by [[Graft.clearCaches]]. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += p)
    p
  }

  private[graft] def deleteTempDirs(): Unit = tempDirs.synchronized {
    tempDirs.foreach(ArtifactStore.deleteRecursively)
    tempDirs.clear()
  }

  /** A directory artifact the caller writes itself, e.g. a sink taken
    * through its ingest and maintenance verbs. With the store on, a valid
    * committed dir is reused; otherwise `write` fills the store dir, which
    * is then committed under `spec`. With the store off, `write` fills a
    * tracked temp dir. Returns the dir's path. */
  def storedDir(d: String, name: String, spec: String)(write: String => Unit): String =
    ArtifactStore.dirArtifact(d, name, spec) match {
      case Some((p, true)) => p.toString
      case Some((p, false)) =>
        write(p.toString)
        ArtifactStore.commitDir(p, spec)
        p.toString
      case None =>
        val p = tempDir(s"graft-$name-")
        write(p.toString)
        p.toString
    }

  /** `Graft.warmAll` tasks for `as`, in order: each builds its artifact
    * for `(s, d)` once its deps' tasks finish. */
  def tasks(as: Seq[Artifact[_]], s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] =
    as.map(a => (a.name, a.deps.map(_.name), () => { a(s, d); () }))
}
