package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Manifest

/** The ever-referenced union cache behind [[Manifest.enterBatch]]
  * (ADVICE r9: per-commit I/O grew linearly with generation count):
  * the union must fold in ONLY unseen generations on a warm call, yet
  * stay byte-identical to the uncached form — including after
  * vacuumHistory-style pruning deletes generation files, which must
  * invalidate the cache and recompute from the survivors. */
class ManifestCacheSpec extends AnyFunSuite with SharedSpark {
  override protected def suiteConf =
    Seq("spark.sql.shuffle.partitions" -> "2")

  private def refOf(dir: String): Set[Int] =
    Manifest.enterBatch(spark, dir, batchId = 999999,
      primaryDataDir = s"$dir/members", stagedPartitions = Nil,
      seen = Manifest.readLiveWithGen(spark, dir))._3

  test("warm enterBatch folds only new generations; pruning recomputes") {
    val dir = java.nio.file.Files.createTempDirectory("mcache").toString
    // gen 0: {1}; gen 1: {1,2}; gen 2: {2,3} (1 compacted away)
    Manifest.commit(spark, dir, Set(1))
    Manifest.commit(spark, dir, Set(1, 2))
    assert(refOf(dir) == Set(1, 2))         // cold + warm fold
    Manifest.commit(spark, dir, Set(2, 3))  // new gen after cache warm
    assert(refOf(dir) == Set(1, 2, 3))      // incremental fold picked it up
    // simulate vacuumHistory: delete every generation but the latest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val gens = fs.listStatus(m).map(_.getPath)
      .filter(_.getName.matches("m-\\d{8,}"))
      .sortBy(_.getName.drop(2).toInt)
    gens.dropRight(1).foreach(fs.delete(_, false))
    // the cached union {1,2,3} would be WRONG now — the uncached
    // semantics (union over surviving files) is {2,3}; the pruned
    // generation set must invalidate the cache
    assert(refOf(dir) == Set(2, 3))
  }

  test("a dir re-created at the same path with different content is not served stale") {
    val dir = java.nio.file.Files.createTempDirectory("mcache2").toString
    Manifest.commit(spark, dir, Set(7))
    assert(refOf(dir) == Set(7)) // cache warm for this path
    // wipe and re-create the SAME path with a different generation 0 —
    // same gen number, different content (file identity must catch it)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifest"), true)
    Manifest.commit(spark, dir, Set(8, 9))
    assert(refOf(dir) == Set(8, 9),
      "re-created generation files must invalidate the cached union")
  }
}
