package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Connected-components correctness: min-label propagation must produce
  * exactly the components a local union-find produces, for random graphs
  * (seeded) and for adversarial shapes (long chains, stars, cliques). */
class DupClusterSpec extends AnyFunSuite with SharedSpark {
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min id in component, which find() yields because
    // unions always root at the smaller id
    parent.keys.map(k => k -> find(k)).toMap
  }

  // checks BOTH execution paths: the default (small graphs take the
  // single-task union-find job) and the forced distributed min-label loop
  // (smallGraphMax = 0 — the big-graph path)
  private def check(edges: Seq[(Long, Long)], maxIter: Int = 20): Unit = {
    import spark.implicits._
    val expect = unionFind(edges)
    val fast = Dedup.duplicateClusters(edges.toDF("id1", "id2"), maxIter = maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expect)
    val loop = Dedup.duplicateClusters(edges.toDF("id1", "id2"),
        maxIter = maxIter, smallGraphMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == expect)
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (_ <- 1 to 5) {
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(edges)
    }
  }

  test("empty edge set returns an empty cluster table (early exit)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val got = Dedup.duplicateClusters(empty)
    assert(got.columns.toSeq == Seq("id", "cluster_id"))
    assert(got.count() == 0L)
  }

  test("long chain needs multi-hop propagation") {
    // 0-1-2-...-63: single component, diameter 63; min-label propagation
    // halves the frontier distance per round via the already-relabelled
    // neighbours, so it converges well inside maxIter=20... verify.
    val chain = (0L until 63L).map(i => (i, i + 1))
    check(chain)
  }

  test("star and clique collapse in few rounds") {
    val star = (1L to 50L).map(i => (0L, i))
    check(star)
    val clique = for (a <- 100L to 110L; b <- (a + 1) to 110L) yield (a, b)
    check(clique ++ star)
  }

  test("duplicate and reversed edges are harmless") {
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L), (4L, 3L)))
  }

  test("reliable checkpointing (checkpointDir) yields identical clusters") {
    // the cluster-credible loop: labels reliably checkpointed per round so
    // executor loss mid-iteration is survivable; results must be identical
    // to the localCheckpoint path on an adversarial multi-hop shape
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val rnd = new Random(7)
    val chain = (0L until 63L).map(i => (i, i + 1))
    val extra = Seq.fill(60)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val edges = chain ++ extra
    // force the distributed loop — the per-round reliable-checkpoint
    // lifecycle under test here is the loop's; the single-task path has
    // its own (one checkpoint, covered below)
    val got = Dedup.duplicateClusters(edges.toDF("id1", "id2"),
        checkpointDir = Some(dir), smallGraphMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    // the reliable path wrote checkpoint state, and eager cleanup left
    // ONLY the final round's rdd-* dir (earlier rounds reclaimed)
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).toList
    assert(rddDirs.size == 1,
      s"expected exactly the final labels' checkpoint dir, got $rddDirs")
    val files = java.nio.file.Files.walk(rddDirs.head)
      .iterator().asScala.count(java.nio.file.Files.isRegularFile(_))
    assert(files > 0, "final checkpoint dir must hold the labels' files")
  }

  test("small-graph path with checkpointDir reliably checkpoints the labels") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt_uf").toString
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = Dedup.duplicateClusters(edges.toDF("id1", "id2"),
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-")).toList
    assert(rddDirs.size == 1,
      s"single-task path writes exactly one labels checkpoint, got $rddDirs")
  }
}
