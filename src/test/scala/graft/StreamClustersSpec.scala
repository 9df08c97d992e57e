package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.streaming.{Manifest, StreamClusters}

/** The streamed cluster-table sink (st10 — [[StreamClusters]]):
  * immutable member partitions + the one-step-resolved root-map overlay
  * under the manifest protocol. Pins the lifecycle (streamed ≡ scratch
  * CC over the edge union), the immutability discipline (a bridge edge
  * relabels WITHOUT touching committed partition files), re-delivery
  * no-op, time travel across a merge, compact ≡ serve, and the
  * [[StreamClusters.needsCompaction]] trigger policy (the overlay-share
  * threshold — floor and share legs separately). */
class StreamClustersSpec extends AnyFunSuite with SharedSpark {
  private def edges(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id1", "id2")
  }

  private def table(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("st10spec").toString

  private def memberFiles(dir: String, batchId: Int): Set[(String, Long)] = {
    val p = java.nio.file.Paths.get(s"$dir/members/batch_id=$batchId")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(f => (f.toString, java.nio.file.Files.size(f))).toSet
  }

  test("streamed ingest ≡ scratch CC; bridge edge relabels without rewriting committed partitions") {
    val dir = freshDir()
    // batch 0: two components {1,2} and {10,11}
    StreamClusters.appendBatch(dir, edges((1L, 2L), (10L, 11L)), 0L)
    val files0 = memberFiles(dir, 0)
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // batch 1: a BRIDGE (2-10) merges them, plus a fresh component {20,21}
    StreamClusters.appendBatch(dir, edges((2L, 10L), (20L, 21L)), 1L)
    val got = table(StreamClusters.load(spark, dir).get)
    val scratch = table(Dedup.duplicateClusters(
      edges((1L, 2L), (10L, 11L), (2L, 10L), (20L, 21L))))
    assert(got == scratch)
    // the committed batch-0 partition files are BYTE-UNTOUCHED — the
    // relabel rode the metadata overlay, not a partition rewrite
    assert(memberFiles(dir, 0) == files0)
  }

  test("re-delivered batch is a no-op: no new manifest generation") {
    val dir = freshDir()
    StreamClusters.appendBatch(dir, edges((1L, 2L)), 0L)
    StreamClusters.appendBatch(dir, edges((3L, 4L)), 1L)
    val gens = Manifest.generations(spark, dir)
    StreamClusters.appendBatch(dir, edges((3L, 4L)), 1L) // replay
    assert(Manifest.generations(spark, dir) == gens)
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("reset-checkpoint guard: new edges on an ever-committed id refuse loudly") {
    val dir = freshDir()
    StreamClusters.appendBatch(dir, edges((1L, 2L)), 0L)
    val e = intercept[IllegalStateException] {
      StreamClusters.appendBatch(dir, edges((100L, 200L)), 0L)
    }
    assert(e.getMessage.contains("already committed"))
  }

  test("time travel: a pinned pre-merge generation serves the old labels bit-stable") {
    val dir = freshDir()
    StreamClusters.appendBatch(dir, edges((1L, 2L), (10L, 11L)), 0L)
    val genBefore = Manifest.readWithGen(spark, dir).get._1
    StreamClusters.appendBatch(dir, edges((2L, 10L)), 1L) // merge
    val pinned = table(StreamClusters.loadAt(spark, dir, Some(genBefore)).get)
    assert(pinned == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("compact folds the overlay; serve identical; trigger resets") {
    val dir = freshDir()
    StreamClusters.appendBatch(dir, edges((1L, 2L), (10L, 11L)), 0L)
    StreamClusters.appendBatch(dir, edges((2L, 10L)), 1L)
    val before = table(StreamClusters.load(spark, dir).get)
    // overlay holds 1 row (10 -> 1), members 4 rows: share 0.25
    assert(StreamClusters.needsCompaction(spark, dir,
      maxOverlayShare = 0.2, minOverlayRows = 1))
    StreamClusters.compact(spark, dir, into = -1)
    assert(table(StreamClusters.load(spark, dir).get) == before)
    assert(!StreamClusters.needsCompaction(spark, dir,
      maxOverlayShare = 0.2, minOverlayRows = 1),
      "a compacted table has no overlay — the trigger must reset")
    // vacuum: folded member/rootmap partitions reclaimed, history
    // collapsed to the latest generation, serve unchanged
    val preGen = Manifest.readWithGen(spark, dir).get._1
    StreamClusters.vacuum(spark, dir)
    assert(table(StreamClusters.load(spark, dir).get) == before)
    assert(Manifest.generations(spark, dir) == Seq(preGen))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/members/batch_id=0")),
      "vacuum must reclaim the folded member partition")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/rootmap/batch_id=1")),
      "vacuum must reclaim the folded rootmap partition")
    intercept[IllegalArgumentException] {
      StreamClusters.loadAt(spark, dir, Some(0)) // expired snapshot
    }
  }

  test("CONCURRENT edge append vs background compaction: pounded CAS, streamed ≡ scratch after the storm") {
    // the StreamBm25 pounded contract on the cluster sink: an ingest
    // thread appends bridging edge batches while a maintainer thread
    // continuously folds the table; both race read→stage→commit on the
    // shared manifest. The CAS must serialize them, disjoint staging
    // must keep the parquet writes from interfering, and afterwards the
    // resolved table must equal a scratch CC over every appended edge —
    // a lost append shows as a missing component, a lost relabel as a
    // stale root.
    val dir = freshDir()
    // chain batches add fresh components; every third batch is a PURE
    // BRIDGE merging two committed components — so the storm races both
    // write paths (member-partition add AND overlay rewrite)
    def edgesFor(b: Int) =
      if (b % 3 == 2) Seq(((b - 1) * 100L, (b - 2) * 100L))
      else Seq((b * 100L, b * 100L + 1), (b * 100L + 1, b * 100L + 2))
    StreamClusters.appendBatch(dir, edges(edgesFor(0): _*), 0L)
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintainerErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val nextNeg = new java.util.concurrent.atomic.AtomicInteger(-1)
    val maintainer = new Thread(() => {
      while (!stop.get()) {
        try {
          // fold only when there is something to fold (≥ 2 live ids) —
          // the BM25 test's candidate gate: an unconditional compactor
          // commits continuously and STARVES the appender's CAS
          if (Manifest.read(spark, dir).exists(_.size >= 2))
            StreamClusters.compact(spark, dir, nextNeg.getAndDecrement())
        } catch {
          case _: java.util.ConcurrentModificationException =>
            cme.incrementAndGet() // lost the CAS — retry on fresh state
          case t: Throwable => maintainerErr.set(t); stop.set(true)
        }
      }
    })
    maintainer.start()
    val lastBatch = 6
    try {
      (1 to lastBatch).foreach { b =>
        var done = false
        while (!done) {
          try {
            StreamClusters.appendBatch(dir, edges(edgesFor(b): _*), b.toLong)
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet() // the engine's batch retry, inlined
          }
        }
      }
    } finally { stop.set(true); maintainer.join() }
    assert(maintainerErr.get() == null,
      s"maintainer died: ${maintainerErr.get()}")
    val all = (0 to lastBatch).flatMap(edgesFor)
    val got = table(StreamClusters.load(spark, dir).get)
    val scratch = table(Dedup.duplicateClusters(edges(all: _*)))
    assert(got == scratch)
    assert(got.nonEmpty)
  }

  test("needsCompaction pins both legs: the row floor and the share threshold") {
    val dir = freshDir()
    StreamClusters.appendBatch(dir, edges((1L, 2L), (10L, 11L)), 0L)
    StreamClusters.appendBatch(dir, edges((2L, 10L)), 1L)
    // overlay = 1 row, members = 4 rows (share 0.25)
    // floor leg: overlay below minOverlayRows never triggers, whatever
    // the share (a micro-overlay join is a broadcast no-op; compaction
    // is a full members rewrite)
    assert(!StreamClusters.needsCompaction(spark, dir,
      maxOverlayShare = 0.0001, minOverlayRows = 2))
    // share leg: above the floor, the overlay/members ratio decides
    assert(StreamClusters.needsCompaction(spark, dir,
      maxOverlayShare = 0.25, minOverlayRows = 1))  // 0.25 >= 0.25
    assert(!StreamClusters.needsCompaction(spark, dir,
      maxOverlayShare = 0.26, minOverlayRows = 1))  // 0.25 < 0.26
    // virgin dir: nothing to compact
    assert(!StreamClusters.needsCompaction(spark, freshDir()))
  }

  test("takedown deletes: membership masked, label stale until the re-min fold, edges of the dead dropped") {
    import spark.implicits._
    val dir = freshDir()
    // one chain 1-2-3 (label 1) and a pair {10,11}
    StreamClusters.appendBatch(dir, edges((1L, 2L), (2L, 3L), (10L, 11L)), 0L)
    val preGen = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    // delete node 1 — the cluster's own min-id LABEL (+ unknown id: no-op)
    StreamClusters.deleteNodes(spark, dir, Seq(1L, 999L).toDF("id"))
    // 1. membership masked immediately; label STALE (still 1) until the
    //    fold — deliberately the Lucene stale-until-merge shape
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // 2. idempotent: re-delete commits no generation
    val gens = graft.streaming.Manifest.generations(spark, dir)
    StreamClusters.deleteNodes(spark, dir, Seq(1L).toDF("id"))
    assert(graft.streaming.Manifest.generations(spark, dir) == gens)
    // 3. an arriving edge touching the dead node is DROPPED whole: node
    //    1 must not re-enter, and 20 must not be pulled into cluster 1
    //    through forgotten connectivity; the untouched edge still lands
    StreamClusters.appendBatch(dir, edges((1L, 20L), (20L, 21L)), 1L)
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // 4. time travel: the pre-delete generation still has node 1
    assert(table(StreamClusters.loadAt(spark, dir, Some(preGen)).get)
      .contains(1L))
    // 5. compact RE-MINS over survivors: the deleted id vanishes even
    //    as a label; tombstones clear in the same flip
    StreamClusters.compact(spark, dir,
      into = StreamClusters.nextCompactId(spark, dir))
    assert(table(StreamClusters.load(spark, dir).get) ==
      Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(graft.streaming.Manifest.read(spark, dir).get.size == 1)
    // 6. vacuum removes the last on-disk membership row of the deleted
    StreamClusters.vacuum(spark, dir)
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/members")).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    val served = spark.read.parquet(onDisk.map(_.toString): _*)
    assert(served.filter(col("id") === 1L).count() == 0,
      "after vacuum no on-disk members file may hold the deleted node")
  }
}
