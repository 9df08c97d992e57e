package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Manifest, StreamCurate}

/** Cross-generation snapshot diff ([[StreamCurate.diffSnapshots]]) — the
  * reproducibility-audit verb: which rows snapshot B serves that snapshot
  * A did not ('added') and vice versa ('removed'), at full-row SET
  * granularity. Pins: hand-computed diffs across the append / delete /
  * compact lifecycle, label inversion under B→A, the partition-pruned
  * fast path ≡ the general EXCEPT path on every forward-only window, the
  * changed-body edge (same key re-ingested with new content = an added
  * row; payload-identical re-ingest = NO diff under set semantics — the
  * candidate-key verification against A is load-bearing), mixed-idCol
  * tombstone windows, and the fast path's no-sort-merge-join plan shape. */
class SnapshotDiffSpec extends AnyFunSuite with SharedSpark {
  private val stops = Seq("the", "a", "data", "row", "value")
  private val good = "the data row holds a good long value " * 4

  private def policy(b: DataFrame): DataFrame =
    b.filter(StreamCurate.qualityOk(col("text"), col("n_chars"), stops))
      .select("doc_id", "text")

  private def mkDir(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

  private def append(dir: String, id: Long, rows: Seq[(Long, String)],
                     pol: DataFrame => DataFrame = policy): Unit = {
    import spark.implicits._
    StreamCurate.appendBatch(dir,
      rows.map { case (i, t) => (i, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars"), id, pol)
  }

  /** The generation whose live families are exactly (data, tombs). */
  private def genOf(dir: String, data: Set[Int],
                    tombs: Set[Int] = Set.empty): Int =
    Manifest.generations(spark, dir).find { g =>
      Manifest.readLiveAt(spark, dir, Some(g))
        .exists(l => l.data == data && l.tombs.size == tombs.size)
    }.getOrElse(fail(s"no generation with data=$data tombs=$tombs at $dir"))

  private def diffSet(df: DataFrame): Set[(String, Long)] =
    df.select("change", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  private def assertParity(dir: String, a: Option[Int],
                           b: Option[Int]): Unit = {
    val fast = StreamCurate.diffSnapshots(spark, dir, a, b)
    val gen = StreamCurate.diffSnapshotsGeneral(spark, dir, a, b)
    assert(fast.exceptAll(gen).isEmpty && gen.exceptAll(fast).isEmpty,
      s"fast vs general diff diverge for $a -> $b")
  }

  test("append-only window: diff = the delta, labels invert, fast = general, no sort-merge join") {
    val dir = mkDir("snapdiff_append")
    append(dir, 0L, Seq(1L -> (good + "a1"), 2L -> (good + "a2")))
    append(dir, 1L, Seq(11L -> (good + "b1"), 12L -> (good + "b2")))
    val gA = genOf(dir, Set(0))
    val gB = genOf(dir, Set(0, 1))
    val fwd = StreamCurate.diffSnapshots(spark, dir, Some(gA), Some(gB))
    assert(diffSet(fwd) == Set("added" -> 11L, "added" -> 12L))
    // labels invert exactly under B -> A
    val back = StreamCurate.diffSnapshots(spark, dir, Some(gB), Some(gA))
    assert(diffSet(back) == Set("removed" -> 11L, "removed" -> 12L))
    // self-diff is empty but keeps the schema
    val self = StreamCurate.diffSnapshots(spark, dir, Some(gA), Some(gA))
    assert(self.count() == 0 &&
      self.columns.toSeq == Seq("change", "doc_id", "text"))
    assertParity(dir, Some(gA), Some(gB))
    // fast-path plan shape: every join broadcasts (the shared-history
    // scan is broadcast-filtered, never shuffled into a sort-merge)
    val plan = fwd.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"sort-merge join in:\n$plan")
  }

  test("lifecycle window across delete + compact: general path, hand-computed adds and removes") {
    val dir = mkDir("snapdiff_life")
    import spark.implicits._
    append(dir, 0L, Seq(1L -> (good + "a1"), 2L -> (good + "a2")))
    val gA = genOf(dir, Set(0))
    append(dir, 1L, Seq(11L -> (good + "b1"), 12L -> (good + "b2")))
    StreamCurate.deleteCurated(spark, dir, Seq(1L).toDF("doc_id"))
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    // the window crosses a compaction fold -> ids rewritten wholesale,
    // the EXCEPT path runs; diff is still exact
    val d = StreamCurate.diffSnapshots(spark, dir, Some(gA), None)
    assert(diffSet(d) ==
      Set("added" -> 11L, "added" -> 12L, "removed" -> 1L))
    val back = StreamCurate.diffSnapshots(spark, dir, None, Some(gA))
    assert(diffSet(back) ==
      Set("removed" -> 11L, "removed" -> 12L, "added" -> 1L))
  }

  test("delete-only window (fast path): removed rows come from the new masks; fast = general") {
    val dir = mkDir("snapdiff_del")
    import spark.implicits._
    append(dir, 0L, Seq(1L -> (good + "a1"), 2L -> (good + "a2"),
      3L -> (good + "a3")))
    val gA = genOf(dir, Set(0))
    StreamCurate.deleteCurated(spark, dir, Seq(1L, 3L).toDF("doc_id"))
    val d = StreamCurate.diffSnapshots(spark, dir, Some(gA), None)
    assert(diffSet(d) == Set("removed" -> 1L, "removed" -> 3L))
    assertParity(dir, Some(gA), None)
  }

  test("mixed-idCol tombstones in one window: each mask removes by its own key column") {
    val dir = mkDir("snapdiff_mixed")
    import spark.implicits._
    append(dir, 0L, Seq(1L -> (good + "a1"), 2L -> (good + "a2"),
      3L -> (good + "a3")))
    val gA = genOf(dir, Set(0))
    StreamCurate.deleteCurated(spark, dir, Seq(1L).toDF("doc_id"))
    StreamCurate.deleteCurated(spark, dir,
      Seq(good + "a3").toDF("text"), idCol = "text")
    val d = StreamCurate.diffSnapshots(spark, dir, Some(gA), None)
    assert(diffSet(d) == Set("removed" -> 1L, "removed" -> 3L))
    assertParity(dir, Some(gA), None)
  }

  test("two new masks with different key columns covering the same A row emit ONE removed row") {
    // A serves (1, T); window: delete by text=T, append (1, T'), delete
    // by doc_id=1 — both masks cover the A row; the fast path must
    // dedupe ACROSS mask frames to keep EXCEPT's set semantics
    val dir = mkDir("snapdiff_twomask")
    import spark.implicits._
    val t = good + "covered"
    append(dir, 0L, Seq(1L -> t, 2L -> (good + "other")))
    val gA = genOf(dir, Set(0))
    StreamCurate.deleteCurated(spark, dir, Seq(t).toDF("text"),
      idCol = "text")
    append(dir, 1L, Seq(1L -> (good + "covered v2")))
    StreamCurate.deleteCurated(spark, dir, Seq(1L).toDF("doc_id"))
    val fast = StreamCurate.diffSnapshots(spark, dir, Some(gA), None)
    val gen = StreamCurate.diffSnapshotsGeneral(spark, dir, Some(gA), None)
    assert(fast.exceptAll(gen).isEmpty && gen.exceptAll(fast).isEmpty,
      "fast and general must agree as MULTISETS (no duplicate removed rows)")
    assert(fast.filter(col("change") === "removed").count() == 1)
  }

  test("changed body: same key, new content = an added row; payload-identical re-ingest = no diff") {
    // payload carries the text -> the re-ingested body is a NEW row
    val dir = mkDir("snapdiff_changed")
    append(dir, 0L, Seq(1L -> (good + "v1")))
    val gA = genOf(dir, Set(0))
    append(dir, 1L, Seq(1L -> (good + "v2")))
    val d = StreamCurate.diffSnapshots(spark, dir, Some(gA), None)
    val rows = d.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "added" &&
      rows.head.getLong(1) == 1L &&
      rows.head.getString(2).endsWith("v2"))
    assertParity(dir, Some(gA), None)

    // payload drops the text -> the re-ingested row is PAYLOAD-IDENTICAL
    // to its predecessor; set semantics say the diff is EMPTY, and the
    // fast path only gets this right because candidate adds are verified
    // against A (the delta partition alone would claim 'added')
    val dir2 = mkDir("snapdiff_identical")
    def idOnly(b: DataFrame): DataFrame = policy(b).select("doc_id")
    append(dir2, 0L, Seq(1L -> (good + "v1")), idOnly)
    val g2A = genOf(dir2, Set(0))
    append(dir2, 1L, Seq(1L -> (good + "v2")), idOnly)
    val d2 = StreamCurate.diffSnapshots(spark, dir2, Some(g2A), None)
    assert(d2.count() == 0,
      "payload-identical re-ingest must not diff under set semantics")
    assertParity(dir2, Some(g2A), None)
  }
}
