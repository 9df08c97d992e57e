package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Leakage-free train/val split (Dedup.leakFreeSplit; query
  * x66_leakage_split): a document and every exact copy of its content
  * must land on the SAME side — the val-contamination hole a per-doc
  * coin leaves open. Pins: planted duplicates never straddle the split,
  * every row is labeled, the representative is the content group's min
  * id, the coin is deterministic and partition-invariant, and the
  * train fraction lands near its target on unique content. */
class LeakSplitSpec extends AnyFunSuite with SharedSpark {
  test("planted duplicates never straddle the split; reps are min-id; all rows labeled") {
    import spark.implicits._
    val uniq = (1L to 200L).map(i => (i, s"unique document body $i"))
    // copies of docs 1..40 under high ids (re-crawls)
    val dups = (1L to 40L).map(i => (i + 1000L, s"unique document body $i"))
    val d = (uniq ++ dups).toDF("doc_id", "text")
    val out = Dedup.leakFreeSplit(d, "doc_id", "text", trainFrac = 0.5)
      .select("doc_id", "rep", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 240, "every row labeled")
    val byRep = out.groupBy(_._2)
    byRep.foreach { case (_, rows) =>
      assert(rows.map(_._3).toSet.size == 1,
        s"content group ${rows.map(_._1).toSeq} straddles the split")
    }
    // dup of doc i has rep i (the min id of its content group)
    out.filter(_._1 > 1000L).foreach { case (id, rep, _) =>
      assert(rep == id - 1000L, s"dup $id must point at rep ${id - 1000L}")
    }
    // the coin is per-GROUP: with 200 distinct contents at 0.5, both
    // sides are populated and the train share is near the target
    val groups = out.groupBy(_._2).map(_._2.head._3).toSeq
    val trainShare = groups.count(_ == "train").toDouble / groups.size
    assert(trainShare > 0.35 && trainShare < 0.65, s"share $trainShare")
  }

  test("NULL-text rows survive as their own content group") {
    import spark.implicits._
    val d = Seq((1L, "real body one"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]), (4L, "real body two"))
      .toDF("doc_id", "text")
    val out = Dedup.leakFreeSplit(d, "doc_id", "text", 0.5)
      .select("doc_id", "rep", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 4, "null-bodied rows must not vanish")
    val nulls = out.filter(r => r._1 == 2L || r._1 == 3L)
    assert(nulls.map(_._2).toSet == Set(2L), "null group rep = min id")
    assert(nulls.map(_._3).toSet.size == 1, "null group splits together")
  }

  test("near-dup-aware split (x69 shape): every cluster member lands on one side") {
    import spark.implicits._
    // planted cluster labels (x33's realPairClusters shape): docs 1-3
    // one cluster, 4-5 another, 6-7 unclustered (their own ids)
    val d = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 7L)).toDF("doc_id", "grp")
    val out = Dedup.leakFreeSplitByKey(d, "grp", trainFrac = 0.5)
      .select("doc_id", "grp", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 7)
    out.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).toSet.size == 1,
        s"cluster $g straddles the split: $rows")
    }
    // the coin depends only on the group key: same key, same side as
    // the exact-dup split would give (one md5Uniform definition)
    val coin1 = out.find(_._1 == 1L).get._3
    assert(out.filter(_._2 == 1L).forall(_._3 == coin1))
  }

  test("deterministic and partition-invariant") {
    import spark.implicits._
    val d = (1L to 100L).map(i => (i, s"body $i word " * 3)).toDF("doc_id", "text")
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Dedup.leakFreeSplit(df, "doc_id", "text", 0.9)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(d)
    assert(a == splits(d.repartition(13)) && a == splits(d.coalesce(1)))
  }
}
