package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}
import graft.ops.Reshape

class SimHashSpec extends AnyFunSuite with SharedSpark {
  test("near-dup docs have small Hamming distance; unrelated docs ~32 bits") {
    import spark.implicits._
    val rnd = new Random(17)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    def doc() = Seq.fill(80)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = doc()
    val nearDup = { // ~5% token edits
      val t = base.split(" ")
      t.map(x => if (rnd.nextDouble() < 0.05) vocab(rnd.nextInt(vocab.size)) else x)
        .mkString(" ")
    }
    val unrelated = doc()
    val df = Seq((0L, base), (1L, nearDup), (2L, unrelated)).toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
    val hashes = Dedup.simHash(df, "doc_id", "toks", "simhash")
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(0L), hashes(1L)) <= 12,
      s"near-dup hamming ${hamming(hashes(0L), hashes(1L))}")
    assert(hamming(hashes(0L), hashes(2L)) >= 16,
      s"unrelated hamming ${hamming(hashes(0L), hashes(2L))}")
  }

  test("simHashPairs: pigeonhole-complete at Hamming <= 3; brute-force parity") {
    import spark.implicits._
    val rnd = new Random(23)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    def doc() = Seq.fill(100)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // 15 bases, each with a VERY close copy (~1-2% edits → tiny Hamming),
    // plus 30 unrelated docs
    val bases = (0 until 15).map(i => (i.toLong * 2, doc()))
    val dups = bases.map { case (id, t) =>
      (id + 1, t.split(" ").map(x =>
        if (rnd.nextDouble() < 0.015) vocab(rnd.nextInt(vocab.size)) else x)
        .mkString(" "))
    }
    val noise = (0 until 30).map(i => (100L + i, doc()))
    val df = (bases ++ dups ++ noise).toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))

    // brute-force truth: all pairs at Hamming <= 3
    val fps = Dedup.simHash(df, "doc_id", "toks", "fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must plant some <=3-Hamming pairs")

    val got = Dedup.simHashPairs(df, "doc_id", "toks", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pigeonhole: 4 bands over 64 bits → any <=3-bit difference leaves a
    // clean band → candidate recall is EXACT, so got == expected exactly
    assert(got == expected)
  }

  test("simHashPairs: 8 bands are pigeonhole-complete at Hamming <= 7") {
    import spark.implicits._
    val rnd = new Random(41)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    def doc() = Seq.fill(100)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 15).map(i => (i.toLong * 2, doc()))
    val dups = bases.map { case (id, t) =>
      (id + 1, t.split(" ").map(x =>
        if (rnd.nextDouble() < 0.03) vocab(rnd.nextInt(vocab.size)) else x)
        .mkString(" "))
    }
    val noise = (0 until 30).map(i => (100L + i, doc()))
    val df = (bases ++ dups ++ noise).toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
    val fps = Dedup.simHash(df, "doc_id", "toks", "fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && java.lang.Long.bitCount(fa ^ fb) <= 7
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must plant some <=7-Hamming pairs")
    val got = Dedup.simHashPairs(df, "doc_id", "toks", maxHamming = 7,
        bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 bands of 8 bits: <=7 differing bits leave a clean band → exact
    assert(got == expected)
  }

  test("x23's heuristic regime (maxHamming=16, 4 bands): measured recall shape") {
    // The driver query runs past the pigeonhole bound to surface the
    // closest fingerprint pairs on a dup-free fixture. Quantify what that
    // regime actually recalls vs brute-force bit_count(xor) on the same
    // corpus, and pin the shape: exact to 3, decaying past it (the
    // numbers for sf0.01 are in Dedup.simHashPairs' scaladoc).
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val fps = Dedup.simHash(docs, "doc_id", "toks", "fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 16
    } yield (a, b) -> h).toMap
    val got = Dedup.simHashPairs(docs, "doc_id", "toks", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded output is a subset of brute force (the verify step is exact)
    assert(got.subsetOf(brute.keySet))
    def recall(lo: Int, hi: Int): (Int, Double) = {
      val in = brute.collect { case (p, h) if h >= lo && h <= hi => p }
      (in.size, if (in.isEmpty) 1.0 else in.count(got).toDouble / in.size)
    }
    val (n03, r03) = recall(0, 3)
    val (n48, r48) = recall(4, 8)
    val (n916, r916) = recall(9, 16)
    assert(r03 == 1.0, s"pigeonhole bucket must be complete ($n03 pairs)")
    assert(n48 + n916 > 0, "fixture must have heuristic-regime pairs")
    // decaying, partial recall past the bound — the honest regime shape
    assert(r48 >= r916, s"recall must decay with distance: $r48 < $r916")
    assert(got.nonEmpty && got.size < brute.size,
      s"heuristic regime is partial by design: ${got.size}/${brute.size}")
  }

  test("melt is the inverse of pivotWide") {
    import spark.implicits._
    val long = Seq(("t1", "a", 1.0), ("t1", "b", 2.0), ("t2", "a", 3.0))
      .toDF("ts", "series", "value")
    val wide = Reshape.pivotWide(long, "ts", "series", "value", Seq("a", "b"))
    val back = Reshape.melt(wide, Seq("ts"), Seq("a", "b"), "series", "value")
      .filter(col("value").isNotNull)
      .orderBy("ts", "series")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toList
    assert(back == List(("t1", "a", 1.0), ("t1", "b", 2.0), ("t2", "a", 3.0)))
  }
}
