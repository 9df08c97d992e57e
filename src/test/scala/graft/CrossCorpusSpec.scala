package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Cross-corpus near-dup (decontamination) quality: planted contaminated
  * training docs — light edits of benchmark docs — must surface as
  * candidates of their source benchmark doc, and clean training docs
  * must not flood the output. */
class CrossCorpusSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val rnd = new Random(17)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
  private def doc(): String = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  // benchmark corpus: ids 0..9
  private val bench = (0 until 10).map(i => (i.toLong, doc()))
  // training corpus: 10 contaminated copies (id 100+i, ~5% token edits
  // of benchmark doc i) + 30 clean docs
  private val contaminated = bench.map { case (id, text) =>
    val mutated = text.split(" ").map(t =>
      if (rnd.nextDouble() < 0.05) vocab(rnd.nextInt(vocab.size)) else t)
    (100L + id, mutated.mkString(" "))
  }
  private val clean = (0 until 30).map(i => (200L + i, doc()))

  private def shingled(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))

  test("planted contamination is caught; output stays cross-corpus only") {
    val cand = Dedup.crossCorpusCandidates(
        shingled(contaminated ++ clean), shingled(bench),
        "doc_id", "sh", k = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // every planted (train 100+i, bench i) pair surfaces
    (0L until 10L).foreach { i =>
      assert(cand.contains((100L + i, i)),
        s"contaminated pair (${100 + i}, $i) not found")
    }
    // output is strictly train-side × bench-side (no self pairs)
    cand.keys.foreach { case (a, b) =>
      assert(a >= 100L && b < 10L, s"unexpected pair ($a, $b)")
    }

    // combined-occupancy cap: two corpora sharing one boilerplate doc set
    // collapse into capped buckets → zero candidates (cap) vs some (no cap)
    val same = (0 until 50).map(i => (i.toLong, "x y z x y z x y z x y z"))
    val sameB = (0 until 50).map(i => (1000L + i, "x y z x y z x y z x y z"))
    val capped = Dedup.crossCorpusCandidates(shingled(same), shingled(sameB),
      "doc_id", "sh", k = 32, bands = 16, maxBucketSize = 20)
    assert(capped.count() == 0, "shared mega-bucket must be dropped by the cap")
  }

  test("one band pass == the two-side reference, including a bucket only the combined cap drops") {
    // 12 + 12 copies of one text: each side alone fits a cap of 20, the
    // combined bucket (24) does not
    val boiler = "x y z w x y z w x y z w"
    val a = shingled(contaminated ++ clean ++ (0 until 12).map(i => (300L + i, boiler)))
    val b = shingled(bench ++ (0 until 12).map(i => (1000L + i, boiler)))
    def rows(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val byCap = Seq(20, 24, 10000).map { cap =>
      val fused = rows(Dedup.crossCorpusCandidates(a, b, "doc_id", "sh",
        k = 32, bands = 16, maxBucketSize = cap))
      val reference = rows(IncrementalNearDupSpec.bandedPairs(
        Dedup.withMinHash(a, "sh", 32).select("doc_id", "minhash"),
        Dedup.withMinHash(b, "sh", 32).select("doc_id", "minhash"),
        "doc_id", k = 32, bands = 16, maxBucketSize = cap))
      assert(fused == reference, s"maxBucketSize $cap")
      cap -> fused
    }.toMap
    def boilerPairs(cap: Int) = byCap(cap).count(r => r._1 >= 300L && r._2 >= 1000L)
    assert(boilerPairs(20) == 0, "the combined cap must drop the shared bucket")
    assert(boilerPairs(24) == 144 && boilerPairs(10000) == 144)
    (0L until 10L).foreach(i => assert(byCap(20).exists(r => r._1 == 100L + i && r._2 == i)))
  }
}
