package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Cross-corpus near-dup (decontamination) quality: planted contaminated
  * training docs — light edits of benchmark docs — must surface as
  * candidates of their source benchmark doc, and clean training docs
  * must not flood the output. */
class CrossCorpusSpec extends AnyFunSuite with SharedSpark {
  test("planted contamination is caught; output stays cross-corpus only") {
    import spark.implicits._
    val rnd = new Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
    def doc(): String = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

    // benchmark corpus: ids 0..9
    val bench = (0 until 10).map(i => (i.toLong, doc()))
    // training corpus: 10 contaminated copies (id 100+i, ~5% token edits
    // of benchmark doc i) + 30 clean docs
    val contaminated = bench.map { case (id, text) =>
      val mutated = text.split(" ").map(t =>
        if (rnd.nextDouble() < 0.05) vocab(rnd.nextInt(vocab.size)) else t)
      (100L + id, mutated.mkString(" "))
    }
    val clean = (0 until 30).map(i => (200L + i, doc()))

    def shingled(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))

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
}
