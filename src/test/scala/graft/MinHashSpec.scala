package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** MinHash/LSH quality: known near-duplicate pairs are recovered as
  * candidates and the signature-agreement estimate tracks true Jaccard. */
class MinHashSpec extends AnyFunSuite with SharedSpark {
  test("near-dup docs become LSH candidates; estimate tracks true Jaccard") {
    import spark.implicits._
    val rnd = new Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
    def doc(): String = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // 10 base docs; each gets a near-dup with ~5% token edits, plus
    // 20 unrelated docs
    val bases = (0 until 10).map(i => (i.toLong * 2, doc()))
    val dups = bases.map { case (id, text) =>
      val toks = text.split(" ")
      val mutated = toks.map(t =>
        if (rnd.nextDouble() < 0.05) vocab(rnd.nextInt(vocab.size)) else t)
      (id + 1, mutated.mkString(" "))
    }
    val noise = (0 until 20).map(i => (100L + i, doc()))
    val docs = (bases ++ dups ++ noise).toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", TextOps.shingles(col("toks"), 3))

    // 16 bands × 2 rows: P(candidate) = 1-(1-J²)^16 ≈ 0.999 at J≈0.6 —
    // the recall-leaning banding a near-dup DEDUP wants (an 8×4 banding
    // is precision-leaning and misses ~40% of J=0.6 pairs)
    val cand = Dedup.minHashCandidates(docs, "doc_id", "sh", k = 32, bands = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    // every engineered near-dup pair must surface as a candidate
    bases.foreach { case (id, _) =>
      assert(cand.contains((id, id + 1)),
        s"near-dup pair ($id,${id + 1}) not found by LSH")
    }

    // estimates track true shingle Jaccard within a loose tolerance
    val shingleSets = docs.select("doc_id", "sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    bases.foreach { case (id, _) =>
      val a = shingleSets(id); val b = shingleSets(id + 1)
      val trueJ = a.intersect(b).size.toDouble / a.union(b).size
      val est = cand((id, id + 1))
      assert(math.abs(est - trueJ) < 0.35,
        s"pair ($id,${id + 1}): est $est vs true $trueJ")
    }
  }

  test("native sig_agree == composable zip_with fold") {
    import spark.implicits._
    import graft.functions.SigAgree.sig_agree
    val sigs = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L), 4),  // identical
      (Seq(1L, 2L, 3L, 4L), Seq(9L, 2L, 9L, 4L), 2),  // partial
      (Seq(1L, 2L, 3L, 4L), Seq(9L, 8L, 7L, 6L), 0))  // disjoint
      .toDF("a", "b", "expected")
    val got = sigs.select(sig_agree(col("a"), col("b")).as("n"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).as("c"), col("expected")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(2) && r.getInt(1) == r.getInt(2))
    }
    // length mismatch → NULL (a caller bug surfaced, not agreement 0)
    val mm = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(sig_agree(col("a"), col("b"))).head()
    assert(mm.isNullAt(0))
  }

  test("native minhash_sig == composable form bit-for-bit (incl. null/empty edges)") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
    for (k <- Seq(8, 32)) {
      val native = Dedup.withMinHash(docs, "sh", k)
        .select(col("doc_id"), col("minhash"))
      val composed = Dedup.withMinHashComposed(docs, "sh", k)
        .select(col("doc_id"), col("minhash").as("minhash_c"))
      val diff = native.join(composed, "doc_id")
        .filter(not(col("minhash") <=> col("minhash_c"))).count()
      assert(diff == 0, s"minhash signature mismatch at k=$k")
    }
    // empty shingle set → NULL signature; null element hashes like
    // xxhash64(null) = seed — both identical to the composable form
    val edge = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq[String](null, "abc"))).toDF("doc_id", "sh")
    val n = Dedup.withMinHash(edge, "sh", 4).select("doc_id", "minhash")
    val c = Dedup.withMinHashComposed(edge, "sh", 4)
      .select(col("doc_id"), col("minhash").as("mc"))
    val rows = n.join(c, "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    assert(rows(1L)._1 == null && rows(1L)._2 == null)
    assert(rows(2L)._1 != null && rows(2L)._1 == rows(2L)._2)
  }
}
