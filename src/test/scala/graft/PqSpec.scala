package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Pq, Similarity}

/** Product quantization: codebook training, encoding, ADC ranking.
  * Pins determinism (hash-seeded Lloyd), code well-formedness, the
  * k-monotone reconstruction error, and the ADC recall floor vs exact
  * L2 on the fixture. */
class PqSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))

  test("codes are well-formed: length m, every code in [0, k)") {
    val base = corpus.filter(col("vec_id") >= 5)
    val cb = Pq.trainCodebooks(base, "vec_id", "vec", m = 8, k = 16, subDim = 8)
    val codes = Pq.encode(base, "vec_id", "vec", cb).collect()
    assert(codes.length == base.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8, s"vec ${r.getLong(0)}: ${cs.length} codes")
      assert(cs.forall(c => c >= 0 && c < 16), s"vec ${r.getLong(0)}: $cs")
    }
  }

  test("training and encoding are deterministic run-over-run") {
    val base = corpus.filter(col("vec_id") >= 5)
    def codesOf(): Map[Long, Seq[Int]] = {
      val cb = Pq.trainCodebooks(base, "vec_id", "vec", m = 8, k = 16, subDim = 8)
      Pq.encode(base, "vec_id", "vec", cb).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    }
    assert(codesOf() == codesOf())
  }

  test("reconstruction error falls as the codebook grows (k=4 -> k=16)") {
    val base = corpus.filter(col("vec_id") >= 5)
    val e4 = Pq.reconstructionError(base, "vec_id", "vec",
      Pq.trainCodebooks(base, "vec_id", "vec", m = 8, k = 4, subDim = 8))
    val e16 = Pq.reconstructionError(base, "vec_id", "vec",
      Pq.trainCodebooks(base, "vec_id", "vec", m = 8, k = 16, subDim = 8))
    assert(e4 > 0 && e16 > 0)
    assert(e16 < e4, s"k=16 error $e16 should beat k=4 error $e4")
  }

  test("dead codebook cells: LUT indexing stays exact (dense ids, no NULL adist)") {
    // 6 vectors, k=16: each subspace has at most 6 seeded cells, so 10+
    // cells are dead by construction. Before re-densification this left
    // id gaps that misaligned the positional LUT lookup (and NULL adist
    // for codes past the surviving-cell count).
    val base = corpus.filter(col("vec_id") < 6)
    val cb = Pq.trainCodebooks(base, "vec_id", "vec", m = 4, k = 16, subDim = 16)
    val cents = cb.centroids.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val kEff = cents.keys.groupBy(_._1).map { case (m, ks) => m -> ks.size }
    assert(kEff.values.forall(_ <= 6), s"expected dead cells, got $kEff")
    assert(kEff.values.exists(_ < 16), "fixture failed to kill any cell")
    // dense contract: per subspace, ids are exactly 0..kEff-1
    kEff.foreach { case (m, n) =>
      val ids = cents.keys.filter(_._1 == m).map(_._2).toSeq.sorted
      assert(ids == (0 until n), s"subspace $m ids not dense: $ids")
    }
    val codes = Pq.encode(base, "vec_id", "vec", cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qs = base.filter(col("vec_id") < 2)
    val got = Pq.adcTopK(qs, Pq.encode(base, "vec_id", "vec", cb),
        "vec_id", "vec_id", "vec", cb, topK = 6).collect()
    assert(got.length == 2 * 6)
    got.foreach { r =>
      assert(!r.isNullAt(3), s"NULL adist for ${r.getLong(0)} -> ${r.getLong(2)}")
      val (q, c) = (r.getLong(0), r.getLong(2))
      // independent driver-side ADC: sum over subspaces of L2^2(q_sub, centroid[code])
      val expect = (0 until 4).map { m =>
        val qsub = vecs(q).slice(m * 16, m * 16 + 16)
        val cent = cents((m, codes(c)(m)))
        qsub.zip(cent).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      assert(math.abs(r.getDouble(3) - expect) < 1e-5,
        s"q=$q c=$c adist ${r.getDouble(3)} != $expect")
    }
  }

  test("ADC recall@10 vs exact L2 clears the floor; v11 reports exactly it") {
    val rows = SparkEntry.queries("v11_pq_recall")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.size == 5)
    val mean = rows.values.sum / rows.size
    assert(mean >= 0.3, s"mean ADC recall@10 $mean below floor (per-query $rows)")
    rows.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
  }

  test("composed IVF-PQ (v12): well-formed recall rows; shortlist is cell-bounded") {
    val rows = SparkEntry.queries("v12_ivfpq_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 5)
    rows.foreach { case (_, k, rec) =>
      assert(k == 10)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // composed recall can't beat the PQ-only recall pattern by much, but
    // must stay usable on the fixture
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.2, s"mean composed IVF-PQ recall $mean below floor")
    // determinism of the whole composed path
    val again = SparkEntry.queries("v12_ivfpq_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.sameElements(again))
  }
}
