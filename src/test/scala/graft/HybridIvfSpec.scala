package graft

import org.scalatest.funsuite.AnyFunSuite

/** v26_hybrid_ivf — the scale-true hybrid serve path (IVF-probed dense
  * leg + identical RRF fusion): parity with the brute-force oracle
  * anchor (v23) at a full probe, output contract and determinism at the
  * production probe depth.
  *
  * The parity gate is the load-bearing test: at nProbe = nCells the IVF
  * probe visits every cell, dedups the nAssign replication, and exact-
  * cosine re-ranks ALL corpus vectors with the same (cos desc, c_id)
  * order and the same native CosineSim arithmetic as bruteForceTopK —
  * so the fused output must equal v23 row-for-row, bit-for-bit. That
  * holds regardless of centroid geometry (including the hierarchical
  * assignment path past `hierAssignFrom`), because a full probe makes
  * WHICH cell a posting landed in irrelevant. */
class HybridIvfSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("v26 at nProbe = nCells equals v23 row-for-row") {
    val anchor = SparkEntry.queries("v23_hybrid_rrf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    // nProbe far above any fixture cell count — slice() caps at the
    // array length, so this IS the full probe without reaching into the
    // private prebuilt tuple for the exact nCells
    val full = graft.queries.VectorQ.hybridIvf(spark, sf, Some(100000))
      .collect().map(_.toSeq).toSeq
    assert(anchor.nonEmpty, "v23 anchor returned no rows")
    assert(full == anchor,
      s"full-probe v26 diverged from v23: got ${full.take(3)}… " +
        s"want ${anchor.take(3)}…")
  }

  test("production v26: bounded contiguous ranks, unique keys per query") {
    val rows = SparkEntry.queries("v26_hybrid_ivf")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, qRows) =>
      val ranks = qRows.map(_._2).sorted.toSeq
      assert(ranks == (1 to qRows.length), s"q=$q ranks not contiguous: $ranks")
      assert(qRows.length <= 10, s"q=$q returned ${qRows.length} > k rows")
      val keys = qRows.map(_._3)
      assert(keys.distinct.length == keys.length, s"q=$q duplicate keys")
    }
  }

  test("v27 wide open (full probe, unpruned lists) equals v23 row-for-row") {
    val anchor = SparkEntry.queries("v23_hybrid_rrf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    // P far above any fixture df → bm25Prune keeps every posting, so
    // stage-1 candidates = every doc sharing a term with the query =
    // exactly the docs the exact serve scores; the two-stage re-score is
    // the same Okapi sum over the same postings. With the full probe on
    // the dense side, the whole pipeline degenerates to v23.
    val full = graft.queries.VectorQ.hybridBounded(spark, sf,
        nProbeOverride = Some(100000), maxPostingsOverride = Some(100000000))
      .collect().map(_.toSeq).toSeq
    assert(anchor.nonEmpty, "v23 anchor returned no rows")
    assert(full == anchor,
      s"wide-open v27 diverged from v23: got ${full.take(3)}… " +
        s"want ${anchor.take(3)}…")
  }

  test("production v27: bounded contiguous ranks, unique keys, deterministic") {
    val run = () => SparkEntry.queries("v27_hybrid_bounded")(spark, sf)
      .collect()
    val rows = run().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, qRows) =>
      val ranks = qRows.map(_._2).sorted.toSeq
      assert(ranks == (1 to qRows.length), s"q=$q ranks not contiguous: $ranks")
      assert(qRows.length <= 10, s"q=$q returned ${qRows.length} > k rows")
      val keys = qRows.map(_._3)
      assert(keys.distinct.length == keys.length, s"q=$q duplicate keys")
    }
    val a = run().map(_.toSeq).toSeq
    val b = run().map(_.toSeq).toSeq
    assert(a == b, "two v27 invocations disagreed")
  }

  test("production v26 is deterministic and near the anchor ranking") {
    val a = SparkEntry.queries("v26_hybrid_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("v26_hybrid_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "two invocations disagreed")
    // the probed dense leg may miss boundary docs the brute leg finds —
    // overlap@10 vs the anchor stays high at the calibrated probe depth
    val anchor = SparkEntry.queries("v23_hybrid_rrf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = a.map(s => (s(0).asInstanceOf[Long], s(2).asInstanceOf[Long]))
    val overlap = got.count(anchor.contains).toDouble / math.max(1, got.size)
    assert(overlap >= 0.5, f"overlap@10 vs v23 = $overlap%.2f under floor")
  }
}
