package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Two-level (hierarchical) IVF assignment: exact parity with the flat
  * broadcast pick when no coarse pruning happens, measured agreement under
  * pruning, and the zero-corpus-shuffle plan contract. */
class Ivf2Spec extends AnyFunSuite with SharedSpark {
  // deterministic varied vectors (the IvfSpec no-shuffle fixture shape)
  private def corpus = {
    import spark.implicits._
    (0L until 300L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 17) % 13).toDouble - 6.0)))
      .toDF("id", "vec").localCheckpoint()
  }

  private def cents(n: Int) = {
    import spark.implicits._
    (0 until n)
      .map(c => (c, Array.tabulate(8)(j => ((c * 7 + j * 5) % 11).toDouble - 5.0)))
      .toDF("ivf_cell", "c_vec").localCheckpoint()
  }

  test("nProbeCoarse >= nCoarse: hierarchical == flat assignment exactly") {
    val c = corpus; val fine = cents(25) // nCoarse = 5
    val flat = Similarity.assignTo(c, fine, "id", "vec", nAssign = 2)
      .select("id", "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val hier = Similarity.assignToHier(c, fine, "id", "vec", nAssign = 2,
        nProbeCoarse = 25)
      .select("id", "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(hier == flat)
  }

  test("pruned coarse probe: assignments are valid cells with high flat agreement") {
    val c = corpus; val fine = cents(25)
    val flat = Similarity.assignTo(c, fine, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val hier = Similarity.assignToHier(c, fine, "id", "vec", nProbeCoarse = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(hier.keySet == flat.keySet, "every row must still be assigned")
    val validCells = (0 until 25).toSet
    assert(hier.values.forall(validCells), "assignments must be real cells")
    val agree = flat.count { case (id, cell) => hier(id) == cell }
    // 3 of ~5 coarse cells probed — most rows keep their true nearest
    // fine cell (coarse-boundary rows may not; that's the tradeoff)
    assert(agree.toDouble / flat.size >= 0.8,
      s"agreement ${agree.toDouble / flat.size} below floor")
  }

  test("corpus rows never shuffle: the tree rides one broadcast") {
    val p = Similarity.assignToHier(corpus, cents(25), "id", "vec",
        nProbeCoarse = 3)
      .queryExecution.executedPlan.toString
    // the CORPUS path is everything above its scan in the plan print;
    // the tree-build exchanges below the BroadcastNestedLoopJoin's build
    // side shuffle only the ~√n-row centroid table and are the point
    val cut = p.indexOf("Scan ExistingRDD[id")
    assert(cut > 0, s"corpus scan not found in:\n$p")
    val corpusPath = p.substring(0, cut)
    assert(!corpusPath.contains("Exchange"),
      s"corpus rows must ride the broadcast unshuffled:\n$corpusPath")
    assert(!corpusPath.contains("Window"), "no per-id window over an expansion")
    assert(!p.contains("hashpartitioning(id"),
      "corpus rows keyed-shuffled somewhere in the plan")
  }
}
