package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graft.clearCaches: a long-running embedder must be able to release the
  * memoized shared intermediates (cluster table, text signals, IVF index,
  * backtest folds) and keep querying — rebuild-after-clear must return
  * identical results, and clearing empty/already-cleared caches must be
  * a no-op. */
class CacheLifecycleSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq

  test("clearCaches is safe on empty caches") {
    Graft.clearCaches()
    Graft.clearCaches() // idempotent
  }

  test("cluster table, text signals and IVF index rebuild identically after clear") {
    // populate: x11 (cc cache), x21/x12 (signal table), v6 (ivf cache)
    val before = Map(
      "x11_dup_clusters" -> rows("x11_dup_clusters"),
      "x12_repetition" -> rows("x12_repetition"),
      "x21_quality_filter" -> rows("x21_quality_filter"),
      "v6_ivf_probe" -> rows("v6_ivf_probe"),
      "v7_ann_recall" -> rows("v7_ann_recall"),
      "v15_hier_assign" -> rows("v15_hier_assign"),
      // streamed BM25 segments: clear → re-ingest to a FRESH temp dir
      // must serve identically (ExtQ.bm25StreamCache)
      "st6_bm25_stream" -> rows("st6_bm25_stream"))
    Graft.clearCaches()
    // every consumer must rebuild from the source tables and agree
    before.foreach { case (q, exp) =>
      assert(rows(q) == exp, s"$q diverged after clearCaches")
    }
    // and clearing again after the rebuild still works
    Graft.clearCaches()
    assert(rows("x11_dup_clusters") == before("x11_dup_clusters"))
  }
}
