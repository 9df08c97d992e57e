package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** Graft.clearCaches: a long-running embedder must be able to release the
  * memoized shared intermediates (cluster table, text signals, IVF index,
  * backtest folds, release roots) and keep querying — rebuild-after-clear
  * must return identical results, clearing empty/already-cleared caches
  * must be a no-op, and no block a memo persisted may survive a clear. */
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
      // must serve identically (ExtQ.streamedBm25)
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

  test("no block a memo persisted survives clearCaches (x79's gc report included)") {
    // the memoized frames each query reads, as the cached relations in its
    // plan (the memo's persist + count has already built their blocks)
    val qs = Seq("x79_release_gc", "x71_admission_gate", "x11_dup_clusters",
      "v6_ivf_probe", "st6_bm25_stream")
    val cached = qs.flatMap { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => q -> r }
    }
    assert(cached.map(_._1).toSet == qs.toSet, "every query reads a memoized frame")
    val ids = cached.map { case (q, r) => q -> r.cacheBuilder.cachedColumnBuffers.id }
    Graft.clearCaches()
    val left = ids.filter { case (_, id) => spark.sparkContext.getPersistentRDDs.contains(id) }
    assert(left.isEmpty, s"memoized blocks still persisted after clearCaches: $left")
    assert(cached.forall(!_._2.cacheBuilder.isCachedColumnBuffersLoaded))
  }
}
