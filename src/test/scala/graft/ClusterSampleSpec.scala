package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Cluster-balanced sampling: per-cell cap, exact per-cell coverage
  * (min(cap, cell size) survivors — never fewer), determinism, and the
  * md5-uniform pick order (engine-replicable, id-bias-free). */
class ClusterSampleSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val cap = 8

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))

  private lazy val index =
    Similarity.buildIvfIndex(corpus, "vec_id", "vec", nCells = 16)

  test("per-cell cap and exact coverage: every cell emits min(cap, cell size)") {
    val sampled = Similarity.clusterBalancedSample(index, corpus, "vec_id", cap)
      .groupBy("ivf_cell").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // independent cell sizes from the same nearest-centroid assignment
    val cellSizes = Similarity.assignTo(corpus, index.centroids, "vec_id", "vec")
      .groupBy("ivf_cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sampled.keySet == cellSizes.keySet)
    cellSizes.foreach { case (cell, n) =>
      assert(sampled(cell) == math.min(cap.toLong, n),
        s"cell $cell: kept ${sampled(cell)} of $n with cap $cap")
    }
  }

  test("deterministic: two runs pick identical survivor sets") {
    def run() = Similarity.clusterBalancedSample(index, corpus, "vec_id", cap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(run() == run())
  }

  test("pick order is the md5-uniform order within each cell") {
    val picked = Similarity.clusterBalancedSample(index, corpus, "vec_id", cap)
      .collect().map(r => (r.getInt(1), r.getLong(0))).toSet
    val byCell = Similarity.assignTo(corpus, index.centroids, "vec_id", "vec")
      .select(col("ivf_cell"), col("vec_id"),
        graft.ext.TextOps.md5Uniform(col("vec_id")).as("u"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val expected = byCell.groupBy(_._1).toSeq.flatMap { case (cell, rows) =>
      rows.sortBy(r => (r._3, r._2)).take(cap).map(r => (cell, r._2))
    }.toSet
    assert(picked == expected)
  }
}
