package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** MMR re-rank semantics ([[Similarity.mmrRerank]]) on hand-built
  * geometry: diversity actually trades off against relevance, λ=1
  * degenerates to relevance order, bounded output, determinism. */
class MmrSpec extends AnyFunSuite with SharedSpark {
  // candidates for one query: 10 and 11 are near-identical high-relevance
  // vectors; 12 is orthogonal to both with lower relevance
  private def candDf = {
    import spark.implicits._
    Seq(
      (1L, 10L, 0.95, Seq(1.0, 0.0, 0.0)),
      (1L, 11L, 0.94, Seq(0.999, 0.01, 0.0)),
      (1L, 12L, 0.60, Seq(0.0, 1.0, 0.0)))
      .toDF("q_id", "c_id", "cos", "vec")
  }

  test("diversity beats redundancy: the orthogonal doc jumps the near-dup") {
    val got = Similarity.mmrRerank(candDf, k = 3, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    // pick 1: highest relevance (10). pick 2: 11 scores 0.5·0.94 −
    // 0.5·cos(11,10) ≈ 0.47 − 0.5 < 0; 12 scores 0.5·0.6 − 0.5·0 = 0.3 →
    // 12 jumps. pick 3: the leftover near-dup.
    assert(got.toSeq == Seq((1, 10L), (2, 12L), (3, 11L)))
  }

  test("lambda = 1 degenerates to relevance order") {
    val got = Similarity.mmrRerank(candDf, k = 3, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(got.toSeq == Seq(10L, 11L, 12L))
  }

  test("k bounds output; k beyond candidates returns all, exactly once") {
    assert(Similarity.mmrRerank(candDf, k = 2, lambda = 0.5).count() == 2)
    val all = Similarity.mmrRerank(candDf, k = 10, lambda = 0.5)
      .collect().map(_.getLong(2))
    assert(all.length == 3 && all.toSet == Set(10L, 11L, 12L))
  }

  test("first pick's mmr score is lambda times its relevance") {
    val r1 = Similarity.mmrRerank(candDf, k = 3, lambda = 0.7)
      .filter(col("rank") === 1).collect()(0)
    assert(r1.getLong(2) == 10L)
    assert(math.abs(r1.getDouble(3) - 0.7 * 0.95) < 1e-12)
  }

  test("deterministic across runs and partitionings") {
    def run(parts: Int) = Similarity.mmrRerank(candDf.repartition(parts),
        k = 3, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(run(1).toSeq == run(7).toSeq)
  }

  test("v24 driver query: well-formed, diversified, deterministic") {
    val sf = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("v24_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    val rows = run()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq, s"ranks for $q")
      assert(rs.length <= 5)
      // picked chunks are distinct
      assert(rs.map(r => (r._3, r._4)).distinct.length == rs.length)
    }
    assert(rows.sameElements(run()), "v24 not deterministic")
  }
}
