package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** k-NN graph exactness (the spec [[Similarity.knnGraph]]'s scaladoc
  * promises): label-blocked edges/ranks must be bit-equal to the
  * independent bruteForceTopK path per block, and the IVF-blocked form's
  * edges must be exactly the in-block top-k under the all-pairs cosine
  * table — edges can be MISSED across cells, never invented, and every
  * returned cosine is the exact one. */
class KnnGraphSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val K = 3

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"),
      col("label"))

  test("label-blocked edges == bruteForceTopK within each block") {
    val graph = Similarity.knnGraph(corpus, "vec_id", "vec", "label", k = K)
      .select("vec_id", "label", "rank", "nbr_id", "cos")
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // independent leg: per label block, brute-force top-(K+1) of the block
    // against itself (different join shape: crossJoin kernel vs equi-join),
    // drop the self pair, re-rank — ordering key (cos desc, id) matches
    // knnGraph's, and dropping self preserves relative order
    val labels = corpus.select("label").distinct().collect().map(_.getInt(0))
    val expected = labels.flatMap { lbl =>
      val block = corpus.filter(col("label") === lbl)
      Similarity.bruteForceTopK(block, block, "vec_id", "vec_id", "vec",
          k = K + 1)
        .filter(col("q_id") =!= col("c_id"))
        .select("q_id", "c_id", "cos")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).toSeq
        .flatMap { case (q, rows) =>
          rows.sortBy(r => (-r._3, r._2)).take(K).zipWithIndex
            .map { case ((_, nbr, cos), i) => (q, i + 1, nbr, cos) }
        }
    }.toSet
    assert(graph == expected,
      s"edge sets differ: only-graph=${(graph -- expected).take(5)} " +
        s"only-expected=${(expected -- graph).take(5)}")
  }

  test("IVF-blocked edges are the exact in-block top-k, never invented") {
    val base = corpus.filter(col("vec_id") >= 5)
    val rows = Similarity.knnGraphIvf(base, "vec_id", "vec",
        nCells = 8, k = K)
      .select("vec_id", "ivf_cell", "rank", "nbr_id", "cos")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // ground truth cosines from the independent all-pairs kernel
    val cosMap = Similarity.bruteForceScores(base, base, "vec_id", "vec_id",
        "vec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every returned cosine is the EXACT pair cosine (same codegen kernel
    // on both sides → bit equality)
    rows.foreach { case (id, _, _, nbr, cos) =>
      assert(cos == cosMap((id, nbr)), s"edge ($id,$nbr) cosine $cos inexact")
    }
    // block membership from the output (each source carries its cell; an
    // edge never crosses cells, so neighbours must agree with their own
    // source rows' cell)
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (id, cell, _, nbr, _) =>
      assert(cellOf(nbr) == cell, s"edge ($id,$nbr) crosses cells")
    }
    // per source, the returned (rank → nbr) is exactly the in-block top-K
    // under (cos desc, nbr_id) — blocking may MISS globally-closer
    // cross-cell vectors, but within the block ranking is exact
    val byCell = cellOf.keys.groupBy(cellOf).map { case (c, ids) => c -> ids.toSet }
    rows.groupBy(_._1).foreach { case (id, edges) =>
      val cell = cellOf(id)
      val expected = (byCell(cell) - id).toSeq
        .map(nbr => (nbr, cosMap((id, nbr))))
        .sortBy { case (nbr, cos) => (-cos, nbr) }
        .take(K).zipWithIndex
        .map { case ((nbr, cos), i) => (id, cell, i + 1, nbr, cos) }
      assert(edges.sortBy(_._3).toSeq == expected,
        s"in-block top-$K mismatch for $id")
    }
  }

  test("planted exact duplicate is each twin's rank-1 edge with cos 1") {
    import spark.implicits._
    // two identical vectors always share a cell (assignment is a pure
    // function of the vector), so the duplicate edge cannot be missed
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1)))
    } :+ (99L, Array.tabulate(8)(j => math.sin(7 * 8 + j + 1)))
    val df = vecs.toDF("vec_id", "vec")
    val edges = Similarity.knnGraphIvf(df, "vec_id", "vec", nCells = 4, k = 2)
      .filter(col("rank") === 1)
      .select("vec_id", "nbr_id", "cos")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(edges(7L)._1 == 99L && edges(7L)._2 > 0.999999,
      s"dup twin of 7 not found: ${edges.get(7L)}")
    assert(edges(99L)._1 == 7L && edges(99L)._2 > 0.999999,
      s"dup twin of 99 not found: ${edges.get(99L)}")
  }
}
