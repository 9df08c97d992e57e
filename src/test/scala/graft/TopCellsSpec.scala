package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native fused TopCells / TopCellsTree expressions (r16) vs the
  * composable `slice(array_sort(transform(…)))` folds they replaced in
  * [[graft.ext.Similarity.assignTo]] / `assignWithTree`: identical picks
  * (values AND order) on random vectors, zero-norm centroids, exact
  * ties, ±0.0 cosines, null vectors, and empty centroid sets. */
class TopCellsSpec extends AnyFunSuite with SharedSpark {
  /** The pre-r16 composable flat pick, verbatim (cell values out). */
  private def composedPicks(vecCol: org.apache.spark.sql.Column,
                            n: Int): org.apache.spark.sql.Column =
    transform(
      slice(array_sort(transform(col("__cents"), c =>
        struct((-coalesce(graft.ext.Similarity.cosine(vecCol,
            c.getField("c_vec")), lit(-2.0))).as("nsim"),
          c.getField("ivf_cell").as("cell")))), 1, n),
      p => p.getField("cell"))

  private def checkFlat(vecs: Seq[(Long, Seq[java.lang.Double])],
                        cents: Seq[(Int, Seq[Double])], n: Int): Unit = {
    import spark.implicits._
    val corpus = vecs.toDF("id", "vec")
    val packed = cents.toDF("ivf_cell", "c_vec")
      .agg(collect_list(struct(col("ivf_cell"), col("c_vec"))).as("__cents"))
    val got = corpus.crossJoin(broadcast(packed))
      .select(col("id"),
        graft.functions.TopCells.top_cells(col("vec"), col("__cents"), n)
          .as("native"),
        composedPicks(col("vec"), n).as("composed"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"flat mismatch at id=${r.getLong(0)}: " +
          s"native=${r.getSeq[Int](1)} composed=${r.getSeq[Int](2)}")
    }
  }

  test("flat parity on random vectors, several n") {
    val rnd = new Random(13)
    val dim = 8
    val cents = (0 until 37).map(c =>
      (c, Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(java.lang.Double.valueOf(rnd.nextDouble() * 2 - 1))))
    Seq(1, 2, 5, 37, 50).foreach(n => checkFlat(vecs, cents, n))
  }

  test("flat parity on degenerate inputs: zero norms, nulls, ties, +-0.0") {
    val z = java.lang.Double.valueOf(0.0)
    val one = java.lang.Double.valueOf(1.0)
    val neg = java.lang.Double.valueOf(-1.0)
    val cents = Seq(
      (3, Seq(0.0, 0.0)),            // zero norm → cos NULL → nsim 2.0
      (1, Seq(1.0, 0.0)),
      (2, Seq(1.0, 0.0)),            // exact tie with cell 1 → cell order
      (4, Seq(0.0, 1.0)),            // orthogonal → cos 0.0 → nsim -0.0
      (5, Seq(0.0, -1.0)))           // anti-orthogonal on dim 2
    val vecs = Seq(
      (0L, Seq(one, z)),             // ties cells 1,2; orthogonal 4,5
      (1L, Seq(z, z)),               // zero-norm query → all nsim 2.0
      (2L, null.asInstanceOf[Seq[java.lang.Double]]), // null vec
      (3L, Seq(neg, z)))
    Seq(1, 3, 5, 9).foreach(n => checkFlat(vecs, cents, n))
  }

  test("empty centroid set: both forms yield empty picks (row dropped)") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
    val packed = Seq.empty[(Int, Seq[Double])].toDF("ivf_cell", "c_vec")
      .agg(collect_list(struct(col("ivf_cell"), col("c_vec"))).as("__cents"))
    val got = corpus.crossJoin(broadcast(packed))
      .select(
        graft.functions.TopCells.top_cells(col("vec"), col("__cents"), 2)
          .as("native"))
      .collect()
    assert(got.head.getSeq[Int](0).isEmpty)
    // and through assignTo: the row disappears, like explode of empty
    val out = graft.ext.Similarity.assignTo(corpus,
      Seq.empty[(Int, Seq[Double])].toDF("ivf_cell", "c_vec"), "id", "vec")
    assert(out.count() == 0)
  }

  test("tree parity: assignToHier with full coarse probe equals flat assignTo") {
    import spark.implicits._
    val rnd = new Random(29)
    val dim = 6
    val cents = (0 until 25).map(c =>
      (c, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("ivf_cell", "c_vec")
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("id", "vec")
    // nProbeCoarse >= nCoarse → exact equality with the flat pick
    val flat = graft.ext.Similarity.assignTo(corpus, cents, "id", "vec",
        nAssign = 2)
      .select("id", "ivf_cell").collect().map(r => (r.getLong(0), r.getInt(1)))
      .sorted.toSeq
    val hier = graft.ext.Similarity.assignToHier(corpus, cents, "id", "vec",
        nAssign = 2, nProbeCoarse = 25)
      .select("id", "ivf_cell").collect().map(r => (r.getLong(0), r.getInt(1)))
      .sorted.toSeq
    assert(flat == hier)
  }
}
