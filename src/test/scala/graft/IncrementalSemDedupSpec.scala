package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Incremental semantic dedup — [[Similarity.incrementalSemanticDedup]],
  * the maintained-index member of the embedding dedup family (v30).
  *
  * Pins the policy (a batch doc survives iff NO in-block index vector and
  * no EARLIER in-block batch doc reaches the threshold), the m6 seniority
  * contract (committed docs dominate regardless of id — arrival time, not
  * id, orders across the index/batch boundary), the re-delivery no-op,
  * and the equivalence with a scratch [[Similarity.semanticDedup]] run
  * whenever ids agree with arrival order (index ids all smaller) — on the
  * real fixture, so the claim is proven on data, not toys.
  */
class IncrementalSemDedupSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val th = 0.3

  import scala.jdk.CollectionConverters._
  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("blk",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))
  private def df(rows: (Long, String, Seq[Double])*): DataFrame =
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava,
      schema)

  private val u = Seq(1.0, 0.0, 0.0)
  private val uNear = Seq(0.9, 0.1, 0.0) // cos(u, uNear) ≈ 0.994
  private val w = Seq(0.0, 0.0, 1.0)     // orthogonal to u

  private def run(index: DataFrame, batch: DataFrame): Set[Long] =
    Similarity.incrementalSemanticDedup(index, batch, "id", "vec", "blk", th)
      .select("id").collect().map(_.getLong(0)).toSet

  test("index dominator drops a batch doc; orthogonal and cross-block survive") {
    val index = df((10L, "A", u))
    val batch = df((20L, "A", uNear), (21L, "A", w), (22L, "B", u))
    // 20 is dominated by index doc 10 (same block, cos ≈ 0.994); 21 is
    // orthogonal; 22 matches u but in a block the index has no vector in
    assert(run(index, batch) === Set(21L, 22L))
  }

  test("earlier batch doc wins within the batch") {
    val index = df((10L, "B", u)) // no block-A vectors committed
    val batch = df((1L, "A", u), (2L, "A", uNear))
    assert(run(index, batch) === Set(1L))
  }

  test("committed docs dominate regardless of id (the m6 seniority contract)") {
    val index = df((100L, "A", u)) // larger id than the batch doc
    val batch = df((5L, "A", uNear))
    // arrival order, not id order: the committed vector arrived first
    assert(run(index, batch) === Set.empty[Long])
  }

  test("re-delivered ids are dropped up front, not re-appended") {
    val index = df((10L, "A", u))
    // 10 re-arrives byte-identical (at-least-once source); 30 is fresh
    val batch = df((10L, "A", u), (30L, "B", w))
    assert(run(index, batch) === Set(30L))
    // full re-delivery of an already-committed batch appends nothing
    assert(run(index, df((10L, "A", u))) === Set.empty[Long])
  }

  test("fixture: incremental ≡ scratch semanticDedup when ids agree with arrival order") {
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"),
        col("label"))
    val cut = 250L // fixture ids are 0..n-1: index ids all below the cut
    val index = corpus.filter(col("vec_id") < cut)
      .select(col("vec_id").as("id"), col("label").as("blk"), col("vec"))
    val batch = corpus.filter(col("vec_id") >= cut)
      .select(col("vec_id").as("id"), col("label").as("blk"), col("vec"))
    val incremental = run(index, batch)
    // scratch: one semanticDedup over the union — with index ids all
    // smaller, "earlier" (smaller id) coincides with "committed first",
    // so the scratch survivors restricted to the batch must be identical
    val scratch = Similarity.semanticDedup(index.unionByName(batch),
        "id", "vec", "blk", th)
      .filter(col("id") >= cut)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(incremental === scratch)
    assert(incremental.nonEmpty, "vacuous fixture split")
  }

  test("v31 shape: IVF-cell-blocked drops justified by a real in-cell dominator under frozen centroids") {
    // the production block key (v31): centroids trained on the INDEX
    // slice and frozen; both sides assign under them; every cell-blocked
    // drop must have a real dominator — an index vector in its cell or
    // an earlier batch doc in its cell at round(cos,6) >= th
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val idxSlice = corpus.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.ivfCentroids(idxSlice, "vec_id", "vec", 16)
    def assigned(side: DataFrame): DataFrame =
      Similarity.assignTo(side, cents, "vec_id", "vec")
        .select(col("vec_id").as("id"), col("ivf_cell").as("blk"), col("vec"))
    val index = assigned(idxSlice)
    val batch = assigned(corpus.filter(col("vec_id") % 4 === 0))
    val survivors = Similarity
      .incrementalSemanticDedup(index, batch, "id", "vec", "blk", th)
      .select("id").collect().map(_.getLong(0)).toSet
    def rows(side: DataFrame): Array[(Long, Int, Array[Double])] =
      side.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val idxRows = rows(index)
    val batchRows = rows(batch)
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0 || nb == 0) Double.NaN
      else BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val dropped = batchRows.map(_._1).toSet -- survivors
    assert(dropped.nonEmpty, "vacuous: no cell-blocked drops at this SF")
    batchRows.filter(r => dropped(r._1)).foreach { case (id, cell, v) =>
      val fromIndex = idxRows.exists(i => i._2 == cell && {
        val c = cos6(i._3, v); !c.isNaN && c >= th
      })
      val fromEarlier = batchRows.exists(b => b._1 < id && b._2 == cell && {
        val c = cos6(b._3, v); !c.isNaN && c >= th
      })
      assert(fromIndex || fromEarlier,
        s"batch vec $id dropped without an in-cell dominator (cell $cell)")
    }
  }
}
