package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Incremental IVF maintenance ([[Similarity.ivfAppend]]): appending a
  * batch under the FROZEN centroids must equal assigning the union corpus
  * from scratch with those same centroids (postings set-equality), leave
  * every pre-existing posting untouched, be a no-op on re-delivery, keep
  * the occupancy account exact — and make the increment retrievable (a
  * full-depth probe returns each appended vector for itself at rank 1,
  * cos 1). */
class IvfAppendSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val NCells = 8
  private val NAssign = 2

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))

  private def base = corpus.filter(col("vec_id") >= 5 && col("vec_id") % 4 =!= 0)
  private def batch = corpus.filter(col("vec_id") >= 5 && col("vec_id") % 4 === 0)

  private def postingSet(idx: Similarity.IvfIndex): Set[(Long, Int)] =
    idx.postings.select(col("vec_id"), col("ivf_cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("append == scratch assignment of the union under the same centroids") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = NCells, nAssign = NAssign)
    val appended = Similarity.ivfAppend(idx, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    // independent leg: assign base ∪ batch in one pass against the SAME
    // frozen centroids — the from-scratch form of the same quantizer
    val scratch = Similarity.buildIvfIndex(base.unionByName(batch),
      "vec_id", "vec", nCells = NCells, nAssign = NAssign)
    // scratch re-derives centroids from the union, so compare via an
    // assignment with idx's centroids instead
    val unionAssign = idx.copy(postings = Similarity.ivfAppend(
      idx.copy(postings = idx.postings.limit(0)),
      base.unionByName(batch), nAssign = NAssign,
      nCellsHint = Some(NCells)).postings)
    assert(postingSet(appended) == postingSet(unionAssign))
    // sanity: the union-retrained index is a DIFFERENT quantizer in
    // general — the equality above is specifically about frozen centroids
    assert(scratch.postings.count() == appended.postings.count())
  }

  test("existing postings are byte-identical after the append") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = NCells, nAssign = NAssign)
    val appended = Similarity.ivfAppend(idx, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    val oldRows = appended.postings
      .join(base.select("vec_id"), Seq("vec_id"), "left_semi")
    assert(postingSet(idx.copy(postings = oldRows)) == postingSet(idx))
  }

  test("re-delivered batch is a no-op (first-seen guard)") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = NCells, nAssign = NAssign)
    val once = Similarity.ivfAppend(idx, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    val twice = Similarity.ivfAppend(once, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    assert(twice.postings.count() == once.postings.count())
    assert(postingSet(twice) == postingSet(once))
  }

  test("occupancy accounts for exactly nAssign postings per vector") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = NCells, nAssign = NAssign)
    val appended = Similarity.ivfAppend(idx, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    val total = Similarity.ivfOccupancy(appended)
      .agg(sum("n_postings")).collect()(0).getLong(0)
    val n = base.count() + batch.count()
    assert(total == NAssign * n,
      s"occupancy total $total != nAssign * n = ${NAssign * n}")
  }

  test("full-depth probe retrieves every appended vector for itself at rank 1") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = NCells, nAssign = NAssign)
    val appended = Similarity.ivfAppend(idx, batch, nAssign = NAssign,
      nCellsHint = Some(NCells))
    val self = Similarity.probeIvf(appended, batch, "vec_id",
        nProbe = NCells, k = 1)
      .filter(col("rank") === 1)
      .select("q_id", "c_id", "cos").collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"q ${r.getLong(0)} rank-1 hit is ${r.getLong(1)}, not itself")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("v28 wide open: sampled increment queries self-retrieve at rank 1") {
    val wide = graft.queries.VectorQ.ivfIncremental(spark, sf,
      nProbeOverride = Some(64))
    // increment queries are the sampled batch ids (>= 5, % 4 == 0);
    // vec_id 0/4 are standard OUT-OF-CORPUS query vectors, not batch rows
    val incSelf = wide.filter(col("q_id") >= 5 && col("q_id") % 4 === 0 &&
        col("rank") === 1)
      .select("q_id", "c_id").collect()
    assert(incSelf.nonEmpty)
    incSelf.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // determinism at production depth
    val a = graft.queries.VectorQ.ivfIncremental(spark, sf).collect().toSeq
    val b = graft.queries.VectorQ.ivfIncremental(spark, sf).collect().toSeq
    assert(a == b)
  }
}
