package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Attribute-filtered similarity search (Similarity.filteredTopK; query
  * v17_filtered_topk): pre-filter semantics, the post-filter failure mode
  * it exists to avoid, and the equi-join (not cross-join) plan. */
class FilteredSearchSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"),
      col("label"))

  private def queries = corpus.filter(col("vec_id") < 5)
  private def base = corpus.filter(col("vec_id") >= 5)

  test("pre-filter returns a full k per query, all from the query's label") {
    val out = Similarity.filteredTopK(queries, base, "vec_id", "vec_id",
      "vec", "label", k = 10)
    val perQ = out.groupBy("q_id").count().collect().map(_.getLong(1))
    assert(perQ.length == 5 && perQ.forall(_ == 10),
      "every fixture label holds >= 10 corpus vectors, so k must fill")
    // every hit shares the query's label (re-join to the base table)
    val mislabeled = out.join(
        base.select(col("vec_id").as("c_id"), col("label").as("c_label")),
        "c_id")
      .filter(col("label") =!= col("c_label"))
    assert(mislabeled.count() == 0)
  }

  test("parity with brute force over the manually pre-filtered corpus") {
    val q0 = queries.orderBy("vec_id").limit(1)
    val lbl = q0.collect()(0).getInt(2)
    val expect = Similarity.bruteForceTopK(q0,
        base.filter(col("label") === lbl), "vec_id", "vec_id", "vec", k = 10)
      .select("q_id", "rank", "c_id").collect().toSeq
    val got = Similarity.filteredTopK(q0, base, "vec_id", "vec_id", "vec",
        "label", k = 10)
      .select("q_id", "rank", "c_id").collect().toSeq
    assert(got == expect)
  }

  test("post-filtering a global top-k loses results (why pre-filter exists)") {
    // global top-10 then keep same-label: with 10 labels the expected
    // survivor count is ~1 per query — strictly fewer than k for all
    val global = Similarity.bruteForceTopK(queries, base, "vec_id",
        "vec_id", "vec", k = 10)
      .join(queries.select(col("vec_id").as("q_id"), col("label")), "q_id")
      .join(base.select(col("vec_id").as("c_id"),
        col("label").as("c_label")), "c_id")
      .filter(col("label") === col("c_label"))
    val survivors = global.groupBy("q_id").count().collect()
      .map(r => r.getLong(1))
    assert(survivors.isEmpty || survivors.forall(_ < 10),
      s"post-filter should lose results vs k=10, got ${survivors.toSeq}")
    // while the pre-filter always fills k (previous test) — the gap IS
    // the recall hole post-filtering opens
  }

  test("filtered IVF probe: label purity, exactness at nProbe = nCells") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec", nCells = 8,
      nAssign = 1, keepCols = Seq("label"))
    assert(idx.postings.columns.contains("label"),
      "keepCols must ride metadata into the postings")
    // probing EVERY cell makes the filtered probe bit-identical to the
    // exact filtered top-k (same rank, same ids)
    val full = Similarity.probeIvfFiltered(idx, queries, "vec_id", "label",
        nProbe = 8, k = 10)
      .select("q_id", "rank", "c_id").orderBy("q_id", "rank").collect().toSeq
    val exact = Similarity.filteredTopK(queries, base, "vec_id", "vec_id",
        "vec", "label", k = 10)
      .select("q_id", "rank", "c_id").orderBy("q_id", "rank").collect().toSeq
    assert(full == exact, "filtered probe at nProbe=nCells must equal exact")
    // pruned probe: every hit still shares the query's label and recall
    // is non-trivial
    val pruned = Similarity.probeIvfFiltered(idx, queries, "vec_id",
      "label", nProbe = 3, k = 10)
    val wrong = pruned.join(
        base.select(col("vec_id").as("c_id"), col("label").as("cl")), "c_id")
      .filter(col("label") =!= col("cl")).count()
    assert(wrong == 0)
    val recall = pruned.select("q_id", "c_id")
      .join(Similarity.filteredTopK(queries, base, "vec_id", "vec_id",
        "vec", "label", k = 10).select("q_id", "c_id"), Seq("q_id", "c_id"))
      .count().toDouble / exact.size
    assert(recall >= 0.3, s"filtered-probe recall too low: $recall")
    idx.centroids.unpersist()
  }

  test("filtered probe without keepCols fails fast") {
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec", nCells = 8)
    intercept[IllegalArgumentException] {
      Similarity.probeIvfFiltered(idx, queries, "vec_id", "label", 2, 10)
    }
    idx.centroids.unpersist()
  }

  test("candidate generation is an equi-join on label, not a cross join") {
    val p = Similarity.filteredTopK(queries, base, "vec_id", "vec_id",
      "vec", "label", k = 10).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"filtered search must not cross-join:\n$p")
  }
}
