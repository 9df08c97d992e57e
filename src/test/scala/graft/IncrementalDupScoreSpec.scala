package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** The incremental corpus-overlap score (x55 — [[TextOps
  * .dupScoreAgainst]] over a maintained [[TextOps.ngramDf]] index):
  * batch scoring must equal the full x54 scan restricted to the batch,
  * the df-index merge must equal a scratch rebuild over the union, and
  * planted overlap must land in exactly the right bucket (index-vs-batch
  * AND batch-internal). */
class IncrementalDupScoreSpec extends AnyFunSuite with SharedSpark {
  private def score(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("planted overlap: index twin and batch twin caught, fresh text scores zero") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "zeta eta theta iota kappa").toDF("doc_id", "text")
    val idx = TextOps.ngramDf(corpus, "doc_id", "text")
    val batch = Seq(
      10L -> "alpha beta gamma delta epsilon", // verbatim re-crawl of 1
      11L -> "one two three four five",        // within-batch twin of 12
      12L -> "one two three four five",
      13L -> "wholly novel words only here").toDF("doc_id", "text")
    val got = score(TextOps.dupScoreAgainst(idx, batch, "doc_id", "text"))
    // 5 tokens → 3 distinct trigrams each
    assert(got == Set(
      (10L, 3L, 3L, 1.0), // every trigram in the index
      (11L, 3L, 3L, 1.0), // batch-internal duplication counts too
      (12L, 3L, 3L, 1.0),
      (13L, 3L, 0L, 0.0)))
  }

  test("incremental score == full x54 scan restricted to the batch (real corpus)") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val idx = TextOps.ngramDf(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text")
    val inc = score(TextOps.dupScoreAgainst(idx,
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text"))
    // the full-scan form (x54's shape) over everything, batch rows only
    val g = docs.withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.ngrams(col("toks"), 3))).as("ng"))
    val f = g.groupBy("ng").agg(count(lit(1)).as("ndocs"))
    val full = score(g.join(f, "ng")
      .filter(col("doc_id") % 4 === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share", round(col("n_dup") / col("n_ngrams"), 6)))
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("ngramDfMerge(ngramDf(A), ngramDf(B)) == ngramDf(A ∪ B) for disjoint docs") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val b = docs.filter(col("doc_id") % 4 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val merged = rows(TextOps.ngramDfMerge(
      TextOps.ngramDf(a, "doc_id", "text"),
      TextOps.ngramDf(b, "doc_id", "text")))
    val scratch = rows(TextOps.ngramDf(docs, "doc_id", "text"))
    assert(merged == scratch)
    assert(merged.nonEmpty)
  }

  test("ngramDfMergeSafe: folding the same batch twice ≡ folding it once (replay no-op inside the operator)") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val b = docs.filter(col("doc_id") % 4 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val idx0 = TextOps.ngramDf(a, "doc_id", "text")
    val seen0 = a.select(col("doc_id").as("id"))
    val (idx1, seen1) = TextOps.ngramDfMergeSafe(idx0, seen0, b,
      "doc_id", "text")
    // once ≡ scratch over the union (the raw-merge invariant holds)
    assert(rows(idx1) == rows(TextOps.ngramDf(docs, "doc_id", "text")))
    // at-least-once re-delivery: the SAME batch folds again as a no-op —
    // no caller-side guard involved
    val (idx2, seen2) = TextOps.ngramDfMergeSafe(idx1, seen1, b,
      "doc_id", "text")
    assert(rows(idx2) == rows(idx1))
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.getLong(0)).toSet
    assert(ids(seen2) == ids(seen1))
    // a PARTIALLY novel re-delivery folds ONLY the novel docs: replayed
    // b rows no-op, the re-keyed fresh rows (new ids) fold in
    val fresh = b.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 20000000000L)
    val (idx3, seen3) = TextOps.ngramDfMergeSafe(idx2, seen2,
      b.unionByName(fresh), "doc_id", "text")
    assert(rows(idx3) ==
      rows(TextOps.ngramDfMerge(idx1,
        TextOps.ngramDf(fresh, "doc_id", "text"))))
    assert(ids(seen3) == ids(seen2) ++ ids(fresh.select(col("doc_id"))))
  }
}
