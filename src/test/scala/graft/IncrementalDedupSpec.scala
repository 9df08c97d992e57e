package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Incremental exact dedup (Dedup.incrementalDedup; query
  * x36_incremental_dedup): new-batch-vs-corpus survivors without
  * rescanning corpus bodies. */
class IncrementalDedupSpec extends AnyFunSuite with SharedSpark {
  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("survivors: first in-batch digest occurrence, unseen in corpus") {
    val corpus = df(Seq(1L -> "alpha", 2L -> "beta"))
    val batch = df(Seq(
      10L -> "alpha", // planted corpus dup -> dropped
      11L -> "gamma", // fresh -> survives
      12L -> "gamma", // in-batch dup of 11 -> dropped
      13L -> "delta")) // fresh -> survives
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(11L, 13L))
  }

  test("idempotence: re-running after appending survivors yields nothing") {
    val corpus = df(Seq(1L -> "alpha"))
    val batch = df(Seq(10L -> "gamma", 11L -> "delta"))
    val survivors = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
    val grown = corpus.unionByName(survivors.select("doc_id", "text"))
    assert(Dedup.incrementalDedup(grown, batch, "doc_id", "text").count() == 0)
  }

  test("corpus ∪ survivors stays digest-unique (the invariant each increment preserves)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val survivors = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
    assert(survivors.count() > 0)
    val union = corpus.select(md5(col("text")).as("digest"))
      .distinct() // corpus itself may hold dups; the INDEX is distinct
      .unionByName(survivors.select(col("digest")))
    assert(union.groupBy("digest").count().filter(col("count") > 1).count() == 0)
  }

  test("only digests shuffle: no Exchange carries the text column") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val out = Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 4 =!= 0),
      docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text").select("doc_id", "digest")
    val plan = out.queryExecution.executedPlan.toString
    // the corpus side projects md5(text) BELOW its exchange; with the
    // survivor projection pruned to (doc_id, digest) no shuffled row
    // carries document bodies
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"an exchange carries text:\n${exchanges.mkString("\n")}")
  }
}
