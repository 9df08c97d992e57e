package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.streaming.{CandPair, StreamNearDup}

/** One row of the near-dup firehose (top-level for the encoder). */
case class NdDoc(doc_id: Long, text: String)

/** Streaming near-dup candidate detection: the same MinHash+LSH bucket
  * semantics as the batch x7 operator, proven (a) batch-degenerate ≡
  * Dedup.minHashCandidates, (b) cross-micro-batch detection against stored
  * bucket state, (c) bounded-state cap behavior. */
class StreamNearDupSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val K = 32
  private val B = 16

  private def batchPairs(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
    val shingled = docs
      .withColumn("toks", graft.ext.TextOps.tokens(col("text")))
      .select(col("doc_id"), graft.ext.TextOps.shingles(col("toks"), 3).as("sh"))
    Dedup.minHashCandidates(shingled, "doc_id", "sh", k = K, bands = B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("batch-degenerate pipeline emits exactly the batch operator's candidates") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val streamed = StreamNearDup.candidates(docs, K, B)
      .toDF().dropDuplicates("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = batchPairs(docs)
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}; batch-only: ${batch.diff(streamed).take(5)}")
    assert(batch.nonEmpty, "fixture produced no candidate pairs — test is vacuous")
  }

  test("cross-batch near-dups are caught against stored bucket state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val originals = Tables.documents(spark, sf).select("doc_id", "text")
      .as[NdDoc].collect().sortBy(_.doc_id)
    // plant near-dups arriving LATER than their twins: an exact copy and a
    // one-token perturbation of the first (long enough) document
    val base = originals.maxBy(_.text.length)
    val exactCopy = NdDoc(900001L, base.text)
    val perturbed = NdDoc(900002L, base.text + " zz9")

    val input = MemoryStream[NdDoc]
    val q = StreamNearDup.candidates(input.toDF(), K, B)
      .writeStream.format("memory").queryName("nd_pairs")
      .outputMode("update").start()
    try {
      input.addData(originals.take(originals.length / 2))
      q.processAllAvailable()
      input.addData(originals.drop(originals.length / 2))
      q.processAllAvailable()
      input.addData(Seq(exactCopy, perturbed))
      q.processAllAvailable()

      val streamed = spark.table("nd_pairs").as[CandPair].collect()
        .map(p => (p.id1, p.id2, p.est_jaccard)).toSet
      // the exact copy must pair with its original at full signature
      // agreement, across a micro-batch boundary
      assert(streamed.contains((base.doc_id, 900001L, 1.0)),
        s"exact cross-batch copy of ${base.doc_id} not detected")
      // distinct pairs equal the batch operator over the union corpus
      val union = (originals ++ Seq(exactCopy, perturbed)).toSeq
        .toDF("doc_id", "text")
      assert(streamed == batchPairs(union))
    } finally q.stop()
  }

  test("at-least-once redelivery: no duplicate pairs, no wasted rep slots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = NdDoc(1L, "alpha beta gamma delta epsilon zeta eta theta")
    val b = NdDoc(2L, "alpha beta gamma delta epsilon zeta eta iota")
    val input = MemoryStream[NdDoc]
    val q = StreamNearDup.candidates(input.toDF(), K, B)
      .writeStream.format("memory").queryName("nd_redeliver")
      .outputMode("update").start()
    try {
      input.addData(Seq(a, b))
      q.processAllAvailable()
      val firstDelivery = spark.table("nd_redeliver").count()
      assert(firstDelivery > 0, "fixture docs failed to pair at all")
      input.addData(Seq(a)) // the source re-delivers doc 1
      q.processAllAvailable()
      input.addData(Seq(b)) // and doc 2
      q.processAllAvailable()
      // redeliveries emit NOTHING: the docs are already stored reps, so
      // re-pairing (and re-appending a duplicate state entry) is skipped
      val after = spark.table("nd_redeliver").count()
      assert(after == firstDelivery,
        s"redelivery emitted ${after - firstDelivery} duplicate pairs")
    } finally q.stop()
  }

  test("bucket cap freezes representatives but keeps detecting") {
    import spark.implicits._
    // 6 identical docs, cap = 1: everyone pairs against the frozen first
    // rep only → exactly n-1 distinct pairs, not n(n-1)/2
    val docs = (1L to 6L)
      .map(i => NdDoc(i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = StreamNearDup.candidates(docs, K, B, maxBucketReps = 1)
      .toDF().dropDuplicates("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (2L to 6L).map(i => (1L, i)).toSet)
  }
}
