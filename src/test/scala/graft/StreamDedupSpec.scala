package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DocEvent, KeptDoc, StreamDedup, TimedDocEvent}

/** Streaming exact dedup: a digest must be emitted exactly once no matter
  * how duplicates are spread across micro-batches, and the surviving set
  * must agree with the batch keep-first form. */
class StreamDedupSpec extends AnyFunSuite with SharedSpark {
  test("each digest emitted once across micro-batches; agrees with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // fixture docs have no exact dups — plant them: every doc reappears
    // in a later batch under a shifted id (and one in the SAME batch)
    val originals = StreamDedup.digested(
        Tables.documents(spark, "/root/testdata/sf0.001").limit(60))
      .as[DocEvent].collect()
    val shifted = originals.map(d => DocEvent(d.doc_id + 100000L, d.digest))
    val sameBatchDup = originals.take(5).map(d => DocEvent(d.doc_id + 200000L, d.digest))

    val input = MemoryStream[DocEvent]
    val q = StreamDedup.streamKeepFirst(input.toDS())
      .writeStream.format("memory").queryName("kept")
      .outputMode("update").start()
    try {
      input.addData(originals.take(40) ++ sameBatchDup)
      q.processAllAvailable()
      input.addData(shifted ++ originals.drop(40)) // 40 dups + 20 new
      q.processAllAvailable()
      input.addData(shifted) // everything a dup
      q.processAllAvailable()

      val kept = spark.table("kept").as[KeptDoc].collect()
      // exactly one emission per distinct digest
      assert(kept.length == originals.map(_.digest).distinct.length)
      assert(kept.map(_.digest).distinct.length == kept.length)
      // first-arrival wins: originals all arrived before their shifted
      // twins, and same-batch dups resolve to the min id in the batch
      assert(kept.forall(_.doc_id < 100000L))

      // agreement with the batch form on the full union
      val all = (originals ++ shifted ++ sameBatchDup).toSeq.toDF("doc_id", "digest")
      val batch = StreamDedup.batchKeepFirst(all)
        .as[KeptDoc].collect().map(k => k.digest -> k.doc_id).toMap
      kept.foreach(k => assert(batch(k.digest) == k.doc_id))
    } finally q.stop()
  }

  test("horizon-bounded dedup: suppress within horizon, evict + re-emit after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, digest: String, minute: Long) =
      TimedDocEvent(id, digest, new java.sql.Timestamp(minute * 60000L))

    val input = MemoryStream[TimedDocEvent]
    val q = StreamDedup.streamKeepFirstBounded(input.toDS(),
        horizon = java.time.Duration.ofMinutes(30))
      .writeStream.format("memory").queryName("kept_bounded")
      .outputMode("update").start()
    try {
      // batch 1: A and B first seen at t=60 (strictly above the initial
      // watermark of 0 — rows AT the watermark are dropped as late)
      input.addData(ev(1, "A", 60), ev(2, "B", 60))
      q.processAllAvailable()
      // batch 2: duplicate of A at t=70 (inside horizon) → suppressed,
      // and the sighting extends A's horizon to t=100
      input.addData(ev(3, "A", 70), ev(4, "C", 70))
      q.processAllAvailable()
      // batch 3: t=160 advances the watermark far past every expiry
      // (A@100, B@90, C@100) → all state evicted
      input.addData(ev(5, "D", 160))
      q.processAllAvailable()
      // batch 4: A returns after its horizon expired → RE-emitted
      // (bounded memory means bounded forgetting — by design)
      input.addData(ev(6, "A", 161))
      q.processAllAvailable()

      val kept = spark.table("kept_bounded").as[KeptDoc].collect()
        .map(k => (k.doc_id, k.digest)).toSet
      assert(kept == Set((1L, "A"), (2L, "B"), (4L, "C"), (5L, "D"), (6L, "A")),
        s"got $kept")
    } finally q.stop()
  }
}
