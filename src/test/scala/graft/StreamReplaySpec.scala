package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.backtest._
import graft.queries.ReplayQ

/** §2.10 end-to-end on the reference-shaped fixture: the COMPOSED T5 feed
  * (week blocks → alignment → normalization → session filter → rebase)
  * streamed per block through `flatMapGroupsWithState` must emit the same
  * trades and balances as the batch fold — the real-data upgrade of
  * IntradayStreamSpec's synthetic scenario. Block boundaries are exactly
  * where open positions carry over in the state store, so feeding one
  * micro-batch per block exercises the snapshot/restore path on every
  * seam the reference's driver loop has. */
class StreamReplaySpec extends AnyFunSuite with SharedSpark {
  override protected def suiteConf =
    Seq("spark.sql.shuffle.partitions" -> "8")

  private val params = (1000.0, 0.1, 0.03, 0.01, 0.1, true)

  test("composed replay feed: streaming per week block equals the batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bal, md, sl, tr, sz, pct) = params

    // keep it fast: 8 of the 40 companies, full six blocks
    val ticks = graft.backtest.IntradayPipeline.companyTicks(
        ReplayQ.intradayQuotes(spark).filter(org.apache.spark.sql.functions.col("company") < 8),
        Some(spark.read.parquet(s"${ReplayQ.fixDir}/fx_5m.parquet")),
        ReplayQ.refBlocks(spark))
      .collect().sortBy(t => (t.company, t.ts.getTime))
    assert(ticks.nonEmpty)

    val batch = IntradayBacktest.run(ticks.toSeq.toDS(), bal, md, sl, tr, sz, pct)
      .collect().map(e => (e.company, e.ts.getTime, e.kind, e.roi, e.balance))
      .sortBy(e => (e._1, e._2, e._3, e._4))

    val blockStarts = RefFixtureGen.Blocks.map(_._1.toEpochDay * 86400000L)
    def blockOf(ms: Long): Int =
      blockStarts.lastIndexWhere(_ <= ms)

    val input = MemoryStream[CompanyTick]
    val q = IntradayStream.run(input.toDS(), bal, md, sl, tr, sz, pct)
      .writeStream.format("memory").queryName("replay_stream")
      .outputMode("append").start()
    try {
      RefFixtureGen.Blocks.indices.foreach { b =>
        input.addData(ticks.filter(t => blockOf(t.ts.getTime) == b).toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("replay_stream").as[IntradayEvent]
        .collect().map(e => (e.company, e.ts.getTime, e.kind, e.roi, e.balance))
        .sortBy(e => (e._1, e._2, e._3, e._4))
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      // the replay slice must actually trade across a block seam for the
      // carry-over claim to mean anything
      assert(batch.exists(_._3 != "bal"), "slice should contain trades")
    } finally q.stop()
  }
}
