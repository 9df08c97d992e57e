package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.backtest._

/** The T4 engine run as a Structured Streaming job must emit exactly the
  * same events as the batch fold over the same ticks — even when the feed
  * arrives split across micro-batches (state snapshots carry open
  * positions over the batch boundary). */
class IntradayStreamSpec extends AnyFunSuite with SharedSpark {
  private val base = 1704100000000L
  private def tick(company: Long, i: Int, rets: Seq[Double], prices: Seq[Double],
                   sec: Int = 12 * 3600) =
    CompanyTick(company, new Timestamp(base + i * 300000L), sec, prices, rets)

  // a scenario with open, tp close, re-open, and market-close flush,
  // for two independent companies
  private def ticks: Seq[CompanyTick] = (0 until 2).flatMap { c =>
    Seq(
      tick(c, 0, Seq(0.05, 0.02), Seq(10.0, 20.0, 30.0)),  // flat, no signal
      tick(c, 1, Seq(0.2, 0.05), Seq(10.0, 20.0, 30.0)),   // open idx0
      tick(c, 2, Seq(0.15, 0.0), Seq(10.0, 21.0, 30.0)),   // hold
      tick(c, 3, Seq(0.005, 0.0), Seq(10.0, 22.0, 30.0)),  // tp close
      tick(c, 4, Seq(0.3, 0.25), Seq(10.0, 20.0, 30.0)),   // open both
      tick(c, 5, Seq(0.3, 0.25), Seq(10.0, 20.0, 30.0),
        sec = 16 * 3600 + 30 * 60)                          // mc flush
    )
  }

  private val params = (1000.0, 0.1, 0.03, 0.01, 0.1, true)

  test("streaming (chunked micro-batches) equals the batch fold event-for-event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bal, md, sl, tr, sz, pct) = params

    val batch = IntradayBacktest.run(ticks.toDS(), bal, md, sl, tr, sz, pct)
      .collect().map(e => (e.company, e.ts.getTime, e.kind, e.roi, e.balance))
      .sortBy(e => (e._1, e._2, e._3))

    val input = MemoryStream[CompanyTick]
    val q = IntradayStream.run(input.toDS(), bal, md, sl, tr, sz, pct)
      .writeStream.format("memory").queryName("intraday_stream")
      .outputMode("append").start()
    try {
      // feed in three chunks, splitting mid-trade (tick 2/3 boundary)
      val chunks = ticks.groupBy(_.company).values.toSeq
      input.addData(chunks.flatMap(_.take(3)))
      q.processAllAvailable()
      input.addData(chunks.flatMap(_.slice(3, 5)))
      q.processAllAvailable()
      input.addData(chunks.flatMap(_.drop(5)))
      q.processAllAvailable()
      val streamed = spark.table("intraday_stream").as[IntradayEvent]
        .collect().map(e => (e.company, e.ts.getTime, e.kind, e.roi, e.balance))
        .sortBy(e => (e._1, e._2, e._3))
      assert(streamed.length == batch.length && batch.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      // sanity: the scenario exercised tp AND mc closes
      val kinds = batch.map(_._3).toSet
      assert(kinds.contains("tp") && kinds.contains("mc"))
    } finally q.stop()
  }
}
