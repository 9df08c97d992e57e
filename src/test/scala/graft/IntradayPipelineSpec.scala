package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.backtest.IntradayPipeline

/** Hand-computed traces of the composed T5 feed (VERDICT round 1 item 2):
  * block-local normalization, inclusive session bounds, pandas
  * reindex-not-asof FX semantics, NaN propagation for missing data, and
  * the base-listing eligibility guard. */
class IntradayPipelineSpec extends AnyFunSuite with SharedSpark {
  private def ts(s: String) = Timestamp.valueOf(s)

  private def quotesDf(rows: Seq[(Long, Int, Boolean, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (c, l, cv, t, p) => (c, l, cv, ts(t), p) }
      .toDF("company", "listing", "convert", "ts", "price")
  }

  private def blocksDf(rows: Seq[(Int, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (b, a, z) => (b, ts(a + " 00:00:00"), ts(z + " 00:00:00")) }
      .toDF("block", "start", "stop")
  }

  private val twoBlocks = blocksDf(Seq(
    (0, "2024-01-01", "2024-01-06"), (1, "2024-01-10", "2024-01-13")))

  test("normalization is block-local: a 10x level shift between blocks does not leak") {
    // listing 0: 100/200/300 in block 0, 1000/2000/3000 in block 1 — each
    // block normalizes to 0/.5/1 on its own min-max; whole-history
    // normalization would put block 1 at ~0.31/0.66/1.
    // listing 1: 10/30/20 then 100/300/200 → block-local norm 0/1/.5.
    val q = quotesDf(Seq(
      (1L, 0, false, "2024-01-01 15:00:00", 100.0),
      (1L, 0, false, "2024-01-01 15:05:00", 200.0),
      (1L, 0, false, "2024-01-01 15:10:00", 300.0),
      (1L, 1, false, "2024-01-01 15:00:00", 10.0),
      (1L, 1, false, "2024-01-01 15:05:00", 30.0),
      (1L, 1, false, "2024-01-01 15:10:00", 20.0),
      (1L, 0, false, "2024-01-10 15:00:00", 1000.0),
      (1L, 0, false, "2024-01-10 15:05:00", 2000.0),
      (1L, 0, false, "2024-01-10 15:10:00", 3000.0),
      (1L, 1, false, "2024-01-10 15:00:00", 100.0),
      (1L, 1, false, "2024-01-10 15:05:00", 300.0),
      (1L, 1, false, "2024-01-10 15:10:00", 200.0)))
    val out = IntradayPipeline.companyTicks(q, None, twoBlocks)
      .collect().map(t => t.ts -> t).toMap
    // ret = n1/n0 - 1 at the block-local norms: 15:05 → 1/.5-1 = 1.0,
    // 15:10 → .5/1-1 = -0.5 — identical in BOTH blocks only if block-local
    assert(math.abs(out(ts("2024-01-01 15:05:00")).returns.head - 1.0) < 1e-12)
    assert(math.abs(out(ts("2024-01-10 15:05:00")).returns.head - 1.0) < 1e-12)
    assert(math.abs(out(ts("2024-01-10 15:10:00")).returns.head + 0.5) < 1e-12)
    // at each block's first tick both norms are 0 → 0/0 → NaN (pandas)
    assert(out(ts("2024-01-10 15:00:00")).returns.head.isNaN)
    // prices stay RAW (normalization feeds returns only)
    assert(out(ts("2024-01-10 15:05:00")).prices == Seq(2000.0, 300.0))
  }

  test("session filter is 14:30-16:30 inclusive both ends") {
    val q = quotesDf(Seq("14:25:00", "14:30:00", "15:30:00", "16:30:00", "16:35:00")
      .zipWithIndex.flatMap { case (t, i) => Seq(
        (1L, 0, false, s"2024-01-02 $t", 100.0 + i),
        (1L, 1, false, s"2024-01-02 $t", 50.0 + i)) })
    val times = IntradayPipeline.companyTicks(q, None, twoBlocks)
      .collect().map(_.ts.toString.substring(11, 19)).sorted.toSeq
    assert(times == Seq("14:30:00", "15:30:00", "16:30:00"))
  }

  test("FX applies pandas reindex semantics: off-grid FX ticks are dropped, on-grid ffilled") {
    import spark.implicits._
    // grid ticks 15:00/15:05/15:10; FX at 15:00 (2.0) and 15:03 (3.0, off
    // grid → dropped by reindex — an as-of join would wrongly attach it to
    // 15:05); no FX at/before 15:10 besides → ffill carries 2.0
    val q = quotesDf(Seq(
      (1L, 0, false, "2024-01-02 15:00:00", 100.0),
      (1L, 0, false, "2024-01-02 15:05:00", 100.0),
      (1L, 0, false, "2024-01-02 15:10:00", 100.0),
      (1L, 1, true, "2024-01-02 15:00:00", 10.0),
      (1L, 1, true, "2024-01-02 15:05:00", 20.0),
      (1L, 1, true, "2024-01-02 15:10:00", 30.0)))
    val fx = Seq((ts("2024-01-02 15:00:00"), 2.0), (ts("2024-01-02 15:03:00"), 3.0))
      .toDF("ts", "rate")
    val out = IntradayPipeline.companyTicks(q, Some(fx), twoBlocks)
      .collect().map(t => t.ts -> t.prices).toMap
    assert(out(ts("2024-01-02 15:00:00")) == Seq(100.0, 20.0))
    assert(out(ts("2024-01-02 15:05:00")) == Seq(100.0, 40.0)) // 20*2.0, NOT 20*3.0
    assert(out(ts("2024-01-02 15:10:00")) == Seq(100.0, 60.0))
  }

  test("a listing absent from a block is NaN there (ffill restarts per block) and opens nothing") {
    val q = quotesDf(Seq(
      (1L, 0, false, "2024-01-02 15:00:00", 100.0),
      (1L, 0, false, "2024-01-02 15:05:00", 200.0),
      (1L, 1, false, "2024-01-02 15:00:00", 10.0),
      (1L, 1, false, "2024-01-02 15:05:00", 20.0),
      // block 1: only the base trades
      (1L, 0, false, "2024-01-10 15:00:00", 100.0),
      (1L, 0, false, "2024-01-10 15:05:00", 200.0)))
    val out = IntradayPipeline.companyTicks(q, None, twoBlocks)
      .collect().map(t => t.ts -> t).toMap
    val b1 = out(ts("2024-01-10 15:05:00"))
    assert(b1.prices.head == 200.0 && b1.prices(1).isNaN)
    assert(b1.returns.head.isNaN)
    // NaN comparisons are all false → the engine can never open on it
    val eng = new graft.backtest.IntradayEngine(1000.0, 0.1, 0.03, 0.01, 0.1, true)
    assert(eng.dataFeed(b1.sec_of_day, b1.returns, b1.prices).isEmpty && !eng.inTrade)
  }

  test("companies without a base listing are dropped (engine arity guard)") {
    val q = quotesDf(Seq(
      (1L, 0, false, "2024-01-02 15:00:00", 100.0),
      (1L, 1, false, "2024-01-02 15:00:00", 10.0),
      (2L, 1, false, "2024-01-02 15:00:00", 10.0),
      (2L, 2, false, "2024-01-02 15:00:00", 20.0)))
    val companies = IntradayPipeline.companyTicks(q, None, twoBlocks)
      .collect().map(_.company).distinct.toSeq
    assert(companies == Seq(1L))
  }
}
