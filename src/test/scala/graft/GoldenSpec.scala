package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frozen goldens of the stateful (rows-only) queries on the deterministic
  * sf0.01 fixture (TESTDATA seed=42) — SURVEY.md §5.1: since these folds
  * have no SQL oracle, regenerated-once-and-frozen outputs are the
  * regression oracle. Any intentional semantic change must update these
  * numbers consciously. */
class GoldenSpec extends AnyFunSuite with SharedSpark {
  override protected def suiteConf =
    Seq("spark.sql.shuffle.partitions" -> "8")

  private val sf = "/root/testdata/sf0.01"

  test("T3 pair backtest golden: 930 trades, frozen total return") {
    val t = SparkEntry.queries("t3_pair_trades")(spark, sf)
    assert(t.count() == 930)
    // tolerance, not ==: partial-aggregate merge order can move the
    // unrounded sum by ~1 ulp across runs
    val s = t.agg(round(sum("ret"), 9)).collect().head.getDouble(0)
    assert(math.abs(s - 2077.777360612) < 1e-6)
  }

  test("T4 intraday backtest golden: blotter size, kind mix, roi sum") {
    // Re-frozen after the T5 composition (week blocks → block-local
    // normalization → 14:30-16:30 session → per-tick rebase): the session
    // filter shrinks the feed ~12× and positions can now carry across the
    // block gap, closing at not-yet-observed (NaN) prices — faithful
    // pandas behavior, counted explicitly here.
    val t = SparkEntry.queries("t4_intraday_trades")(spark, sf)
    val row = t.agg(
      count(lit(1)),
      count(when(isnan(col("roi")), 1)),
      round(sum(when(!isnan(col("roi")), col("roi"))), 9),
      count(when(col("kind") === "tp", 1)),
      count(when(col("kind") === "sl", 1)),
      count(when(col("kind") === "mc", 1))).collect().head
    assert(row.getLong(0) == 107)
    assert(row.getLong(1) == 23)
    assert(math.abs(row.getDouble(2) + 5.085651992) < 1e-6)
    assert((row.getLong(3), row.getLong(4), row.getLong(5)) == ((31L, 44L, 32L)))
  }

  test("T4 balance history golden: 683 session tick rows") {
    assert(SparkEntry.queries("t4_balance_history")(spark, sf).count() == 683)
  }

  test("trade report golden") {
    val r = SparkEntry.queries("r1_trade_report")(spark, sf).collect().head
    assert(r.getLong(0) == 107)
    assert(math.abs(r.getDouble(1) - 0.299065) < 1e-6)    // win rate
    assert(math.abs(r.getDouble(2) - 0.41443272) < 1e-6)  // avg profit
    assert(math.abs(r.getDouble(3) + 0.35283652) < 1e-6)  // avg loss
    assert(math.abs(r.getDouble(4) - 0.0) < 1e-6)         // mc share of losses
  }
}
