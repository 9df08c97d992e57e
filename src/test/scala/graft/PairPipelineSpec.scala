package graft

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.backtest.{PairBacktest, PairBar}
import graft.functions.ProductAgg

/** SURVEY.md §7.2 vertical slice, golden end-to-end: the full DataFrame
  * pipeline (scan → ts join → unit scaling → delta → lag log-returns →
  * dropna → T3 fold → product aggregate) on a synthetic BRK-shaped pair,
  * compared against an independent plain-Scala replay of the notebook
  * algorithm (stock_arbitrage.ipynb cells 1-8). */
class PairPipelineSpec extends AnyFunSuite with SharedSpark {
  private val ratio = 1500.0
  private val buyAt = 0.005

  /** Mean-reverting synthetic pair: A ≈ 1500·B with an oscillating spread
    * that repeatedly crosses ±0.5% and reverts through 0. */
  private def quotes: Seq[(String, Timestamp, Double)] = {
    val rnd = new Random(2024)
    val day0 = 1136073600000L // 2006-01-01, mirroring the from-2006 slice
    (0 until 300).flatMap { t =>
      val ts = new Timestamp(day0 + t * 86400000L)
      val a = 450000.0 * (1 + 0.002 * math.sin(t / 11.0) + 0.001 * rnd.nextGaussian())
      val spread = 0.009 * math.sin(t / 5.0) + 0.002 * rnd.nextGaussian()
      val b = a / ratio * (1 + spread)
      Seq(("BRK-A", ts, a), ("BRK-B", ts, b))
    }
  }

  /** Plain-Scala replay of the notebook scan (arbitrage flag, open at next
    * row, exit on sign*delta <= 0, INCLUSIVE label-slice return sums). */
  private def replay(rows: IndexedSeq[(Timestamp, Double, Double, Double)])
      : List[(Timestamp, Timestamp, Double)] = {
    var trades = List.empty[(Timestamp, Timestamp, Double)]
    var arb = false; var sign = 0.0; var openIdx = -1
    var i = 0
    while (i < rows.length) {
      val (_, delta, _, _) = rows(i)
      if (!arb) {
        if (math.abs(delta) >= buyAt && i + 1 < rows.length) {
          sign = math.signum(delta); arb = true; openIdx = i + 1
        }
      } else if (i >= openIdx && sign * delta <= 0) {
        val slice = rows.slice(openIdx, i + 1) // inclusive [open..close]
        val ret = -sign * slice.map(_._4).sum + sign * slice.map(_._3).sum
        trades = (rows(openIdx)._1, rows(i)._1, ret) :: trades
        arb = false
      }
      i += 1
    }
    trades.reverse
  }

  test("DataFrame pipeline matches the notebook-algorithm replay exactly") {
    import spark.implicits._
    val q = quotes.toDF("ticker", "ts", "close")

    // pipeline: project legs, align on ts (A4), scale B by the unit ratio
    // (F4), delta (F5), per-leg log returns (F6/F7), dropna (P9)
    val a = q.filter($"ticker" === "BRK-A").select($"ts", $"close".as("ca"))
    val b = q.filter($"ticker" === "BRK-B")
      .select($"ts", ($"close" * ratio).as("cb"))
    val w = Window.orderBy("ts")
    val bars = a.join(b, "ts")
      .withColumn("delta", ($"cb" - $"ca") / $"cb")
      .withColumn("ret1", log($"ca" / lag($"ca", 1).over(w)))
      .withColumn("ret2", log($"cb" / lag($"cb", 1).over(w)))
      .na.drop(Seq("ret1", "ret2"))
      .select(lit("BRK").as("pair"), $"ts", $"delta", $"ret1", $"ret2")

    val got = PairBacktest.run(bars.as[PairBar], buyAt, fees = 0.0)
      .collect().sortBy(_.open_ts.getTime)
      .map(t => (t.open_ts, t.close_ts, t.ret))

    // independent replay over the same bar rows, computed driver-side
    val rows = bars.orderBy("ts").collect()
      .map(r => (r.getTimestamp(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toIndexedSeq
    val expect = replay(rows)

    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case ((go, gc, gr), (eo, ec, er)) =>
      assert(go == eo && gc == ec)
      assert(math.abs(gr - er) < 1e-9)
    }

    // total compounded return: product(exp(ret)) via the exact Aggregator
    val total = PairBacktest.run(bars.as[PairBar], buyAt, fees = 0.0)
      .select(ProductAgg.product(exp($"ret")).as("total"))
      .collect().head.getDouble(0)
    val expTotal = expect.map(t => math.exp(t._3)).product
    assert(math.abs(total - expTotal) < 1e-9)
  }
}
