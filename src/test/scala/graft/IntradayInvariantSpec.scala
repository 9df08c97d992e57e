package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §5.4 invariants of the T4 intraday backtest, checked on the
  * real fixture pipeline output (sf0.001). */
class IntradayInvariantSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private lazy val trades =
    SparkEntry.queries("t4_intraday_trades")(spark, sf).collect()
  private lazy val balances =
    SparkEntry.queries("t4_balance_history")(spark, sf)

  test("trade kinds are only tp/sl/mc and rois are finite") {
    assert(trades.nonEmpty)
    trades.foreach { r =>
      assert(Set("tp", "sl", "mc").contains(r.getString(2)))
      val roi = r.getDouble(3)
      assert(!roi.isNaN && !roi.isInfinite)
    }
  }

  test("balance changes only on ticks that closed or opened trades") {
    // balance history per company: between two consecutive ticks with no
    // trade event in between and no position delta, balance is constant
    // except at opens (both-legs accounting nets to 0 on open, so balance
    // moves ONLY on closes)
    val bal = balances.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val closesByCompanyTs = trades.map(r =>
      (r.getLong(0), r.getTimestamp(1))).toSet
    bal.groupBy(_._1).foreach { case (company, rows) =>
      rows.sortBy(_._2.getTime).sliding(2).foreach {
        case Array((_, _, b1), (_, ts2, b2)) =>
          if (math.abs(b2 - b1) > 1e-9)
            assert(closesByCompanyTs.contains((company, ts2)),
              s"company $company balance moved at $ts2 without a trade close")
        case _ =>
      }
    }
  }

  test("no position survives past the first tick after 16:29 (mc flush)") {
    // the reference runs price_check BEFORE the market-close flush
    // (IRA.py:53-59), so tp/sl can still fire AT the first tick past the
    // cutoff — but everything must be flat after it: all closes past
    // 16:29:00 of one (company, day) happen at one single tick.
    val cutoff = 16 * 3600 + 29 * 60
    trades
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .filter { case (_, ts) =>
        ts.toLocalDateTime.toLocalTime.toSecondOfDay > cutoff }
      .groupBy { case (c, ts) => (c, ts.toLocalDateTime.toLocalDate) }
      .foreach { case ((c, day), rows) =>
        assert(rows.map(_._2).distinct.length == 1,
          s"company $c closed past-cutoff trades at multiple ticks on $day")
      }
  }

  test("report aggregates are consistent with the blotter") {
    val rep = SparkEntry.queries("r1_trade_report")(spark, sf).collect().head
    assert(rep.getLong(0) == trades.length)
    val wins = trades.count(_.getDouble(3) > 0)
    assert(math.abs(rep.getDouble(1) - wins.toDouble / trades.length) < 1e-6)
  }
}
