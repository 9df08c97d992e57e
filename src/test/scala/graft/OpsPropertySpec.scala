package graft

import java.sql.Timestamp
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TimeSeries
import graft.backtest.{PairBacktest, PairBar}

/** Property tests from SURVEY.md §5.4: invariants of the wrangling core
  * and the T3 state machine over seeded random series (deterministic). */
class OpsPropertySpec extends AnyFunSuite with SharedSpark {
  private def seriesDF(xs: List[Option[Double]]) = {
    import spark.implicits._
    xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("key", "ord", "v")
  }

  test("ffill: idempotent; no nulls after first non-null; prefix nulls survive") {
    val rnd = new Random(42)
    (1 to 8).foreach { _ =>
      val xs = List.fill(12)(
        if (rnd.nextBoolean()) Some(rnd.nextDouble() * 200 - 100) else None)
      val once = TimeSeries.ffill(seriesDF(xs), Seq("key"), Seq("ord"), "v", "f")
      val got = once.orderBy("ord").select("f").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
      val expect = xs.scanLeft(Option.empty[Double])((acc, x) => x.orElse(acc)).tail
      assert(got == expect)
      val twice = TimeSeries.ffill(once, Seq("key"), Seq("ord"), "f", "f2")
        .orderBy("ord").select("f2").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
      assert(twice == got)
    }
  }

  test("min-max normalize: output in [0,1]; invariant under positive affine scale") {
    val rnd = new Random(7)
    def normed(vals: List[Double]): List[Option[Double]] =
      TimeSeries.minMaxNormalize(seriesDF(vals.map(Some(_))), Seq("key"), "v", "n")
        .orderBy("ord").select("n").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
    (1 to 5).foreach { _ =>
      val xs = List.fill(10)(rnd.nextDouble() * 100 - 50)
      val a = 0.5 + rnd.nextDouble() * 2.5 // positive scale
      val b = rnd.nextDouble() * 20 - 10
      val n1 = normed(xs)
      n1.flatten.foreach(v => assert(v >= 0.0 && v <= 1.0))
      val n2 = normed(xs.map(x => a * x + b))
      n1.zip(n2).foreach {
        case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9)
        case (None, None)       =>
        case other              => fail(s"null mismatch: $other")
      }
    }
  }

  test("rebase of a series against itself is identically 0") {
    import spark.implicits._
    val rnd = new Random(11)
    val xs = List.fill(8)(1.0 + rnd.nextDouble() * 99)
    val df = xs.zipWithIndex
      .map { case (v, i) => ("base", new Timestamp(i * 1000L), v) }
      .toDF("series", "ts", "v")
    val got = TimeSeries.rebaseAgainst(df, "series", "ts", "v", "base", "rel")
      .select("rel").collect().map(_.getDouble(0))
    got.foreach(v => assert(math.abs(v) < 1e-12))
  }

  test("T3 trades never overlap, open <= close, alternate with flat periods") {
    val rnd = new Random(1234)
    (1 to 20).foreach { _ =>
      val bars = (0 until 40).map { i =>
        PairBar("p", new Timestamp(i * 86400000L),
          rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 0.2 - 0.1,
          rnd.nextDouble() * 0.2 - 0.1)
      }
      val trades = PairBacktest.fold("p", bars.iterator, buyAt = 0.5, fees = 0.0).toList
      trades.foreach(t => assert(!t.open_ts.after(t.close_ts)))
      trades.sliding(2).foreach {
        case List(a, b) => assert(a.close_ts.before(b.open_ts))
        case _          =>
      }
    }
  }

  test("ProductAgg equals exp(sum(log)) for positive factors, exact for zero/negative") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new Random(3)
    val pos = List.fill(50)(0.5 + rnd.nextDouble())
    val df = pos.toDF("x")
    val Array(viaAgg, viaLog) = df
      .select(graft.functions.ProductAgg.product($"x").as("p"),
        exp(sum(log($"x"))).as("q"))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(viaAgg - viaLog) < 1e-9 * math.abs(viaAgg))
    // zero and negative factors: exact where exp/log breaks down
    val mixed = List(2.0, -3.0, 0.5).toDF("x")
      .select(graft.functions.ProductAgg.product($"x")).collect().head.getDouble(0)
    assert(mixed == -3.0)
    val withZero = List(2.0, 0.0, 9.0).toDF("x")
      .select(graft.functions.ProductAgg.product($"x")).collect().head.getDouble(0)
    assert(withZero == 0.0)
  }

  test("time-sliced as-of join equals the plain as-of join on random grids") {
    import spark.implicits._
    val rnd = new Random(123)
    (1 to 5).foreach { _ =>
      val leftTs = (0 until 40).map(_ => rnd.nextInt(2000)).distinct
      val rightTs = (0 until 15).map(_ => rnd.nextInt(2000)).distinct
      val left = leftTs.map(t => ("k", new Timestamp(t * 1000L))).toDF("key", "ts")
      val right = rightTs.map(t => ("k", new Timestamp(t * 1000L), t.toDouble))
        .toDF("key", "ts", "rate")
      def collectRates(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("ts").select("ts", "rate").collect()
          .map(r => (r.getTimestamp(0),
            if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toList
      val plain = collectRates(
        TimeSeries.asOfJoin(left, right, Seq("key"), "ts", Seq("rate")))
      // slice size chosen so slices split the grid mid-stream (~7 slices)
      val sliced = collectRates(
        TimeSeries.asOfJoinTimeSliced(left, right, Seq("key"), "ts",
          Seq("rate"), sliceSeconds = 300))
      assert(sliced == plain)
    }
  }

  test("time-sliced as-of join equals plain on a 90%-hot-key skewed fixture") {
    import spark.implicits._
    // the a3_asof_skew scale fixture in miniature: key 0 carries
    // 90% of the left rows, multiple keys, slices cutting mid-stream
    val left = (0 until 3000).map { i =>
      (if (i % 10 < 9) 0 else (i % 7) + 1, new Timestamp(i * 3000L))
    }.toDF("key", "ts")
    val right = (0 until 600).map { i =>
      (i % 8, new Timestamp(((i / 8) * 80 + (i % 8) * 10) * 1000L),
        i.toDouble)
    }.toDF("key", "ts", "rate")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("key", "ts").select("key", "ts", "rate").collect()
        .map(r => (r.getInt(0), r.getTimestamp(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toList
    val plain = canon(
      TimeSeries.asOfJoin(left, right, Seq("key"), "ts", Seq("rate")))
    val sliced = canon(
      TimeSeries.asOfJoinTimeSliced(left, right, Seq("key"), "ts",
        Seq("rate"), sliceSeconds = 600))
    assert(plain.count(_._1 == 0) == 2700) // the skew really is 90/10
    assert(sliced == plain)
    // asOfJoinAuto: BOTH dispatch arms must equal plain — a threshold
    // above the hot key's 2700 rows picks the plain form, one below it
    // picks the sliced form; either way the answer is the same
    val autoPlain = canon(TimeSeries.asOfJoinAuto(left, right, Seq("key"),
      "ts", Seq("rate"), sliceSeconds = 600, maxRowsPerKey = 100000))
    val autoSliced = canon(TimeSeries.asOfJoinAuto(left, right, Seq("key"),
      "ts", Seq("rate"), sliceSeconds = 600, maxRowsPerKey = 100))
    assert(autoPlain == plain)
    assert(autoSliced == plain)
    // the dispatch is PLAN-VISIBLE (VERDICT r14 #7 — a3_asof_hot's
    // contract): below the threshold the physical plan carries the
    // __slice shuffle key, above it it doesn't
    val slicedPlan = TimeSeries.asOfJoinAuto(left, right, Seq("key"),
        "ts", Seq("rate"), sliceSeconds = 600, maxRowsPerKey = 100)
      .queryExecution.executedPlan.toString
    assert(slicedPlan.contains("__slice"),
      "a hot key must dispatch the time-sliced form")
    val plainPlan = TimeSeries.asOfJoinAuto(left, right, Seq("key"),
        "ts", Seq("rate"), sliceSeconds = 600, maxRowsPerKey = 100000)
      .queryExecution.executedPlan.toString
    assert(!plainPlan.contains("__slice"),
      "a cool fixture must keep the single-shuffle form")
  }

  test("as-of join equals a per-row linear scan on random grids") {
    import spark.implicits._
    val rnd = new Random(99)
    val leftTs = (0 until 30).map(_ => rnd.nextInt(1000)).distinct.sorted
    val rightTs = (0 until 10).map(_ => rnd.nextInt(1000)).distinct.sorted
    val left = leftTs.map(t => ("k", new Timestamp(t * 1000L))).toDF("key", "ts")
    val right = rightTs.map(t => ("k", new Timestamp(t * 1000L), t.toDouble))
      .toDF("key", "ts", "rate")
    val got = TimeSeries.asOfJoin(left, right, Seq("key"), "ts", Seq("rate"))
      .orderBy("ts").select("rate").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
    val expect = leftTs.map { t =>
      rightTs.filter(_ <= t).lastOption.map(_.toDouble)
    }.toList
    assert(got == expect)
  }
}
