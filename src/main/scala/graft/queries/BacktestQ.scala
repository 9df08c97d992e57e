package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifact, Tables}
import graft.backtest._
import graft.ops.TimeSeries

/** T3/T4 — the reference's stateful backtests (SURVEY.md §2.7), driven by
  * the `events` fixture: `user_id` plays the company key, 5-minute buckets
  * of per-event-type average values play the per-exchange listing panel
  * ('view' = base/US listing, the other four = arbitrage listings).
  *
  * The feeding pipeline composes the §2 wrangling ops exactly as the
  * notebook does (§3.2): bucket → pivot-align (A2) → ffill (T1) → min-max
  * normalize (F1) → rebase vs base (F2) → stateful fold (T3/T4).
  *
  * Not SQL-expressible (order-dependent mutable state) → no oracle entries;
  * the driver records rows-only checks, and IntradaySpec/PairSpec pin the
  * semantics against hand-computed traces.
  */
object BacktestQ {
  type Q = (SparkSession, String) => DataFrame

  private val types = Seq("view", "click", "error", "purchase", "signup")

  /** The aligned, ffilled, normalized 5-minute panel per user (long→wide).
    *
    * Wide alignment via CONDITIONAL aggregation, not `pivot`: with the
    * value list known, `avg(when(type===t, value))` per type compiles to a
    * single partial+final hash aggregate (one shuffle), where `pivot`
    * plans a second aggregate+exchange pair — measurable on the hottest
    * pipeline here, decisive at 100 TB. (`Reshape.pivotWide` remains the
    * operator-demonstrating form, exercised by a2/w1.) */
  private[queries] def panel(s: SparkSession, d: String): DataFrame = {
    val bucketed = Tables.events(s, d)
      .withColumn("ts5", timestamp_seconds(expr("unix_seconds(ts) DIV 300") * 300))
      .groupBy(col("user_id"), col("ts5"))
      .agg(avg(when(col("event_type") === types.head, col("value"))).as(types.head),
        types.tail.map(t =>
          avg(when(col("event_type") === t, col("value"))).as(t)): _*)
    // ffill each listing per user over the bucket grid (T1), then keep only
    // rows where the whole panel is present (pandas dropna head-trim).
    val filled = types.foldLeft(bucketed) { (df, t) =>
      TimeSeries.ffill(df, Seq("user_id"), Seq("ts5"), t, t)
    }
    types.foldLeft(filled)((df, t) => df.filter(col(t).isNotNull))
  }

  /** The events fixture as long-form 5-minute quotes for the composed
    * pipeline: `user_id` → company, event types → listings ('view' is the
    * base/US listing at index 0), per-bucket average value → price. No FX
    * leg (the events fixture has no currency dimension; f3 exercises the
    * conversion operator in isolation). */
  private[graft] def quotesLong(s: SparkSession, d: String): DataFrame = {
    val listingIdx = types.zipWithIndex
      .foldLeft(lit(null).cast("int")) { case (acc, (t, i)) =>
        when(col("event_type") === t, lit(i)).otherwise(acc)
      }
    Tables.events(s, d)
      .withColumn("ts5", timestamp_seconds(expr("unix_seconds(ts) DIV 300") * 300))
      .groupBy(col("user_id").as("company"), col("event_type"),
        col("ts5").as("ts"))
      .agg(avg("value").as("price"))
      .withColumn("listing", listingIdx)
      .withColumn("convert", lit(false))
      .drop("event_type")
  }

  /** Week-block calendar over the events span (Jan 2024), mirroring the
    * reference's `bdate_range(freq="7B")` structure (intra.ipynb:1146-1150):
    * blocks of 5 trading days [start, stop) separated by 7 business days —
    * the 2-business-day gaps between blocks are part of the shape. Literal
    * source (S5), broadcast into the range join. */
  private[graft] def eventBlocks(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (0, "2024-01-01", "2024-01-08"),
      (1, "2024-01-10", "2024-01-17"),
      (2, "2024-01-19", "2024-01-26"),
      (3, "2024-01-30", "2024-01-31"))
      .toDF("block", "start_s", "stop_s")
      .select(col("block"), to_timestamp(col("start_s")).as("start"),
        to_timestamp(col("stop_s")).as("stop"))
  }

  /** The fully-composed T5 feed (SURVEY §3.2 shape): week blocks →
    * union-grid alignment → block-local min-max normalization → block-wide
    * ffill → 14:30-16:30 session filter → per-tick rebase vs base. See
    * [[graft.backtest.IntradayPipeline]] for the step-by-step mapping to
    * the reference cells. */
  private[queries] def companyTicks(s: SparkSession, d: String): Dataset[CompanyTick] =
    IntradayPipeline.companyTicks(quotesLong(s, d), None, eventBlocks(s))

  /** Aligned daily pair series per user for T3: asset1 = base listing
    * ('view'), asset2 = 'click' listing; delta = (a2-a1)/a2
    * (stock_arbitrage.ipynb:71); log-return legs with first-row NULL → 0. */
  private[queries] def pairBars(s: SparkSession, d: String): Dataset[PairBar] = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts5")
    def safeLogRet(c: String) = {
      val prev = lag(c, 1).over(w)
      coalesce(when(col(c) > 0 && prev > 0, log(col(c) / prev)), lit(0.0))
    }
    panel(s, d)
      .withColumn("delta",
        coalesce(when(col("click") =!= 0,
          (col("click") - col("view")) / col("click")), lit(0.0)))
      .withColumn("ret1", safeLogRet("view"))
      .withColumn("ret2", safeLogRet("click"))
      .select(col("user_id").cast("string").as("pair"), col("ts5").as("ts"),
        col("delta"), col("ret1"), col("ret2"))
      .as[PairBar]
  }

  /** Three queries (blotter, balance history, report) consume the same
    * fold output — memoize the persisted Dataset per (session, sfDir) so
    * the bucket→pivot→ffill→normalize→fold pipeline runs once. This is
    * the materialized-intermediate pattern any 100 TB pipeline would use
    * between a simulation stage and its reports. The memo is bounded by
    * the (session, sfDir) combinations of one harness run (≤ a handful);
    * entries live until the session stops or [[graft.Graft.clearCaches]].
    *
    * The count() inside the lock materializes the persisted fold before
    * any caller sees it: persist() alone is lazy, so concurrent consumers
    * (t4/w1/r1 under Bench) would otherwise race to compute the fold
    * ~once each. */
  private val intradayFold = Artifact("intradayFold") { (s, d) =>
    import s.implicits._
    // the fold output is an ArtifactStore parquet — the materialized
    // simulation→reports intermediate a 100 TB pipeline writes once
    val loaded = graft.ArtifactStore.dataFrame(s, d, "intradayfold",
      "v1 bal=1000 minDev=0.1 sl=0.03 trig=0.01 size=0.1pct") {
      IntradayBacktest.run(companyTicks(s, d), bal = 1000.0,
        minDeviation = 0.1, slPercent = 0.03, triggerRange = 0.01,
        tradeSize = 0.1, tradeSizePercent = true).toDF()
    }
    val ev = loaded.as[IntradayEvent].persist()
    ev.count()
    ev
  }

  /** Bench hook: materialize the shared persisted fold up front so its
    * cost lands in the bench's "prematerialize" phase instead of whichever
    * consumer (t4/w1/r1) grabs the memo's lock first — keeps per-query
    * task-time attribution stable round-over-round. */
  private[graft] def prewarm(s: SparkSession, d: String): Unit = {
    intradayFold(s, d); ()
  }

  val queries: Map[String, Q] = Map(
    // T3 — pair state machine → trade log
    "t3_pair_trades" -> ((s, d) =>
      PairBacktest.run(pairBars(s, d), buyAt = 0.05, fees = 0.0)
        .toDF()
        .select(col("pair"), col("open_ts"), col("close_ts"),
          round(col("ret"), 9).as("ret"))
        .orderBy("pair", "open_ts", "close_ts")),

    // T4 — intraday engine → trade blotter (tp/sl/mc + roi)
    "t4_intraday_trades" -> ((s, d) =>
      intradayFold(s, d).toDF()
        .filter(col("kind") =!= "bal")
        .select(col("company"), col("ts"), col("kind"),
          round(col("roi"), 9).as("roi"), round(col("balance"), 6).as("balance"))
        .orderBy("company", "ts", "kind")),

    // T4/T5 — per-tick balance history (cell-8 `[timestamp, balance]` rows)
    "t4_balance_history" -> ((s, d) =>
      intradayFold(s, d).toDF()
        .filter(col("kind") === "bal")
        .select(col("company"), col("ts"), round(col("balance"), 6).as("balance"))
        .orderBy("company", "ts")),

    // G5/G8/W4 — the win/loss report over the trade log
    // (intra.ipynb:11686-11715): win rate, avg profit/loss, mc-loss share.
    // Oracled as a literal-golden 1-row SELECT at the gate SF
    // ([[GoldenOracles]]); the fold feeding it is spec-pinned.
    "r1_trade_report" -> ((s, d) => {
      val t = intradayFold(s, d).toDF().filter(col("kind") =!= "bal")
      // NaN guard: a position carried across a block boundary can close at
      // a not-yet-observed (NaN) price — faithful pandas behavior. Python's
      // `NaN > 0` is False (excluded from wins AND losses), but Spark SQL
      // orders NaN above every value, so the exclusion must be explicit.
      val win = col("roi") > 0 && !isnan(col("roi"))
      val loss = col("roi") < 0
      t.agg(
        count(lit(1)).as("n_trades"),
        round(avg(when(win, 1.0).otherwise(0.0)), 6).as("win_rate"),
        round(avg(when(win, col("roi"))), 9).as("avg_profit"),
        round(avg(when(loss, col("roi"))), 9).as("avg_loss"),
        round(avg(when(loss && col("kind") === "mc", 1.0)
          .otherwise(when(loss, 0.0))), 6).as("mc_loss_share"))
    }),
  )

  /** Stateful folds are not SQL-expressible — rows-only checks by design. */
  val oracles: Map[String, String] = Map.empty
}
