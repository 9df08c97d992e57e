package graft

import java.time.{DayOfWeek, LocalDate}
import org.apache.spark.sql.SaveMode

/** Deterministic generator of the reference-shaped fixture (FIXTURES.md §1):
  * the four tables the reference pipelines consume, synthesized with pure
  * math (no RNG) so the same parquet feeds BOTH the Spark replay chain and
  * the independent pandas oracle (`tools/ref_replay.py`).
  *
  *  - `stocks_dim`   — 50-row company→ticker wide sheet (mirrors
  *    `/root/reference/Stocks.xlsx`, consumed at intra.ipynb:188): 40
  *    eligible rows (≥2 tickers, ≥1 "." ticker), plus single-ticker rows,
  *    dotless-multi rows, near-empty rows, and a fully-listed "Fujitsu"
  *    (dropped by name at intra.ipynb:1053 — the P3 drop must matter).
  *  - `quotes_5m`    — 5-minute Close bars per ticker over the reference's
  *    six week blocks (intra.ipynb:1146-1150), exchange-specific time
  *    windows with deterministic gaps (exercises A2 outer alignment + T1
  *    ffill), bars at 16:30 (> the 16:29 close cutoff).
  *  - `fx_5m`        — EUR→USD on a sparser 15-minute grid (A3 reindex).
  *  - `quotes_daily` — BRK-A / BRK-B daily bars from 2006
  *    (stock_arbitrage.ipynb:23-28): price ratio ≈ 1500 with an
  *    amplitude-modulated mean-reverting spread crossing ±0.5%, period
  *    tuned so the T3 state machine emits exactly the reference's 124
  *    round trips (BASELINE.md).
  *
  * Run once: `sbt "runMain graft.RefFixtureGen src/test/resources/reffix"`;
  * the output parquet is committed so tests and the oracle never regenerate
  * (no cross-language float drift).
  */
object RefFixtureGen {
  import math.{Pi, sin, exp}

  // ---- shared deterministic helpers -------------------------------------
  private def bdays(from: LocalDate, untilExcl: LocalDate): Seq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(untilExcl))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)
      .toSeq

  private def tsMillis(d: LocalDate, secOfDay: Int): Long =
    d.toEpochDay * 86400000L + secOfDay * 1000L

  /** Tiny deterministic integer hash (for gap patterns). */
  private def ih(xs: Int*): Int = {
    var h = 17
    xs.foreach(x => h = h * 31 + x)
    math.abs(h)
  }

  // ---- stocks_dim --------------------------------------------------------
  /** Exchange columns in sheet order (subset of the reference's 23). */
  val Exchanges: Seq[String] = Seq("NMS", "NYQ", "GER", "FRA", "BER", "DUS", "ISE")
  private val euSuffix = Map("GER" -> ".DE", "FRA" -> ".F", "BER" -> ".BE",
    "DUS" -> ".DU", "ISE" -> ".IR")

  /** company → (exchange → ticker); row order is the sheet order. */
  def dimRows: Seq[(String, Map[String, String])] = {
    val eligible = (0 until 40).map { i =>
      val eu = Seq("GER", "FRA", "BER", "DUS", "ISE").take(1 + i % 5)
      val m = Map("NMS" -> s"T$i") ++
        (if (i % 3 == 0) Map("NYQ" -> s"T$i.N2") else Map.empty) ++
        eu.map(e => e -> s"T$i${euSuffix(e)}").toMap
      (f"Comp$i%02d", m)
    }
    val singles = (40 until 45).map(i => (f"Comp$i%02d", Map("NMS" -> s"T$i")))
    val fujitsu = Seq(("Fujitsu", Map("NMS" -> "T90", "GER" -> "T90.DE",
      "FRA" -> "T90.F")))
    val dotless = (46 until 48).map(i =>
      (f"Comp$i%02d", Map("NMS" -> s"T$i", "NYQ" -> s"T$i.N2")))
    val empty = (48 until 50).map(i => (f"Comp$i%02d", Map.empty[String, String]))
    eligible ++ singles ++ fujitsu ++ dotless ++ empty
  }

  // NOTE: Comp46/47's NYQ tickers contain "." ("T46.N2") — like the real
  // sheet, "." marks the European listings we FX-convert, and the ticker
  // spelling is what the eligibility test sees. Keep them dotless to stay
  // ineligible:
  private def fixDotless(rows: Seq[(String, Map[String, String])]) =
    rows.map {
      case (c, m) if c == "Comp46" || c == "Comp47" =>
        (c, m.updated("NYQ", m("NYQ").replace(".", "")))
      case other => other
    }

  // ---- intraday quotes ---------------------------------------------------
  /** The reference's six [start, stop) week blocks (intra.ipynb:1146-1150):
    * `bdate_range('2022-12-01','2023-01-20',freq='7B')` starts ×
    * `bdate_range('2022-12-08','2023-01-27',freq='7B')` stops. */
  val Blocks: Seq[(LocalDate, LocalDate)] = Seq(
    ("2022-12-01", "2022-12-08"), ("2022-12-12", "2022-12-19"),
    ("2022-12-21", "2022-12-28"), ("2022-12-30", "2023-01-06"),
    ("2023-01-10", "2023-01-17"), ("2023-01-19", "2023-01-26"))
    .map { case (a, b) => (LocalDate.parse(a), LocalDate.parse(b)) }

  /** 5-minute bar seconds-of-day for a ticker's exchange window:
    * US listings 14:00-17:00 UTC, European 13:00-16:35 UTC — both cover
    * the 14:30-16:30 session and close past the 16:29 cutoff. */
  private def barSeconds(dotted: Boolean): Seq[Int] =
    if (dotted) (13 * 3600) to (16 * 3600 + 35 * 60) by 300
    else (14 * 3600) to (17 * 3600) by 300

  /** Deterministic close price for (company c, listing j, global tick τ at
    * second-of-day sec). Listing 0 is the base path; others deviate by a
    * slow wave whose period/phase depend on (c, j) — rich enough to
    * trigger the intraday engine's 10% min_deviation in normalized space.
    * Companies with c % 13 == 0 instead get a deviation that TRENDS
    * through the session (never reverts before the market-close flush):
    * their trades exit as "mc" losses, so the profitable-ticker share is a
    * real number, not 100%. European prices are quoted in EUR (≈ /1.08) so
    * the FX leg matters. */
  private def close(c: Int, j: Int, dotted: Boolean, tau: Double, sec: Int): Double = {
    val base = (50.0 + 7.0 * (c % 9)) *
      (1.0 + 0.04 * sin(2 * Pi * tau / 2016.0 + c)) *
      (1.0 + 0.01 * sin(2 * Pi * tau / 288.0 + 2.0 * c))
    val dev = if (j == 0) 1.0
    else if (c % 13 == 0) // session-trending: rises into the 16:29 cutoff
      1.0 + (0.16 + 0.01 * j) * ((sec - 46800.0) / 14400.0)
    else
      1.0 + (0.05 + 0.025 * ((c + 2 * j) % 6)) *
        sin(2 * Pi * tau / (30.0 + 7.0 * ((c + j) % 6)) + c + 3 * j)
    val fx = if (dotted) 1.0 / 1.08 else 1.0
    base * dev * fx
  }

  // ---- BRK daily ---------------------------------------------------------
  /** Spread period (2 trades per period over the 2006-2022 span) and
    * amplitude, tuned together so the §3.1 chain closes exactly the
    * reference's 124 round trips AND compounds to its published
    * 446.93775774838554% total (BASELINE.md; stock_arbitrage.ipynb:463) —
    * the square-ish harmonic sum makes the threshold crossing steep, which
    * sets the per-trade open deviation and hence the product. */
  val SpreadPeriodDays: Double = 70.8
  val SpreadAmp: Double = 0.024575364940182955

  def brkDays: Seq[LocalDate] =
    bdays(LocalDate.parse("2006-01-02"), LocalDate.parse("2022-11-26"))

  /** (aClose, bClose) with delta = (1500·B − A)/(1500·B) a mean-reverting
    * square-ish wave crossing ±0.5% (stock.ipynb:71). */
  def brkClose(t: Int): (Double, Double) = {
    val a = 90000.0 * exp(7e-5 * t) * (1.0 + 0.03 * sin(2 * Pi * t / 497.0))
    val x = 2 * Pi * t / SpreadPeriodDays
    val delta = SpreadAmp * (sin(x) + sin(3 * x) / 3 + sin(5 * x) / 5)
    (a, a / (1500.0 * (1.0 - delta)))
  }

  // ---- main --------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/reffix")
    val spark = Sessions(8)
    import spark.implicits._

    val dim = fixDotless(dimRows)

    // stocks_dim (wide, sparse — Company + one column per exchange)
    dim.map { case (c, m) =>
      (c, m.get("NMS").orNull, m.get("NYQ").orNull, m.get("GER").orNull,
        m.get("FRA").orNull, m.get("BER").orNull, m.get("DUS").orNull,
        m.get("ISE").orNull)
    }.toDF(("Company" +: Exchanges): _*)
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/stocks_dim.parquet")

    // quotes_5m: every ticker on the sheet (ineligible ones too — the
    // replay's eligibility filter must do the pruning, not the data)
    val quotes = for {
      ((_, m), c) <- dim.zipWithIndex
      (exch, j) <- Exchanges.flatMap(e => m.get(e).map(e -> _)).map(_._1).zipWithIndex
      ticker = m(exch)
      dotted = ticker.contains(".")
      (start, stop) <- Blocks
      day <- bdays(start, stop)
      sec <- barSeconds(dotted)
      // deterministic gaps: ~9% of bars missing per ticker, different
      // pattern per (ticker, day, bar) — exercises ffill + outer alignment
      if ih(c, j, day.getDayOfYear, sec) % 11 != 0
    } yield {
      val tau = (day.toEpochDay - 19327L) * 288.0 + sec / 300.0
      (ticker, new java.sql.Timestamp(tsMillis(day, sec)), close(c, j, dotted, tau, sec))
    }
    quotes.toDF("ticker", "ts", "close")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/quotes_5m.parquet")

    // fx_5m: 15-minute grid (sparser than quotes), 07:00-21:00 UTC
    val fx = for {
      (start, stop) <- Blocks
      day <- bdays(start, stop)
      sec <- (7 * 3600) to (21 * 3600) by 900
    } yield {
      val tau = (day.toEpochDay - 19327L) * 96.0 + sec / 900.0
      (new java.sql.Timestamp(tsMillis(day, sec)),
        0.92 + 0.015 * sin(2 * Pi * tau / 57.0) + 0.005 * sin(2 * Pi * tau / 7.3))
    }
    fx.toDF("ts", "rate")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/fx_5m.parquet")

    // quotes_daily: BRK-A + BRK-B OHLCV (only Close drives the pipeline;
    // OHLCV mirrors the reference's full-download-then-project shape)
    val daily = brkDays.zipWithIndex.flatMap { case (day, t) =>
      val (a, b) = brkClose(t)
      val ts = new java.sql.Timestamp(tsMillis(day, 0))
      Seq(("BRK-A", ts, a * 0.998, a * 1.004, a * 0.995, a, 3000L + t % 700),
        ("BRK-B", ts, b * 0.998, b * 1.004, b * 0.995, b, 4000000L + (t % 9000)))
    }
    daily.toDF("ticker", "ts", "open", "high", "low", "close", "volume")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/quotes_daily.parquet")

    println(s"reffix written to $outDir: quotes_5m=${quotes.size} " +
      s"fx=${fx.size} daily=${daily.size} dim=${dim.size}")
    spark.stop()
  }
}
