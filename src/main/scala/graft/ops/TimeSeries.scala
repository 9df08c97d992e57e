package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series wrangling core (SURVEY.md §2.3, §2.4, §2.7 stateless parts).
  *
  * Every function is a pure `DataFrame => DataFrame` built from Catalyst
  * column expressions / window functions — no UDFs, so whole-stage codegen,
  * column pruning and predicate pushdown all apply.
  *
  * Scale notes (100 TB design): all windows here partition by a key column
  * (`partitionBy(keys).orderBy(ts)`), so each executor sorts only its own
  * key groups — one hash shuffle by key, no global sort, no single-partition
  * window. Keyless variants (global as-of) are deliberately not offered.
  */
object TimeSeries {

  /** Forward-fill: carry the last non-null observation forward per key,
    * in `ts` order — the canonical Spark translation of pandas
    * `fillna(method='ffill')` (reference: intra_day_arbitrage.ipynb:58,91,110).
    */
  def ffill(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
            valueCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Min-max normalization of `valueCol` within each key group over the
    * whole group (reference: intra_day_arbitrage.ipynb:46-47 `normalize_col`).
    * Constant groups (max == min) yield NULL, mirroring pandas 0/0 -> NaN
    * normalized to SQL NULL per SURVEY §2.9.
    *
    * Window with no ORDER BY = whole-partition frame; Catalyst evaluates
    * min and max in one pass over each group.
    */
  def minMaxNormalize(df: DataFrame, keys: Seq[String], valueCol: String,
                      outCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val mn = min(col(valueCol)).over(w)
    val mx = max(col(valueCol)).over(w)
    df.withColumn(outCol,
      when(mx === mn, lit(null)).otherwise((col(valueCol) - mn) / (mx - mn)))
  }

  /** Percent change vs the previous row per key (pandas `pct_change`,
    * reference: stock_arbitrage.ipynb:266-267). First row per key is NULL;
    * a zero previous value is NULL too (pandas would give ±inf — the F8
    * cleanup maps those out anyway, and NULL keeps the expression ANSI-safe
    * and DuckDB-aligned, where x/0 is NULL).
    */
  def pctChange(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                valueCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    val prev = lag(col(valueCol), 1).over(w)
    df.withColumn(outCol, when(prev =!= 0, col(valueCol) / prev - 1))
  }

  /** Log return `ln(1 + pct_change)` (reference: stock_arbitrage.ipynb:266-267).
    * NULL when the return is -100% (ln 0 undefined) or pct is NULL. */
  def logReturn(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                valueCol: String, outCol: String): DataFrame =
    pctChange(df, keys, orderCols, valueCol, "__pct")
      .withColumn(outCol, when(col("__pct") > -1, log(lit(1.0) + col("__pct"))))
      .drop("__pct")

  /** Rebase each row against the first observation of its key group:
    * `value / first - 1` (reference `df_basing`, intra_day_arbitrage.ipynb:57-63,
    * generalized: the reference rebases vs a base *column*; in long form the
    * base series is just another key joined on ts — see `rebaseAgainst`).
    */
  def rebaseToFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                    valueCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = first(col(valueCol), ignoreNulls = true).over(w)
    df.withColumn(outCol, when(base =!= 0, col(valueCol) / base - 1))
  }

  /** Rebase every series against a designated base series aligned on `ts`:
    * `value / base_value - 1` (reference `df_basing` proper,
    * intra_day_arbitrage.ipynb:57-63). `df` is long `(seriesCol, ts, value)`;
    * the base rows are those with `seriesCol === baseName`.
    *
    * Implemented as a self-equi-join on the alignment column. The base side
    * is typically tiny relative to the fact side (one series), so it
    * broadcasts; at 100 TB the join key (`ts` within a bounded window) keeps
    * the shuffle bounded if broadcast is not possible.
    */
  def rebaseAgainst(df: DataFrame, seriesCol: String, tsCol: String,
                    valueCol: String, baseName: String, outCol: String): DataFrame = {
    val base = df.filter(col(seriesCol) === baseName)
      .select(col(tsCol), col(valueCol).as("__base"))
    df.join(broadcast(base), Seq(tsCol), "left")
      .withColumn(outCol, col(valueCol) / col("__base") - 1)
      .drop("__base")
  }

  /** As-of join (pandas `reindex(...).fillna(method='ffill')`,
    * reference: intra_day_arbitrage.ipynb:111 — FX aligned to the price grid).
    *
    * For each left row, attach the most recent right-side values with
    * `right.ts <= left.ts`, per key. Implemented with the union+ffill trick:
    * tag both sides, union, one window per key ordered by (ts, tag) with
    * right rows sorting first at equal ts (as-of is inclusive), forward-fill
    * the right columns, keep left rows.
    *
    * Scale: ONE shuffle by `keys`, sort within partitions — the same cost
    * as a sort-merge join, with no range-explosion. This is the 100 TB-safe
    * formulation (vs. a global single-partition window).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightValueCols: Seq[String]): DataFrame = {
    require(left.columns.intersect(rightValueCols).isEmpty,
      s"left side already has column(s) ${left.columns.intersect(rightValueCols).mkString(", ")} — " +
        "rename the right value columns before the as-of join")
    val leftCols = left.columns
    val l = rightValueCols.foldLeft(left.withColumn("__side", lit(1))) {
      (d, c) => d.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val r0 = right.select((keys :+ tsCol).map(col) ++ rightValueCols.map(col): _*)
      .withColumn("__side", lit(0))
    // align column sets/order for union
    val r = l.columns.foldLeft(r0) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(l.schema(c).dataType))
    }.select(l.columns.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightValueCols.foldLeft(l.unionByName(r)) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).select(leftCols.map(col) ++ rightValueCols.map(col): _*)
  }

  /** As-of join for HOT keys (SCALING.md TODO 1): when one key carries so
    * many rows that a per-key sort won't fit an executor, partition time
    * into `sliceSeconds` slices so the shuffle key becomes (keys, slice) —
    * the hot key spreads across slices. Semantics identical to
    * [[asOfJoin]] (right.ts <= left.ts, inclusive), assuming unique right
    * (keys, ts).
    *
    * Shape: in-slice matches come from the same union+ffill trick
    * partitioned by (keys, slice); cross-slice carry-over comes from a
    * tiny per-(key, slice) "last right value" table, forward-filled over a
    * dense slice spine (rows = keys × slices — negligible) and joined
    * back. Two shuffles of the fact data instead of one, but no partition
    * ever exceeds one slice of one key.
    */
  def asOfJoinTimeSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                         tsCol: String, rightValueCols: Seq[String],
                         sliceSeconds: Long): DataFrame = {
    require(left.columns.intersect(rightValueCols).isEmpty,
      "rename right value columns that collide with left columns")
    val leftCols = left.columns
    def slice(c: Column) = floor(unix_micros(c) / (sliceSeconds * 1000000L))

    val l = left.withColumn("__slice", slice(col(tsCol)))
    val r = right.withColumn("__slice", slice(col(tsCol)))

    // 1. in-slice as-of: union + ffill partitioned by (keys, __slice)
    val lTagged = rightValueCols.foldLeft(l.withColumn("__side", lit(1))) {
      (d, c) => d.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val rTagged0 = r.select((keys :+ tsCol :+ "__slice").map(col) ++
      rightValueCols.map(col): _*).withColumn("__side", lit(0))
    val rTagged = lTagged.columns.foldLeft(rTagged0) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(lTagged.schema(c).dataType))
    }.select(lTagged.columns.map(col): _*)
    val wSlice = Window.partitionBy((keys :+ "__slice").map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inSlice = rightValueCols.foldLeft(lTagged.unionByName(rTagged)) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(wSlice))
    }.filter(col("__side") === 1)

    // 2. per-(keys, slice) last right value (unique right ts → max struct
    //    picks the latest row deterministically)
    val lastPerSlice = r.groupBy((keys :+ "__slice").map(col): _*)
      .agg(max(struct((col(tsCol) +: rightValueCols.map(col)): _*)).as("__last"))
    // 3. dense slice spine over both sides, carry = value from any EARLIER
    //    slice (strictly: the in-slice pass covers the current slice)
    val spine = l.select((keys :+ "__slice").map(col): _*)
      .union(r.select((keys :+ "__slice").map(col): _*)).distinct()
    val wCarry = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rightValueCols.foldLeft(
      spine.join(lastPerSlice, keys :+ "__slice", "left")) { (d, c) =>
        d.withColumn(s"__carry_$c",
          last(col(s"__last.$c"), ignoreNulls = true).over(wCarry))
      }.select((keys :+ "__slice").map(col) ++
        rightValueCols.map(c => col(s"__carry_$c")): _*)

    // 4. coalesce in-slice result with the carried value
    val joined = inSlice.join(carry, keys :+ "__slice", "left")
    rightValueCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), col(s"__carry_$c")))
    }.select(leftCols.map(col) ++ rightValueCols.map(col): _*)
  }

  /** The as-of join a deployment should DEFAULT to (VERDICT r12 #8 —
    * the last un-shipped SCALING.md TODO): [[asOfJoin]]'s single-shuffle
    * form while every key fits an executor, automatically switching to
    * [[asOfJoinTimeSliced]] when some key is HOT (rows-per-key above
    * `maxRowsPerKey` — the per-key window sort of the plain form then
    * degenerates to one giant partition; the `a3_asof_skew_plain`
    * scale scenario measures that superlinear wall).
    *
    * The dispatch probe is one partial-aggregated key count over both
    * sides — map-side combine means the shuffle carries ~distinct keys
    * per partition, not rows, so the probe costs far less than either
    * join and buys the executor-OOM guard. Semantics are identical on
    * both paths (right.ts <= left.ts inclusive; OpsPropertySpec pins
    * plain ≡ sliced ≡ auto on skewed and uniform fixtures). */
  def asOfJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                   tsCol: String, rightValueCols: Seq[String],
                   sliceSeconds: Long = 3600L,
                   maxRowsPerKey: Long = 4L << 20): DataFrame = {
    val maxPerKey = left.select(keys.map(col): _*)
      .unionByName(right.select(keys.map(col): _*))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val hot = !maxPerKey.isNullAt(0) && maxPerKey.getLong(0) > maxRowsPerKey
    if (hot)
      asOfJoinTimeSliced(left, right, keys, tsCol, rightValueCols,
        sliceSeconds)
    else asOfJoin(left, right, keys, tsCol, rightValueCols)
  }

  /** Time-of-day band filter, inclusive both ends — pandas
    * `between_time("14:30","16:30")` semantics
    * (reference: intra_day_arbitrage.ipynb:90-92).
    * Minutes-of-day comparison stays a plain codegen'd expression and is
    * evaluated at the scan (partition-prunable if the table is date-partitioned).
    */
  def betweenTime(df: DataFrame, tsCol: String,
                  startMin: Int, endMin: Int): DataFrame = {
    val mod = hour(col(tsCol)) * 60 + minute(col(tsCol))
    df.filter(mod.between(startMin, endMin))
  }

  /** Strictly-after time-of-day predicate — the reference's `is_closing`
    * cutoff `ts > 16:29:00` (IntradayRegionArbitrage.py:152-159; the
    * docstring says 16:30 but the code compares to 16:29:00 — we replicate
    * the code, SURVEY §7.4(e)).
    */
  def afterTime(tsCol: Column, h: Int, m: Int, s: Int): Column =
    hour(tsCol) * 3600 + minute(tsCol) * 60 + second(tsCol) > (h * 3600 + m * 60 + s)

  /** Bucket timestamps into consecutive 7-business-day blocks anchored at
    * `anchorDate` (reference weekly `bdate_range(freq="7B")` blocks,
    * intra_day_arbitrage.ipynb:1146-1150). Weekend days inherit the block of
    * the preceding business day. Pure date arithmetic — no shuffle at all:
    * business days elapsed = 5*full_weeks + weekday-remainder correction.
    */
  def weeklyBlock(tsCol: Column, anchorDate: String): Column = {
    val d = datediff(to_date(tsCol), to_date(lit(anchorDate)))
    // anchor assumed to be a Monday; business days since anchor:
    val weeks = floor(d / 7)
    val rem = d - weeks * 7
    val bdays = weeks * 5 + least(rem, lit(4))
    floor(bdays / 7).cast("int")
  }

  /** Trailing rolling-window frame over the last `n` rows per key — the
    * pandas `rolling(n)` translation: `agg.over(trailingWindow(...))`.
    * Rows before a full window still aggregate (pandas `min_periods=1`);
    * add a `count(...).over(w) >= n` guard for strict windows. Not used by
    * the reference, but a standard wrangling surface of the engine. */
  def trailingWindow(keys: Seq[String], orderCols: Seq[String], n: Int) =
    Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)

  /** Replace NaN / ±Inf by 0.0 (reference `.replace([inf,-inf],0)` after
    * dropna, stock_arbitrage.ipynb:268). Also the NaN→NULL sanitizer of
    * SURVEY §2.9: Spark orders/groups IEEE NaN instead of skipping it, so
    * aggregate inputs must be cleaned first.
    */
  def cleanInf(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, 0.0)
      .otherwise(c)
}
