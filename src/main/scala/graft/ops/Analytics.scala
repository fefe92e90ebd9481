package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytic read-path operators over the canonical long (dataset, date,
  * value) shape: resampling aggregation and window analytics.
  *
  * Resampling replaces the reference's delegation of aggregation to the FRED
  * server (`frequency='m'|'q'` — /root/reference/core_local/azure_fred_scraper.py:85,
  * "Monthly average" fred_config.py:31-33) with an in-engine groupBy: a
  * single hash shuffle on the truncated date key, map-side partial
  * aggregation free from Catalyst.
  *
  * Window analytics (MoM/YoY via lag) are the documented-but-absent analysis
  * tools of the reference (documentation/economic_indicators.md:116-126),
  * expressed as Spark window functions partitioned by series so a 1000-series
  * store computes every series' deltas in one pass with no driver loop.
  */
object Analytics {

  /** Resample to month grain with an avg (FRED frequency='m' semantics). */
  def resampleMonthlyAvg(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(FiscalDates.monthStart(col(tsCol)).as("month"))
      .agg(avg(col(valueCol)).as("avg_value"), count(col(valueCol)).as("n"))

  /** Resample to quarter grain (FRED frequency='q' semantics). */
  def resampleQuarterlyAvg(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(FiscalDates.quarterStart(col(tsCol)).as("quarter"))
      .agg(avg(col(valueCol)).as("avg_value"), count(col(valueCol)).as("n"))

  private def seriesWindow(partCols: Seq[String], orderCol: String) =
    Window.partitionBy(partCols.map(col): _*).orderBy(col(orderCol))

  /** Period-over-period absolute and percent change per series. */
  def periodChange(df: DataFrame, partCols: Seq[String], orderCol: String,
                   valueCol: String): DataFrame = {
    val prev = lag(col(valueCol), 1).over(seriesWindow(partCols, orderCol))
    df.withColumn("prev_value", prev)
      .withColumn("change", col(valueCol) - col("prev_value"))
      .withColumn("pct_change",
        when(col("prev_value") =!= 0,
          (col(valueCol) - col("prev_value")) / abs(col("prev_value")))
          .otherwise(lit(null).cast("double")))
  }

  /** Year-over-year change: lag 12 for monthly series, 4 for quarterly. */
  def yoyChange(df: DataFrame, partCols: Seq[String], orderCol: String,
                valueCol: String, periodsPerYear: Int = 12): DataFrame = {
    val prev = lag(col(valueCol), periodsPerYear)
      .over(seriesWindow(partCols, orderCol))
    df.withColumn("yoy_prev", prev)
      .withColumn("yoy_change", col(valueCol) - col("yoy_prev"))
  }

  /** Rolling mean over the trailing `periods` rows per series. */
  def rollingMean(df: DataFrame, partCols: Seq[String], orderCol: String,
                  valueCol: String, periods: Int): DataFrame =
    df.withColumn(s"rolling_mean_$periods",
      avg(col(valueCol)).over(
        seriesWindow(partCols, orderCol).rowsBetween(-(periods - 1), 0)))

  // ------------------------------------------------------------ forecasting
  //
  // The reference documents two forecasting tools with no code in the
  // snapshot (documentation/economic_indicators.md:122-125): forecast.py
  // ("basic linear regression forecasting") and regression_forecast.py
  // ("seasonal pattern analysis, multiple seasonality representations").
  // Re-expressed Spark-first: a closed-form per-series OLS is ONE hash
  // aggregation producing the moment sums (n, Σx, Σy, Σxy, Σx², Σy²) with
  // map-side partial aggregation — a 1000-series store fits every series
  // in a single shuffle, no ML library, no driver loop. Callers should
  // CENTER the time index (small offsets from a fixed epoch) — the
  // closed-form n·Σxy − Σx·Σy cancels catastrophically when |x| >> range(x).

  /** Per-series closed-form OLS fit of `yCol` against numeric `xCol`:
    * (partCols..., n, x_max, slope, intercept, r2). Degenerate series
    * (n < 2 or constant x) come back with null slope/intercept/r2. */
  def linearTrend(df: DataFrame, partCols: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    // COMPLETE PAIRS ONLY: every moment sum is gated on both x and y
    // being non-null (the regr_* contract). Mixing n = count(y) with
    // sums over all x would silently fit garbage on gap-null series.
    val pair = col(xCol).isNotNull && col(yCol).isNotNull
    val x = when(pair, col(xCol).cast("double"))
    val y = when(pair, col(yCol).cast("double"))
    val fit = df.groupBy(partCols.map(col): _*)
      .agg(count(x).as("n"), max(x).as("x_max"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denY = col("n") * col("syy") - col("sy") * col("sy")
    val slope = when(den =!= 0, num / den)
    fit.select(partCols.map(col) ++ Seq(
      col("n"), col("x_max"),
      slope.as("slope"),
      when(den =!= 0, (col("sy") - (num / den) * col("sx")) / col("n"))
        .as("intercept"),
      when(den =!= 0 && denY =!= 0, (num * num) / (den * denY)).as("r2")): _*)
  }

  /** Linear-trend forecast: fit per series, then extrapolate `horizon`
    * periods past each series' last observation. Output: per series and
    * h in 1..horizon, (partCols..., h, x_f, slope, intercept, r2,
    * forecast). The explode over the horizon is per-fitted-row (one row
    * per series), so the fan-out is negligible at any scale. */
  def forecastTrend(df: DataFrame, partCols: Seq[String], xCol: String,
                    yCol: String, horizon: Int): DataFrame =
    linearTrend(df, partCols, xCol, yCol)
      .select(col("*"), explode(sequence(lit(1), lit(horizon))).as("h"))
      .withColumn("x_f", col("x_max") + col("h"))
      .select(partCols.map(col) ++ Seq(col("h"), col("x_f"),
        col("slope"), col("intercept"), col("r2"),
        (col("intercept") + col("slope") * col("x_f")).as("forecast")): _*)

  /** Seasonal-dummy OLS per series: y = γ_season + β·x with one intercept
    * per season (season = x mod `period`; callers align the index so that
    * holds, e.g. x = months since Jan of an epoch year for period 12).
    *
    * Computed EXACTLY as the full dummy regression via the
    * Frisch–Waugh–Lovell theorem: β = Σ(ỹ·x̃)/Σ(x̃²) over within-season
    * demeaned values, and each γ_m = ȳ_m − β·x̄_m — but the demeaned
    * cross-products are derived algebraically from per-season moment sums
    * (Σxy_m − Σx_m·Σy_m/n_m), so the whole fit is ONE groupBy(series,
    * season) plus a window over the tiny per-season frame. No per-row
    * second pass, no normal-equations solve.
    *
    * Output: one row per (series, season): (partCols..., season, n_season,
    * slope, gamma, r2) — slope/r2 repeated per season for convenience. */
  def seasonalTrend(df: DataFrame, partCols: Seq[String], xCol: String,
                    yCol: String, period: Int = 12): DataFrame =
    seasonalFit(df, partCols, xCol, yCol, period)
      .select(partCols.map(col) ++ Seq(col("season"), col("n_season"),
        col("slope"), col("gamma"), col("r2")): _*)

  /** [[seasonalTrend]] plus each series' last observed index (`x_max`,
    * window-max over the tiny per-season frame) — so forecastSeasonal
    * never re-scans the input for it. Complete pairs only, like
    * linearTrend. */
  private def seasonalFit(df: DataFrame, partCols: Seq[String], xCol: String,
                          yCol: String, period: Int): DataFrame = {
    val pair = col(xCol).isNotNull && col(yCol).isNotNull
    val x = when(pair, col(xCol).cast("double"))
    val y = when(pair, col(yCol).cast("double"))
    val season = (col(xCol).cast("long") % period + period) % period
    val perSeason = df.filter(pair)
      .groupBy((partCols.map(col) :+ season.as("season")): _*)
      .agg(count(x).as("n_season"), max(col(xCol).cast("long")).as("x_season_max"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val w = Window.partitionBy(partCols.map(col): _*)
    // within-season demeaned moments, summed across seasons per series
    val numT = sum(col("sxy") - col("sx") * col("sy") / col("n_season")).over(w)
    val denT = sum(col("sxx") - col("sx") * col("sx") / col("n_season")).over(w)
    val tssW = sum(col("syy") - col("sy") * col("sy") / col("n_season")).over(w)
    val slope = when(denT =!= 0, numT / denT)
    perSeason
      .withColumn("x_max", max(col("x_season_max")).over(w))
      .withColumn("slope", slope)
      .withColumn("gamma",
        col("sy") / col("n_season") - col("slope") * col("sx") / col("n_season"))
      // R² of the residuals after the dummies: share of within-season
      // variance the trend explains (the comparison statistic a
      // seasonal-representations report ranks models by)
      .withColumn("r2",
        when(denT =!= 0 && tssW =!= 0, numT * numT / (denT * tssW)))
  }

  /** Seasonal forecast: fit [[seasonalTrend]], then extrapolate `horizon`
    * periods past each series' last observation, picking each future
    * period's own seasonal intercept. Output per (series, h):
    * (partCols..., h, x_f, season, slope, gamma, forecast). A future
    * period whose season never occurred in the history keeps its row with
    * null slope/gamma/forecast (left join — silent row loss would hide
    * the gap from a caller iterating h = 1..horizon). One pass over the
    * input:
    * x_max rides along on the per-season fit frame. */
  def forecastSeasonal(df: DataFrame, partCols: Seq[String], xCol: String,
                       yCol: String, horizon: Int,
                       period: Int = 12): DataFrame = {
    val fit = seasonalFit(df, partCols, xCol, yCol, period)
    // one row per series from the tiny per-season frame
    val xMax = fit.groupBy(partCols.map(col): _*).agg(max("x_max").as("x_max"))
    val future = xMax
      .select(col("*"), explode(sequence(lit(1), lit(horizon))).as("h"))
      .withColumn("x_f", col("x_max") + col("h"))
      .withColumn("season", (col("x_f") % period + period) % period)
    // per-season fit frame is one row per (series, season) — broadcast it
    val fitSel = fit.select(partCols.map(col) ++ Seq(col("season"),
      col("slope"), col("gamma")): _*)
    val joined =
      if (partCols.isEmpty) future.join(broadcast(fitSel), Seq("season"), "left")
      else future.join(broadcast(fitSel), partCols :+ "season", "left")
    joined.select(partCols.map(col) ++ Seq(col("h"), col("x_f"), col("season"),
      col("slope"), col("gamma"),
      (col("gamma") + col("slope") * col("x_f")).as("forecast")): _*)
  }
}
