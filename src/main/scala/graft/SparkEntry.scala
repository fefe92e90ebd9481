package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.merge.{RevisionHistory, SmartUpdate}
import graft.api.Panel

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` exercises one operator family from SURVEY.md §2
  * (or an LLM-pipeline extension) against the driver's synthetic parquet
  * tables; `oracleSql` carries the DuckDB-equivalent ANSI SQL for the
  * correctness harness. Column names and ordering are aligned pairwise.
  *
  * Determinism rules used throughout (so value hashes match across engines):
  *   - double sums go through DECIMAL casts (exact, associative arithmetic);
  *     integer-valued doubles (l_quantity) may be summed directly;
  *   - every result has a total ORDER BY;
  *   - no wall-clock anywhere (fixed revision timestamps).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The checked-in source-payload fixtures (FIXTURES.md), resolved
    * relative first so a checkout anywhere works, with the canonical repo
    * path as the fallback for harness runs whose cwd is elsewhere. ONE
    * owner — the lifecycle queries all resolve through here. */
  private[graft] def fixturesDir: String =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("fixtures")))
      "fixtures" else "/root/repo/fixtures"

  /** Alias for [[graft.sources.EventTime.rawTsToMicros]] — the
    * operator-library owner of the nanos/micros runtime-representation
    * defense (full contract documented there). Kept here so harness call
    * sites and the StreamingSpec regression pin read unchanged. */
  private[graft] def rawTsToMicros(df: DataFrame): DataFrame =
    graft.sources.EventTime.rawTsToMicros(df)

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects by default; read it as a raw long (legacy conf,
    * runtime-settable) and convert to a micros TimestampType column via the
    * magnitude guard above. The testdata's nanos are micro-exact
    * (verified), and nanos/1000 < 2^53 so the arithmetic stays exact. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      rawTsToMicros(raw).withColumn("ts", timestamp_micros(col("ts")))
    else raw
  }

  private val RevTs = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature analytical read: the date-aligned panel (J2)
    * over three independent series. */
  def entry(spark: SparkSession): DataFrame =
    panelQuery(spark, "/root/testdata/sf0.001")

  // ----------------------------------------------------------------- panel

  private def panelQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("date"))
      .agg(count(lit(1)).as("n_orders"))
    val ship = t(s, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("date"))
      .agg(count(lit(1)).as("n_ship"))
    val events = SparkEntry.events(s, dir)
      .groupBy(to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n_events"))
    Panel.panel(Seq(orders, ship, events), "date")
  }

  // -------------------------------------------------- smart_update golden

  /** The reference's own golden sequence
    * (/root/reference/tests/test_azure_connector.py:196-247): insert
    * {100,200,300} -> new=3; re-run {110,200,310} -> updated=2, revisions=2. */
  private def smartUpdateCounts(s: SparkSession): DataFrame = {
    import s.implicits._
    val b1 = Seq(("2025-01-01", 100.0), ("2025-02-01", 200.0),
      ("2025-03-01", 300.0)).toDF("date", "value")
    val b2 = Seq(("2025-01-01", 110.0), ("2025-02-01", 200.0),
      ("2025-03-01", 310.0)).toDF("date", "value")
    val empty = Seq.empty[(String, Double)].toDF("date", "value")
    val (m1, _, c1) = SmartUpdate.merge(b1, empty, "date", Seq("value"), "testds", RevTs)
    val (_, _, c2) = SmartUpdate.merge(b2, m1, "date", Seq("value"), "testds", RevTs)
    Seq((c1.newRows, c1.updated, c1.revisions, c2.newRows, c2.updated, c2.revisions))
      .toDF("p1_new", "p1_updated", "p1_revisions", "p2_new", "p2_updated", "p2_revisions")
  }

  // ------------------------------------------------ fixture pipeline (E2E)

  /** Full §3.1 lifecycle over the checked-in fixtures: 6 datasets (EDB int +
    * float + quarterly, FRED monthly + quarterly, NYU) through extract ->
    * reshape -> dates -> coerce -> gate -> smart_update -> metadata, run
    * TWICE: phase 1 into an empty store, phase 2 25h later with one
    * auto_sales value revised. Deterministic counts — oracle is a VALUES
    * table. */
  private def pipelineE2E(s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.sources.{FredSource, GridSource, NyuSource}
    import graft.config.Registry
    import graft.pipeline.Runner
    import graft.store.TableStore
    val fx = fixturesDir
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val store = new TableStore(s, dir)
    var nowV = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    val runner = new Runner(s, store, () => nowV)

    val auto = Registry.edbConfigs.find(_.name == "auto_sales").get
    val gas = Registry.edbConfigs.find(_.name == "gas_price").get
    val loans = Registry.DatasetConfig("individual_loans", "individualloans",
      "IndividualLoans", Registry.FloatType, Registry.Quarterly,
      dataLocation = "A6:K10")
    val ffr = Registry.fredConfigs.find(_.name == "federal_funds_rate").get
    val gdp = Registry.fredConfigs.find(_.name == "real_gdp").get

    def datasets(reviseAuto: Boolean): Seq[(String, DataFrame, Seq[String])] = {
      // auto_sales reads through the DataSourceV2 connector (executor-side
      // parse); the other grids use the driver-side reader — same output
      val autoGrid = s.read.format("edb-grid")
        .option("dataLocation", auto.dataLocation)
        .load(s"$fx/edb_auto_sales.csv")
      val (autoC, autoS) = GridSource.canonicalize(
        GridSource.processMonthly(autoGrid, auto), auto)
      val autoFinal = if (reviseAuto)
        autoC.withColumn(autoS, when(col("date") === "2015-07-01",
          col(autoS) + 500).otherwise(col(autoS)))
      else autoC
      // gas_price and NYU read REAL workbook bytes (.xlsx) through
      // XlsxReader; quarterly_loans reads legacy BIFF8 bytes (.xls — the
      // format of every production EDB file, core_local/config.py:32-116)
      // through XlsReader — same cells as the CSV twins, counts unchanged
      val (gasC, gasS) = GridSource.canonicalize(GridSource.processMonthly(
        GridSource.readGrid(s, s"$fx/edb_gas_price.xlsx", gas.dataLocation), gas), gas)
      val (loanC, loanS) = GridSource.canonicalize(GridSource.processQuarterly(
        GridSource.readGrid(s, s"$fx/edb_quarterly_loans.xls", loans.dataLocation), loans), loans)
      val (ffrC, ffrS) = FredSource.canonicalize(FredSource.process(
        FredSource.readObservations(s, s"$fx/fred_federal_funds_rate.json"), ffr), ffr)
      val (gdpC, gdpS) = FredSource.canonicalize(FredSource.process(
        FredSource.readObservations(s, s"$fx/fred_real_gdp.json"), gdp), gdp)
      val nyuC = NyuSource.canonicalize(NyuSource.process(
        NyuSource.readSheet(s, s"$fx/nyu_erp.xlsx")))
      Seq(
        (auto.tableName, autoFinal, Seq(autoS)),
        (gas.tableName, gasC, Seq(gasS)),
        (loans.tableName, loanC, Seq(loanS)),
        (ffr.tableName, ffrC, Seq(ffrS)),
        (gdp.tableName, gdpC, Seq(gdpS)),
        (Registry.nyuConfig.tableName, nyuC, Registry.nyuValueFields))
    }

    // fixture batches are <=130 rows: with the session's 32 shuffle
    // partitions the ~80 tiny jobs here would spend their time scheduling
    // empty tasks — scope a small partition count to this run and restore
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      // auto_sales goes through the YEAR-PARTITIONED scale path (dynamic
      // partition overwrite); the other five run CONCURRENTLY via the
      // parallel per-dataset runner (§7.6a) — counts must be identical
      // either way
      def runPhase(phase: Int, reviseAuto: Boolean) = {
        val ds = datasets(reviseAuto)
        val (autoDs, rest) = ds.partition(_._1 == auto.tableName)
        val autoR = autoDs.map { case (t, df, vf) =>
          runner.runDatasetPartitioned(t, df, vf)
        }
        val restR = runner.runAllParallel(rest)
        (autoR ++ restR).map(r =>
          (r.dataset, phase, r.status, r.newRows, r.updated, r.revisions))
      }
      val phase1 = runPhase(1, reviseAuto = false)
      nowV = java.sql.Timestamp.valueOf("2025-06-02 01:00:00") // past the gate
      val phase2 = runPhase(2, reviseAuto = true)
      (phase1 ++ phase2)
        .toDF("dataset", "phase", "status", "new_rows", "updated", "revisions")
        .orderBy("phase", "dataset")
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  // ---------------------------------------------- diff-merge over testdata

  private def incBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_linenumber") <= 3)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("qty"), count(lit(1)).cast("double").as("nline"))

  private def exBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_linenumber") >= 2)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("qty"), count(lit(1)).cast("double").as("nline"))

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S5/T3/A: scan -> groupBy aggregate (TPC-H Q1 shape; pushdown + partial agg)
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P1-P3/T3: filter + projection (predicate/column pushdown to parquet)
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), to_date(col("l_shipdate")).as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    }),

    // J: equi-join with broadcast dimension + aggregate
    "q03_join_broadcast" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // Skew path: salted join + salted two-phase agg — results must be
    // IDENTICAL to the plain formulations (oracle is the unsalted SQL)
    "q21_salted" -> ((s, dir) => {
      val joined = Skew.saltedJoin(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        Seq("l_orderkey"), salts = 8)
      Skew.saltedSumCount(joined, Seq("o_orderpriority"), "l_quantity", 8)
        .withColumnRenamed("sum_l_quantity", "sum_qty")
        .orderBy("o_orderpriority")
    }),

    // Bucketing: both sides written bucketed+sorted on the join key, so the
    // join plan needs NO exchange (co-located sort-merge). Oracle = the
    // plain join SQL; results must match exactly.
    "q26_bucketed_join" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li").saveAsTable("graft_li_bucketed")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/o").saveAsTable("graft_o_bucketed")
      // MERGE hint: at this test scale Spark would broadcast the small side
      // and bucketing would never engage; the hint forces the sort-merge
      // path, where matching bucket layouts remove both shuffles
      s.table("graft_li_bucketed").hint("merge")
        .join(s.table("graft_o_bucketed"), Seq("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // O3: global top-K (TakeOrderedAndProject, no full sort)
    "q04_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    }),

    // T2: unpivot / melt — the reference's signature reshape
    "q05_melt" -> ((s, dir) => {
      val casted = t(s, dir, "part").select(col("p_partkey"),
        col("p_size").cast("double").as("p_size"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      Reshape.melt(casted, Seq("p_partkey"), Seq("p_size", "p_retailprice"))
        .orderBy("p_partkey", "variable")
    }),

    // F1: fiscal->calendar monthly date algebra (month-name mapping included)
    "q06_fiscal_monthly" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "MMMM").as("mname"),
          year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("m"))
        .withColumn("fy", when(col("m") >= 7, col("yr") + 1).otherwise(col("yr")))
        .select(FiscalDates.fiscalMonthlyDate(col("mname"), col("fy")).as("month_start"))
        .groupBy("month_start").agg(count(lit(1)).as("n"))
        .orderBy("month_start")
    }),

    // F2: fiscal->calendar quarterly (quarter-label mapping, Q4 rollover)
    "q07_fiscal_quarterly" -> ((s, dir) => {
      val q = quarter(col("o_orderdate"))
      val label = when(q === 1, "Jan-Mar").when(q === 2, "Apr-Jun")
        .when(q === 3, "Jul-Sep").otherwise("Oct-Dec")
      val fy = when(q >= 3, year(col("o_orderdate")) + 1)
        .otherwise(year(col("o_orderdate")))
      t(s, dir, "orders")
        .select(FiscalDates.fiscalQuarterlyDate(label, fy).as("quarter_date"))
        .groupBy("quarter_date").agg(count(lit(1)).as("n"))
        .orderBy("quarter_date")
    }),

    // F3: FRED quarter-end shift (one-expression equivalent of the 4-way case)
    "q08_quarter_shift" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(FiscalDates.quarterEndShift(col("o_orderdate")).as("next_q"))
        .groupBy("next_q").agg(count(lit(1)).as("n"))
        .orderBy("next_q")
    }),

    // F4/F5/F6: null-on-error coercion, missing sentinel, HALF_EVEN rounding
    "q09_coerce" -> ((s, dir) => {
      val str = when(col("l_linenumber") === 1, lit("."))
        .when(col("l_linenumber") === 2,
          concat(lit("x"), col("l_quantity").cast("string")))
        .otherwise(col("l_quantity").cast("string"))
      t(s, dir, "lineitem")
        .select(Coerce.fredValue(str).as("value"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(Coerce.roundToLong(col("value") * 1.5)).as("sum_rounded"))
    }),

    // F7: percent normalization with the reference's 0.2 heuristic
    "q10_percent" -> ((s, dir) => {
      val cell = when(pmod(col("l_linenumber"), lit(3)) === 0,
          concat(round(col("l_discount") * 100, 2).cast("string"), lit("%")))
        .when(pmod(col("l_linenumber"), lit(3)) === 1,
          col("l_quantity").cast("string"))
        .otherwise(col("l_discount").cast("string"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), Percent.normalize(cell).as("pct"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("pct").cast("decimal(18,9)")).cast("double").as("sum_pct"))
        .orderBy("l_returnflag")
    }),

    // J1/§2.10: diff-merge classification via full-outer key join
    "q11_diff_classify" -> ((s, dir) => {
      SmartUpdate.classify(incBatch(s, dir), exBatch(s, dir),
          "l_orderkey", Seq("qty", "nline"))
        .groupBy("status").agg(count(lit(1)).as("cnt"))
        .orderBy("status")
    }),

    // §2.10: per-changed-field revision fan-out (CDC audit trail)
    "q12_revisions" -> ((s, dir) => {
      SmartUpdate.revisions(incBatch(s, dir), exBatch(s, dir),
          "l_orderkey", Seq("qty", "nline"), "lineitem", RevTs)
        .select("data_date", "value_field", "old_value", "new_value")
        .orderBy("data_date", "value_field")
    }),

    // §2.11 + P3/O2/O3: revision-history read path (filter/sort/limit chain)
    "q13_revision_history" -> ((s, dir) => {
      val revs = SmartUpdate.revisions(incBatch(s, dir), exBatch(s, dir),
        "l_orderkey", Seq("qty", "nline"), "lineitem", RevTs)
      RevisionHistory.query(revs, dataset = Some("lineitem"),
        field = Some("qty"), limit = Some(100))
    }),

    // J2: the flagship panel export — multi-way full-outer date alignment
    "q14_panel" -> ((s, dir) => panelQuery(s, dir)),

    // A1: in-engine monthly resample (replaces FRED server-side frequency='m')
    "q15_resample_month" -> ((s, dir) => {
      events(s, dir)
        .groupBy(FiscalDates.monthStart(col("ts")).as("month"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(25,10)")).cast("double") /
            count(col("value"))).as("avg_value"))
        .orderBy("month")
    }),

    // A1: quarterly resample (FRED frequency='q')
    "q16_resample_quarter" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(FiscalDates.quarterStart(col("o_orderdate")).as("quarter"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("quarter")
    }),

    // W: lag window — MoM change per series (SURVEY §7.6 analytics extension)
    "q17_window_lag" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("date"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.periodChange(daily, Seq.empty, "date", "cnt")
        .select("date", "cnt", "prev_value", "change")
        .orderBy("date")
    }),

    // W: rolling mean over trailing 7 rows
    "q18_rolling_mean" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("date"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.rollingMean(daily, Seq.empty, "date", "cnt", 7)
        .select("date", "cnt", "rolling_mean_7")
        .orderBy("date")
    }),

    // W: year-over-year change (lag 12 on the monthly grid)
    "q22_yoy" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(FiscalDates.monthStart(col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.yoyChange(monthly, Seq.empty, "month", "cnt", periodsPerYear = 12)
        .select("month", "cnt", "yoy_prev", "yoy_change")
        .orderBy("month")
    }),

    // FORECASTING (reference's forecast.py, economic_indicators.md:122-125):
    // per-series closed-form OLS trend over monthly revenue, extrapolated 6
    // months — one hash aggregation fits all 5 series at once. The month
    // index is CENTERED (Jan 1992 = 0) so the moment-sum closed form never
    // cancels catastrophically; revenue is summed in exact decimal then
    // scaled to millions so both engines derive identical doubles.
    // Oracle: DuckDB regr_slope / regr_intercept / regr_r2.
    "forecast_trend" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
            - lit(23904)).as("month_idx"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          / 1e6).as("rev_m"))
      Analytics.forecastTrend(monthly, Seq("o_orderpriority"),
          "month_idx", "rev_m", horizon = 6)
        .select(col("o_orderpriority"), col("h"),
          col("x_f").cast("long").as("month_f"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"),
          round(col("forecast"), 6).as("forecast"))
        .orderBy("o_orderpriority", "h")
    }),

    // FORECASTING (reference's regression_forecast.py "seasonal pattern
    // analysis"): month-dummy OLS over the global monthly revenue series
    // via the Frisch-Waugh moment decomposition (exactly the full dummy
    // regression, computed from per-month moment sums — no solver), each
    // future month forecast picking its own seasonal intercept.
    // Oracle: DuckDB re-derives the identical FWL sums.
    "forecast_seasonal" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1
          - lit(23904)).as("month_idx"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          / 1e6).as("rev_m"))
      Analytics.forecastSeasonal(monthly, Seq.empty, "month_idx", "rev_m",
          horizon = 12, period = 12)
        .select(col("h"), col("x_f").cast("long").as("month_f"),
          col("season").cast("long").as("season"),
          round(col("slope"), 6).as("slope"),
          round(col("gamma"), 6).as("gamma"),
          round(col("forecast"), 6).as("forecast"))
        .orderBy("h")
    }),

    // As-of (point-in-time) join: each daily order count gets the latest
    // event-day stats at or before it. One window pass, no join node.
    "asof_join" -> ((s, dir) => {
      val left = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("date"))
        .agg(count(lit(1)).as("n_orders"))
      val right = events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n_events"))
      AsOf.asOfJoin(left, right, "date", Seq("n_events"))
        .orderBy("date")
    }),

    // Range join (funnel): purchases within [signup, signup+3d] for a 1%
    // signup sample — bucketed equi-join + exact filter, never a cartesian.
    // Oracle is the naive BETWEEN join.
    "range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val intervals = ev.filter(col("event_type") === "signup" &&
          pmod(col("event_id"), lit(100)) === 0)
        .select(col("event_id").as("signup_id"), to_date(col("ts")).as("start_d"))
        .withColumn("end_d", date_add(col("start_d"), 3))
      val points = ev.filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("p_date"))
      RangeJoin.pointInInterval(points, "p_date", intervals, "start_d", "end_d",
          bucketDays = 4)
        .groupBy("signup_id", "start_d")
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("signup_id")
    }),

    // U1: union of status frames (run-summary concat analog)
    "q19_union" -> ((s, dir) => {
      val a = events(s, dir).groupBy(col("event_type").as("name"))
        .agg(count(lit(1)).as("n"))
      val b = t(s, dir, "orders").groupBy(col("o_orderstatus").as("name"))
        .agg(count(lit(1)).as("n"))
      a.unionByName(b).orderBy("name", "n")
    }),

    // O3: top-K newest (FRED sort_order=desc & limit=1000 shape)
    "q20_topk_events" -> ((s, dir) => {
      events(s, dir)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1000)
        .select("event_id", "ts", "event_type")
    }),

    // Semi-structured: JSON props extraction + typed aggregate
    "q23_json" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    // Exact percentiles (interpolated) per group
    "q24_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Multi-dimensional aggregate: ROLLUP over (returnflag, linestatus)
    "q25_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Generator + heavy-shuffle aggregate: corpus-wide top tokens
    "text_topwords" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    }),

    // golden contract: reference's smart_update 3-new/2-updated/2-revisions
    "smart_update_counts" -> ((s, _) => smartUpdateCounts(s)),

    // §3.1 full lifecycle over fixtures: sources -> reshape -> dates ->
    // coerce -> gate -> smart_update -> metadata, two phases
    "pipeline_e2e" -> ((s, _) => pipelineE2E(s)),

    // Read-side API surface: store populated via the runner, registered as
    // SQL temp views, queried with spark.sql (the user-facing SQL path),
    // plus the all-series pivot panel. Deterministic fixture values.
    "api_store_sql" -> ((s, _) => {
      import graft.api.EngineApi
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val store = ingestTwoWorkbooks(s)
        val api = new EngineApi(s, store)
        api.registerViews()
        s.sql("""SELECT a.date, a.sales, g.price
                |FROM autosales a FULL OUTER JOIN gasprice g USING (date)
                |WHERE a.date >= '2020-01-01' ORDER BY a.date""".stripMargin)
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // LATEST-OBSERVATION read API (view_data.py's "view latest data"):
    // ingest the two real workbooks, then ask every populated series for
    // its newest observation — one max_by hash aggregation, no per-series
    // loop. Oracle pins the fixtures' last grid cells.
    "latest_obs" -> ((s, _) => {
      import graft.api.EngineApi
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val store = ingestTwoWorkbooks(s)
        val api = new EngineApi(s, store)
        // the single-series arg-max path must agree with the all-series
        // aggregate on the dataset it covers
        val one = api.latest("autosales")
          .select(lit("autosales").as("dataset"), col("date"),
            col("sales").cast("double").as("value"))
        api.latestAll().unionByName(one)
          .groupBy("dataset", "date", "value")
          .agg(count(lit(1)).as("n_paths"))
          .orderBy("dataset")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // The READ path of latest_obs alone: identical result and oracle, but
    // over the memoized fixture store — so the bench row measures what a
    // user's "view latest data" call costs against an EXISTING store
    // (TakeOrderedAndProject + one max_by agg), not the fixture ingest.
    "latest_obs_read" -> ((s, _) => {
      import graft.api.EngineApi
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val store = ingestTwoWorkbooksCached(s)
        val api = new EngineApi(s, store)
        val one = api.latest("autosales")
          .select(lit("autosales").as("dataset"), col("date"),
            col("sales").cast("double").as("value"))
        api.latestAll().unionByName(one)
          .groupBy("dataset", "date", "value")
          .agg(count(lit(1)).as("n_paths"))
          .orderBy("dataset")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // The DISTRIBUTED (DataSourceV2) grid-parse path end-to-end: both
    // fixture grids read via spark.read.format("edb-grid") — the parse
    // runs in executor tasks behind a BatchScan, one partition per file —
    // then the same monthly pipeline and panel window as api_store_sql,
    // pinned by the same oracle. Proves the V2 connector is a drop-in
    // for the driver-side reader at identical results.
    "v2_grid_panel" -> ((s, _) => {
      import graft.config.Registry
      import graft.sources.GridSource
      val fx = fixturesDir
      def seriesV2(file: String, cfgName: String): DataFrame = {
        val cfg = Registry.edbConfigs.find(_.name == cfgName).get
        val grid = s.read.format("edb-grid")
          .option("dataLocation", cfg.dataLocation).load(s"$fx/$file")
        GridSource.canonicalize(GridSource.processMonthly(grid, cfg), cfg)._1
      }
      seriesV2("edb_auto_sales.csv", "auto_sales")
        .join(seriesV2("edb_gas_price.csv", "gas_price"), Seq("date"), "full_outer")
        .filter(col("date") >= "2020-01-01")
        .select(col("date"), col("sales").cast("double").as("sales"),
          col("price").cast("double").as("price"))
        .orderBy("date")
    }),

    // Panel ANALYSIS-CSV EXPORT (the reference's documented export_data.py
    // surface): ingest two real workbooks, export panelFull() as a headered
    // date-sorted CSV, then RE-READ the CSV — the result must hash-match
    // the api_store_sql panel values, proving the export round-trips
    // (Spark's shortest-repr double formatting parses back bit-identical).
    // Corpus delivery: JSONL export round-trip — documents written as
    // per-language JSONL shards (the partition column lives in the
    // directory layout, not the lines), read back with the DECLARED
    // schema. The oracle is the source table itself: the sink must
    // round-trip every row byte-faithfully through Jackson escaping.
    "export_jsonl" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
      val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      graft.sources.Jsonl.write(docs, out, partitionBy = Seq("lang"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      graft.sources.Jsonl.read(s, out, schema)
        .select(col("doc_id"), col("text"),
          col("lang").cast("string").as("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    "panel_export_csv" -> ((s, _) => {
      import graft.api.EngineApi
      import org.apache.spark.sql.types._
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val store = ingestTwoWorkbooks(s)
        val out = new EngineApi(s, store).exportPanelCsv()
        val schema = StructType(Seq(StructField("date", StringType),
          StructField("autosales", DoubleType),
          StructField("gasprice", DoubleType)))
        s.read.schema(schema).option("header", "true").csv(out)
          .filter(col("date") >= "2020-01-01")
          .select(col("date"), col("autosales").as("sales"),
            col("gasprice").as("price"))
          .orderBy("date")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // J2 at the FULL 26-dataset registry: synthesize all 15 EDB workbooks
    // (real .xlsx bytes), 10 FRED JSONs, and the NYU sheet from closed-form
    // value formulas, ingest every one through its complete source pipeline
    // and the smart_update merge, then read the all-series panel (25 pivoted
    // series + 3 unpivoted NYU rates). Oracle recomputes the window from the
    // same formulas in pure SQL — end-to-end over the whole ingestion stack.
    "panel_all" -> ((s, _) => {
      import graft.api.EngineApi
      import graft.config.Registry
      import graft.pipeline.Runner
      import graft.sources.{FredSource, GridSource, NyuSource}
      import graft.store.TableStore
      import graft.tools.RegistryFixtures
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val (fx, files) = panelFixtures // generated once per JVM (deterministic)
        val dir = java.nio.file.Files.createTempDirectory("graft-panel-st").toString
        val store = new TableStore(s, dir)
        val runner = new Runner(s, store,
          () => java.sql.Timestamp.valueOf("2025-06-01 00:00:00"))
        // dataset construction overlaps like the ingest below: the 26
        // are independent, and each does real work before any merge runs
        // (a driver-side workbook parse, or a FRED schema-inference job)
        val datasets = Overlap(s, runner.defaultIngestParallelism)(
          Registry.allConfigs.map { cfg =>
            s"read: ${cfg.tableName}" -> { () =>
              val path = s"$fx/${files(cfg.name)}"
              cfg.kind match {
                case Registry.Fred =>
                  val (canon, snake) = FredSource.canonicalize(
                    FredSource.process(
                      FredSource.readObservations(s, path), cfg), cfg)
                  (cfg.tableName, canon, Seq(snake))
                case Registry.NyuStern =>
                  (cfg.tableName, NyuSource.canonicalize(NyuSource.process(
                    NyuSource.readSheet(s, path))), Registry.nyuValueFields)
                case _ =>
                  val grid = GridSource.readGrid(s, path, cfg.dataLocation)
                  val (canon, snake) = GridSource.canonicalize(
                    GridSource.processMonthly(grid, cfg), cfg)
                  (cfg.tableName, canon, Seq(snake))
              }
            }
          })
        runner.runAllParallel(datasets)
        new EngineApi(s, store).panelFull()
          .filter(col("date").between("2020-01-01", "2024-12-31"))
          .orderBy("date")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // LLM dedup #1: exact content dedup via fingerprint hash-groupBy
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactSurvivors(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // LLM dedup, INCREMENTAL mode: a new batch (sources src5+) dedups
    // against the fingerprint index of everything already processed
    // (src0-src4) — history is touched as fingerprints only, never as
    // text. The oracle re-derives the index, the within-batch min-id
    // survivors, and the anti-join independently.
    "dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val seen = Seq("src0", "src1", "src2", "src3", "src4")
      val index = Dedup.fingerprintIndex(
        d.filter(col("source").isin(seen: _*)), "doc_id", "text")
      val incoming = d.filter(!col("source").isin(seen: _*))
      Dedup.dedupAgainstIndex(incoming, index, "doc_id", "text")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // LLM near-dup, INCREMENTAL mode: the new batch (src5+) finds
    // near-dups against the persisted minhash SIGNATURE index of
    // already-processed history (src0-src4) — candidates from the
    // (band, bucket) equi-join, verified by signature-estimated Jaccard,
    // so history participates as 64-long signatures, never as text.
    "dedup_minhash_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val seen = Seq("src0", "src1", "src2", "src3", "src4")
      // the index is derived IN-PLAN here (production scans it from the
      // store): checkpoint it lazily so the history signature build runs
      // once — the operator consumes the index in two branches
      val index = Dedup.minhashIndex(
        d.filter(col("source").isin(seen: _*)), "doc_id", "text")
        .localCheckpoint(false)
      val incoming = d.filter(!col("source").isin(seen: _*))
      Dedup.nearDupAgainstIndex(incoming, index, "doc_id", "text")
        .orderBy("id", "matched_id")
    }),

    // LLM dedup: n-gram Jaccard on adjacent-id pairs — a VERIFY KERNEL
    // demo (exact Jaccard over an externally-given pair list), NOT a
    // candidate generator: at scale the pair list comes from the banded
    // families (minhash LSH / simhash quarters), never from id
    // adjacency
    "dedup_ngram" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("idA"), col("b.doc_id").as("idB"),
          round(Dedup.jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
        .orderBy("idA")
    }),

    // LLM dedup: MinHash-LSH near-dup pairs (banded; fully oracled — the
    // portable md5-seeded hash family lets DuckDB re-derive the pipeline)
    "dedup_minhash" -> ((s, dir) => {
      // materialize=true: the shingle subtree feeds the signature build
      // AND both verify-join sides; without the operator's scoped cache
      // the lazy plan recomputes it ~3x (Catalyst has no common-subplan
      // reuse across joins), ~3x wall. The pair-list cache entry this
      // leaves is plan-keyed and REMAINS persisted after the query (the
      // operator's contract: the caller owns unpersist, and a bench
      // harness consuming the returned frame has no post-action hook to
      // release it) — Bench therefore clears the session cache before
      // every timed run, so iterations recompute honestly whether or not
      // dedup_cluster (whose own unpersist happens to evict the shared
      // plan-keyed entry) is in the run set. Honest eager cost at sf0.1
      // ~4-5s; a cached re-read measures ~0.5s (the r10 honesty bug, and
      // the r14 focused-subset reprise that motivated the Bench-level
      // clear).
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.7,
          materialize = true)
        .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("idA", "idB")
    }),

    // Transitive near-dup CLUSTERS over the minhash pairs: iterative
    // min-label propagation (bounded-round equi-join + groupBy shuffles),
    // so A~B, B~C collapse to one representative even when A!~C directly.
    // Oracle: recursive min-label reachability over the same pairs.
    "dedup_cluster" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDupPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleWords = 3, numHashes = 64, bands = 16,
        threshold = 0.7, materialize = true)
      // the propagation loop shuffles the EDGE LIST only (orders of
      // magnitude smaller than the corpus); AQE coalesces each round's
      // exchanges to the edge list's true size — no process-global
      // shuffle-partition flip (unsafe under concurrent planning, and
      // local[32] tuning rather than engine design)
      val clusters =
        try Dedup.clusterPairs(pairs)
        finally {
          pairs.unpersist(false) // clusterPairs returns a checkpointed frame
          ()
        }
      clusters
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),

    // QUALITY-AWARE near-dup survivor selection — the policy a real
    // curation pipeline wants instead of keep-min-id: connected
    // components over the MinHash-LSH pair graph (the dedup_cluster
    // machinery), and within each component the member passing the
    // MOST quality rules survives (integer rule count 0..3 — the
    // qualityScore numerator, division-free so the argmax order is
    // exact in any engine; ties by lowest doc_id). Docs in no near-dup
    // pair survive untouched. The per-component window runs over the
    // CLUSTERED members only (edge-list-bounded, never the corpus);
    // singletons come from one corpus-scale left-anti join. Oracle
    // replays pairs -> recursive components -> rule counts -> argmax.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.7,
        materialize = true)
      // no shuffle-partition flip: clusterPairs' rounds are AQE-coalesced
      // to the edge list's true size (see dedup_cluster)
      val clusters =
        try Dedup.clusterPairs(pairs)
        finally {
          pairs.unpersist(false)
          ()
        }
      // ONE quality pass + ONE corpus-side join: every doc's rule count
      // is computed once, the (edge-bounded) cluster labels attach via a
      // single left join, and the rep-null rows ARE the singletons (the
      // old shape ran the qualityRuleCount regexes twice — once for the
      // member join, once for the anti-join — two full corpus scans)
      val labeled = docs.select(col("doc_id"),
          TextAnalysis.qualityRuleCount(col("text")).as("nq"))
        .join(clusters.select(col("id").as("doc_id"), col("rep")),
          Seq("doc_id"), "left")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("rep").orderBy(col("nq").desc, col("doc_id").asc)
      val bestClustered = labeled.filter(col("rep").isNotNull)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("doc_id", "rep", "nq")
      val singles = labeled.filter(col("rep").isNull)
        .select(col("doc_id"), col("doc_id").as("rep"), col("nq"))
      bestClustered.unionByName(singles).orderBy("doc_id")
    }),

    // Test-set DECONTAMINATION: docs with doc_id % 50 == 0 stand in for a
    // benchmark suite; every other doc is flagged if it shares any word
    // 3-gram with the benchmark (shared-shingle count included). The
    // benchmark shingle set broadcasts; the corpus never shuffles.
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", shingleWords = 3)
        .orderBy("doc_id")
    }),

    // LLM dedup: Bloom-filter decontamination — the scale path for
    // benchmark sets too big to broadcast raw. The filter is SIZED TO
    // THE BENCHMARK (16 bits/shingle, 1024-word floor — the 100x probe
    // showed a fixed bitmap saturating to fp≈1), built over benchmark
    // shingles with a word-keyed bit_or aggregate, held on the driver,
    // and probed map-side: zero joins on the corpus. Deterministic
    // md5-window positions make even the false positives
    // engine-replayable; the oracle replays the sizing too.
    "bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bitmap = Dedup.bloomBuildAuto(docs.filter(col("doc_id") % 50 === 0),
        "text", shingleWords = 3, k = 3)
      Dedup.decontaminateBloom(docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", shingleWords = 3, bitmap, k = 3)
        .orderBy("doc_id")
    }),

    // LLM dedup: SimHash near-dup pairs (quartered fingerprint
    // blocking). Radius 6 exceeds the 4-quarter pigeonhole's complete
    // range (<= 3) — the CONTRACT here is blocking-limited recall, and
    // the oracle replays the identical blocking, hence approxRecall.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6, approxRecall = true)
        .orderBy("idA", "idB")
    }),

    // HOT-BUCKET ESCALATION under a planted degenerate print corpus:
    // every row shares quarter 0 (the all-zero key a flat image / silent
    // clip produces), so with hotThreshold = 64 the whole corpus rides
    // the level-2 sub-block re-block — the plain bucket join would be
    // |corpus|^2. Planted (even, odd) partner pairs carry 1..3 bit
    // flips (plus >3-flip negatives that must NOT appear). The oracle
    // is BRUTE-FORCE hamming over the packed 64-bit prints — blocking-
    // independent, so the row pins the escalation SOUND (identical to
    // exhaustive search), not merely self-consistent.
    "dedup_hotbucket" -> ((s, dir) => {
      val f = t(s, dir, "documents")
        .selectExpr("doc_id AS id",
          "md5(CAST(doc_id - (doc_id % 2) AS STRING)) AS h",
          "doc_id - (doc_id % 2) AS b")
        .selectExpr("id", "b",
          "CAST(0 AS BIGINT) AS q0",
          "CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) AS q1r",
          "CAST(conv(substr(h, 5, 4), 16, 10) AS BIGINT) AS q2r",
          "CAST(conv(substr(h, 9, 4), 16, 10) AS BIGINT) AS q3r")
        .selectExpr("id", "q0",
          "CASE WHEN id % 2 = 1 THEN q1r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 12 AS INT)) ELSE q1r END AS q1",
          "CASE WHEN id % 2 = 1 AND b % 3 = 0 THEN q2r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 5 AS INT)) ELSE q2r END AS q2",
          "CASE WHEN id % 2 = 1 AND b % 7 = 0 THEN q3r ^ shiftleft(CAST(7 AS BIGINT), CAST(b % 13 AS INT)) " +
            "WHEN id % 2 = 1 AND b % 5 = 0 THEN q3r ^ shiftleft(CAST(3 AS BIGINT), CAST(b % 13 AS INT)) " +
            "ELSE q3r END AS q3")
        .selectExpr("id", "array(q0, q1, q2, q3) AS sh")
      Dedup.quarterNearDupPairs(f, maxHamming = 3, hotThreshold = 64)
        .orderBy("idA", "idB")
    }),

    // the INDEX form of the escalation under the same degenerate
    // corpus: odd-id batch against the even-id persisted print index —
    // hotness decided on the COMBINED bucket, both sides re-blocked;
    // oracle again blocking-independent brute force
    "dedup_hotbucket_incremental" -> ((s, dir) => {
      val f = t(s, dir, "documents")
        .selectExpr("doc_id AS id",
          "md5(CAST(doc_id - (doc_id % 2) AS STRING)) AS h",
          "doc_id - (doc_id % 2) AS b")
        .selectExpr("id", "b",
          "CAST(0 AS BIGINT) AS q0",
          "CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) AS q1r",
          "CAST(conv(substr(h, 5, 4), 16, 10) AS BIGINT) AS q2r",
          "CAST(conv(substr(h, 9, 4), 16, 10) AS BIGINT) AS q3r")
        .selectExpr("id", "q0",
          "CASE WHEN id % 2 = 1 THEN q1r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 12 AS INT)) ELSE q1r END AS q1",
          "CASE WHEN id % 2 = 1 AND b % 3 = 0 THEN q2r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 5 AS INT)) ELSE q2r END AS q2",
          "CASE WHEN id % 2 = 1 AND b % 7 = 0 THEN q3r ^ shiftleft(CAST(7 AS BIGINT), CAST(b % 13 AS INT)) " +
            "WHEN id % 2 = 1 AND b % 5 = 0 THEN q3r ^ shiftleft(CAST(3 AS BIGINT), CAST(b % 13 AS INT)) " +
            "ELSE q3r END AS q3")
        .selectExpr("id", "array(q0, q1, q2, q3) AS sh")
      // the "index" here is DERIVED IN-PLAN from the md5 fixture
      // expressions (production scans the persisted print store):
      // checkpoint it so the derivation runs once, not once per
      // consuming branch
      Dedup.quarterNearDupAgainstIndex(
          f.filter(col("id") % 2 === 1),
          f.filter(col("id") % 2 === 0).localCheckpoint(false),
          maxHamming = 3, hotThreshold = 64)
        .orderBy("idA", "idB")
    }),

    // LLM similarity #2: exact brute-force cosine top-k (baseline)
    "ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // Same top-k via the NATIVE Catalyst expression (custom Expression with
    // doGenCode, registered through SparkSessionExtensions) — identical
    // results to ann_brute, fused codegen loop instead of interpreted HOFs
    "ann_brute_native" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val c = emb.select(col("vec_id").as("nid"), col("embedding").as("cv"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = c.join(broadcast(q), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          call_function("cosine_sim", col("qv"), col("cv")).as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // LLM similarity: LSH-bucketed approximate top-k (the 100 TB path)
    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 10, numPlanes = 6)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // LLM similarity: IVF-style cell-partitioned top-k
    "ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 10, nCells = 32)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // TRAINED coarse quantizer: deterministic Lloyd k-means (k=8, 2
    // iterations; md5-priority seeding, 6-dp quantized centroids, exact
    // decimal component sums). The oracle replays seeding and BOTH
    // Lloyd iterations as chained CTEs.
    "kmeans_centroids" -> ((s, dir) => {
      val cents = KMeans.fit(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
      KMeans.centroidsDF(s, cents).orderBy("cluster", "pos")
    }),

    // Quantizer PERSISTENCE loop: fit, persist the k x dims centroid
    // table through the store, reload into literals (bit-identical —
    // doubles survive parquet exactly), assign the whole corpus map-side.
    // The operating mode at scale: fit once, assign everywhere, refit
    // never. Oracle: the same final-centroid assignment re-derived.
    "kmeans_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      val tmp = java.nio.file.Files.createTempDirectory("graft-km").toString
      val store = new graft.store.TableStore(s, tmp)
      store.overwrite("centroids", KMeans.centroidsDF(s, cents), maxFiles = 1)
      val reloaded = KMeans.fromDF(store.read("centroids"))
      emb.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("cluster", KMeans.assignExpr(col("v"), reloaded))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"))
        .orderBy("cluster")
    }),

    // IVF ANN with the TRAINED quantizer (closing ivfTopK's "swap in real
    // centroids" contract): corpus rows live in their learned cell via a
    // map-side assign, queries probe their 2 nearest cells, exact-cosine
    // top-10 over cell-join candidates only.
    "ann_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      KMeans.ivfTopKTrained(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 10, cents, probes = 2)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // Product quantization (Jégou et al. 2011): per-subspace codebooks
    // fitted with the same deterministic Lloyd; the corpus compresses to
    // m=4 ints per vector via a map-side assign. The oracle replays all
    // four subspace fits (seeds + one Lloyd round) and the assignment.
    "pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = KMeans.pqFit(emb, "vec_id", "embedding", m = 4, k = 16,
        iters = 1)
      emb.select(col("vec_id"), posexplode(
          KMeans.pqCodesExpr(Similarity.asDouble(col("embedding")), books))
          .as(Seq("subspace", "code")))
        .orderBy("vec_id", "subspace")
    }),

    // ADC search over the PQ codes: each query precomputes its m x k
    // exact subspace-distance table map-side; the corpus contributes
    // ONLY its 4-int codes; scores are ordered table-lookup folds.
    // Broadcast query side, windowed top-k — at real scale this joins
    // the IVF cell pruning (IVF-PQ), the billion-vector standard.
    "ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = KMeans.pqFit(emb, "vec_id", "embedding", m = 4, k = 16,
        iters = 1)
      KMeans.pqTopK(emb, emb.filter(col("vec_id") < 50), "vec_id",
          "embedding", kNN = 10, books)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("adc"), 6).as("adc"))
        .orderBy("qid", "rank")
    }),

    // IVF-PQ (the FAISS billion-scale standard, composed from the two
    // trained quantizers): corpus rows live in their coarse k-means cell
    // carrying only the PQ codes of their residual; queries probe 2
    // cells with one ADC table per probe. Candidates come from the cell
    // equi-join only; each costs 4 lookups. The oracle replays the
    // coarse fit, residuals, all four residual codebooks, and the
    // per-probe ADC.
    "ann_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      val v = Similarity.asDouble(col("embedding"))
      val res = emb.select(col("vec_id"),
        KMeans.residualExpr(v, KMeans.assignExpr(v, coarse), coarse)
          .as("res"))
      val books = KMeans.pqFit(res, "vec_id", "res", m = 4, k = 16,
        iters = 1)
      KMeans.ivfPqTopK(emb, emb.filter(col("vec_id") < 50), "vec_id",
          "embedding", kNN = 10, coarse, books, probes = 2)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("adc"), 6).as("adc"))
        .orderBy("qid", "rank")
    }),

    // MEASURED IVF-PQ fidelity: recall@10 of the cell-pruned quantized
    // search against exact L2 top-10 — the number a practitioner reads
    // before trusting a compressed index. Both sides fully re-derived
    // in the oracle (same distance folds, same tie-breaks).
    "pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val coarse = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      val vv = Similarity.asDouble(col("embedding"))
      val res = emb.select(col("vec_id"),
        KMeans.residualExpr(vv, KMeans.assignExpr(vv, coarse), coarse)
          .as("res"))
      val books = KMeans.pqFit(res, "vec_id", "res", m = 4, k = 16,
        iters = 1)
      // ONE ADC pipeline: the quantized-only answer is the rank<=10
      // prefix of the same 50-shortlist the refine stage re-ranks —
      // CHECKPOINTED (lazily) so the ADC candidate join + window
      // genuinely run once; two lazy consumers (approx prefix, exact
      // re-rank) would otherwise each re-execute the whole pipeline.
      // The frame is queries x 50 rows — output-sized.
      val short = KMeans.ivfPqTopK(emb, q, "vec_id", "embedding",
        kNN = 50, coarse, books, probes = 2).localCheckpoint(false)
      val approx = short.filter(col("rank") <= 10)
      val refined = KMeans.refineExact(short, emb, q, "vec_id",
        "embedding", kNN = 10)
      // exact L2 ground truth: same ascending-dim squared-distance fold
      val c = emb.select(col("vec_id").as("nid"),
        Similarity.asDouble(col("embedding")).as("cv"))
      val qq = q.select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("d2"), col("nid"))
      // the ground truth feeds BOTH hit joins — checkpoint the
      // (queries x 10)-row result so the corpus-wide distance scan +
      // window run once, not once per consumer
      val exact = c.join(broadcast(qq), col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          Similarity.sqDist(col("qv"), col("cv")).as("d2"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .localCheckpoint(false)
      // explicit broadcasts: the checkpointed frames carry no size stats
      // (a LogicalRDD defaults to "huge"), so without the hint these
      // queries x 10-row joins planned as sort-merge after the lineage cut
      def hits(d: DataFrame, name: String) = d.select("qid", "nid")
        .join(broadcast(exact.select("qid", "nid")), Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as(name))
      // two QUALITY CLAIMS pinned TRUE by the oracle, so a quantizer
      // regression FAILS the driver check instead of just reading
      // lower: (a) per query, refined recall >= quantized-only recall
      // — provable, both pick from the same 50-shortlist and a ground
      // -truth member of the shortlist always survives the exact
      // re-rank; (b) the corpus-level mean refined recall holds a 0.15
      // floor (measured 0.366 at sf0.01 / 0.224 at sf0.1 on these
      // unclustered synthetic embeddings, where 2-of-8 probes bound
      // recall — the floor catches a broken codebook, the planted-
      // cluster spec in QuerySemanticsSpec holds the tight 0.90 bar)
      qq.select("qid")
        .join(broadcast(hits(approx, "h0")), Seq("qid"), "left")
        .join(broadcast(hits(refined, "h1")), Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("h0"), lit(0L)).cast("double") / 10.0)
            .as("recall_at_10"),
          (coalesce(col("h1"), lit(0L)).cast("double") / 10.0)
            .as("recall_refined_at_10"))
        .withColumn("refined_ge_approx",
          col("recall_refined_at_10") >= col("recall_at_10"))
        .withColumn("refined_floor_ok",
          avg(col("recall_refined_at_10")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()) >= 0.15)
        .orderBy("qid")
    }),

    // SemDeDup (arXiv:2303.09540): semantic near-dup removal through the
    // trained quantizer — candidate pairs only WITHIN a k-means cluster;
    // of each duplicate pair the less-typical item (lowest cosine to its
    // own centroid) survives, ties by id. The oracle replays the full
    // fit, the assignment, the centroid-cosines, and the pair sweep.
    "dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      KMeans.semDedup(emb, "vec_id", "embedding", cents, threshold = 0.3,
          materialize = true)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_sim"), 6).as("cent_sim"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL SemDeDup — the last dedup family's index triad
    // closer: the quantizer is fitted ONCE on the even-id history and
    // round-tripped through the persisted centroid table
    // (centroidsDF/fromDF — bit-identical, no refit); history
    // participates as its (id, cluster, cent_sim, vec) member index
    // only. The odd-id batch assigns map-side against the persisted
    // centroids and pairs within-cluster against index members + the
    // batch itself; index rows are never dropped. With the index
    // covering all prior rows, batch survivors equal the full-corpus
    // sweep restricted to the batch (spec-pinned). Oracle replays the
    // even-half fit, the full assignment, the centroid-cosines, and
    // the batch-side pair sweep.
    "dedup_semantic_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val hist = emb.filter(col("vec_id") % 2 === 0)
      val cents0 = KMeans.fit(hist, "vec_id", "embedding", k = 8, iters = 2)
      val cents = KMeans.fromDF(KMeans.centroidsDF(s, cents0))
      val index = KMeans.semIndex(hist, "vec_id", "embedding", cents)
      KMeans.semDedupAgainstIndex(emb.filter(col("vec_id") % 2 === 1),
          index, "vec_id", "embedding", cents, threshold = 0.3)
        .select(col("vec_id"), col("cluster"),
          round(col("cent_sim"), 6).as("cent_sim"))
        .orderBy("vec_id")
    }),

    // JL-style random projection to 8 dims with the portable regenerable
    // plane family — no projection matrix to store or broadcast; the
    // whole reduction lives inside the scan stage (zero shuffle).
    "embed_project" -> ((s, dir) => {
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id",
          "embedding", outDims = 8)
        .orderBy("vec_id", "dim")
    }),

    // Banded (multi-table) LSH top-k: L=8 independent 4-plane tables, union
    // of bucket collisions as candidates — the tunable-recall scale path.
    "ann_lsh_multi" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 10, numPlanes = 4, numTables = 8)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // MULTI-PROBE LSH: same single table as ann_lsh (6 planes) plus 3
    // Hamming-1 query-side probes — the recall knob that costs O(queries),
    // not O(corpus). Fully oracled top-k, directly comparable to ann_lsh.
    "ann_lsh_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 10, numPlanes = 6, probes = 3)
        .select(col("qid"), col("nid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // The ANN accuracy contract, measured in-engine: recall@10 of the
    // banded LSH path against the exact brute-force top-10, per query —
    // with and without 2 Hamming-1 probes at the SAME table count (probing
    // can only add candidates, so recall_probed >= recall row-wise).
    // Both sides are deterministic, and the DuckDB oracle re-derives ALL
    // THREE pipelines (the hyperplanes are portable integer arithmetic), so
    // this is a full equality check, not a rows>0 hand-wave.
    "ann_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding",
        k = 10, numPlanes = 4, numTables = 8)
      val probed = Similarity.lshTopK(emb, q, "vec_id", "embedding",
        k = 10, numPlanes = 4, numTables = 8, probes = 2)
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
      def hits(d: DataFrame, name: String) = d.select("qid", "nid")
        .join(brute.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as(name))
      q.select(col("vec_id").as("qid"))
        .join(hits(lsh, "h0"), Seq("qid"), "left")
        .join(hits(probed, "h1"), Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("h0"), lit(0L)).cast("double") / 10.0).as("recall_at_10"),
          (coalesce(col("h1"), lit(0L)).cast("double") / 10.0).as("recall_probed_at_10"))
        .orderBy("qid")
    }),

    // LLM text #4: token/char/punct counting per doc
    // Training-data sampling: deterministic stratified top-k per language
    "sample_stratified" -> ((s, dir) => {
      Sampling.stratifiedSample(t(s, dir, "documents"), Seq("lang"), "doc_id", 3)
        .select("lang", "doc_id", "sample_rank")
        .orderBy("lang", "sample_rank")
    }),

    // Training-data sampling: deterministic hash train/val/test split
    "sample_split" -> ((s, dir) => {
      Sampling.hashSplit(t(s, dir, "documents"), "doc_id", 0.1, 0.1)
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // Training-data sampling: corpus mixing to a target domain composition
    // (40/30/20/10 over four sources within a 40k-char budget). At sf0.01
    // the first three domains are too small to fill their allocation (kept
    // whole, the min(1, _) arm) while src3 is genuinely sampled — both
    // paths execute. The oracle re-derives the per-domain keep fraction
    // and the md5 priority threshold independently.
    "sample_mix" -> ((s, dir) => {
      Sampling.mixCorpus(t(s, dir, "documents"), "source", "doc_id",
        "n_chars", Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2,
          "src3" -> 0.1), 40000L)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    }),

    // Training-data sampling: LEAKAGE-SAFE split — the split unit is the
    // exact-dup fingerprint group, so no verbatim twin ever straddles
    // train/test. The oracle re-derives fingerprint, bucket, and CASE
    // chain; n_groups < n_docs in the duplicated sf tables proves the
    // grouping is live.
    "sample_split_grouped" -> ((s, dir) => {
      Sampling.leakageSafeSplit(t(s, dir, "documents"), "text", 0.1, 0.1)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_groups"))
        .orderBy("split")
    }),

    // Training-data LAYOUT: global deterministic shuffle into 8 shards
    // with dense within-shard positions — the permutation a data loader
    // streams at train time. Oracle re-derives shard hash, the
    // domain-separated order key, and the row_number densification.
    "shuffle_shards" -> ((s, dir) => {
      Layout.assignShards(t(s, dir, "documents"), "doc_id", 8)
        .select("shard", "shard_pos", "doc_id")
        .orderBy("shard", "shard_pos")
    }),

    // MULTI-EPOCH re-seeding: identical shard MEMBERSHIP (epoch never
    // enters the shard hash — same_shard is computed, not assumed) with
    // a fresh deterministic within-shard permutation per epoch (epoch 0
    // is shuffle_shards' bit-frozen 'ord:' key; epoch 1 the
    // domain-separated 'ord:e1:'). The oracle replays both md5
    // permutations and pins membership invariance.
    "shuffle_shards_epoch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e0 = Layout.assignShards(docs, "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("shard_pos").as("pos_e0"))
      val e1 = Layout.assignShards(docs, "doc_id", 8, epoch = 1L)
        .select(col("doc_id"), col("shard").as("shard_e1"),
          col("shard_pos").as("pos_e1"))
      e0.join(e1, "doc_id")
        .select(col("doc_id"), col("shard"),
          (col("shard") === col("shard_e1")).as("same_shard"),
          col("pos_e0"), col("pos_e1"))
        .orderBy("doc_id")
    }),

    // Text quality: CCNet-style unigram-LM perplexity proxy in exact
    // integer bits (floor-log2 surprisal via bin-string length — no libm
    // anywhere, so the DuckDB oracle matches digit-for-digit).
    "text_perplexity" -> ((s, dir) => {
      Corpus.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNet head/middle/tail quality split: exact tercile cutoffs from
    // the bounded-integer score HISTOGRAM (distinct-value-sized driver
    // state, never a global sort), then a map-side CASE. The recipe
    // step that keeps head+middle for pre-training.
    "perplexity_buckets" -> ((s, dir) => {
      Corpus.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Embedding int8 QUANTIZATION round-trip contract: per vector, the
    // cosine between original and dequantized embedding and the max
    // absolute reconstruction error — the 4x-compression fidelity check a
    // training pipeline runs before swapping storage formats. Everything
    // (scale, rounding, reconstruction, cosine) is re-derived in DuckDB.
    "embed_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val withScale = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("scale", Similarity.quantizeScale(col("v")))
      val deq = withScale.withColumn("dv",
        Similarity.dequantizeInt8(
          Similarity.quantizeInt8(col("v"), col("scale")), col("scale")))
      deq.select(col("vec_id"),
          round(Similarity.cosine(col("v"), col("dv")), 6).as("cos_roundtrip"),
          round(array_max(zip_with(col("v"), col("dv"),
            (a, b) => abs(a - b))), 6).as("max_abs_err"))
        .orderBy("vec_id")
    }),

    // Training-data CHUNKING: 64-token context windows with 16-token
    // overlap — one row per window; generator + codegen'd array slices,
    // zero shuffle. Oracle re-slices the same token lists in DuckDB.
    "chunk_docs" -> ((s, dir) => {
      Chunking.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"),
          col("n_tokens").cast("long").as("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Training-data PACKING: per-source token-budget bins via exclusive
    // running sum (stratum-partitioned window — no global sort, one
    // shuffle on the stratum key; the 100 TB-safe packing shape).
    "pack_docs" -> ((s, dir) => {
      Chunking.packByBudget(t(s, dir, "documents"), Seq("source"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 2048)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("__tok").as("sum_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    }),

    // SEMANTIC packing (the deterministic re-expression of In-Context
    // Pretraining, Shi et al. 2023 arXiv:2310.10638: related documents
    // share a context window so the model learns cross-document
    // dependencies). Spark-first shape: the trained k-means quantizer
    // clusters the embedding space (the SemDeDup machinery), docs pack
    // per CLUSTER ordered by (typicality desc, id) — most-central docs
    // open each window — through the same one-running-sum pack as
    // pack_docs. The paper's retrieval-chain ordering is approximated
    // by cluster-then-typicality (documented simplification: a greedy
    // nearest-neighbor walk is sequential by construction; the
    // cluster order is deterministic, engine-replayable, and keeps
    // semantic neighbors adjacent at any corpus size).
    "pack_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val cents = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      val asg = KMeans.assignments(emb, "vec_id", "embedding", cents)
      val toks = docs.select(col("doc_id").as("vec_id"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"))
      Chunking.packByBudget(asg.join(toks, "vec_id"),
          Seq("cluster"), "vec_id", col("n_toks"), budget = 256,
          carryCols = Seq("cent_sim"),
          orderCols = Seq(col("cent_sim").desc, col("vec_id")))
        .groupBy("cluster", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("__tok").as("sum_toks"),
          round(min("cent_sim"), 6).as("cos_min"),
          round(max("cent_sim"), 6).as("cos_max"))
        .orderBy("cluster", "bin")
    }),

    // CURRICULUM packing (CCNet-style perplexity order): docs pack
    // cleanest-first within source — bins are perplexity-MONOTONE, so
    // a loader walking bins in order trains easy-to-hard. Order key is
    // the integer bits_x1000_per_tok (cross-engine exact) with doc_id
    // ties; same one-running-sum pack as every other pack query.
    "pack_curriculum" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ppl = Corpus.unigramSurprisal(docs, "doc_id", "text")
        .select(col("doc_id"), col("bits_x1000_per_tok").as("ppl"))
      val withSrc = docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"))
        .join(ppl, "doc_id")
      Chunking.packByBudget(withSrc, Seq("source"), "doc_id",
          col("n_toks"), budget = 512, carryCols = Seq("ppl"),
          orderCols = Seq(col("ppl"), col("doc_id")))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("__tok").as("sum_toks"),
          min("ppl").as("ppl_min"), max("ppl").as("ppl_max"))
        .orderBy("source", "bin")
    }),

    // The loader-facing PACK MANIFEST: per (source, bin), the ordered
    // "doc@offset" placement list — bin_offset comes free from the same
    // running sum that chose the bin, so a data loader can seek every
    // document inside its packed sequence without recomputing the pack.
    "pack_manifest" -> ((s, dir) => {
      Chunking.packByBudget(t(s, dir, "documents"), Seq("source"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 2048)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("bin_offset")))),
            x => concat(x("doc_id").cast("string"), lit("@"),
              x("bin_offset").cast("string"))), ",").as("manifest"))
        .orderBy("source", "bin")
    }),

    // The pack-overflow LOADER CONTRACT made explicit: budget 64 is
    // smaller than many docs' token counts, so docs genuinely straddle
    // bin boundaries — each row states its straddle (spans_next_bin)
    // and the bin its last token lands in (end_bin), the two columns a
    // fixed-sequence loader needs to read across the boundary instead
    // of truncating. All from the ONE exclusive running sum.
    "pack_spans" -> ((s, dir) => {
      Chunking.packByBudget(t(s, dir, "documents"), Seq("source"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 64)
        .select(col("source"), col("doc_id"), col("__tok").as("n_toks"),
          col("bin"), col("bin_offset"), col("spans_next_bin"),
          col("end_bin"))
        .orderBy("source", "doc_id")
    }),

    // Sketch aggregates: HLL distinct + approx quantiles. The sketch values
    // are engine-specific, so the ORACLED output is the accuracy contract:
    // exact cardinalities (DuckDB recomputes them) plus within-error-bound
    // flags — HLL at default rsd 5% must land within 10% of exact, the
    // 1/10000-rank-error percentile within 1% of the exact median.
    "sketch_approx" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          approx_count_distinct(col("l_orderkey")).as("a_orders"),
          approx_count_distinct(col("l_partkey")).as("a_parts"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"))
        .select(col("n_orders"), col("n_parts"),
          (abs(col("a_orders") - col("n_orders")).cast("double") /
            col("n_orders") <= 0.10).as("acd_orders_ok"),
          (abs(col("a_parts") - col("n_parts")).cast("double") /
            col("n_parts") <= 0.10).as("acd_parts_ok"),
          (abs(col("ap50") - col("p50")) / col("p50") <= 0.01).as("ap50_ok"))
    }),

    "text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.charCount(col("text")).as("n_chars_m"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),

    // LLM text: heuristic language ID vs labeled lang
    "text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    // LLM text: quality gates (length / punct ratio / word-length sanity)
    "text_quality" -> ((s, dir) => {
      val txt = col("text")
      val pass = length(txt).between(20, 20000) &&
        TextAnalysis.punctRatio(txt) < 0.2 &&
        TextAnalysis.meanWordLength(txt).between(2.0, 14.0) &&
        TextAnalysis.stopwordRatio(txt) >= 0.0
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(pass, 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    }),

    // LLM text: the published Gopher rule suite (Rae et al. 2021, App.
    // A1.1) — per-doc verdict on all 7 rules plus the conjunction; every
    // ratio threshold is an integer cross-multiplication, never a float
    // division, so the oracle replay is exact.
    "gopher_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy("doc_id")
    }),

    // LLM text: PII redaction (the pre-training scrub pass). Deterministic
    // synthetic PII — an email, a phone, an IPv4, a card-length number per
    // doc — is spliced into the corpus text, redacted with the codegen
    // regexp_replace chain, and audited per doc; the oracle splices and
    // redacts with the VERBATIM same pattern strings (RE2/java.util.regex
    // agree on this syntax subset), so any dialect drift hash-mismatches.
    "text_redact" -> ((s, dir) => {
      val doc = col("doc_id")
      val salted = concat(col("text"),
        lit(" contact user"), doc.cast("string"), lit("@mail.example.org or +1 555-"),
        lpad((doc % 10000).cast("string"), 4, "0"), lit(" host 10."),
        (doc % 200).cast("string"), lit(".0."), (doc % 250).cast("string"),
        lit(" card "), (lit(4000000000000000L) + doc).cast("string"))
      t(s, dir, "documents")
        .select(doc, TextAnalysis.redactPii(salted).as("t"))
        .select(doc,
          TextAnalysis.redactionCount(col("t"), "<EMAIL>").cast("long").as("n_email"),
          TextAnalysis.redactionCount(col("t"), "<IP>").cast("long").as("n_ip"),
          TextAnalysis.redactionCount(col("t"), "<PHONE>").cast("long").as("n_phone"),
          TextAnalysis.redactionCount(col("t"), "<NUMBER>").cast("long").as("n_number"),
          length(col("t")).cast("long").as("len_after"))
        .orderBy("doc_id")
    }),

    // LLM text: order-sensitive rolling-hash fingerprint per doc
    "text_rolling_fp" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.rollingFingerprint(col("text")).as("rfp"))
        .orderBy("doc_id")
    }),

    // LLM dedup: embedding-cosine near-dup pairs (exact, bounded subset)
    "dedup_embedding" -> ((s, dir) => {
      Similarity.cosinePairsAbove(
          t(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
        .orderBy("idA", "idB")
    }),

    // LLM dedup: embedding-cosine near-dup, LSH-bucketed scale path
    "dedup_embedding_lsh" -> ((s, dir) => {
      Similarity.embeddingNearDupLsh(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.2, numPlanes = 4)
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
        .orderBy("idA", "idB")
    }),

    // LLM dedup: embedding near-dup, INCREMENTAL mode — odd vec_ids (the
    // new batch) matched against the persisted (id, bucket, vector) index
    // of even vec_ids; history is never re-bucketed.
    "dedup_embedding_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val index = Similarity.embeddingIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        numPlanes = 4)
      val incoming = e.filter(col("vec_id") % 2 === 1)
      Similarity.embeddingNearDupAgainstIndex(incoming, index,
          "vec_id", "embedding", threshold = 0.2, numPlanes = 4)
        .select(col("id"), col("matched_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id", "matched_id")
    }),

    // LLM text: content fingerprint cardinality per language
    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("lang").agg(countDistinct(col("fp")).as("n_fp"))
        .orderBy("lang")
    }),

    // LLM multimodal #3: opaque binary payload + typed metadata + frame count
    "mm_meta" -> ((s, dir) => {
      val payload = Multimodal.asPayload(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          octet_length(payload).as("byte_len"),
          md5(payload).as("content_md5"),
          size(Multimodal.frameSample(payload, 8)).as("n_frames"))
        .orderBy("doc_id")
    }),

    // Structured Streaming: readStream over the events table -> watermarked
    // tumbling-window counts -> memory sink (Trigger.AvailableNow drains the
    // backlog and stops). Batch-equivalent oracle: hourly group counts.
    "stream_window_counts" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      // the table is a single parquet FILE; the file-stream source wants a
      // directory, so stream the parent dir with a glob filter
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamIngest.normalizeRawTs(raw)
      val agg = graft.streaming.StreamIngest.windowedCounts(ev, "ts", "1 hour", "2 hours")
      val qn = "graft_stream_win"
      val q = agg.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).orderBy("window_start", "event_type")
    }),

    // Structured Streaming INGEST: file-stream the documents table keyed by
    // doc_id through foreachBatch -> the batch smart_update merge -> store,
    // then aggregate the landed table. Oracle: plain batch aggregate.
    "stream_ingest_docs" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val raw = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val obs = raw.select(col("doc_id").cast("string").as("date"),
        col("n_chars").cast("double").as("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-si").toString
      val store = new graft.store.TableStore(s, tmp)
      val q = graft.streaming.StreamIngest.ingest(obs, store, "docs",
        "n_chars", s"$tmp/_ckpt",
        () => java.sql.Timestamp.valueOf("2025-06-01 00:00:00"))
      q.awaitTermination()
      store.read("docs")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Structured Streaming stateful DEDUP under at-least-once delivery:
    // the same documents file arrives through TWO stream sources (unioned
    // — a replayed-backlog double delivery), and dropDuplicates state
    // passes each doc_id exactly once to the downstream aggregate. Oracle:
    // the single-delivery batch aggregate.
    "stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      def src() = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val deduped = graft.streaming.StreamIngest.dedupExact(
        src().union(src()), Seq("doc_id"))
      val agg = deduped.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val qn = "graft_stream_dedup"
      val q = agg.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).orderBy("source")
    }),

    // Streaming half of the incremental-dedup loop: a live document feed
    // deduped against the STATIC fingerprint index of already-processed
    // history (sources src0-src4) — stream-static anti via left-outer +
    // null-marker, stateless. Oracle: the batch anti-join aggregate.
    "stream_dedup_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val seen = Seq("src0", "src1", "src2", "src3", "src4")
      val index = Dedup.fingerprintIndex(
        t(s, dir, "documents").filter(col("source").isin(seen: _*)),
        "doc_id", "text")
      val src = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val fresh = graft.streaming.StreamIngest.dropIndexedFingerprints(
        src, index, "text")
      val agg = fresh.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val qn = "graft_stream_dedup_indexed"
      val q = agg.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).orderBy("source")
    }),

    // STREAMING CURATION GATE: the batch funnel's quality stages applied
    // to a live document feed — language id, the six content-shape
    // Gopher rules, the A1.2 line-repetition rules (computed MAP-SIDE
    // here: dup lines = size(lines) - size(array_distinct(lines)), dup
    // chars likewise over the distinct array — per-doc expressions need
    // no aggregate, so the gate is STATELESS), and Bloom decontamination
    // with the proportional 20% rule (the driver-held bitmap probes
    // inside a higher-order filter over the shingle array — zero joins,
    // streaming-legal by construction), then exact dedup against the
    // static history fingerprint index (stream-static left-outer). Only
    // the final per-source count aggregate carries state. Oracle: the
    // same gates derived relationally over the batch table.
    "stream_curate" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
      val hist = Seq("src0", "src1", "src2", "src3", "src4")
      val bitmap = Dedup.bloomBuildAuto(docs.filter(col("doc_id") % 50 === 0),
        "text", shingleWords = 3, k = 3)
      val index = Dedup.fingerprintIndex(
        docs.filter(col("source").isin(hist: _*)), "doc_id", "text")
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val src = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val g = TextAnalysis.gopherRules(col("text"))
      val sh = Dedup.wordShingles(col("text"), 3)
      val flagged = size(filter(sh,
        x => Dedup.bloomMightContain(x, bitmap, 3))).cast("long")
      val lines = filter(split(col("text"), "\n"), l => length(l) > 0)
      val dLines = array_distinct(lines)
      val sumLen = (a: org.apache.spark.sql.Column) => aggregate(a, lit(0L),
        (acc, x) => acc + length(x).cast("long"))
      val nL = size(lines).cast("long")
      val dL = size(dLines).cast("long")
      val totC = sumLen(lines)
      val dC = sumLen(dLines)
      val gated = src
        .filter(!col("source").isin(hist: _*))
        .filter(TextAnalysis.langIdHeuristic(col("text")) === "en")
        .filter(g.getField("word_count_ok") && g.getField("mean_word_len_ok") &&
          g.getField("symbol_ratio_ok") && g.getField("bullet_ok") &&
          g.getField("ellipsis_ok") && g.getField("alpha_word_ok"))
        .filter((nL - dL) * 10L <= nL * 3L && (totC - dC) * 10L <= totC * 2L)
        .filter(flagged * 5L < size(sh).cast("long"))
      val fresh = graft.streaming.StreamIngest.dropIndexedFingerprints(
        gated, index, "text")
      val agg = fresh.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val qn = "graft_stream_curate"
      val q = agg.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).orderBy("source")
    }),

    // TRAIN-BATCH / APPLY-STREAM tokenization: the vocabulary is
    // trained once on the batch corpus (fitLocal — the ceiling-closer)
    // and applied to the live feed as a pure MAP-SIDE fold
    // (encodeExpr over driver-held merge literals: no join, no state,
    // nothing to rebalance at any stream rate), aggregated per source.
    // The oracle replays the DISTRIBUTED merge rounds and the
    // vocabulary-join encode — one hash pins fitLocal == fit AND the
    // per-occurrence fold == the vocab-join encode on the real corpus.
    // COST, priced deliberately: the per-occurrence fold re-encodes
    // every token (interpreted HOF — 11 s at sf0.1) to buy the
    // zero-state guarantee; when stream throughput dominates, the swap
    // is foreachBatch + encodedLengths (the per-DISTINCT-word vocab
    // join per micro-batch) — batch-identical output, one stream-
    // static join of state: implemented as stream_tokenize_joined.
    // SINK NOTE: the Complete-mode memory sink re-materializes one row
    // per SOURCE each trigger — fine at the corpus's ~20 sources; a
    // high-cardinality grouping key would swap to Update mode on a
    // keyed sink so state, not output, is the retained set.
    "stream_tokenize" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
      val ms = Bpe.fitLocal(docs, "text", rounds = 6)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val src = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val agg = src
        .select(col("source"),
          // size(encodeExpr) without materializing token arrays — the
          // packed-string separator count, value-identical (Bpe spec)
          Bpe.encodeLenExpr(col("text"), ms).as("n_bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("sum_bpe"))
      val qn = "graft_stream_tokenize"
      val q = agg.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).orderBy("source")
    }),

    // The THROUGHPUT form of stream_tokenize (the swap the zero-state
    // variant prices): foreachBatch + the vocabulary-join encode — each
    // micro-batch folds the merges once per DISTINCT word
    // (Bpe.encodedLengths, vocabulary-sized work), joins occurrences
    // back on the word key, and emits per-source PARTIAL aggregates.
    // The stream's text never runs a per-occurrence fold. Partials are
    // per-(source, micro-batch) — model-sized; this harness folds them
    // on the driver, a deployment MERGEs them into a keyed sink. Same
    // output (and oracle CTEs) as stream_tokenize: one hash pins
    // fold-per-occurrence == vocab-join at the value level.
    "stream_tokenize_joined" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
      val ms = Bpe.fitLocal(docs, "text", rounds = 6)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val src = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      // partials keyed by batchId (the repo's batch_id-fence
      // convention): a foreachBatch retry after a mid-append failure
      // OVERWRITES its batch's slot instead of double-counting it —
      // replay-idempotent like the Complete-mode sibling and the
      // ingest* paths
      val partials =
        scala.collection.mutable.Map.empty[Long, Seq[(String, Long, Long)]]
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val enc = Bpe.encodedLengths(batch, "doc_id", "text", ms)
          val rows = batch.select(col("doc_id"), col("source"))
            .join(enc, "doc_id")
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("sum_bpe"))
            .collect()
          partials.synchronized {
            partials(batchId) = rows.toSeq.map(r =>
              (r.getString(0), r.getLong(1), r.getLong(2)))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import s.implicits._
      partials.values.toSeq.flatten.toDF("source", "n_docs", "sum_bpe")
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("sum_bpe").as("sum_bpe"))
        .orderBy("source")
    }),

    // SELF-MAINTAINING streaming dedup: two AvailableNow runs over the
    // same checkpoint (day-1 history feed, then a day-2 feed) — each
    // micro-batch dedups against the persisted fingerprint index, then
    // appends its survivors' fingerprints back, so run 2 dedups against
    // the index run 1 built. Oracle: the two-batch derivation in SQL.
    "stream_index_update" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val d = t(s, dir, "documents")
      val seen = Seq("src0", "src1", "src2", "src3", "src4")
      val tmp = java.nio.file.Files.createTempDirectory("graft-sxi").toString
      val store = new graft.store.TableStore(s, s"$tmp/store")
      val in = s"$tmp/in"
      def run(): Unit = {
        val src = s.readStream.schema(docSchema).parquet(in)
        graft.streaming.StreamIngest.ingestDedupIndexed(src, store,
          "fp_index", "clean_docs", "doc_id", "text", s"$tmp/_ckpt")
          .awaitTermination()
      }
      d.filter(col("source").isin(seen: _*)).coalesce(1)
        .write.mode("overwrite").parquet(in)
      run() // day 1: history becomes the index
      d.filter(!col("source").isin(seen: _*)).coalesce(1)
        .write.mode("append").parquet(in)
      run() // day 2: only the new file replays; dedups against day 1
      store.read("clean_docs").dropDuplicates("doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),

    // Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
    // per-key state only within the watermark window, then EVICTS it — the
    // form an unbounded event stream needs (plain dropDuplicates state
    // grows with the key space forever). The doubled delivery arrives
    // within the watermark, so output still collapses to the
    // single-delivery aggregate; StreamingSpec proves the eviction side
    // (a re-delivery BEYOND the watermark passes through again).
    "stream_dedup_watermark" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      def src() = graft.streaming.StreamIngest.normalizeRawTs(
        s.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
      val dd = graft.streaming.StreamIngest.dedupWithinWatermark(
        src().union(src()), Seq("event_id"), "ts", "2 hours")
      val qn = "graft_stream_dedup_wm"
      val q = dd.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    }),

    // Structured Streaming PARTITIONED INGEST — the 100 TB layout: each
    // micro-batch runs the batch partitioned merge
    // (Runner.runDatasetPartitioned -> dynamic partition overwrite), so a
    // batch touching one year reads and rewrites ONE year partition, never
    // the table (StreamingSpec asserts untouched partitions stay
    // byte-identical). Two staged files with ordered mtimes +
    // maxFilesPerTrigger=1 force two micro-batches: the base series (one
    // dated obs per doc), then a +1000 revision of one doc in ten. Oracle
    // re-derives the merged values from documents; n_revised proves the
    // CDC revision fan-out landed per year.
    "stream_ingest_partitioned" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      // the whole streaming query runs inside this lambda (awaitTermination
      // below), so the scoped shuffle sizing applies to every micro-batch
      // merge: a few thousand keyed rows per batch need a handful of
      // partitions, not the session's 32 (production sizes this per stream)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
      val obs0 = t(s, dir, "documents").select(col("doc_id"),
        date_format(date_add(lit("2000-01-01").cast("date"),
          col("doc_id").cast("int")), "yyyy-MM-dd").as("date"),
        col("n_chars").cast("double").as("value"))
      val root = java.nio.file.Files.createTempDirectory("graft-sip").toString
      obs0.select("date", "value").coalesce(1).write.parquet(s"$root/b1")
      obs0.filter(col("doc_id") % 10 === 0)
        .select(col("date"), (col("value") + lit(1000.0)).as("value"))
        .coalesce(1).write.parquet(s"$root/b2")
      val inDir = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(root, "in"))
      def stage(src: String, name: String, mtime: Long): Unit = {
        val it = java.nio.file.Files.list(java.nio.file.Paths.get(root, src))
        try {
          val part = it.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = inDir.resolve(name)
          java.nio.file.Files.copy(part, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        } finally it.close()
      }
      stage("b1", "00_base.parquet", 1700000000000L)
      stage("b2", "01_revised.parquet", 1700000060000L)
      val schema = StructType(Seq(StructField("date", StringType),
        StructField("value", DoubleType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      val store = new graft.store.TableStore(s, s"$root/store")
      val q = graft.streaming.StreamIngest.ingestPartitioned(stream, store,
        "docs_dated", "value", s"$root/_ckpt",
        () => java.sql.Timestamp.valueOf("2025-06-01 00:00:00"))
      q.awaitTermination()
      val perYear = store.read("docs_dated")
        .groupBy(col("__year").as("year"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      val revs = store.read(graft.config.Registry.RevisionsTable)
        .groupBy(substring(col("data_date"), 1, 4).cast("int").as("year"))
        .agg(count(lit(1)).as("n_revised"))
      perYear.join(revs, Seq("year"), "left")
        .select(col("year"), col("n"), col("sum_value"),
          coalesce(col("n_revised"), lit(0L)).as("n_revised"))
        .orderBy("year")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // Structured Streaming STREAM-STREAM INTERVAL JOIN: views and clicks
    // (two filtered streams off the events file-stream) joined per user
    // on an event-time range — click attributed to views in the preceding
    // 30 min. Both sides watermarked, so join state is bounded by the
    // lookback window (the property that makes this runnable at stream
    // scale). Oracle: the identical interval self-join in batch SQL at
    // Spark's microsecond comparison precision.
    "stream_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamIngest.normalizeRawTs(raw)
      val joined = graft.streaming.StreamIngest.attributionJoin(ev, 30)
      val qn = "graft_stream_attr"
      // a stream-stream join keeps TWO keyed state stores PER shuffle
      // partition; at the session's 32 partitions that is 64 store
      // instances of checkpoint/commit overhead for one micro-batch.
      // Size partitions to the per-batch state (user-key cardinality),
      // exactly as a production job tunes state-store parallelism.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(qn).orderBy("user_id", "view_id", "click_id")
    }),

    // Structured Streaming SESSIONIZATION: the flatMapGroupsWithState
    // custom-state operator over a file-stream of the events table. A
    // far-future sentinel event per user is unioned in as a second stream
    // source so every REAL session is closed by the gap rule inside the
    // batch (the trailing sentinel session stays open in state and is never
    // emitted) — output is deterministic without wall-clock timeouts.
    // Timestamps are truncated to millis on both sides (state arithmetic is
    // millis). Oracle: DuckDB gap-based islands (LAG + running SUM).
    "sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      // sentinel file: one 2030-01-01 event per distinct user
      val sentinelDir = java.nio.file.Files.createTempDirectory("graft-sess").toString
      val sentinelNanos = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
        .getTime * 1000000L
      s.read.schema(rawSchema).parquet(s"$dir/events.parquet")
        .select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"), lit(sentinelNanos).as("ts"),
          col("user_id"), lit("__sentinel").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(sentinelDir)
      val stream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .union(s.readStream.schema(rawSchema).parquet(sentinelDir))
      // the sentinel file carries plain-INT64 nanos while the events file's
      // scale depends on the runtime's TIMESTAMP(NANOS) handling — the
      // per-row magnitude guard normalizes both sides of the union
      val ev = rawTsToMicros(stream).select(
        col("user_id").as("userId"),
        timestamp_millis(expr("ts div 1000")).as("ts"),
        col("event_type").as("eventType"))
        .as[graft.streaming.StreamIngest.Ev]
      val sessions = graft.streaming.StreamIngest.sessionize(ev, gapMinutes = 30)
      val qn = "graft_sessionize"
      val q = sessions.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn)
        .filter(col("sessionStart") < "2029-01-01") // drop sentinel sessions
        .select(col("userId").as("user_id"),
          unix_millis(col("sessionStart")).as("session_start_ms"),
          unix_millis(col("sessionEnd")).as("session_end_ms"),
          col("events"))
        .orderBy("user_id", "session_start_ms")
    }),

    // LLM multimodal: REAL RIFF/WAVE 16-bit PCM decode through the
    // mapPartitions kernel. Payloads are deterministic generated WAV bytes
    // (mono PCM; doc d has n = 64 + d%32 samples, sample i =
    // ((d*31 + i*17) % 4001) - 2000), so the decoded per-window mean
    // amplitudes are DuckDB-expressible from first principles: if the
    // encoder OR decoder mangled a header field, row order, or sample byte,
    // the means would not match.
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val n = (64 + id % 32).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 4001) - 2000).toShort)
          Multimodal.MediaRow(id, Multimodal.encodeWav(samples))
        }
      Multimodal.decodeFeatures(media, dims = 4).toDF()
        .select(col("id"), col("byteLen").cast("long").as("byte_len"),
          element_at(col("features"), 1).cast("double").as("f0"),
          element_at(col("features"), 2).cast("double").as("f1"),
          element_at(col("features"), 3).cast("double").as("f2"),
          element_at(col("features"), 4).cast("double").as("f3"))
        .orderBy("id")
    }),

    // Decode ROBUSTNESS contract: a third of the payloads are valid WAV,
    // a third are corrupt (RIFF/WAVE magic, lying chunk sizes, no data
    // chunk), a third are opaque bytes (raw-byte kernel). Corruption must
    // surface as per-row status='error' with null features — never a
    // failed task. Oracle: id-arithmetic over the same payload recipe.
    "mm_decode_robust" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val payload: Array[Byte] = (id % 3) match {
            case 0 => Multimodal.encodeWav(Array.tabulate((16 + id % 8).toInt)(
              i => ((id * 13 + i * 7) % 2001 - 1000).toShort))
            case 1 => "RIFFxxxxWAVE".getBytes("US-ASCII") ++
              Array.tabulate(20)(i => ((id + i) % 251).toByte)
            case _ => Array.tabulate((24 + id % 16).toInt)(
              i => ((id * 17 + i * 3) % 256).toByte)
          }
          Multimodal.MediaRow(id, payload)
        }
      Multimodal.decodeFeaturesSafe(media, dims = 4).toDF()
        .select(col("id"), col("status"),
          col("byteLen").cast("long").as("byte_len"),
          col("features").isNotNull.as("has_features"))
        .orderBy("id")
    }),

    // LLM multimodal: REAL 24-bpp BMP decode (bottom-up rows, 4-byte row
    // padding, channel-mean luminance) through the same kernel. Image of
    // doc d is (8 + d%8) x 6 with gray(x,y) = (d*7 + x*11 + y*5) % 256;
    // features are per-vertical-band mean luminance, DuckDB-checkable.
    "mm_decode_bmp" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val w = (8 + id % 8).toInt
          Multimodal.MediaRow(id, Multimodal.encodeBmp(w, 6,
            (x, y) => ((id * 7 + x * 11 + y * 5) % 256).toInt))
        }
      Multimodal.decodeFeatures(media, dims = 4).toDF()
        .select(col("id"), col("byteLen").cast("long").as("byte_len"),
          element_at(col("features"), 1).cast("double").as("f0"),
          element_at(col("features"), 2).cast("double").as("f1"),
          element_at(col("features"), 3).cast("double").as("f2"),
          element_at(col("features"), 4).cast("double").as("f3"))
        .orderBy("id")
    }),

    // Multimodal RESIZE: decode the same synthetic BMPs, nearest-neighbor
    // downscale to 4x4, band means over the resized grid — the
    // decode+resize+extract chain, oracled from the closed-form pixel
    // formula sampled at the resize stride (pure integer arithmetic).
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val w = (8 + id % 8).toInt
          Multimodal.MediaRow(id, Multimodal.encodeBmp(w, 6,
            (x, y) => ((id * 7 + x * 11 + y * 5) % 256).toInt))
        }
      Multimodal.resizeFeatures(media, w2 = 4, h2 = 4, dims = 4).toDF()
        .select(col("id"), col("byteLen").cast("long").as("byte_len"),
          element_at(col("features"), 1).cast("double").as("f0"),
          element_at(col("features"), 2).cast("double").as("f1"),
          element_at(col("features"), 3).cast("double").as("f2"),
          element_at(col("features"), 4).cast("double").as("f3"))
        .orderBy("id")
    }),

    // Perceptual-hash IMAGE near-dup (dHash, the published
    // gradient-based fingerprint): the fixture plants 64 groups of
    // re-exposed variants (same 9x8 gradient pattern, one pixel
    // brightness-shifted per variant — a byte hash sees all of them as
    // distinct), dHash reduces each to the standard quartered 64-bit
    // print, and the SimHash pigeonhole blocking finds hamming<=3
    // pairs from a quarter equi-join, never all-pairs.
    "mm_dedup_phash" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val g = id % 256
          val v = id / 256
          // md5-derived base pixels (the engine's portable-hash idiom):
          // cross-group dHash collisions become coin-flip improbable,
          // so near-dup pairs stay group-confined by construction
          val md = java.security.MessageDigest.getInstance("MD5")
          Multimodal.MediaRow(id, Multimodal.encodeBmp(9, 8, (x, y) => {
            val b = md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0) & 0xFF
            val shift =
              if (v > 0 && x == (v % 9) && y == ((v * 3) % 8)) 128 else 0
            (b + shift) % 256
          }))
        }
      Dedup.quarterNearDupPairs(Multimodal.dHashQuarters(media),
          maxHamming = 3)
        .orderBy("idA", "idB")
    }),

    // The AUDIO twin of the perceptual dedup (Haitsma & Kalker 2002's
    // sign-of-energy-difference print, time-domain re-expression — the
    // published FFT-band form is float arithmetic no cross-engine
    // oracle can replay): volume-invariant by construction, so
    // re-normalized copies byte hashes can never match collapse to the
    // same print; same quartered shape, same pigeonhole join.
    "mm_dedup_audio" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val g = id % 256
          val v = id / 256
          val md = java.security.MessageDigest.getInstance("MD5")
          val samples = Array.tabulate(128) { i =>
            val b = md.digest(s"a:$g:$i".getBytes("UTF-8"))(0) & 0xFF
            val pop = if (v > 0 && i == ((v * 7) % 128)) 500 else 0
            (b - 128 + pop).toShort
          }
          Multimodal.MediaRow(id, Multimodal.encodeWav(samples))
        }
      Dedup.quarterNearDupPairs(Multimodal.audioPrintQuarters(media),
          maxHamming = 3)
        .orderBy("idA", "idB")
    }),

    // Audio prints carry the same index convention: history as
    // persisted quartered prints, the odd-id batch pairs against it
    // through the cross-set pigeonhole join (odd modulus so variant
    // groups genuinely straddle the parity split — the phash lesson).
    "mm_dedup_audio_incremental" -> ((s, dir) => {
      import s.implicits._
      def mediaOf(parity: Int) = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .filter((id: Long) => id % 2 == parity)
        .map { id =>
          val g = id % 255
          val v = id / 255
          val md = java.security.MessageDigest.getInstance("MD5")
          val samples = Array.tabulate(128) { i =>
            val b = md.digest(s"a:$g:$i".getBytes("UTF-8"))(0) & 0xFF
            val pop = if (v > 0 && i == ((v * 7) % 128)) 500 else 0
            (b - 128 + pop).toShort
          }
          Multimodal.MediaRow(id, Multimodal.encodeWav(samples))
        }
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-auidx").toString
      Multimodal.audioPrintQuarters(mediaOf(0))
        .write.mode("overwrite").parquet(s"$tmp/idx")
      val index = s.read.parquet(s"$tmp/idx")
      Dedup.quarterNearDupAgainstIndex(
          Multimodal.audioPrintQuarters(mediaOf(1)), index, maxHamming = 3)
        .orderBy("idA", "idB")
    }),

    // The INCREMENTAL sibling (the index convention every dedup family
    // carries): even ids are yesterday's corpus, persisted as quartered
    // dHash prints only — payloads never re-decoded — and the odd-id
    // batch pairs against any history print within hamming 3 through
    // the same quarter pigeonhole join.
    "mm_dedup_phash_incremental" -> ((s, dir) => {
      import s.implicits._
      def mediaOf(parity: Int) = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .filter((id: Long) => id % 2 == parity)
        .map { id =>
          // ODD modulus: a variant group {g, g+255, g+510, ...}
          // alternates parity, so history and batch genuinely share
          // groups (a 256 modulus would make every group single-parity
          // and the incremental query vacuously empty)
          val g = id % 255
          val v = id / 255
          val md = java.security.MessageDigest.getInstance("MD5")
          Multimodal.MediaRow(id, Multimodal.encodeBmp(9, 8, (x, y) => {
            val b = md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0) & 0xFF
            val shift =
              if (v > 0 && x == (v % 9) && y == ((v * 3) % 8)) 128 else 0
            (b + shift) % 256
          }))
        }
      // history: prints persisted once (parquet round-trip — the index
      // IS the stored table, the fingerprintIndex discipline)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-phidx").toString
      Multimodal.dHashQuarters(mediaOf(0))
        .write.mode("overwrite").parquet(s"$tmp/idx")
      val index = s.read.parquet(s"$tmp/idx")
      Dedup.quarterNearDupAgainstIndex(
          Multimodal.dHashQuarters(mediaOf(1)), index, maxHamming = 3)
        .orderBy("idA", "idB")
    }),

    // SELF-MAINTAINING streaming PERCEPTUAL dedup (the print-family
    // sibling of stream_index_update): two AvailableNow runs over one
    // checkpoint — day 1's surviving dHash prints become the index day
    // 2 dedups against; within-batch near-dups drop the later member;
    // only survivors' prints are appended (batch_id-fenced). Oracle
    // re-derives both days from the pixel formula: day-1 within-drops,
    // day-2 index hits against day-1 SURVIVORS only, day-2 within-drops.
    "stream_print_index" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      def mediaOf(parity: Int) = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .filter((id: Long) => id % 2 == parity)
        .map { id =>
          val g = id % 255
          val v = id / 255
          val md = java.security.MessageDigest.getInstance("MD5")
          Multimodal.MediaRow(id, Multimodal.encodeBmp(9, 8, (x, y) => {
            val b = md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0) & 0xFF
            val shift =
              if (v > 0 && x == (v % 9) && y == ((v * 3) % 8)) 128 else 0
            (b + shift) % 256
          }))
        }
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-spi").toString
      val store = new graft.store.TableStore(s, s"$tmp/store")
      val in = s"$tmp/in"
      val mediaSchema = StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))
      def run(): Unit = {
        val src = s.readStream.schema(mediaSchema).parquet(in)
        graft.streaming.StreamIngest.ingestPrintIndexed(src, store,
          "print_index", "clean_media",
          b => Multimodal.dHashQuarters(
            b.select(col("id"), col("payload"))
              .as[Multimodal.MediaRow](
                org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])),
          maxHamming = 3, s"$tmp/_ckpt").awaitTermination()
      }
      mediaOf(0).toDF().coalesce(1).write.mode("overwrite").parquet(in)
      run() // day 1: survivors' prints become the index
      mediaOf(1).toDF().coalesce(1).write.mode("append").parquet(in)
      run() // day 2: only the new file replays; dedups against day 1
      store.read("print_index").dropDuplicates("id")
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_kept"), sum("id").as("sum_id"))
        .orderBy("batch_id")
    }),

    // SELF-MAINTAINING streaming SemDeDup — the semantic family's triad
    // closer (batch dedup_semantic / incremental dedup_semantic_
    // incremental / this): the quantizer is fit ONCE on the day-1
    // (even-id) history and held as driver literals; day 1 streams the
    // evens through the gate (empty index — only the within-batch
    // keep-the-outlier sweep fires), day 2 streams the odds, which
    // first drop against day 1's persisted (id, cluster, cent_sim,
    // vec) index rows (any same-cluster cosine >= 0.3 evicts the
    // newcomer — history cannot be retracted) and then sweep among
    // themselves. The oracle replays the even-half fit, both days'
    // assignments, the index gate, and both within-batch sweeps.
    "stream_semantic_index" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val emb = t(s, dir, "embeddings")
      val cents = KMeans.fit(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", k = 8, iters = 2)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ssi").toString
      val store = new graft.store.TableStore(s, s"$tmp/store")
      val in = s"$tmp/in"
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      def run(): Unit = {
        val src = s.readStream.schema(embSchema).parquet(in)
        graft.streaming.StreamIngest.ingestSemanticIndexed(src, store,
          "sem_index", "clean_vecs", cents, "vec_id", "embedding",
          threshold = 0.3, s"$tmp/_ckpt").awaitTermination()
      }
      emb.filter(col("vec_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(in)
      run() // day 1: survivors' semantic index rows persist
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(in)
      run() // day 2: only the new file replays; gates against day 1
      store.read("sem_index").dropDuplicates("vec_id")
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_id"))
        .orderBy("batch_id")
    }),

    // COMPOSED MEDIA CURATION FUNNEL — the multimodal sibling of
    // curate_corpus: corrupt-decode gate (decodeFeaturesSafe: planted
    // lying-header payloads at id%25==0 must die per-row, not per-task)
    // -> exact dedup on the payload bytes (min-id per md5(payload);
    // the E-family at id%10==5 plants exact dup groups per id%50)
    // -> perceptual near-dup drop (escalated pigeonhole pairs, later
    // member loses) -> per-shard stage counts. The oracle re-derives
    // every stage from the pixel formulas — including exact groups as
    // pixel-LIST equality (payload equality <=> pixel equality for a
    // deterministic encoder).
    "curate_media" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def px(seed: String)(x: Int, y: Int): Int =
            md.digest(s"$seed:$x:$y".getBytes("UTF-8"))(0) & 0xFF
          if (id % 25 == 0)
            Multimodal.MediaRow(id, Array[Byte]('B', 'M', 1, 2, 3))
          else if (id % 10 == 5)
            Multimodal.MediaRow(id,
              Multimodal.encodeBmp(9, 8, px(s"E${id % 50}")))
          else {
            val g = id % 255
            val v = id / 255
            Multimodal.MediaRow(id, Multimodal.encodeBmp(9, 8, (x, y) => {
              val b = px(s"$g")(x, y)
              val shift =
                if (v > 0 && x == (v % 9) && y == ((v * 3) % 8)) 128 else 0
              (b + shift) % 256
            }))
          }
        }.persist()
      try {
        val ok = Multimodal.decodeFeaturesSafe(media).toDF()
          .filter(col("status") === "ok").select("id")
        val okMedia = media.toDF().join(ok, Seq("id"), "left_semi")
        val exactIds = okMedia
          .groupBy(md5(col("payload")).as("fp"))
          .agg(min(col("id")).as("id")).select("id")
        val exMedia = media.toDF().join(exactIds, Seq("id"), "left_semi")
          .as[Multimodal.MediaRow]
        val drops = Dedup.quarterNearDupPairs(
            Multimodal.dHashQuarters(exMedia), maxHamming = 3)
          .select(col("idB").as("id")).distinct()
        val finalIds = exactIds.join(drops, Seq("id"), "left_anti")
        def roll(ids: org.apache.spark.sql.DataFrame, cnt: String) =
          ids.groupBy((col("id") % 7).as("shard"))
            .agg(count(lit(1)).as(cnt))
        roll(ok, "n_ok")
          .join(roll(exactIds, "n_exact"), Seq("shard"), "left")
          .join(finalIds.groupBy((col("id") % 7).as("shard"))
            .agg(count(lit(1)).as("n_near"), sum("id").as("sum_id")),
            Seq("shard"), "left")
          .select(col("shard"),
            col("n_ok"), coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            coalesce(col("sum_id"), lit(0L)).as("sum_id"))
          .orderBy("shard")
      } finally { media.unpersist(); () }
    }),

    // IMAGE-aware leakage-safe split: the split unit is the phash
    // near-dup CONNECTED COMPONENT — a re-exposed or lightly-edited
    // variant of a training image can never land in test (the text
    // family's leakageSafeSplit groups by exact fingerprint; images
    // need the perceptual clique, because byte hashes see every
    // variant as distinct). Pairs from the quarter pigeonhole join,
    // components via the O(log n) large-star/small-star loop, split
    // by the md5 bucket of the component representative.
    "mm_split_leakage_safe" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val g = id % 256
          val v = id / 256
          val md = java.security.MessageDigest.getInstance("MD5")
          Multimodal.MediaRow(id, Multimodal.encodeBmp(9, 8, (x, y) => {
            val b = md.digest(s"$g:$x:$y".getBytes("UTF-8"))(0) & 0xFF
            val shift =
              if (v > 0 && x == (v % 9) && y == ((v * 3) % 8)) 128 else 0
            (b + shift) % 256
          }))
        }
      val pairs = Dedup.quarterNearDupPairs(
        Multimodal.dHashQuarters(media), maxHamming = 3)
      // the pair list is near-dup-scale; the eager checkpoint cuts the
      // decode/fingerprint lineage BEFORE the component loop (whose
      // label union over a live pair lineage trips Union constraint
      // rewriting — key-not-found during optimization) and lets the
      // labels re-join the same source table without attribute clashes
      val comps = Dedup.clusterPairs(
        pairs.select("idA", "idB").localCheckpoint(true))
      val grouped = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .join(comps, Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("grp"))
      Sampling.hashSplitBy(grouped, col("grp"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_images"),
          countDistinct(col("grp")).as("n_groups"))
        .orderBy("split")
    }),

    // Corpus curation: Gopher-style repetition signals — per-doc fraction of
    // the single most frequent word 2-gram, and fraction of 3-gram
    // occurrences whose 3-gram repeats. Two explode -> hash-agg passes; the
    // oracle re-derives both from the same tokenizer in DuckDB.
    "corpus_repetition" -> ((s, dir) => {
      Corpus.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Corpus curation: Gopher A1.2 LINE-repetition rules. The corpus is
    // single-line, so the query first splices deterministic structure
    // (the text_redact/boilerplate_filter convention): a newline every 8
    // words, plus a repeated footer line — 6 copies on every 7th doc
    // (over the 0.30 dup-line threshold → fails), 2 on every 3rd (under
    // → keeps). The oracle replays the splice and both fractions.
    "gopher_repetition" -> ((s, dir) => {
      Corpus.lineRepetitionSignals(splicedBoilerplateDocs(s, dir),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The COMPLETE Gopher A1.2 n-gram repetition table (Rae Table A1):
    // top-{2,3,4}-gram and dup-{5..10}-gram fractions with the nine
    // published thresholds and the combined any-signal verdict, over
    // the spliced corpus (the x6 footers trip the dup family). Oracle
    // replays all nine signal columns and verdicts.
    "gopher_ngram_full" -> ((s, dir) => {
      Corpus.gopherNgramSignals(splicedBoilerplateDocs(s, dir),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C4-style INTER-document line dedup (boilerplate strip): the spliced
    // footer lines repeat across ~40% of docs and get removed from every
    // one; body lines survive unless the small vocabulary genuinely
    // repeats an 8-gram more than 3 times corpus-wide (the oracle
    // replays those too). Reassembly order and content are pinned by
    // md5(text_clean).
    "strip_boilerplate" -> ((s, dir) => {
      Corpus.stripRepeatedLines(splicedBoilerplateDocs(s, dir),
          "doc_id", "text", maxOccurrences = 3)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          length(col("text_clean")).cast("long").as("len_clean"),
          md5(col("text_clean")).as("fp_clean"))
        .orderBy("doc_id")
    }),

    // ExactSubstr-style duplicated-SPAN dedup (Lee et al. 2021) at ANY
    // alignment: 16-token hash windows slide over the spliced corpus
    // (the x6 footers are 24 periodic tokens — window-coverable at
    // several alignments), duplicated windows keep their minimum
    // (doc, pos) occurrence, every other covered token is stripped and
    // the doc rebuilt in order. The oracle replays windows, canonical
    // election, coverage, and the rebuilt text digest.
    "dedup_substring" -> ((s, dir) => {
      Dedup.stripDuplicatedSpans(splicedBoilerplateDocs(s, dir),
          "doc_id", "text", windowTokens = 16)
        .select(col("doc_id"), col("n_toks"), col("n_dup_toks"),
          col("dup_frac"),
          length(col("text_clean")).cast("long").as("len_clean"),
          md5(col("text_clean")).as("fp_clean"))
        .orderBy("doc_id")
    }),

    // The INCREMENTAL span-dedup mode: even doc_ids are the persisted
    // history (their window-hash index is all that participates — text
    // never re-read), odd doc_ids are the incoming batch; any incoming
    // span whose window hash exists in history is stripped. History is
    // canonical by definition, so no election — the daily-batch
    // operating shape of dedup_substring, the triad sibling of
    // dedup_incremental / dedup_minhash_incremental.
    "dedup_substring_incremental" -> ((s, dir) => {
      val spliced = splicedBoilerplateDocs(s, dir)
      val index = Dedup.windowHashIndex(
        spliced.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        windowTokens = 16)
      Dedup.stripSpansAgainstIndex(spliced.filter(col("doc_id") % 2 =!= 0),
          index, "doc_id", "text", windowTokens = 16)
        .select(col("doc_id"), col("n_toks"), col("n_dup_toks"),
          col("dup_frac"),
          length(col("text_clean")).cast("long").as("len_clean"),
          md5(col("text_clean")).as("fp_clean"))
        .orderBy("doc_id")
    }),

    // UniMax language-budget allocation (Chung et al. 2023): spread a
    // token budget uniformly across sources, capping each at one epoch
    // of its own data — exact-integer relational water-filling (the
    // capped set is a provably monotone prefix of the (cap, source)
    // sort; remainders go +1 apiece to the smallest uncapped sources).
    // Budget = 90% of corpus mass so BOTH branches fire on real data.
    "sample_unimax" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(sum("n_chars")).collect()(0).getLong(0)
      Sampling.unimaxAllocations(docs, "source", "n_chars",
        budget = 9L * total / 10L, epochCap = 1)
    }),

    // mT5/XLM-R temperature mixing: shares DERIVED from the corpus at
    // alpha = 0.5 (iterated-sqrt exact-integer ppm — no libm pow), fed
    // straight into mixCorpus. Low-resource sources get upweighted
    // relative to their mass; the oracle replays weights, shares, keep
    // fractions, and the kept set digit-for-digit.
    "sample_mix_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val shares = Sampling.temperatureShares(docs, "source", "n_chars",
        alphaQuarters = 2)
      val shareMap = shares.collect()
        .map(r => r.getString(0) -> r.getLong(3) / 1e6).toMap
      val mixed = Sampling.mixCorpus(docs, "source", "doc_id", "n_chars",
        shareMap, budget = 40000L)
      shares.select(col("source"), col("w"), col("share_ppm"))
        .join(mixed.groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum("n_chars").as("mass_kept")), Seq("source"), "left")
        .select(col("source"), col("w"), col("share_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("mass_kept"), lit(0L)).as("mass_kept"))
        .orderBy("source")
    }),

    // The ROUND-17 operators composed end-to-end (the v2 discipline
    // applied to this round's additions): C4 inter-doc line strip over
    // the spliced multi-line corpus → content-shape gate on the CLEANED
    // text → CCNet perplexity terciles with the tail discarded
    // (head+middle is the published keep rule) → temperature-derived
    // (alpha=0.5) shares feeding mixCorpus on cleaned mass. One DuckDB
    // oracle replays strip, gate, surprisal histogram, cutoffs, shares,
    // and the kept set; output is the fixed 20-source composition
    // report, so the funnel can never silently go empty.
    "curate_corpus_v3" -> ((s, dir) => {
      val spliced = splicedBoilerplateDocs(s, dir)
      val stripped = Corpus.stripRepeatedLines(spliced, "doc_id", "text",
        maxOccurrences = 3)
      val g = TextAnalysis.gopherRules(col("text_clean"))
      val cleaned = stripped.filter(col("n_kept") > 0)
        .filter(g.getField("word_count_ok") && g.getField("mean_word_len_ok") &&
          g.getField("alpha_word_ok"))
      val bucketed = Corpus.perplexityBuckets(cleaned, "doc_id", "text_clean")
        .filter(col("bucket") =!= "tail")
      val spine = bucketed.select(col("doc_id"))
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .join(cleaned.select(col("doc_id"),
          length(col("text_clean")).cast("long").as("mass")), "doc_id")
      val shares = Sampling.temperatureShares(spine, "source", "mass",
        alphaQuarters = 2)
      val shareMap = shares.collect()
        .map(r => r.getString(0) -> r.getLong(3) / 1e6).toMap
      val mixed = Sampling.mixCorpus(spine, "source", "doc_id", "mass",
        shareMap, budget = 30000L)
      shares.select(col("source"), col("share_ppm"))
        .join(mixed.groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("mass").as("mass_kept")),
          Seq("source"), "left")
        .select(col("source"), col("share_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("mass_kept"), lit(0L)).as("mass_kept"))
        .orderBy("source")
    }),

    // Corpus curation: multinomial Naive Bayes trained and applied
    // in-engine (the classifier stage a CCNet-style pipeline runs with
    // fasttext) in exact integer bits — floor-log2 via bin-length, no
    // libm. Output is the lang-vs-predicted confusion matrix; the
    // oracle replays training (per-class surprisal + prior bits) and
    // the argmin decision rule.
    "nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.naiveBayesClassify(docs, "doc_id", "text", "lang")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Corpus curation: top-5 salient terms per doc by TF-IDF with the
    // RATIONAL ppm-integer score (floor(cnt*1e6*N/(total*df))) — exact
    // integer/double arithmetic, so score AND ranking are engine-portable
    // (ln() would differ in the last ulp across libms). Ties break on term.
    "corpus_tfidf" -> ((s, dir) => {
      Corpus.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk")
    }),

    // One-scan column profiling (null count / exact NDV / min / max for all
    // K columns in a single aggregate + stack reshape). Exact NDV costs a
    // K+1-projection Expand on any engine; exact=false is the HLL path for
    // 100 TB. Oracle: per-column aggregates unioned.
    "profile_table" -> ((s, dir) => {
      Profile.numericProfile(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_orderkey"))
        .orderBy("col_name")
    }),

    // Exact-substring dedup at 10-word segment granularity (the scalable
    // stand-in for Lee et al.'s suffix-array ExactSubstr): one copy of
    // every distinct segment survives corpus-wide (first occurrence by
    // (doc_id, seg_idx)), docs rebuilt from surviving segments. One
    // row_number window on the segment hash + one doc-key aggregate.
    "dedup_segments" -> ((s, dir) => {
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          segWords = 10)
        .orderBy("doc_id")
    }),

    // Frequency-based BOILERPLATE removal (CCNet/RefinedWeb line-dedup
    // shape): a deterministic 10-word disclaimer is PREPENDED to every
    // third doc (prepending keeps every other segment window aligned), so
    // that segment's document frequency (~n/3) crosses maxDocFreq and it
    // is dropped from every salted doc; organic low-frequency segments
    // survive. Oracle re-derives the doc-frequency table from scratch.
    "boilerplate_filter" -> ((s, dir) => {
      val disclaimer =
        "this document is provided as is without any warranty whatsoever"
      val salted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit(disclaimer + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateFilter(salted, "doc_id", "text",
          segWords = 10, maxDocFreq = 2)
        .orderBy("doc_id")
    }),

    // DSIR-style target-domain importance weights (source 'src0' stands in
    // for the target distribution): per-token p_target/p_corpus ratio in
    // ppm (rational surrogate of the log-likelihood ratio — ln() is not
    // engine-portable), summed per doc over exact int64 arithmetic.
    "importance_weights" -> ((s, dir) => {
      Corpus.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
          col("source") === "src0")
        .orderBy("doc_id")
    }),

    // DSIR end-to-end: importance weights -> Poisson PPS resample, i.e.
    // actually MATERIALIZE the target-shifted corpus the weights
    // describe (expected 100 docs drawn proportional to score_avg_ppm).
    // The oracle re-derives weights, the total, and every md5 inclusion
    // threshold independently.
    "importance_resample" -> ((s, dir) => {
      val scored = Corpus.importanceWeights(t(s, dir, "documents"),
        "doc_id", "text", col("source") === "src0")
      Sampling.weightedSample(scored, "doc_id", "score_avg_ppm", 100L)
        .select("doc_id", "n_toks", "score_ppm", "score_avg_ppm")
        .orderBy("doc_id")
    }),

    // Z-order (Morton) layout key over (l_orderkey, l_partkey): the bit
    // interleave that clusters a table so parquet min-max stats prune
    // scans filtered on EITHER column. Pure static shift/and expressions
    // (codegen, ANSI-safe distinct powers of two). First 1000 cells of
    // the curve — deterministic ties broken by the raw keys.
    "zorder_key" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.ops.Layout.zOrderKey(col("l_orderkey"), col("l_partkey"))
            .as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_partkey")
        .limit(1000)
    }),

    // Text -> token ids (the tensorization step): top-100 frequency
    // vocabulary with deterministic contiguous ids, OOV -> 0. Generate +
    // broadcast vocab join; the corpus never shuffles.
    "tokenize_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.tokenizeToIds(docs, "doc_id", "text",
          Corpus.vocabulary(docs, "text", topK = 100))
        .orderBy("doc_id", "pos")
    }),

    // Distributed BPE merge training (Sennrich 2016): the corpus is
    // touched once (word-frequency aggregate); each merge round runs on
    // the vocabulary table with a driver-held argmax row. The oracle
    // replays every round — pair stats, tie-break, fold application.
    "bpe_merges" -> ((s, dir) => {
      val ms = Bpe.fit(t(s, dir, "documents"), "text", rounds = 6)
      Bpe.mergesDF(s, ms).orderBy("rank")
    }),

    // The learned merges APPLIED at corpus scale: folds run once per
    // DISTINCT word (vocabulary-sized, like fit), and each doc's words
    // broadcast-join to their encoded lengths — the corpus text never
    // runs a fold and never shuffles.
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ms = Bpe.fit(docs, "text", rounds = 6)
      Bpe.encodedLengths(docs, "doc_id", "text", ms)
        .orderBy("doc_id")
    }),

    // Tokenizer-aware PACKING end-to-end: the merges come from the
    // IN-MEMORY trainer (fitLocal — the 30k-merge-ceiling path; its
    // byte-identity to the distributed fit is hash-pinned here because
    // the oracle replays the DISTRIBUTED rounds), the corpus encodes
    // through the vocabulary join, and the resulting BPE lengths drive
    // per-source budget packing — the last mile before a data loader.
    "bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ms = Bpe.fitLocal(docs, "text", rounds = 6)
      val lens = Bpe.encodedLengths(docs, "doc_id", "text", ms)
      val withSrc = docs.select(col("doc_id"), col("source"))
        .join(lens, "doc_id")
      Chunking.packByBudget(withSrc, Seq("source"), "doc_id",
          col("n_bpe"), budget = 512)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("__tok").as("sum_bpe"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    }),

    // WordPiece merge training (Schuster & Nakajima 2012; Wu et al.
    // 2016; the BERT/HuggingFace trainer): BPE's vocabulary-table loop
    // with the likelihood-ratio argmax score = cnt(l,r)/(cnt(l)cnt(r)),
    // quantized to exact integer e9 so the oracle replays every round
    // digit-for-digit — pair stats, symbol stats, score, tie-break,
    // '##'-absorbing merge, fold application.
    "wordpiece_merges" -> ((s, dir) => {
      val ms = WordPiece.fit(t(s, dir, "documents"), "text", rounds = 6)
      WordPiece.mergesDF(s, ms).orderBy("rank")
    }),

    // BERT's MaxMatch (greedy longest-match-first) encode at corpus
    // scale: the per-word fold runs once per DISTINCT word against the
    // trained vocabulary; each doc row carries its WordPiece token
    // count and an md5 digest of the token stream in document order.
    // The merges come from the IN-MEMORY trainer while the oracle
    // replays the DISTRIBUTED rounds — a hash-level pin that
    // fitLocal == fit on the real corpus (the bpe_pack discipline).
    "wordpiece_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ms = WordPiece.fitLocal(docs, "text", rounds = 6)
      WordPiece.encodeDigest(docs, "doc_id", "text",
        WordPiece.vocabulary(docs, "text", ms)).orderBy("doc_id")
    }),

    // Unigram LM tokenizer training (Kudo 2018 / SentencePiece, the
    // hard-EM variant — Viterbi E-steps keep every step exact integer
    // so the oracle replays it): substring seeding, one EM round,
    // prune to chars + top multi-char pieces, integer milli-bit costs.
    "unigram_fit" -> ((s, dir) => {
      val ps = Unigram.fit(t(s, dir, "documents"), "text")
      Unigram.piecesDF(s, ps).orderBy("rank")
    }),

    // UniMax allocations expanded into the EPOCH MANIFEST a loader
    // consumes: floor(alloc/n_tok) full epochs per source (exact token
    // accounting) + one partial epoch drawn per doc at probability
    // (alloc mod n_tok)/n_tok via the umx-salted uniform variate.
    // budget = 2x corpus, epoch cap 3 — sources land on different
    // full-epoch counts, so the fan-out and the partial draw both bind.
    "sample_unimax_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(sum(col("n_chars"))).collect()(0).getLong(0)
      Sampling.unimaxManifest(docs, "source", "n_chars", "doc_id",
          budget = 2L * total, epochCap = 3)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_tok"))
        .orderBy("source", "epoch")
    }),

    // Kudo's ITERATED training loop: 3 EM rounds with the 3/4 prune
    // schedule (256 -> 192 -> 144 -> 128 multi pieces), each round's
    // costs re-derived from the survivors. The oracle replays every
    // round's Viterbi fold and prune digit-for-digit.
    "unigram_fit_iterated" -> ((s, dir) => {
      val ps = Unigram.fitIterated(t(s, dir, "documents"), "text",
        rounds = 3)
      Unigram.piecesDF(s, ps).orderBy("rank")
    }),

    // Viterbi encode at corpus scale against the trained vocabulary:
    // per-doc token count + md5 digest of the ordered token stream.
    "unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ps = Unigram.fit(docs, "text")
      Unigram.encodeDigest(docs, "doc_id", "text", ps).orderBy("doc_id")
    }),

    // The persisted-vocab-on-unseen-text path (fromDF's contract): an
    // OOV character ('¤', absent from the training corpus) is
    // appended to every doc, so every digest must carry the explicit
    // <unk> token — the oracle replays the Viterbi fold WITH the UNK
    // arm, pinning the fallback's cost/token semantics cross-engine
    // (and that in-vocab text still segments identically around it).
    "unigram_encode_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ps = Unigram.fit(docs, "text")
      val costs = ps.map(p => p.piece -> p.costMb).toMap
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" q¤q")).as("text"))
      val docWords = aug.select(col("doc_id"),
        posexplode(graft.ops.TextAnalysis.tokens(col("text"))))
        .withColumnRenamed("col", "w")
      val wenc = docWords.select("w").distinct()
        .select(col("w"), Unigram.viterbiTokens(col("w"), costs).as("ts"))
        .select(col("w"), size(col("ts")).cast("long").as("k"),
          size(filter(col("ts"), tok => tok === Unigram.UnkToken))
            .cast("long").as("ku"),
          array_join(col("ts"), " ").as("tss"))
      docWords.join(wenc, "w").groupBy("doc_id")
        .agg(sum("k").as("n_uni"), sum("ku").as("n_unk"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tss")))),
            x => x.getField("tss")), " ")).as("uni_md5"))
        .orderBy("doc_id")
    }),

    // BPE byte fallback (GPT-2 / SentencePiece byte_fallback): the
    // same '¤'-augmented corpus against the learned merge list plus
    // the fit-time character ALPHABET. The OOV character rides its
    // UTF-8 bytes as <0xHH> base tokens — lossless, no character ever
    // dropped (the mirror of unigram_encode_oov's visible-but-lossy
    // <unk>) — while in-alphabet text segments identically around it.
    // The oracle replays the alphabet, the byte decomposition, and
    // every merge fold.
    "bpe_encode_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ms = Bpe.fitLocal(docs, "text", rounds = 6)
      val alpha = Bpe.alphabet(docs, "text")
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" q¤q")).as("text"))
      Bpe.encodeFallbackDigest(aug, "doc_id", "text", ms, alpha)
        .orderBy("doc_id")
    }),

    // Tokenizer SELECTION, the evaluation a pipeline actually runs
    // before committing a vocabulary: all three subword tokenizers
    // trained on the corpus and compared per source by fertility
    // (characters per token, integer permille — the published
    // compression metric for tokenizer comparison). Each encode is the
    // per-DISTINCT-word fold + equi-join shape; one shared doc spine.
    "tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // both in-memory trainers, both hash-pinned against the oracle's
      // distributed-round replays
      val bpe = Bpe.encodedLengths(docs, "doc_id", "text",
        Bpe.fitLocal(docs, "text", rounds = 6))
      val wms = WordPiece.fitLocal(docs, "text", rounds = 6)
      val wp = WordPiece.encodeDigest(docs, "doc_id", "text",
          WordPiece.vocabulary(docs, "text", wms))
        .select(col("doc_id"), col("n_wp"))
      val uni = Unigram.encodeDigest(docs, "doc_id", "text",
          Unigram.fit(docs, "text"))
        .select(col("doc_id"), col("n_uni"))
      docs.select(col("doc_id"), col("source"),
          length(regexp_replace(col("text"), "\\s", ""))
            .cast("long").as("n_chars"))
        .join(bpe, "doc_id").join(wp, "doc_id").join(uni, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          sum("n_bpe").as("n_bpe"), sum("n_wp").as("n_wp"),
          sum("n_uni").as("n_uni"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("n_bpe"), col("n_wp"), col("n_uni"),
          expr("1000 * n_chars DIV greatest(n_bpe, 1)")
            .as("bpe_cpt_x1000"),
          expr("1000 * n_chars DIV greatest(n_wp, 1)")
            .as("wp_cpt_x1000"),
          expr("1000 * n_chars DIV greatest(n_uni, 1)")
            .as("uni_cpt_x1000"))
        .orderBy("source")
    }),

    // The COMPOSED curation funnel an LLM data pipeline actually runs:
    // language gate -> quality gate -> exact dedup -> MinHash near-dup
    // drop, reported as per-source survivor counts at every stage. Each
    // stage is the already-oracled operator; composing them proves the
    // operators chain without re-materialization (one flags frame + two
    // survivor-id semi/left joins — corpus text never shuffles twice).
    "curate_corpus" -> ((s, dir) => {
      val txt = col("text")
      val langOk = TextAnalysis.langIdHeuristic(txt) === "en"
      val qOk = length(txt).between(20, 20000) &&
        TextAnalysis.punctRatio(txt) < 0.2 &&
        TextAnalysis.meanWordLength(txt).between(2.0, 14.0)
      val flags = t(s, dir, "documents").select(col("doc_id"), col("source"),
        txt, langOk.as("lang_ok"), (langOk && qOk).as("cand_ok"))
      val cand = flags.filter(col("cand_ok"))
        .select("doc_id", "source", "text")
      // ONE fingerprint pass: the exact-dedup survivor ids feed two
      // consumers (the ex_ok stage counter and, through the semi-join,
      // the minhash stage's input), and each previously re-ran the
      // corpus scan + md5 fingerprint aggregate. The id spine is
      // survivor-bounded — lazily checkpointed, both consumers read
      // stored ids. exKeep ≡ the old exact.select("doc_id"):
      // exactSurvivors picks min(doc_id) per fingerprint FROM cand, so
      // its ids are exactly the semi-join's output (oracle-pinned).
      val exKeepIds = Dedup.exactSurvivors(cand, "doc_id", "text")
        .select("doc_id").localCheckpoint(false)
      val exact = cand.join(exKeepIds, Seq("doc_id"), "left_semi")
      val exKeep = exKeepIds.withColumn("ex_ok", lit(true))
      val ndDrop = Dedup.minhashNearDupPairs(exact, "doc_id", "text",
          shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.7,
          materialize = true)
        .select(col("idB").as("doc_id")).distinct()
        .withColumn("nd_drop", lit(true))
      flags
        .join(exKeep, Seq("doc_id"), "left")
        .join(ndDrop, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("cand_ok"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("ex_ok"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("ex_ok") && col("nd_drop").isNull, 1L).otherwise(0L))
            .as("n_final"))
        .orderBy("source")
    }),

    // The round-16 curation operators composed END-TO-END — the single
    // pipeline a pre-training data run actually executes, proving the
    // operators chain on shared column contracts without re-materializing
    // or re-shuffling the corpus text:
    //   langid -> Gopher content-shape rules (map-side) -> A1.2
    //   line-repetition -> Bloom decontamination (proportional 20% rule:
    //   an any-hit rule annihilates the corpus once the benchmark's
    //   shingle set is dense, from genuine 3-gram overlap plus Bloom
    //   false positives) -> incremental minhash near-dup vs the
    //   src0-src4 history index -> SemDeDup through the trained k=8
    //   coarse quantizer -> mixCorpus to a 15-source target composition
    //   -> DSIR importance resampling (on a DOMAIN-SEPARATED 'rs:' key:
    //   mix and resample draw from the same hashPriority variate, so an
    //   unsalted composition keeps mix survivors with certainty instead
    //   of probability — see Sampling.hashPriority's composition caveat)
    //   -> 8-way global shard shuffle -> 128-token sequence packing in
    //   shard_pos order -> JSONL export, read back through the
    //   declared-schema FAILFAST scan.
    // Scale shape: every per-doc gate/signal is computed from the one
    // map-side-gated scan and reduced to an id-keyed frame before it
    // touches the spine, so the text column itself crosses at most one
    // exchange (the final export attach) — PlanSpec pins this. Each
    // survivor set g3..g6 matches the prototype funnel stage for stage;
    // the DuckDB oracle replays all ten stages in one WITH chain.
    "curate_corpus_v2" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val toExport = curateFunnelV2(s, dir)
      val out = java.nio.file.Files.createTempDirectory("graft-funnel").toString
      graft.sources.Jsonl.write(toExport, out, partitionBy = Seq("shard"))
      val schema = StructType(Seq(
        StructField("shard_pos", LongType), StructField("bin", LongType),
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_toks", LongType), StructField("text", StringType)))
      graft.sources.Jsonl.read(s, out, schema)
        .select(col("shard").cast("long").as("shard"), col("shard_pos"),
          col("bin"), col("doc_id"), col("source"), col("n_toks"), col("text"))
        .orderBy("shard", "shard_pos")
    })
  )

  /** The curate_corpus_v2 funnel up to (and excluding) the JSONL
    * delivery — the frame the query writes and PlanSpec audits (never
    * cartesian; the corpus `text` column crosses at most one exchange). */
  private[graft] def curateFunnelV2(s: SparkSession, dir: String): DataFrame = {
      val docs = t(s, dir, "documents")
      val hist = Seq("src0", "src1", "src2", "src3", "src4")
      // stages 1+2 (map-side): language + six content-shape Gopher rules
      // (required_words_ok omitted: the synthetic corpus contains at most
      // one of the eight Gopher function words by construction, so the
      // full conjunction would gate every document out)
      val g = TextAnalysis.gopherRules(col("text"))
      // cached: SIX downstream branches (spine, line-rep, shingle count,
      // bloom probe, minhash incoming, DSIR text) each reference this
      // frame, and Catalyst has no common-subplan reuse across joins —
      // uncached, every branch re-runs the scan plus the ~10 regex
      // extracts of the language/Gopher gates (measured 128s -> ~15s at
      // sf0.1 with the two funnel caches). Cache ownership follows the
      // minhashNearDupPairs discipline: the caller-visible result frame
      // still reads it lazily, so the entries stay persisted after the
      // query and Bench clears the session cache between timed runs.
      val mapGate = docs
        .filter(!col("source").isin(hist: _*))
        .filter(TextAnalysis.langIdHeuristic(col("text")) === "en")
        .filter(g.getField("word_count_ok") && g.getField("mean_word_len_ok") &&
          g.getField("symbol_ratio_ok") && g.getField("bullet_ok") &&
          g.getField("ellipsis_ok") && g.getField("alpha_word_ok"))
        .cache()
      val spine = mapGate.select("doc_id", "source", "n_chars")
      // stage 3: Gopher A1.2 line-repetition (per-doc aggregate signal)
      val repOk = Corpus.lineRepetitionSignals(mapGate, "doc_id", "text")
        .filter(col("dup_line_ok") && col("dup_char_ok"))
        .select("doc_id")
      // stage 4: Bloom decontamination vs the doc_id%50==0 benchmark,
      // keep iff flagged shingles < 20% of the doc's distinct shingles.
      // The bitmap is benchmark-sized (bloomBuildAuto): the 100x probe
      // showed the old fixed 1024 words saturating to fp~1, which
      // emptied this stage — the funnel would silently discard the
      // entire corpus at scale
      // stage 5 frames (lazy here; materialized under g3's checkpoint):
      // incremental minhash near-dup vs the persisted history index
      // (per-doc independent, so probed from mapGate's scan branch).
      // The index is derived in-plan here (production scans the store):
      // lazily checkpointed so the history signature build runs once
      // across the operator's two index-consuming branches
      val index = Dedup.minhashIndex(
        docs.filter(col("source").isin(hist: _*)), "doc_id", "text")
        .localCheckpoint(false)
      val ndDrop = Dedup.nearDupAgainstIndex(mapGate, index, "doc_id", "text")
        .select(col("id").as("doc_id")).distinct()
      val emb = t(s, dir, "embeddings")
      // The two eager construct chains are INDEPENDENT — the Bloom
      // bitmap + g3 survivor spine read documents, the k=8 quantizer
      // fit reads embeddings — so they overlap: the fit's driver-paced
      // seeding picks back-fill the cores the g3 jobs leave idle.
      val (g3, cents) = Overlap.both(s)("funnelv2: bloom + g3 spine" -> { () =>
        val bitmap = Dedup.bloomBuildAuto(
          docs.filter(col("doc_id") % 50 === 0), "text",
          shingleWords = 3, k = 3)
        // n_sh and n_flagged from ONE shingle pass (guide §1.2: don't
        // compute the same thing twice): the earlier shape tokenized the
        // gated corpus twice — once for decontaminateBloom's flagged
        // count, once for a separate size(wordShingles) frame — and paid
        // a join to glue them. wordShingles is array_distinct per doc,
        // so per-doc counts over the exploded frame need no DISTINCT
        // aggregate: n_sh = count(*), n_flagged = count of
        // bloom-positive shingles — pure hash aggregate with map-side
        // partials. Survivor set identical: a doc with zero shingles had
        // n_sh = 0 and failed `0*5 < 0` before; here it has no group row
        // — excluded either way (oracle-pinned).
        val bloomOk = mapGate
          .select(col("doc_id"),
            explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            count(when(Dedup.bloomMightContain(col("sh"), bitmap, 3),
              lit(1))).as("n_flagged"))
          .filter(col("n_flagged") * 5 < col("n_sh"))
          .select("doc_id")
        // LINEAGE CUT, not just a cache: g3's subtree carries the whole
        // gate/signal chain (including the history-index signature
        // build), and every downstream stage references it several times
        // over — semdedup's base feeds both self-join sides AND the anti
        // probe, mix references g4 twice (corpus + fraction agg), the
        // DSIR chain references its token stream three times. A cache()
        // leaves the ANALYZED plan exponentially duplicated (the
        // ~4000-leaf tree cost ~25s of pure planning per action at
        // sf0.1, 128s total); the eager localCheckpoint materializes the
        // tiny id/source/chars spine once and replaces the subtree with
        // a leaf. At cluster scale the same barrier is a reliable
        // checkpoint() or a parquet handoff of the survivor spine.
        spine.join(repOk, "doc_id").join(bloomOk, "doc_id")
          .join(ndDrop, Seq("doc_id"), "left_anti")
          .localCheckpoint()
      },
      // stage 6 quantizer: SemDeDup through the trained k=8 coarse
      // quantizer. Drop-set semantics, NOT keep-set: a doc with no
      // embedding row cannot be judged semantically and passes through
      // (only a proven within-cluster near-dup drops) — the sf0.1
      // testdata exercises exactly this, covering only 2 of 5 docs with
      // embeddings.
      "funnelv2: kmeans fit" -> (() =>
        KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)))
      val g3emb = emb.join(g3.select(col("doc_id").as("vec_id")), "vec_id")
      val semKeep = Overlap.labeled(s, "funnelv2: semdedup") {
        KMeans.semDedup(g3emb, "vec_id", "embedding", cents,
          threshold = 0.3, materialize = true)
      }.select(col("vec_id").as("doc_id"))
      val semDropped = g3emb.select(col("vec_id").as("doc_id"))
        .join(semKeep, Seq("doc_id"), "left_anti")
      // STAGE-BOUNDARY lazy checkpoints (g4, g5, scored): each of these
      // survivor spines feeds TWO-plus lazy consumers (mix reads g4 for
      // its fraction agg AND its filter join; g5 feeds the DSIR text
      // attach AND the post-g6 shard join; weightedSample reads scored
      // for the PPS total AND the inclusion filter), and Catalyst has no
      // cross-branch subplan reuse — the g6 materialization ran ~86 AQE
      // stage-jobs re-deriving them (measured via the labeled `Probe
      // jobs` profile). Lazy localCheckpoints cost no extra job (the g6
      // eager checkpoint materializes the chain in one action) and every
      // frame is an id-keyed spine bounded by the survivor count, never
      // the corpus. Join strategies on the now-stat-less frames are
      // left to AQE's runtime sizes (the pq_recall lesson applies only
      // where a hint must FORCE broadcast; here the joins are
      // spine-sized on both sides).
      val g4 = g3.join(semDropped, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)
      // stage 7: mix to the target 15-source composition
      val shares = ((5 to 9).map(i => s"src$i" -> 0.1) ++
        (10 to 19).map(i => s"src$i" -> 0.05)).toMap
      val g5 = Sampling.mixCorpus(g4, "source", "doc_id", "n_chars",
          shares, budget = 20000L)
        .localCheckpoint(false)
      // stage 8: DSIR importance weights toward src5, Poisson-PPS
      // resample on the domain-separated 'rs:' key
      val g5text = mapGate.select("doc_id", "text")
        .join(g5.select("doc_id", "source"), "doc_id")
      val scored = Corpus.importanceWeights(g5text, "doc_id", "text",
          col("source") === "src5")
        .localCheckpoint(false)
      // second lineage cut: the resampled spine is the layout stages'
      // only input, and the DSIR chain above it is the other
      // multi-reference subtree (toks x3, scored x2 via the PPS total)
      val g6 = Overlap.labeled(s, "funnelv2: dsir resample") {
        Sampling.weightedSample(
            scored.withColumn("rs_key",
              concat(lit("rs:"), col("doc_id").cast("string"))),
            "rs_key", "score_avg_ppm", expectedRows = 30L)
          .select("doc_id", "n_toks")
          .localCheckpoint()
      }
      // stage 9: global shard shuffle + in-order sequence packing
      val sharded = Layout.assignShards(
        g5.select("doc_id", "source").join(g6, "doc_id"), "doc_id", 8)
      val packed = Chunking.packByBudget(sharded, Seq("shard"), "shard_pos",
        col("n_toks"), budget = 128, carryCols = Seq("doc_id", "source"))
      // stage 10 (delivery prep): attach text for export — the funnel's
      // ONE text-bearing exchange (every earlier stage consumed text
      // map-side or reduced it to an id-keyed signal before joining)
      packed
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(col("shard"), col("shard_pos"), col("bin"), col("doc_id"),
          col("source"), col("__tok").as("n_toks"), col("text"))
  }

  /** Documents re-lined into 8-token lines with a repeated marketing
    * footer spliced onto every doc_id % 7 == 0 (x6) and % 3 == 0 (x2)
    * doc — the shared fixture of gopher_repetition (within-doc
    * repetition signals) and strip_boilerplate (across-doc line dedup),
    * so the two rule families are exercised against the same corpus. */
  private def splicedBoilerplateDocs(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = ceil(size(toks) / lit(8.0)).cast("int")
    val body = concat_ws("\n", transform(sequence(lit(0), nLines - 1),
      i => concat_ws(" ", slice(toks, i * 8 + 1, lit(8)))))
    val footer = when(pmod(col("doc_id"), lit(7)) === 0,
        lit("\nfollow us for more" * 6))
      .when(pmod(col("doc_id"), lit(3)) === 0, lit("\nfollow us for more" * 2))
      .otherwise(lit(""))
    t(s, dir, "documents")
      .select(col("doc_id"), concat(body, footer).as("text"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (or a deterministic VALUES / first-principles
    * re-derivation where the query's inputs are generated fixtures). */
  /** DuckDB expression mirroring Similarity.lshBucket/planeComponent
    * bit-for-bit: portable integer-arithmetic hyperplanes, sign bits packed
    * MSB-first. `e` is a list column name, `np` the plane count. */
  private def duckBucket(e: String, np: Int, offset: String = "0"): String =
    s"list_sum(list_transform(range(0, $np), p -> " +
      s"CASE WHEN list_sum(list_transform(range(1, len($e)+1), i -> " +
      s"CAST($e[i] AS DOUBLE) * " +
      s"(list_transform([(73856093*(($offset) + p) + 19349663*(i-1)) % 1000003], " +
      s"h -> CAST((h*h + h) % 1000003 AS DOUBLE) / 500000.0 - 1.0)[1]))) >= 0 " +
      s"THEN (1 << (${np - 1} - p)) ELSE 0 END))"

  /** DuckDB expression mirroring Sampling.hashPriority bit-for-bit: the
    * first 12 md5 hex digits of the key scaled into [0, 1). One owner for
    * the sample_stratified / sample_mix / importance_resample oracles so
    * a precision change can never desynchronize them. */
  private def duckHashPriority(key: String): String =
    s"CAST(concat('0x', substring(md5(CAST($key AS VARCHAR)), 1, 12)) " +
      "AS BIGINT) / power(16, 12)"

  /** Shared CTE chain deriving per-doc MinHash signatures and LSH band
    * buckets in DuckDB (word-3-gram shingles, md5-seeded universal-hash
    * 64-min signatures, 16 bands of 4) — ends at `sig` (id, sig) and `bk`
    * (id, b, bucket). The common prefix of minhashPairCtesFrom and the
    * dedup_minhash_incremental oracle, factored so the signature
    * definition has exactly one owner. */
  private def minhashSigCtesFrom(rel: String): String =
    s"""sh AS (SELECT doc_id AS id,
      |    list_filter(list_distinct(list_transform(
      |      range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 2)),
      |      i -> array_to_string(
      |        (regexp_extract_all(lower(text), '\\S+'))[i:i+2], ' '))),
      |      s -> s <> '') AS s
      |  FROM $rel),
      |xs AS (SELECT id, unnest(s) AS shingle FROM sh),
      |x2 AS (SELECT id,
      |    CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT)
      |      % 2147483647 AS x FROM xs),
      |mh AS (SELECT id, i,
      |    MIN((x*(2*i + 1) + 12345*i + 1) % 2147483647) AS h
      |  FROM x2, (SELECT unnest(range(0, 64)) AS i) GROUP BY 1, 2),
      |sig AS (SELECT id, list(h ORDER BY i) AS sig FROM mh GROUP BY 1),
      |bk AS (SELECT id, b,
      |    md5(array_to_string(sig[b*4 + 1:b*4 + 4], ',')) AS bucket
      |  FROM sig, (SELECT unnest(range(0, 16)) AS b))""".stripMargin

  /** Shared CTE chain deriving the banded MinHash-LSH near-dup pairs in
    * DuckDB (word-3-gram shingles, md5-seeded universal-hash 64-min
    * signatures, 16 bands of 4, exact-Jaccard verify) — ends at `v`
    * (idA, idB, j). `rel` is the (doc_id, text) relation to pair over.
    * Used by the dedup_minhash, dedup_cluster, and curate_corpus oracles. */
  private def minhashPairCtesFrom(rel: String): String =
    s"""${minhashSigCtesFrom(rel)},
      |cand AS (SELECT DISTINCT a.id AS idA, c.id AS idB FROM bk a JOIN bk c
      |  ON a.b = c.b AND a.bucket = c.bucket AND a.id < c.id),
      |v AS (SELECT idA, idB,
      |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
      |      len(list_distinct(list_concat(x.s, y.s))) AS j
      |  FROM cand JOIN sh x ON x.id = idA JOIN sh y ON y.id = idB)""".stripMargin

  private val minhashPairCtes: String = minhashPairCtesFrom("documents")

  /** Shared CTE chain deriving the per-doc DSIR importance scores in
    * DuckDB (Laplace-smoothed target-vs-corpus token likelihood ratios in
    * exact ppm int64 arithmetic, mirroring Corpus.importanceWeights) —
    * ends at `scored` (doc_id, n_toks, score_ppm, score_avg_ppm). One
    * owner for the importance_weights and importance_resample oracles so
    * a smoothing/scale change can never validate one against stale
    * weights while the other stays green. */
  private val importanceScoredCtes: String =
    s"""toks AS (
      |  SELECT doc_id, source = 'src0' AS is_t,
      |    unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      |  FROM documents),
      |stats AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt_c,
      |    CAST(COUNT(*) FILTER (is_t) AS BIGINT) AS cnt_t
      |  FROM toks GROUP BY tok),
      |tot AS (
      |  SELECT CAST(SUM(cnt_c) AS BIGINT) AS n_c,
      |    CAST(SUM(cnt_t) AS BIGINT) AS n_t,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM stats),
      |wts AS (
      |  SELECT tok,
      |    (1000000 * (cnt_t + 1) * (n_c + v)) // ((cnt_c + 1) * (n_t + v))
      |      AS w_ppm
      |  FROM stats, tot),
      |dt AS (
      |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM toks GROUP BY doc_id, tok),
      |scored AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
      |    CAST(SUM(cnt * w_ppm) AS BIGINT) AS score_ppm,
      |    CAST(CAST(SUM(cnt * w_ppm) AS BIGINT)
      |      // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS score_avg_ppm
      |  FROM dt JOIN wts USING (tok)
      |  GROUP BY doc_id)""".stripMargin

  /** Shared CTE chain for the exact-integer unigram surprisal (CCNet
    * perplexity proxy) over `rel` (needs doc_id, text), ending at
    * `{pfx}ppl` (doc_id, n_toks, bits, bits_x1000_per_tok). One owner
    * for the text_perplexity, perplexity_buckets, and curate_corpus_v3
    * oracles (the last prefixes the CTE names and scores CLEANED text). */
  private def duckPplCtesFrom(rel: String, pfx: String = ""): String =
    s"""${pfx}toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      |  FROM $rel),
      |${pfx}cnts AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM ${pfx}toks
      |  GROUP BY tok),
      |${pfx}tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
      |  FROM ${pfx}cnts),
      |${pfx}sup AS (
      |  SELECT tok,
      |    CAST(length(bin((n + v) // (cnt + 1))) - 1 AS BIGINT) AS b
      |  FROM ${pfx}cnts, ${pfx}tot),
      |${pfx}dt AS (
      |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ${pfx}toks GROUP BY doc_id, tok),
      |${pfx}ppl AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
      |    CAST(SUM(cnt * b) AS BIGINT) AS bits,
      |    (1000 * CAST(SUM(cnt * b) AS BIGINT)) // CAST(SUM(cnt) AS BIGINT)
      |      AS bits_x1000_per_tok
      |  FROM ${pfx}dt JOIN ${pfx}sup USING (tok) GROUP BY doc_id)""".stripMargin

  private val duckPplCtes: String = duckPplCtesFrom("documents")

  /** DuckDB twin of [[splicedBoilerplateDocs]] — CTEs `t`, `sp` ending
    * at (doc_id, text). Shared by the gopher_repetition and
    * strip_boilerplate oracles. */
  private val duckSplicedCtes: String =
    // no line may BEGIN with '||' — this fragment is interpolated into
    // oracles that call .stripMargin on the whole string, which would
    // eat the first pipe of a leading '||'
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents),
      |sp AS (SELECT doc_id,
      |    array_to_string(list_transform(
      |      range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
      |      i -> array_to_string(toks[i * 8 + 1:i * 8 + 8], ' ')), chr(10)) ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN repeat(chr(10) || 'follow us for more', 6)
      |         WHEN doc_id % 3 = 0
      |         THEN repeat(chr(10) || 'follow us for more', 2)
      |         ELSE '' END AS text
      |  FROM t)""".stripMargin

  /** Shared Gopher-rule measure CTEs (`{pfx}d`, `{pfx}m`) over `rel` —
    * one owner for gopher_filter's verdicts, the streaming gate's passes
    * predicate, and the curate_corpus_v2 funnel's quality stage (which
    * prefixes the CTE names to avoid collisions in its long WITH chain). */
  private def duckGopherCtesFrom(rel: String, pfx: String = ""): String =
    s"""${pfx}d AS (SELECT doc_id, text,
      |    regexp_extract_all(lower(text), '\\S+') AS toks,
      |    string_split(text, chr(10)) AS lines
      |  FROM $rel),
      |${pfx}m AS (SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS w,
      |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS chars,
      |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS hashes,
      |    CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS esyms,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(lines,
      |      l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS bullets,
      |    CAST(len(list_filter(lines,
      |      l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS BIGINT) AS ellipses,
      |    CAST(len(list_filter(toks,
      |      t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha,
      |    len(list_filter(['the','be','to','of','and','that','have','with'],
      |      sw -> list_contains(toks, sw))) AS req
      |  FROM ${pfx}d)""".stripMargin

  private val duckGopherCtes: String = duckGopherCtesFrom("documents")

  /** The six content-shape rules over `m`'s columns (everything except
    * the required-words rule) — the subset the curate_corpus_v2 funnel
    * gates on (the synthetic corpus contains at most one of the eight
    * Gopher function words by construction, so the full conjunction
    * would filter every document and prove nothing about composition). */
  private val duckGopherShapeRules: String =
    """w BETWEEN 50 AND 100000 AND chars >= w * 3 AND chars <= w * 10
      |   AND hashes * 10 <= w AND esyms * 10 <= w
      |   AND bullets * 10 <= n_lines * 9
      |   AND ellipses * 10 <= n_lines * 3 AND alpha * 5 >= w * 4""".stripMargin

  /** The full 7-rule conjunction over `m`'s columns. */
  private val duckGopherPasses: String =
    duckGopherShapeRules + "\n   AND req >= 2"

  /** DuckDB replay of Bpe.fit(rounds) over the documents vocabulary:
    * word-count CTE `wc`, symbol chain s0..s{rounds} (each word's symbol
    * list CARRIES the word, so encode can join back), winning-merge CTEs
    * m1..m{rounds}. Pair stats follow get_stats (all adjacent indexes);
    * the merge fold is the same sentinel-seeded leftmost-first
    * list_reduce the Spark side folds with `aggregate` (sentinel = one
    * SPACE, matching Bpe.Sentinel — never a symbol of \S+ words).
    * DuckDB slices are INCLUSIVE, hence acc[:-2] to drop the
    * accumulator's last element and s[2:] to strip the sentinel.
    * EXHAUSTION is modeled: when a round's pair table is empty (every
    * word fully merged), a ('', '', -1) dummy wins the argmax — its
    * merge can never fire (no symbol is ''), so later s-stages pass
    * through unchanged instead of going empty via the cross join, and
    * merge consumers filter the dummy with l <> '' — exactly fit()'s
    * stop-early behavior. */
  private def duckBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """toks AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |  FROM documents),
        |wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
        |s0 AS (SELECT w, n,
        |  list_append(regexp_extract_all(w, '.'), '</w>') AS s FROM wc)"""
        .stripMargin)
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      sb ++= s""",
        |p$r AS (SELECT p.l AS l, p.r AS r, SUM(n) AS cnt
        |  FROM (SELECT n, unnest(list_transform(range(1, len(s)),
        |    i -> {'l': s[i], 'r': s[i + 1]})) AS p FROM $prev)
        |  GROUP BY 1, 2),
        |m$r AS (SELECT * FROM (SELECT l, r, cnt FROM p$r
        |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
        |  ORDER BY cnt DESC, l, r LIMIT 1),
        |s$r AS (SELECT w, n, list_reduce(
        |    list_prepend([' '], list_transform(s, x -> [x])),
        |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l
        |        AND x[1] = m.r
        |      THEN acc[:-2] || [m.l || m.r] ELSE acc || x END)[2:] AS s
        |  FROM $prev, m$r m)""".stripMargin
    }
    sb.toString
  }

  /** Byte-fallback re-encode chain for bpe_encode_oov: `alpha` is the
    * fit corpus's character alphabet (from duckBpeCtes' `wc`), `b0`
    * symbolizes a caller-provided `bdist` distinct-word relation with
    * the fallback rule (in-alphabet character stays itself; an OOV
    * character becomes its UTF-8 bytes as '<0xHH>' tokens — same
    * hex-pair decomposition as Bpe.symbolizeFallback), then b1..bN
    * fold the learned merges m1..mN with the identical sentinel-seeded
    * list_reduce as duckBpeCtes' s-chain. */
  private def duckBpeFallbackEncodeCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """alpha AS (SELECT list(DISTINCT c) AS cs FROM
        |  (SELECT unnest(regexp_extract_all(w, '.')) AS c FROM wc)),
        |b0 AS (SELECT w, flatten(list_transform(regexp_extract_all(w, '.'),
        |    c -> CASE WHEN list_contains(alpha.cs, c) THEN [c]
        |      ELSE list_transform(regexp_extract_all(hex(c), '[0-9A-F]{2}'),
        |        b -> '<0x' || b || '>') END)) || ['</w>'] AS s
        |  FROM bdist, alpha)""".stripMargin)
    for (r <- 1 to rounds) {
      sb ++= s""",
        |b$r AS (SELECT w, list_reduce(
        |    list_prepend([' '], list_transform(s, x -> [x])),
        |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l
        |        AND x[1] = m.r
        |      THEN acc[:-2] || [m.l || m.r] ELSE acc || x END)[2:] AS s
        |  FROM b${r - 1}, m$r m)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB replay of WordPiece.fit(rounds) over the documents
    * vocabulary — duckBpeCtes' shape with the likelihood-ratio argmax:
    * per round, pair counts wp{r}, symbol counts wsc{r}, the winning
    * merge wm{r} scored by the exact integer
    * floor(cnt * 1e9 / (cl * cr)) in HUGEINT (matching Spark's
    * DECIMAL(38,0) `div` digit-for-digit), ties broken (cnt desc, l,
    * r); the merged token absorbs the right symbol's '##'; the fold is
    * the same sentinel-seeded list_reduce as BPE with the explicit
    * merged string. Exhaustion dummy ('', '', -1) as in duckBpeCtes. */
  private def duckWpCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """wtoks AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |  FROM documents),
        |wwc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM wtoks GROUP BY 1),
        |w0 AS (SELECT w, n, list_transform(regexp_extract_all(w, '.'),
        |  (c, i) -> CASE WHEN i = 1 THEN c ELSE '##' || c END) AS s FROM wwc)"""
        .stripMargin)
    for (r <- 1 to rounds) {
      val prev = s"w${r - 1}"
      sb ++= s""",
        |wp$r AS (SELECT p.l AS l, p.r AS r, SUM(n) AS cnt
        |  FROM (SELECT n, unnest(list_transform(range(1, len(s)),
        |    i -> {'l': s[i], 'r': s[i + 1]})) AS p FROM $prev)
        |  GROUP BY 1, 2),
        |wsc$r AS (SELECT t, SUM(n) AS c
        |  FROM (SELECT n, unnest(s) AS t FROM $prev) GROUP BY 1),
        |wm$r AS (SELECT * FROM (
        |    SELECT p.l, p.r, p.cnt,
        |      CAST((CAST(p.cnt AS HUGEINT) * 1000000000) //
        |        (CAST(cl.c AS HUGEINT) * CAST(cr.c AS HUGEINT)) AS BIGINT)
        |        AS score,
        |      p.l || (CASE WHEN p.r[1:2] = '##' THEN p.r[3:] ELSE p.r END)
        |        AS merged
        |    FROM wp$r p JOIN wsc$r cl ON p.l = cl.t
        |      JOIN wsc$r cr ON p.r = cr.t
        |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT),
        |      CAST(-1 AS BIGINT), '')
        |  ORDER BY score DESC, cnt DESC, l, r LIMIT 1),
        |w$r AS (SELECT w, n, list_reduce(
        |    list_prepend([' '], list_transform(s, x -> [x])),
        |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l
        |        AND x[1] = m.r
        |      THEN acc[:-2] || [m.merged] ELSE acc || x END)[2:] AS s
        |  FROM $prev, wm$r m)""".stripMargin
    }
    sb.toString
  }

  /** MaxMatch encode CTEs over a distinct-word relation: vocabulary
    * list (w0 alphabet + merged tokens of wm1..wm6), the cursor fold
    * (arms from [[duckWpArm]]), and the token lists `wenc(w, ts)`. */
  private def duckMaxMatchCtes(distRel: String): String =
    s"""wvoc AS (SELECT DISTINCT t AS tok
       |    FROM (SELECT unnest(s) AS t FROM w0)
       |  ${(1 to 6).map(r =>
            s"UNION SELECT merged FROM wm$r WHERE l <> ''").mkString("\n|  ")}),
       |wvl AS (SELECT list(tok ORDER BY tok) AS vs FROM wvoc),
       |wencw AS (SELECT w, list_reduce(
       |    list_prepend(['1'], list_transform(range(1, len(w) + 1),
       |      i -> [CAST(i AS VARCHAR)])),
       |    (acc, x) -> CASE
       |      WHEN acc[1] = '!' OR CAST(x[1] AS INT) <> CAST(acc[1] AS INT)
       |        THEN acc
       |      ELSE COALESCE(
       |    ${(graft.ops.WordPiece.MaxTokenChars to 1 by -1)
            .map(duckWpArm).mkString(",\n|    ")},
       |        ['!'])
       |    END) AS st FROM $distRel, wvl),
       |wenc AS (SELECT w,
       |    CASE WHEN st[1] = '!' THEN ['[UNK]'] ELSE st[2:] END AS ts
       |  FROM wencw)""".stripMargin

  /** Unigram Viterbi encode CTEs over a distinct-word relation: final
    * Laplace costs from ukept/utot1, the cost map, the DP fold, and
    * the token lists `uenc(w, ts)`. */
  private def duckUniEncodeCtes(distRel: String): String =
    s"""ucost1 AS (SELECT piece,
       |    ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")} AS cost
       |  FROM ukept, utot1),
       |ucm1 AS (SELECT MAP(list(piece ORDER BY piece),
       |    list(cost ORDER BY piece)) AS cm FROM ucost1),
       |uencw AS (SELECT w, $duckViterbiFold AS st FROM $distRel, ucm1),
       |uenc AS (SELECT w, st[len(st)].t AS ts FROM uencw)""".stripMargin

  /** One MaxMatch probe arm at candidate length `lLen` for the
    * wordpiece_encode oracle: the cursor lives in acc[1] (VARCHAR), a
    * match advances it by the MATCHED length (substr clamps at the
    * word end in both engines) and appends the candidate. */
  private def duckWpArm(lLen: Int): String = {
    val p = "CAST(acc[1] AS INT)"
    val sub = s"w[$p:$p + ${lLen - 1}]"
    val cand = s"CASE WHEN acc[1] = '1' THEN $sub ELSE '##' || $sub END"
    s"""CASE WHEN list_contains(vs, $cand)
       |      THEN [CAST($p + len($sub) AS VARCHAR)] || acc[2:] || [$cand]
       |      END""".stripMargin
  }

  /** dHash fixture + fingerprint CTEs shared by the two mm_dedup_phash
    * oracles: md5-derived 9×8 pixels per variant group, the 8×8
    * brighter-than-right bit grid, 16-bit quarter packing, and the
    * per-id quarter explosion `pexp(id, k0..k3, qi, key)`. */
  private def duckDHashCtes(mod: Int): String =
    s"""pg AS (SELECT doc_id AS id, doc_id % $mod AS g, doc_id // $mod AS v
      |  FROM documents),
      |ppx AS (SELECT id, x, y,
      |    (CAST(concat('0x', substring(md5(
      |        CAST(g AS VARCHAR) || ':' || CAST(x AS VARCHAR) || ':' ||
      |        CAST(y AS VARCHAR)), 1, 2)) AS INT) +
      |     CASE WHEN v > 0 AND x = v % 9 AND y = (v * 3) % 8
      |       THEN 128 ELSE 0 END) % 256 AS px
      |  FROM pg, (SELECT unnest(range(0, 9)) AS x),
      |    (SELECT unnest(range(0, 8)) AS y)),
      |pb AS (SELECT a.id, (a.y * 8 + a.x) AS b,
      |    CASE WHEN n.px > a.px THEN 1 ELSE 0 END AS bit
      |  FROM ppx a JOIN ppx n
      |    ON a.id = n.id AND n.y = a.y AND n.x = a.x + 1
      |  WHERE a.x < 8),
      |pq AS (SELECT id, b // 16 AS qi,
      |    CAST(SUM(bit * (1 << (15 - (b % 16)))) AS BIGINT) AS key
      |  FROM pb GROUP BY 1, 2),
      |pquad AS (SELECT id,
      |    MAX(CASE WHEN qi = 0 THEN key END) AS k0,
      |    MAX(CASE WHEN qi = 1 THEN key END) AS k1,
      |    MAX(CASE WHEN qi = 2 THEN key END) AS k2,
      |    MAX(CASE WHEN qi = 3 THEN key END) AS k3
      |  FROM pq GROUP BY 1),
      |pexp AS (SELECT id, k0, k1, k2, k3,
      |    unnest([0, 1, 2, 3]) AS qi,
      |    unnest([k0, k1, k2, k3]) AS key FROM pquad)""".stripMargin

  /** Audio-print fixture + fingerprint CTEs shared by the two
    * mm_dedup_audio oracles: md5-derived 128-sample PCM per variant
    * group (modulus `mod`), 33 time windows by i·W DIV n,
    * cross-multiplied loudness bits, 8-bit quarter packing, ending at
    * `aexp(id, k0..k3, qi, key)`. */
  private def duckAudioCtes(mod: Int): String =
    s"""ag AS (SELECT doc_id AS id, doc_id % $mod AS g,
      |    doc_id // $mod AS v FROM documents),
      |asamp AS (SELECT id, i,
      |    (CAST(concat('0x', substring(md5(
      |        'a:' || CAST(g AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
      |        1, 2)) AS INT) - 128
      |     + CASE WHEN v > 0 AND i = (v * 7) % 128 THEN 500 ELSE 0 END)
      |      AS samp
      |  FROM ag, (SELECT unnest(range(0, 128)) AS i)),
      |awin AS (SELECT id, CAST((i * 33) // 128 AS INT) AS w2, samp
      |  FROM asamp),
      |aen AS (SELECT id, w2, CAST(SUM(ABS(samp)) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM awin GROUP BY 1, 2),
      |abit AS (SELECT a.id, a.w2 AS b,
      |    CASE WHEN n.s * a.c > a.s * n.c THEN 1 ELSE 0 END AS bit
      |  FROM aen a JOIN aen n ON a.id = n.id AND n.w2 = a.w2 + 1
      |  WHERE a.w2 < 32),
      |aq AS (SELECT id, b // 8 AS qi,
      |    CAST(SUM(bit * (1 << (7 - (b % 8)))) AS BIGINT) AS key
      |  FROM abit GROUP BY 1, 2),
      |aquad AS (SELECT id,
      |    MAX(CASE WHEN qi = 0 THEN key END) AS k0,
      |    MAX(CASE WHEN qi = 1 THEN key END) AS k1,
      |    MAX(CASE WHEN qi = 2 THEN key END) AS k2,
      |    MAX(CASE WHEN qi = 3 THEN key END) AS k3
      |  FROM aq GROUP BY 1),
      |aexp AS (SELECT id, k0, k1, k2, k3,
      |    unnest([0, 1, 2, 3]) AS qi,
      |    unnest([k0, k1, k2, k3]) AS key FROM aquad)""".stripMargin

  /** The fixed-point floor(1024*log2(x)) of Unigram.mb1024 as a DuckDB
    * expression over `x` (textual; x must be a BIGINT >= 1): exponent
    * from the binary digit count, ten square-and-shift rounds for the
    * fraction — the exact integer rounds the Scala twin runs. */
  private def duckMb1024(x: String): String =
    s"""((length(bin($x)) - 1) * 1024 + list_reduce(
       |  list_prepend([CASE WHEN length(bin($x)) - 1 > 30
       |      THEN $x >> (length(bin($x)) - 1 - 30)
       |      ELSE $x << (30 - (length(bin($x)) - 1)) END,
       |    CAST(0 AS BIGINT)],
       |    list_transform(range(1, 11), i -> [CAST(i AS BIGINT),
       |      CAST(0 AS BIGINT)])),
       |  (acc, e) -> CASE WHEN (acc[1] * acc[1]) >> 30 >= 2147483648
       |    THEN [((acc[1] * acc[1]) >> 30) >> 1, acc[2] * 2 + 1]
       |    ELSE [(acc[1] * acc[1]) >> 30, acc[2] * 2] END)[2])""".stripMargin

  /** One Viterbi DP arm (piece length `l`) for the unigram oracle:
    * the element x carries the position in its c field; the candidate
    * extends the best state l characters back by the piece ending at
    * the position, when that piece is in the cost map `cm`. */
  private def duckViterbiArm(l: Int): String = {
    val p = "CAST(x[1].c AS INT)"
    val piece = s"w[$p - ${l - 1}:$p]"
    val prev = s"acc[$p - $l + 1]"
    s"""CASE WHEN x[1].c >= $l AND cm[$piece][1] IS NOT NULL
       |        AND $prev IS NOT NULL
       |      THEN {'c': $prev.c + cm[$piece][1],
       |            't': $prev.t || [$piece]} END""".stripMargin
  }

  /** The full Viterbi fold over a word column `w` against the
    * cross-joined cost map `cm`: a DP state list of (cost, tokens)
    * structs, candidates filtered non-null and argmin'd by struct
    * order — exactly Unigram.viterbiTokens' least() tie-break. */
  private def duckViterbiFold: String = duckViterbiFoldImpl(unk = false)

  /** [[duckViterbiFold]] plus the explicit-UNK fallback arm —
    * Unigram.viterbiTokens' one-character `<unk>` candidate at
    * UnkCostMb, which only wins where every vocabulary arm is null
    * (OOV character). */
  private def duckViterbiFoldUnk: String = duckViterbiFoldImpl(unk = true)

  private def duckViterbiFoldImpl(unk: Boolean): String = {
    val unkArm = if (!unk) "" else {
      val p = "CAST(x[1].c AS INT)"
      s""",
         |    CASE WHEN acc[$p] IS NOT NULL
         |      THEN {'c': acc[$p].c + ${graft.ops.Unigram.UnkCostMb},
         |            't': acc[$p].t || ['${graft.ops.Unigram.UnkToken}']} END"""
        .stripMargin
    }
    s"""list_reduce(
       |  list_prepend([{'c': CAST(0 AS BIGINT), 't': CAST([] AS VARCHAR[])}],
       |    list_transform(range(1, len(w) + 1),
       |      i -> [{'c': CAST(i AS BIGINT), 't': CAST([] AS VARCHAR[])}])),
       |  (acc, x) -> acc || [list_sort(list_filter([
       |    ${(1 to graft.ops.Unigram.MaxPieceChars)
              .map(duckViterbiArm).mkString(",\n|    ")}$unkArm
       |  ], z -> z IS NOT NULL))[1]])""".stripMargin
  }

  /** DuckDB replay of Unigram.fit over the documents vocabulary:
    * substring seeding (all chars + top-256 longer pieces), seed costs
    * via [[duckMb1024]], one hard-EM round (Viterbi re-count), pruning
    * (chars + top-128 by EM count), final Laplace costs. Ends with
    * `ukept`/`utot1` holding the kept pieces and totals. */
  private def duckUnigramCtes: String =
    s"""utoks AS (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
       |  FROM documents),
       |uwc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM utoks GROUP BY 1),
       |usub AS (SELECT piece, SUM(n) AS cnt FROM (
       |    SELECT n, unnest(flatten(list_transform(range(1, len(w) + 1),
       |      p -> list_transform(range(1,
       |          least(${graft.ops.Unigram.MaxPieceChars}, len(w) - p + 1) + 1),
       |        l -> w[p:p + l - 1])))) AS piece
       |    FROM uwc) GROUP BY 1),
       |uchars AS (SELECT piece, cnt FROM usub WHERE len(piece) = 1),
       |umulti AS (SELECT piece, cnt FROM usub WHERE len(piece) > 1
       |  ORDER BY cnt DESC, piece LIMIT ${graft.ops.Unigram.SeedMultiPieces}),
       |useed AS (SELECT * FROM uchars UNION ALL SELECT * FROM umulti),
       |utot0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS v FROM useed),
       |ucost0 AS (SELECT piece,
       |    ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")} AS cost
       |  FROM useed, utot0),
       |ucm0 AS (SELECT MAP(list(piece ORDER BY piece),
       |    list(cost ORDER BY piece)) AS cm FROM ucost0),
       |uvit AS (SELECT w, n, $duckViterbiFold AS st FROM uwc, ucm0),
       |uem AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM (
       |    SELECT n, unnest(st[len(st)].t) AS piece FROM uvit) GROUP BY 1),
       |ukeptc AS (SELECT c.piece, COALESCE(e.cnt, 0) AS cnt
       |  FROM uchars c LEFT JOIN uem e USING (piece)),
       |ukeptm AS (SELECT piece, cnt FROM uem WHERE len(piece) > 1
       |  ORDER BY cnt DESC, piece LIMIT ${graft.ops.Unigram.VocabMultiPieces}),
       |ukept AS (SELECT * FROM ukeptc UNION ALL SELECT * FROM ukeptm),
       |utot1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS v FROM ukept)""".stripMargin

  /** DuckDB replay of Unigram.fitIterated: the same substring seeding,
    * then `rounds` chained (cost -> Viterbi E-step -> prune) rounds
    * with the 3/4 cap schedule mirrored as compile-time LIMITs. Ends
    * with `uitkept`/`uittot` (kept pieces + totals of the last round). */
  private def duckUnigramIterCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""utoks AS (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS w
         |  FROM documents),
         |uwc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM utoks GROUP BY 1),
         |usub AS (SELECT piece, SUM(n) AS cnt FROM (
         |    SELECT n, unnest(flatten(list_transform(range(1, len(w) + 1),
         |      p -> list_transform(range(1,
         |          least(${graft.ops.Unigram.MaxPieceChars}, len(w) - p + 1) + 1),
         |        l -> w[p:p + l - 1])))) AS piece
         |    FROM uwc) GROUP BY 1),
         |uit0c AS (SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM usub
         |  WHERE len(piece) = 1),
         |uit0m AS (SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM usub
         |  WHERE len(piece) > 1
         |  ORDER BY cnt DESC, piece LIMIT ${graft.ops.Unigram.SeedMultiPieces})"""
        .stripMargin)
    var kCap = graft.ops.Unigram.SeedMultiPieces
    for (r <- 1 to rounds) {
      kCap = if (r == rounds) graft.ops.Unigram.VocabMultiPieces
             else math.max(graft.ops.Unigram.VocabMultiPieces, kCap * 3 / 4)
      sb.append(
        s""",
           |uit${r}cur AS (SELECT * FROM uit${r - 1}c
           |  UNION ALL SELECT * FROM uit${r - 1}m),
           |uit${r}tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
           |    CAST(COUNT(*) AS BIGINT) AS v FROM uit${r}cur),
           |uit${r}cost AS (SELECT piece,
           |    ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")}
           |      AS cost
           |  FROM uit${r}cur, uit${r}tot),
           |uit${r}cm AS (SELECT MAP(list(piece ORDER BY piece),
           |    list(cost ORDER BY piece)) AS cm FROM uit${r}cost),
           |uit${r}vit AS (SELECT w, n, $duckViterbiFold AS st
           |  FROM uwc, uit${r}cm),
           |uit${r}em AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM (
           |    SELECT n, unnest(st[len(st)].t) AS piece FROM uit${r}vit)
           |  GROUP BY 1),
           |uit${r}c AS (SELECT c.piece, COALESCE(e.cnt, 0) AS cnt
           |  FROM uit${r - 1}c c LEFT JOIN uit${r}em e USING (piece)),
           |uit${r}m AS (SELECT piece, cnt FROM uit${r}em
           |  WHERE len(piece) > 1
           |  ORDER BY cnt DESC, piece LIMIT $kCap)""".stripMargin)
    }
    sb.append(
      s""",
         |uitkept AS (SELECT * FROM uit${rounds}c
         |  UNION ALL SELECT * FROM uit${rounds}m),
         |uittot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         |    CAST(COUNT(*) AS BIGINT) AS v FROM uitkept)""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of KMeans.pqFit(m=4, k=16, iters=1) over embeddings:
    * four sliced views v0..v3 (16 dims each), a `p{s}_`-prefixed
    * farthest-first seed chain + one Lloyd round per subspace, final
    * code assignment code0..code3 against the updated centroids. */
  private def duckPqSubCtes(vRel: String): String =
    (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = (s + 1) * 16
      s"""v$s AS MATERIALIZED (SELECT id, v[$lo:$hi] AS v FROM $vRel),
        |${duckKmeansSeeds(16, s"p${s}_", s"v$s")},
        |p${s}_a1 AS (${duckKmeansAssign(s"v$s", s"p${s}_seed", 1)}),
        |p${s}_u1 AS (${duckKmeansUpdate(s"p${s}_a1")}),
        |p${s}_u1c AS MATERIALIZED (SELECT cluster, list(comp ORDER BY pos) AS c
        |  FROM p${s}_u1 GROUP BY cluster),
        |code$s AS MATERIALIZED (${duckKmeansAssign(s"v$s", s"p${s}_u1c", 1)})"""
        .stripMargin
    }.mkString(",\n")

  private lazy val duckPqCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |${duckPqSubCtes("v")}""".stripMargin

  /** DuckDB replay of the IVF-PQ ADC pipeline, shared by ann_ivf_pq and
    * pq_recall: coarse fit (kmeansCtes) + corpus residuals + residual
    * codebooks + 2-probe query residuals + per-probe distance tables,
    * ending at `adc` (qid, nid, adc) with the ordered list fold. */
  private lazy val duckIvfPqAdcCtes: String =
    s"""$kmeansCtes,
      |ca AS MATERIALIZED (${duckKmeansAssign("v", "u2c", 1)}),
      |res AS MATERIALIZED (SELECT ca.id, ca.cluster AS cell,
      |    list_transform(range(1, len(ca.v) + 1),
      |      i -> ca.v[i] - u2c.c[i]) AS v
      |  FROM ca JOIN u2c ON u2c.cluster = ca.cluster),
      |${duckPqSubCtes("res")},
      |qv AS (SELECT id, v FROM v WHERE id < 50),
      |qa AS (${duckKmeansAssign("qv", "u2c", 2)}),
      |qres AS MATERIALIZED (SELECT qa.id, qa.cluster AS cell,
      |    list_transform(range(1, len(qa.v) + 1),
      |      i -> qa.v[i] - u2c.c[i]) AS v
      |  FROM qa JOIN u2c ON u2c.cluster = qa.cluster),
      |cc AS MATERIALIZED (SELECT id, cell FROM res),
      |${(0 until 4).map { s =>
          s"""dist$s AS (SELECT q.id AS qid, q.cell, c.cluster AS code,
      |    list_sum(list_transform(range(1, 17),
      |      i -> (q.v[i + ${s * 16}] - c.c[i]) * (q.v[i + ${s * 16}] - c.c[i])))
      |    AS d
      |  FROM qres q, p${s}_u1c c),
      |part$s AS (SELECT d.qid, co.id AS nid, $s AS s, d.d
      |  FROM code$s co JOIN cc ON cc.id = co.id
      |  JOIN dist$s d ON d.cell = cc.cell AND d.code = co.cluster)"""
        }.mkString(",\n")},
      |adc AS (SELECT qid, nid, list_sum(list(d ORDER BY s)) AS adc
      |  FROM (SELECT * FROM part0 UNION ALL SELECT * FROM part1
      |        UNION ALL SELECT * FROM part2 UNION ALL SELECT * FROM part3)
      |  WHERE nid <> qid GROUP BY 1, 2)""".stripMargin

  /** DuckDB nearest-centroid assignment mirroring KMeans.nearestExpr:
    * shifted squared distance |c|^2 - 2 v.c (same ascending-dim folds),
    * ties by cluster id; `maxRk` = 1 for assignment, >1 for query-side
    * multi-probe. `vRel` must expose (id, v); `cenRel` (cluster, c). */
  private def duckKmeansAssign(vRel: String, cenRel: String,
                               maxRk: Int): String =
    s"SELECT id, v, cluster FROM (" +
      s" SELECT id, v, cluster," +
      s" row_number() OVER (PARTITION BY id ORDER BY s, cluster) AS rk" +
      s" FROM (SELECT id, v, cluster," +
      s" list_sum(list_transform(c, x -> x * x)) - 2.0 *" +
      s" list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * c[i]))" +
      s" AS s FROM $vRel, $cenRel)) WHERE rk <= $maxRk"

  /** DuckDB Lloyd update mirroring KMeans.update: per-(cluster, dim)
    * floor-scaled exact integer sums (floor is tie-free; a raw
    * double→decimal cast would round HALF_UP in Spark but half-even in
    * DuckDB on 2^-13-multiple ties), mean quantized to 6 dp. `aRel` must
    * expose (cluster, v). */
  private def duckKmeansUpdate(aRel: String): String =
    s"SELECT cluster, pos, round(CAST(s AS DOUBLE) / n / 1e9, 6) AS comp," +
      s" n FROM (" +
      s" SELECT cluster, pos, SUM(CAST(floor(x * 1e9) AS DECIMAL(38,0)))" +
      s" AS s, COUNT(*) AS n" +
      s" FROM (SELECT cluster, unnest(v) AS x," +
      s" generate_subscripts(v, 1) - 1 AS pos FROM $aRel)" +
      s" GROUP BY cluster, pos)"

  /** DuckDB farthest-first seed chain mirroring KMeans.seedCentroids:
    * s0 = lowest md5-priority vector; s{j} maximizes least(d2 to chosen
    * seeds), ties by id; every distance is the same
    * `vn2 + (cn2 - 2 v.c)` fold the Spark side computes. Ends at
    * `${pfx}seed` (cluster, c); `pfx` namespaces the chain so several
    * independent fits (the PQ subspace codebooks) coexist in one WITH. */
  private def duckKmeansSeeds(k: Int, pfx: String = "",
                              vRel: String = "v"): String = {
    def d2(j: Int) =
      s"(list_sum(list_transform(v, x -> x * x)) + " +
        s"(list_sum(list_transform(c$j, x -> x * x)) - 2.0 * " +
        s"list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * c$j[i]))))"
    // MATERIALIZED is load-bearing: s{j} references s0..s{j-1}, and an
    // inlining planner re-evaluates the chain exponentially (2^k scans —
    // at k=16 that exhausted file handles before it exhausted patience)
    val chain = new StringBuilder(
      s"${pfx}s0 AS MATERIALIZED (SELECT list_transform(v, x -> round(x, 6)) AS c0 " +
        s"FROM $vRel ORDER BY ${duckHashPriority("id")}, id LIMIT 1)")
    for (j <- 1 until k) {
      val prev = (0 until j).map(i => s"${pfx}s$i").mkString(", ")
      val minD =
        if (j == 1) d2(0)
        else s"least(${(0 until j).map(d2).mkString(", ")})"
      chain ++= s",\n${pfx}s$j AS MATERIALIZED (SELECT list_transform(v, x -> round(x, 6)) " +
        s"AS c$j FROM $vRel, $prev ORDER BY $minD DESC, id LIMIT 1)"
    }
    chain ++= s",\n${pfx}seed AS (" + (0 until k).map(j =>
      s"SELECT $j AS cluster, c$j AS c FROM ${pfx}s$j").mkString(" UNION ALL ") + ")"
    chain.toString
  }

  /** Shared CTE chain replaying KMeans.fit(k=8, iters=2) over embeddings
    * in DuckDB — farthest-first seeding, two assign/update rounds —
    * ending at `u2` (cluster, pos, comp, n) and `u2c` (cluster, c list).
    * One owner for the kmeans_centroids and ann_ivf_kmeans oracles. */
  private val kmeansCtes: String =
    s"""v AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |${duckKmeansSeeds(8)},
      |a1 AS (${duckKmeansAssign("v", "seed", 1)}),
      |u1 AS (${duckKmeansUpdate("a1")}),
      |u1c AS (SELECT cluster, list(comp ORDER BY pos) AS c FROM u1
      |  GROUP BY cluster),
      |a2 AS (${duckKmeansAssign("v", "u1c", 1)}),
      |u2 AS (${duckKmeansUpdate("a2")}),
      |u2c AS (SELECT cluster, list(comp ORDER BY pos) AS c FROM u2
      |  GROUP BY cluster)""".stripMargin

  /** kmeansCtes' even-id-history sibling: replays
    * KMeans.fit(k=8, iters=2) over the vec_id % 2 = 0 half only,
    * ending at `eu2c` (cluster, c list) — the persisted quantizer the
    * dedup_semantic_incremental oracle assigns against. */
  private val kmeansCtesEven: String =
    s"""ve AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id % 2 = 0),
      |${duckKmeansSeeds(8, "e", "ve")},
      |ea1 AS (${duckKmeansAssign("ve", "eseed", 1)}),
      |eu1 AS (${duckKmeansUpdate("ea1")}),
      |eu1c AS (SELECT cluster, list(comp ORDER BY pos) AS c FROM eu1
      |  GROUP BY cluster),
      |ea2 AS (${duckKmeansAssign("ve", "eu1c", 1)}),
      |eu2 AS (${duckKmeansUpdate("ea2")}),
      |eu2c AS (SELECT cluster, list(comp ORDER BY pos) AS c FROM eu2
      |  GROUP BY cluster)""".stripMargin

  /** DuckDB cosine between two list columns, same fold order as
    * Similarity.dot/l2Norm (ascending index, double accumulation). */
  private def duckCosine(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"

  /** Shared setup of api_store_sql and panel_export_csv (both pin
    * panelWindowOracle): ingest the two real-workbook fixtures — one
    * ECMA-376 .xlsx and one legacy BIFF8 .xls, byte twins of the CSV
    * fixtures — into a fresh store via the parallel runner. */
  private def ingestTwoWorkbooks(s: SparkSession): graft.store.TableStore = {
    import graft.config.Registry
    import graft.pipeline.Runner
    import graft.sources.GridSource
    val fx = fixturesDir
    val dir = java.nio.file.Files.createTempDirectory("graft-2wb").toString
    val store = new graft.store.TableStore(s, dir)
    val runner = new Runner(s, store,
      () => java.sql.Timestamp.valueOf("2025-06-01 00:00:00"))
    val datasets = Seq("auto_sales" -> "edb_auto_sales.xlsx",
        "gas_price" -> "edb_gas_price.xls")
      .map { case (name, file) =>
        val cfg = Registry.edbConfigs.find(_.name == name).get
        val grid = GridSource.readGrid(s, s"$fx/$file", cfg.dataLocation)
        val (canon, snake) = GridSource.canonicalize(
          GridSource.processMonthly(grid, cfg), cfg)
        (cfg.tableName, canon, Seq(snake))
      }
    runner.runAllParallel(datasets)
    store
  }

  /** latest_obs_read's fixture store, built ONCE per JVM session (r11
    * VERDICT item #2): latest_obs keeps the full-lifecycle timing (its
    * bench row measures the two-workbook ingest it performs), which hid
    * the read path's actual cost (~ms: one TakeOrderedAndProject + one
    * max_by hash agg). Memoizing is honest here because the ingest is
    * fixture scaffolding, not the operator under measurement — and the
    * ingest cost stays visible in latest_obs/api_store_sql/panel_all. */
  private val twoWbStores =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, graft.store.TableStore]()
  private def ingestTwoWorkbooksCached(s: SparkSession): graft.store.TableStore = {
    // evict stopped sessions so a long-lived JVM cycling SparkSessions
    // doesn't pin each session's object graph + temp-dir store forever —
    // including the store's on-disk temp dir, not just the map entry
    twoWbStores.entrySet.removeIf { e =>
      val dead = e.getKey.sparkContext.isStopped && (e.getKey ne s)
      if (dead) {
        // the store's root IS the graft-2wb-* temp dir (path("") = root+"/")
        val rootDir = new java.io.File(e.getValue.path("")).toPath
        try {
          java.nio.file.Files.walk(rootDir)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      dead
    }
    twoWbStores.computeIfAbsent(s, ingestTwoWorkbooks(_))
  }

  /** The 26-dataset synthetic registry fixtures (15 real-.xls EDB
    * workbooks, 10 FRED JSONs, 1 NYU sheet) — content is closed-form
    * deterministic, so one generation per JVM serves every panel run;
    * each run still ingests into its own fresh store. */
  private lazy val panelFixtures: (String, Map[String, String]) = {
    val fx = java.nio.file.Files.createTempDirectory("graft-panel-fx").toString
    (fx, graft.tools.RegistryFixtures.writeAll(fx))
  }

  /** Pinned fixture panel window (autosales x gasprice, 2020+): the
    * oracle for BOTH api_store_sql (SQL view join) and panel_export_csv
    * (the CSV round-trip of panelFull over the same two workbooks). */
  private val panelWindowOracle: String =
    """SELECT CAST(date AS VARCHAR) AS date, CAST(sales AS DOUBLE) AS sales,
        |  CAST(price AS DOUBLE) AS price
        |FROM (VALUES
        |  ('2020-01-01', 7979.0, 0.61),
        |  ('2020-02-01', 8642.0, 0.6),
        |  ('2020-03-01', 7860.0, 0.58),
        |  ('2020-04-01', 2461.0, 0.55),
        |  ('2020-05-01', 6297.0, 0.53),
        |  ('2020-06-01', 8802.0, 0.56),
        |  ('2020-07-01', 7970.0, 0.59),
        |  ('2020-08-01', 8610.0, 0.6),
        |  ('2020-09-01', 9962.0, 0.6),
        |  ('2020-10-01', 10490.0, 0.62),
        |  ('2020-11-01', 9075.0, 0.63),
        |  ('2020-12-01', 10628.0, 0.66),
        |  ('2021-01-01', 9231.0, 0.7),
        |  ('2021-02-01', 9523.0, 0.74),
        |  ('2021-03-01', 12336.0, 0.79),
        |  ('2021-04-01', 12009.0, 0.83),
        |  ('2021-05-01', 11919.0, 0.87),
        |  ('2021-06-01', 12159.0, 0.9),
        |  ('2021-07-01', 10023.0, 0.75),
        |  ('2021-08-01', 10119.0, 0.81),
        |  ('2021-09-01', 9661.0, 0.78),
        |  ('2021-10-01', 10028.0, 0.83),
        |  ('2021-11-01', 10353.0, 0.86),
        |  ('2021-12-01', 12361.0, 0.84),
        |  ('2022-01-01', 9121.0, 0.88),
        |  ('2022-02-01', 9241.0, 0.95),
        |  ('2022-03-01', 10864.0, 1.12),
        |  ('2022-04-01', 10107.0, 1.05),
        |  ('2022-05-01', 10436.0, 0.99),
        |  ('2022-06-01', 10957.0, 0.94),
        |  ('2022-07-01', 9328.0, 0.92),
        |  ('2022-08-01', 9877.0, 0.95),
        |  ('2022-09-01', 9479.0, 0.96),
        |  ('2022-10-01', 10112.0, 0.93),
        |  ('2022-11-01', 10537.0, 0.9),
        |  ('2022-12-01', 12239.0, 0.88),
        |  ('2023-01-01', 9021.0, 0.86),
        |  ('2023-02-01', 9345.0, 0.84),
        |  ('2023-03-01', 11026.0, 0.82),
        |  ('2023-04-01', 10337.0, 0.8),
        |  ('2023-05-01', 10702.0, 0.81),
        |  ('2023-06-01', 11100.0, 0.83),
        |  ('2023-07-01', 9517.0, 0.85),
        |  ('2023-08-01', 10095.0, 0.83),
        |  ('2023-09-01', 9913.0, 0.82),
        |  ('2023-10-01', 10563.0, 0.81),
        |  ('2023-11-01', 10689.0, 0.8),
        |  ('2023-12-01', 12477.0, 0.79),
        |  ('2024-01-01', 9141.0, 0.78),
        |  ('2024-02-01', 9770.0, 0.77),
        |  ('2024-03-01', 11444.0, 0.76),
        |  ('2024-04-01', 10576.0, 0.75),
        |  ('2024-05-01', 10918.0, 0.74),
        |  ('2024-06-01', 11464.0, 0.75),
        |  ('2024-07-01', 9922.0, 0.81),
        |  ('2024-08-01', 10549.0, 0.8),
        |  ('2024-09-01', 10261.0, 0.79),
        |  ('2024-10-01', 11003.0, 0.78),
        |  ('2024-11-01', 11121.0, 0.77),
        |  ('2024-12-01', 13007.0, 0.76),
        |  ('2025-01-01', 9532.0, 0.75),
        |  ('2025-02-01', 10168.0, 0.74),
        |  ('2025-03-01', 11903.0, 0.73),
        |  ('2025-04-01', 11019.0, NULL),
        |  ('2025-05-01', 11364.0, NULL),
        |  ('2025-06-01', 11923.0, 0.72))
        |  AS t(date, sales, price)
        |ORDER BY date""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_quantity >= 45 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_topk_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q21_salted" ->
      """SELECT o_orderpriority, SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q26_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_melt" ->
      """SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
        |ORDER BY p_partkey, variable""".stripMargin,

    "q06_fiscal_monthly" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_fiscal_quarterly" ->
      """SELECT CAST(date_trunc('quarter', o_orderdate) + INTERVAL 3 MONTH AS DATE) AS quarter_date,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q08_quarter_shift" ->
      """SELECT CAST(date_trunc('quarter', o_orderdate) + INTERVAL 3 MONTH AS DATE) AS next_q,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_coerce" ->
      """WITH s AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN '.'
        |              WHEN l_linenumber = 2 THEN 'x' || CAST(l_quantity AS VARCHAR)
        |              ELSE CAST(l_quantity AS VARCHAR) END AS str
        |  FROM lineitem),
        |v AS (SELECT TRY_CAST(NULLIF(NULLIF(TRIM(str), '.'), '') AS DOUBLE) AS value FROM s)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CAST(round_even(value * 1.5, 0) AS BIGINT)) AS BIGINT) AS sum_rounded
        |FROM v""".stripMargin,

    "q10_percent" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_linenumber % 3 = 0 THEN CAST(round(l_discount*100, 2) AS VARCHAR) || '%'
        |         WHEN l_linenumber % 3 = 1 THEN CAST(l_quantity AS VARCHAR)
        |         ELSE CAST(l_discount AS VARCHAR) END AS cell
        |  FROM lineitem),
        |n AS (
        |  SELECT l_returnflag,
        |    CASE WHEN contains(cell, '%') THEN TRY_CAST(replace(cell, '%', '') AS DOUBLE) / 100
        |         WHEN TRY_CAST(cell AS DOUBLE) > 0.2 THEN TRY_CAST(cell AS DOUBLE) / 100
        |         ELSE TRY_CAST(cell AS DOUBLE) END AS pct
        |  FROM c)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(pct AS DECIMAL(18,9))) AS DOUBLE) AS sum_pct
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_diff_classify" ->
      """WITH inc AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |             FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1),
        |ex AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |       FROM lineitem WHERE l_linenumber >= 2 GROUP BY 1),
        |j AS (SELECT i.l_orderkey AS ik, e.l_orderkey AS ek,
        |             i.qty AS iq, e.qty AS eq, i.nline AS inl, e.nline AS enl
        |      FROM inc i FULL OUTER JOIN ex e ON i.l_orderkey = e.l_orderkey)
        |SELECT status, COUNT(*) AS cnt FROM (
        |  SELECT CASE WHEN ek IS NULL THEN 'new'
        |              WHEN ik IS NULL THEN 'existing_only'
        |              WHEN abs(iq - eq) > 0.001 OR abs(inl - enl) > 0.001 THEN 'updated'
        |              ELSE 'unchanged' END AS status
        |  FROM j)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_revisions" ->
      """WITH inc AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |             FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1),
        |ex AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |       FROM lineitem WHERE l_linenumber >= 2 GROUP BY 1),
        |j AS (SELECT i.l_orderkey AS data_date, i.qty AS iq, e.qty AS eq,
        |             i.nline AS inl, e.nline AS enl
        |      FROM inc i JOIN ex e ON i.l_orderkey = e.l_orderkey)
        |SELECT data_date, value_field, old_value, new_value FROM (
        |  SELECT data_date, 'qty' AS value_field, eq AS old_value, iq AS new_value,
        |         abs(iq - eq) > 0.001 AS changed FROM j
        |  UNION ALL
        |  SELECT data_date, 'nline', enl, inl, abs(inl - enl) > 0.001 FROM j)
        |WHERE changed ORDER BY data_date, value_field""".stripMargin,

    "q13_revision_history" ->
      """WITH inc AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |             FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1),
        |ex AS (SELECT l_orderkey, SUM(l_quantity) AS qty, CAST(COUNT(*) AS DOUBLE) AS nline
        |       FROM lineitem WHERE l_linenumber >= 2 GROUP BY 1),
        |j AS (SELECT i.l_orderkey AS data_date, i.qty AS iq, e.qty AS eq
        |      FROM inc i JOIN ex e ON i.l_orderkey = e.l_orderkey)
        |SELECT 'lineitem' AS dataset, data_date, 'qty' AS value_field,
        |       eq AS old_value, iq AS new_value,
        |       TIMESTAMP '2025-06-01 00:00:00' AS revision_date
        |FROM j WHERE abs(iq - eq) > 0.001
        |ORDER BY data_date DESC, value_field LIMIT 100""".stripMargin,

    "q14_panel" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |l AS (SELECT CAST(l_shipdate AS DATE) AS date, COUNT(*) AS n_ship
        |      FROM lineitem GROUP BY 1),
        |e AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT date, n_orders, n_ship, n_events
        |FROM o FULL JOIN l USING (date) FULL JOIN e USING (date)
        |ORDER BY date""".stripMargin,

    "q15_resample_month" ->
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_resample_quarter" ->
      """SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_window_lag" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS cnt
        |           FROM orders GROUP BY 1)
        |SELECT date, cnt,
        |  lag(cnt, 1) OVER (ORDER BY date) AS prev_value,
        |  cnt - lag(cnt, 1) OVER (ORDER BY date) AS change
        |FROM d ORDER BY date""".stripMargin,

    "q18_rolling_mean" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS cnt
        |           FROM orders GROUP BY 1)
        |SELECT date, cnt,
        |  AVG(cnt) OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS rolling_mean_7
        |FROM d ORDER BY date""".stripMargin,

    "q22_yoy" ->
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |                  COUNT(*) AS cnt
        |           FROM orders GROUP BY 1)
        |SELECT month, cnt,
        |  lag(cnt, 12) OVER (ORDER BY month) AS yoy_prev,
        |  cnt - lag(cnt, 12) OVER (ORDER BY month) AS yoy_change
        |FROM m ORDER BY month""".stripMargin,

    "forecast_trend" ->
      """WITH m AS (
        |  SELECT o_orderpriority,
        |         year(o_orderdate)*12 + month(o_orderdate) - 1 - 23904 AS month_idx,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/1e6 AS rev_m
        |  FROM orders GROUP BY 1, 2),
        |f AS (
        |  SELECT o_orderpriority,
        |         regr_slope(rev_m, month_idx) AS slope,
        |         regr_intercept(rev_m, month_idx) AS icept,
        |         regr_r2(rev_m, month_idx) AS r2,
        |         MAX(month_idx) AS x_max
        |  FROM m GROUP BY 1)
        |SELECT o_orderpriority, CAST(h AS INTEGER) AS h,
        |       CAST(x_max + h AS BIGINT) AS month_f,
        |       round(slope, 6) AS slope, round(icept, 6) AS intercept,
        |       round(r2, 6) AS r2,
        |       round(icept + slope*(x_max + h), 6) AS forecast
        |FROM f CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS h) g
        |ORDER BY 1, 2""".stripMargin,

    "forecast_seasonal" ->
      """WITH m AS (
        |  SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 - 23904 AS x,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/1e6 AS y
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT x % 12 AS season, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x*y) AS sxy, SUM(x*x) AS sxx
        |  FROM m GROUP BY 1),
        |g AS (
        |  SELECT SUM(sxy - sx*sy/n) / SUM(sxx - sx*sx/n) AS slope FROM s),
        |xm AS (SELECT MAX(x) AS x_max FROM m)
        |SELECT CAST(h AS INTEGER) AS h, CAST(x_max + h AS BIGINT) AS month_f,
        |       CAST((x_max + h) % 12 AS BIGINT) AS season,
        |       round(slope, 6) AS slope,
        |       round(sy/n - slope*sx/n, 6) AS gamma,
        |       round(sy/n - slope*sx/n + slope*(x_max + h), 6) AS forecast
        |FROM xm CROSS JOIN g
        |CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS h) t
        |JOIN s ON s.season = (x_max + h) % 12
        |ORDER BY h""".stripMargin,

    "range_join" ->
      """WITH i AS (SELECT event_id AS signup_id, CAST(ts AS DATE) AS start_d,
        |                  CAST(ts AS DATE) + 3 AS end_d
        |           FROM events WHERE event_type = 'signup' AND event_id % 100 = 0),
        |p AS (SELECT CAST(ts AS DATE) AS p_date FROM events
        |      WHERE event_type = 'purchase')
        |SELECT signup_id, start_d, COUNT(*) AS n_purchases
        |FROM p JOIN i ON p_date BETWEEN start_d AND end_d
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "asof_join" ->
      """WITH l AS (SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |r AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT l.date, l.n_orders, r.date AS as_of_date, r.n_events
        |FROM l ASOF LEFT JOIN r ON l.date >= r.date
        |ORDER BY l.date""".stripMargin,

    "q19_union" ->
      """SELECT name, n FROM (
        |  SELECT event_type AS name, COUNT(*) AS n FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY 1)
        |ORDER BY name, n""".stripMargin,

    "q20_topk_events" ->
      """SELECT event_id, ts, event_type FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 1000""".stripMargin,

    "q23_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "text_topwords" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |  FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "smart_update_counts" ->
      """SELECT CAST(3 AS BIGINT) AS p1_new, CAST(0 AS BIGINT) AS p1_updated,
        |  CAST(0 AS BIGINT) AS p1_revisions, CAST(0 AS BIGINT) AS p2_new,
        |  CAST(2 AS BIGINT) AS p2_updated, CAST(2 AS BIGINT) AS p2_revisions""".stripMargin,

    "pipeline_e2e" ->
      """SELECT dataset, phase, status,
        |  CAST(new_rows AS BIGINT) AS new_rows,
        |  CAST(updated AS BIGINT) AS updated,
        |  CAST(revisions AS BIGINT) AS revisions
        |FROM (VALUES
        |  ('autosales', 1, 'success', 119, 0, 0),
        |  ('gasprice', 1, 'success', 118, 0, 0),
        |  ('individualloans', 1, 'success', 40, 0, 0),
        |  ('federalfundsrate', 1, 'success', 127, 0, 0),
        |  ('realgdp', 1, 'success', 44, 0, 0),
        |  ('equityriskpremium', 1, 'success', 4, 0, 0),
        |  ('autosales', 2, 'success', 0, 1, 1),
        |  ('gasprice', 2, 'success', 0, 0, 0),
        |  ('individualloans', 2, 'success', 0, 0, 0),
        |  ('federalfundsrate', 2, 'success', 0, 0, 0),
        |  ('realgdp', 2, 'success', 0, 0, 0),
        |  ('equityriskpremium', 2, 'success', 0, 0, 0))
        |  AS t(dataset, phase, status, new_rows, updated, revisions)
        |ORDER BY phase, dataset""".stripMargin,

    "api_store_sql" -> panelWindowOracle,

    // the fixtures' last grid cells (June row, last fiscal-year column of
    // edb_auto_sales / edb_gas_price = calendar 2025-06); autosales is
    // read through BOTH the single-series arg-max and the all-series
    // max_by aggregate, which must agree (n_paths = 2)
    "latest_obs" ->
      """SELECT dataset, date, value, CAST(n_paths AS BIGINT) AS n_paths
        |FROM (VALUES
        |  ('autosales', '2025-06-01', 11923.0, 2),
        |  ('gasprice', '2025-06-01', 0.72, 1))
        |  AS t(dataset, date, value, n_paths)
        |ORDER BY dataset""".stripMargin,

    // identical pinned result: the read path must agree with the
    // full-lifecycle variant cell for cell
    "latest_obs_read" ->
      """SELECT dataset, date, value, CAST(n_paths AS BIGINT) AS n_paths
        |FROM (VALUES
        |  ('autosales', '2025-06-01', 11923.0, 2),
        |  ('gasprice', '2025-06-01', 0.72, 1))
        |  AS t(dataset, date, value, n_paths)
        |ORDER BY dataset""".stripMargin,

    // recomputes the 26-dataset panel window from the same closed-form
    // formulas that generated the fixtures (graft.tools.RegistryFixtures)
    "panel_all" -> graft.tools.RegistryFixtures.oracleSql,

    // the CSV round-trip must reproduce the exact panel values the
    // api_store_sql oracle pins (same two fixture workbooks, same window)
    // round-trip identity: the JSONL sink+scan must reproduce the table
    "export_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "panel_export_csv" -> panelWindowOracle,

    // the V2-connector read of the same two grids must land on the same
    // pinned panel window (no merge step — the window is pre-merge data,
    // identical because phase-1 ingest is a pure insert)
    "v2_grid_panel" -> panelWindowOracle,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  MIN(doc_id) AS doc_id, COUNT(*) AS copies
        |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM f
        |  WHERE source IN ('src0','src1','src2','src3','src4')),
        |inc AS (SELECT * FROM f
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |keep AS (
        |  SELECT s.doc_id FROM
        |    (SELECT fp, MIN(doc_id) AS doc_id FROM inc GROUP BY fp) s
        |  LEFT JOIN idx x ON s.fp = x.fp WHERE x.fp IS NULL)
        |SELECT i.doc_id, i.source, i.n_chars
        |FROM inc i JOIN keep k ON i.doc_id = k.doc_id
        |ORDER BY i.doc_id""".stripMargin,

    // signature-estimated Jaccard over index/incoming band collisions;
    // the sig/bk chain is the shared fragment, so the estimator is judged
    // against the exact same signature definition dedup_minhash uses
    "dedup_minhash_incremental" ->
      s"""WITH ${minhashSigCtesFrom("documents")},
        |idxb AS (SELECT bk.id, b, bucket FROM bk
        |  JOIN documents d ON bk.id = d.doc_id
        |  WHERE d.source IN ('src0','src1','src2','src3','src4')),
        |incb AS (SELECT bk.id, b, bucket FROM bk
        |  JOIN documents d ON bk.id = d.doc_id
        |  WHERE d.source NOT IN ('src0','src1','src2','src3','src4')),
        |cand AS (SELECT DISTINCT n.id AS id, h.id AS matched_id
        |  FROM incb n JOIN idxb h ON n.b = h.b AND n.bucket = h.bucket),
        |est AS (SELECT c.id, c.matched_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      k -> CASE WHEN sn.sig[k] = sm.sig[k] THEN 1 ELSE 0 END))
        |      AS DOUBLE) / 64 AS est_jaccard
        |  FROM cand c JOIN sig sn ON sn.id = c.id
        |  JOIN sig sm ON sm.id = c.matched_id)
        |SELECT id, matched_id, est_jaccard FROM est
        |WHERE est_jaccard >= 0.7 ORDER BY id, matched_id""".stripMargin,

    // greatest(..., 2) matches Spark's sequence(0, greatest(size-3, 0)):
    // a 1-2-token doc still yields ONE partial shingle, never zero (a
    // `1` floor empties the range and divides by len([]) = 0)
    "dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\S+')) - 1, 2)),
        |      i -> array_to_string(regexp_extract_all(lower(text), '\S+')[i:i+2], ' '))) AS s
        |  FROM documents)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY idA""".stripMargin,

    "ann_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
        |p AS (SELECT qid, nid,
        |  list_sum(list_transform(range(1, len(qe) + 1),
        |    i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM q, c WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "ann_brute_native" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
        |p AS (SELECT qid, nid,
        |  list_sum(list_transform(range(1, len(qe) + 1),
        |    i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM q, c WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // Full re-derivation of the LSH pipeline: portable hyperplane buckets,
    // bucket equi-join candidates, exact cosine rank within bucket.
    "ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |  ${duckBucket("embedding", 6)} AS bucket FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 50),
        |c AS (SELECT vec_id AS nid, embedding AS ce, bucket FROM b),
        |p AS (SELECT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM q JOIN c USING (bucket) WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "kmeans_centroids" ->
      s"""WITH $kmeansCtes
        |SELECT cluster, CAST(pos AS INT) AS pos, comp, n AS n_members
        |FROM u2 ORDER BY cluster, pos""".stripMargin,

    "kmeans_assign" ->
      s"""WITH $kmeansCtes,
        |a3 AS (${duckKmeansAssign("v", "u2c", 1)})
        |SELECT cluster, COUNT(*) AS n_vecs, CAST(SUM(id) AS BIGINT) AS sum_ids
        |FROM a3 GROUP BY cluster ORDER BY cluster""".stripMargin,

    "ann_ivf_kmeans" ->
      s"""WITH $kmeansCtes,
        |qv AS (SELECT * FROM v WHERE id < 50),
        |ca AS (${duckKmeansAssign("v", "u2c", 1)}),
        |qa AS (${duckKmeansAssign("qv", "u2c", 2)}),
        |p AS (SELECT qa.id AS qid, ca.id AS nid,
        |    ${duckCosine("qa.v", "ca.v")} AS cosine
        |  FROM qa JOIN ca ON qa.cluster = ca.cluster AND ca.id <> qa.id)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // all four subspace fits + the assignment, re-derived
    "pq_encode" ->
      s"""WITH $duckPqCtes
        |SELECT id AS vec_id, s AS subspace, cluster AS code FROM (
        |  ${(0 until 4).map(s =>
             s"SELECT id, $s AS s, cluster FROM code$s")
             .mkString("\n|  UNION ALL ")})
        |ORDER BY vec_id, subspace""".stripMargin,

    // ADC re-derived: per-(query, code) exact subspace distances joined
    // to the corpus codes; the sum is an ORDERED list fold (never a bare
    // SUM, whose reassociation would drift doubles across engines)
    "ann_pq" ->
      s"""WITH $duckPqCtes,
        |qv AS (SELECT id, v FROM v WHERE id < 50),
        |${(0 until 4).map { s =>
            s"""dist$s AS (SELECT q.id AS qid, c.cluster AS code,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (q.v[i + ${s * 16}] - c.c[i]) * (q.v[i + ${s * 16}] - c.c[i])))
        |    AS d
        |  FROM qv q, p${s}_u1c c),
        |part$s AS (SELECT d.qid, c.id AS nid, $s AS s, d.d
        |  FROM code$s c JOIN dist$s d ON d.code = c.cluster)"""
          }.mkString(",\n")},
        |adc AS (SELECT qid, nid, list_sum(list(d ORDER BY s)) AS adc
        |  FROM (SELECT * FROM part0 UNION ALL SELECT * FROM part1
        |        UNION ALL SELECT * FROM part2 UNION ALL SELECT * FROM part3)
        |  WHERE nid <> qid GROUP BY 1, 2)
        |SELECT qid, nid, rank, round(adc, 6) AS adc FROM (
        |  SELECT qid, nid, adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
        |  FROM adc)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // coarse fit + residuals + residual codebooks + per-probe ADC,
    // re-derived end to end; the adc sum is the same ordered list fold
    "ann_ivf_pq" ->
      s"""WITH $duckIvfPqAdcCtes
        |SELECT qid, nid, rank, round(adc, 6) AS adc FROM (
        |  SELECT qid, nid, adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
        |  FROM adc)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // same ADC chain ranked to 10 (quantized-only) and to a 50-shortlist
    // re-ranked by exact L2 (the refine stage), both intersected with
    // exact-L2 top-10 (identical squared-distance fold, ties by nid)
    "pq_recall" ->
      s"""WITH $duckIvfPqAdcCtes,
        |ar AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS r
        |  FROM adc),
        |ap AS (SELECT qid, nid FROM ar WHERE r <= 10),
        |rrd AS (SELECT ar.qid, ar.nid,
        |    list_sum(list_transform(range(1, len(q.v) + 1),
        |      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS d2
        |  FROM ar JOIN qv q ON q.id = ar.qid JOIN v c ON c.id = ar.nid
        |  WHERE ar.r <= 50),
        |rf AS (SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS r
        |    FROM rrd) WHERE r <= 10),
        |exd AS (SELECT q.id AS qid, c.id AS nid,
        |    list_sum(list_transform(range(1, len(q.v) + 1),
        |      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS d2
        |  FROM qv q JOIN v c ON c.id <> q.id),
        |ex AS (SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS r
        |    FROM exd) WHERE r <= 10),
        |h0 AS (SELECT qid, COUNT(*) AS n FROM ap JOIN ex USING (qid, nid)
        |  GROUP BY 1),
        |h1 AS (SELECT qid, COUNT(*) AS n FROM rf JOIN ex USING (qid, nid)
        |  GROUP BY 1)
        |SELECT qv.id AS qid,
        |  CAST(COALESCE(h0.n, 0) AS DOUBLE) / 10.0 AS recall_at_10,
        |  CAST(COALESCE(h1.n, 0) AS DOUBLE) / 10.0 AS recall_refined_at_10,
        |  TRUE AS refined_ge_approx, TRUE AS refined_floor_ok
        |FROM qv LEFT JOIN h0 ON h0.qid = qv.id
        |LEFT JOIN h1 ON h1.qid = qv.id ORDER BY qid""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
        |a3 AS (${duckKmeansAssign("v", "u2c", 1)}),
        |cs AS (SELECT a3.id, a3.v, a3.cluster,
        |    ${duckCosine("a3.v", "u2c.c")} AS cs
        |  FROM a3 JOIN u2c USING (cluster)),
        |drp AS (SELECT DISTINCT a.id FROM cs a JOIN cs b
        |  ON a.cluster = b.cluster AND a.id <> b.id
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3
        |  AND (b.cs < a.cs OR (b.cs = a.cs AND b.id < a.id)))
        |SELECT id AS vec_id, cluster, round(cs, 6) AS cent_sim FROM cs
        |WHERE id NOT IN (SELECT id FROM drp) ORDER BY vec_id""".stripMargin,

    // Incremental sweep against the persisted even-half quantizer: the
    // same assignment/cos/pair machinery, but the fit CTEs see only
    // history rows, drop candidates are batch (odd) rows only, and
    // partners range over history + batch — exactly the index-union
    // the Spark operator joins.
    "dedup_semantic_incremental" ->
      s"""WITH $kmeansCtesEven,
        |vall AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |a3 AS (${duckKmeansAssign("vall", "eu2c", 1)}),
        |cs AS (SELECT a3.id, a3.v, a3.cluster,
        |    ${duckCosine("a3.v", "eu2c.c")} AS cs
        |  FROM a3 JOIN eu2c USING (cluster)),
        |drp AS (SELECT DISTINCT a.id FROM cs a JOIN cs b
        |  ON a.cluster = b.cluster AND a.id <> b.id AND a.id % 2 = 1
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3
        |  AND (b.cs < a.cs OR (b.cs = a.cs AND b.id < a.id)))
        |SELECT id AS vec_id, cluster, round(cs, 6) AS cent_sim FROM cs
        |WHERE id % 2 = 1 AND id NOT IN (SELECT id FROM drp)
        |ORDER BY vec_id""".stripMargin,

    // Multi-probe re-derived: query side also visits the 3 Hamming-1
    // low-bit-flip buckets (xor with 1<<(probe-1)); DISTINCT dedups pairs
    // reached via several probes.
    "ann_lsh_probe" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |  ${duckBucket("embedding", 6)} AS bucket FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe,
        |  CASE WHEN probe = 0 THEN bucket
        |       ELSE xor(bucket, 1 << (probe - 1)) END AS bucket
        |  FROM b, (SELECT unnest(range(0, 4)) AS probe) WHERE vec_id < 50),
        |c AS (SELECT vec_id AS nid, embedding AS ce, bucket FROM b),
        |p AS (SELECT DISTINCT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM q JOIN c USING (bucket) WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // IVF cells = 16-plane bucket mod 32; otherwise identical shape.
    "ann_ivf" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |  (${duckBucket("embedding", 16)}) % 32 AS cell FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, cell FROM b WHERE vec_id < 50),
        |c AS (SELECT vec_id AS nid, embedding AS ce, cell FROM b),
        |p AS (SELECT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM q JOIN c USING (cell) WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // Same (plane, dim) -> component integer arithmetic as the Spark
    // side (and as duckBucket), summed in ascending-index fold order.
    "embed_project" ->
      """SELECT vec_id, CAST(p AS INT) AS dim,
        |  round(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) *
        |      (list_transform([(73856093*p + 19349663*(i-1)) % 1000003],
        |        h -> CAST((h*h + h) % 1000003 AS DOUBLE) / 500000.0 - 1.0)[1]))), 6)
        |    AS value
        |FROM embeddings, (SELECT unnest(range(0, 8)) AS p)
        |ORDER BY vec_id, dim""".stripMargin,

    // Banded LSH pipeline re-derived: 8 tables x 4 planes, union of
    // collisions (DISTINCT), exact cosine rank.
    "ann_lsh_multi" ->
      s"""WITH b AS (SELECT vec_id, embedding, tbl,
        |  ${duckBucket("embedding", 4, "tbl*4")} AS bucket
        |  FROM embeddings, (SELECT unnest(range(0, 8)) AS tbl)),
        |q AS (SELECT vec_id AS qid, embedding AS qe, tbl, bucket FROM b WHERE vec_id < 50),
        |c AS (SELECT vec_id AS nid, embedding AS ce, tbl, bucket FROM b),
        |p AS (SELECT DISTINCT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM q JOIN c USING (tbl, bucket) WHERE nid <> qid)
        |SELECT qid, nid, rank, round(cosine, 6) AS cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // Recall@10 of banded LSH (plain + 2-probe) vs brute force: all three
    // pipelines re-derived here, so the reported accuracy numbers are
    // themselves oracle-checked.
    "ann_lsh_recall" ->
      s"""WITH b AS (SELECT vec_id, embedding, tbl,
        |  ${duckBucket("embedding", 4, "tbl*4")} AS bucket
        |  FROM embeddings, (SELECT unnest(range(0, 8)) AS tbl)),
        |q AS (SELECT vec_id AS qid, embedding AS qe, tbl, bucket FROM b WHERE vec_id < 50),
        |qp AS (SELECT qid, qe, tbl,
        |  CASE WHEN probe = 0 THEN bucket
        |       ELSE xor(bucket, 1 << (probe - 1)) END AS bucket
        |  FROM q, (SELECT unnest(range(0, 3)) AS probe)),
        |c AS (SELECT vec_id AS nid, embedding AS ce, tbl, bucket FROM b),
        |lp AS (SELECT DISTINCT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM q JOIN c USING (tbl, bucket) WHERE nid <> qid),
        |lsh AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY cosine DESC, nid) AS r FROM lp) WHERE r <= 10),
        |pp AS (SELECT DISTINCT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM qp JOIN c USING (tbl, bucket) WHERE nid <> qid),
        |plsh AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY cosine DESC, nid) AS r FROM pp) WHERE r <= 10),
        |qv AS (SELECT DISTINCT qid, qe FROM q),
        |cv AS (SELECT DISTINCT nid, ce FROM c),
        |bp AS (SELECT qid, nid, ${duckCosine("qe", "ce")} AS cosine
        |  FROM qv, cv WHERE nid <> qid),
        |brute AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (
        |    PARTITION BY qid ORDER BY cosine DESC, nid) AS r FROM bp) WHERE r <= 10),
        |hits AS (SELECT l.qid, COUNT(*) AS h FROM lsh l
        |  JOIN brute br ON l.qid = br.qid AND l.nid = br.nid GROUP BY 1),
        |phits AS (SELECT l.qid, COUNT(*) AS h FROM plsh l
        |  JOIN brute br ON l.qid = br.qid AND l.nid = br.nid GROUP BY 1)
        |SELECT qv.qid, CAST(COALESCE(hits.h, 0) AS DOUBLE) / 10.0 AS recall_at_10,
        |  CAST(COALESCE(phits.h, 0) AS DOUBLE) / 10.0 AS recall_probed_at_10
        |FROM qv LEFT JOIN hits ON qv.qid = hits.qid
        |  LEFT JOIN phits ON qv.qid = phits.qid ORDER BY qv.qid""".stripMargin,

    // Quantization round-trip re-derived: same scale, same HALF_UP round,
    // same left-associative double arithmetic and fold order.
    "embed_quantize" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |d AS (SELECT vec_id, v,
        |  list_transform(v, x -> CASE WHEN scale > 0
        |    THEN round(x / scale * 127) * scale / 127 ELSE 0.0 END) AS dv
        |  FROM s)
        |SELECT vec_id, round(${duckCosine("v", "dv")}, 6) AS cos_roundtrip,
        |  round(list_max(list_transform(range(1, len(v) + 1),
        |    i -> abs(v[i] - dv[i]))), 6) AS max_abs_err
        |FROM d ORDER BY vec_id""".stripMargin,

    // Token-window chunking re-derived: same \S+ token lists, same integer
    // chunk-count arithmetic, same 1-based inclusive slices.
    "chunk_docs" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt FROM d),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN nt <= 64 THEN 1 ELSE ((nt - 64 + 47) // 48) + 1 END AS nchunks
        |  FROM n),
        |e AS (SELECT doc_id, toks, unnest(range(0, nchunks)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64)) AS BIGINT)
        |    AS n_tokens,
        |  md5(array_to_string(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64), ' '))
        |    AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // Per-source budget packing re-derived: exclusive running sum over the
    // same doc order, integer-divided by the 2048-token budget.
    "pack_docs" ->
      """WITH d AS (SELECT source, doc_id,
        |    len(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
        |b AS (SELECT source, doc_id, tok,
        |  CAST(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT)
        |    AS bin FROM d)
        |SELECT source, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // semantic pack: trained quantizer assignment + centroid cosine
    // (the dedup_semantic CTEs), then the running-sum pack ordered by
    // (typicality desc, id) within each cluster
    "pack_semantic" ->
      s"""WITH $kmeansCtes,
        |a3 AS (${duckKmeansAssign("v", "u2c", 1)}),
        |cs AS (SELECT a3.id, a3.cluster,
        |    ${duckCosine("a3.v", "u2c.c")} AS cs
        |  FROM a3 JOIN u2c USING (cluster)),
        |tk AS (SELECT doc_id AS id,
        |    CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
        |      AS n_toks FROM documents),
        |j AS (SELECT cs.id, cs.cluster, cs.cs, tk.n_toks
        |  FROM cs JOIN tk USING (id)),
        |pb AS (SELECT cluster, cs, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY cluster
        |      ORDER BY cs DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256
        |      AS BIGINT) AS bin
        |  FROM j)
        |SELECT cluster, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
        |  round(MIN(cs), 6) AS cos_min, round(MAX(cs), 6) AS cos_max
        |FROM pb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // manifest: bin and offset both from the one exclusive running sum
    "pack_manifest" ->
      """WITH d AS (SELECT source, doc_id,
        |    len(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
        |c AS (SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d),
        |b AS (SELECT source, doc_id,
        |    CAST(cum // 2048 AS BIGINT) AS bin,
        |    CAST(cum - (cum // 2048) * 2048 AS BIGINT) AS off
        |  FROM c)
        |SELECT source, bin, COUNT(*) AS n_docs,
        |  string_agg(doc_id || '@' || off, ',' ORDER BY doc_id) AS manifest
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // straddle contract replayed at budget 64: offset, spans flag, and
    // last-token bin all from the same exclusive running sum
    "pack_spans" ->
      """WITH d AS (SELECT source, doc_id,
        |    len(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
        |c AS (SELECT source, doc_id, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT source, doc_id, CAST(tok AS BIGINT) AS n_toks,
        |  CAST(cum // 64 AS BIGINT) AS bin,
        |  CAST(cum - (cum // 64) * 64 AS BIGINT) AS bin_offset,
        |  (cum - (cum // 64) * 64 + tok > 64) AS spans_next_bin,
        |  CAST((cum + greatest(tok, 1) - 1) // 64 AS BIGINT) AS end_bin
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // The sketch accuracy contract: exact cardinalities recomputed, bound
    // flags must all be true (a sketch out of bounds flips one to false).
    "sketch_approx" ->
      """SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  TRUE AS acd_orders_ok, TRUE AS acd_parts_ok, TRUE AS ap50_ok
        |FROM lineitem""".stripMargin,

    // Full re-derivation of banded MinHash-LSH: word-3-gram shingles,
    // md5-seeded universal-hash signatures (64 mins), 16 bands of 4 hashed
    // to md5 buckets, distinct collision pairs, exact-Jaccard verify.
    "dedup_minhash" ->
      s"""WITH $minhashPairCtes
        |SELECT idA, idB, round(j, 4) AS jaccard FROM v
        |WHERE j >= 0.7 ORDER BY idA, idB""".stripMargin,

    // Transitive near-dup clusters over the same pair list: recursive
    // min-label reachability (edges made symmetric; UNION dedups, so the
    // recursion reaches fixpoint) — each doc in a duplicate group maps to
    // the group's min id, exactly the Spark min-label propagation result.
    "dedup_cluster" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |pairs AS (SELECT idA, idB FROM v WHERE j >= 0.7),
        |nodes AS (SELECT idA AS id FROM pairs UNION SELECT idB FROM pairs),
        |edges AS (SELECT idA AS a, idB AS b FROM pairs
        |  UNION SELECT idB AS a, idA AS b FROM pairs),
        |reach AS (
        |  SELECT id AS node, id AS r FROM nodes
        |  UNION
        |  SELECT e.b AS node, reach.r AS r
        |  FROM reach JOIN edges e ON reach.node = e.a)
        |SELECT node AS doc_id, MIN(r) AS rep
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same recursive components, then the quality-rule argmax per
    // component (integer rule count, ties by id) plus untouched
    // singletons
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |pairs AS (SELECT idA, idB FROM v WHERE j >= 0.7),
        |nodes AS (SELECT idA AS id FROM pairs UNION SELECT idB FROM pairs),
        |edges AS (SELECT idA AS a, idB AS b FROM pairs
        |  UNION SELECT idB AS a, idA AS b FROM pairs),
        |reach AS (
        |  SELECT id AS node, id AS r FROM nodes
        |  UNION
        |  SELECT e.b AS node, reach.r AS r
        |  FROM reach JOIN edges e ON reach.node = e.a),
        |comp AS (SELECT node AS doc_id, MIN(r) AS rep
        |  FROM reach GROUP BY 1),
        |nqt AS (SELECT doc_id,
        |    CAST((CASE WHEN length(text) BETWEEN 20 AND 20000
        |        THEN 1 ELSE 0 END) +
        |      (CASE WHEN CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |          AS DOUBLE) / greatest(length(text), 1) < 0.2
        |        THEN 1 ELSE 0 END) +
        |      (CASE WHEN CAST(length(regexp_replace(text, '\\s+', '', 'g'))
        |          AS DOUBLE) /
        |          greatest(len(regexp_extract_all(lower(text), '\\S+')), 1)
        |          BETWEEN 2.0 AND 14.0
        |        THEN 1 ELSE 0 END) AS INT) AS nq
        |  FROM documents),
        |m AS (SELECT c.doc_id, c.rep, q.nq FROM comp c
        |  JOIN nqt q USING (doc_id)),
        |best AS (SELECT doc_id, rep, nq FROM (
        |    SELECT m.*, row_number() OVER (
        |      PARTITION BY rep ORDER BY nq DESC, doc_id) AS rk FROM m)
        |  WHERE rk = 1),
        |single AS (SELECT q.doc_id, q.doc_id AS rep, q.nq FROM nqt q
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM comp))
        |SELECT doc_id, rep, nq FROM best
        |UNION ALL SELECT doc_id, rep, nq FROM single
        |ORDER BY doc_id""".stripMargin,

    // Decontamination re-derived: same distinct word-3-gram shingles, same
    // benchmark split by id arithmetic, COUNT(DISTINCT shared shingle).
    "decontaminate" ->
      """WITH sh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM documents),
        |b AS (SELECT DISTINCT unnest(s) AS shg FROM sh WHERE id % 50 = 0),
        |tr AS (SELECT id, unnest(s) AS shg FROM sh WHERE id % 50 <> 0),
        |hits AS (SELECT tr.id, COUNT(DISTINCT tr.shg) AS n_shared
        |  FROM tr JOIN b ON tr.shg = b.shg GROUP BY 1)
        |SELECT t2.id AS doc_id,
        |  CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  COALESCE(h.n_shared, 0) > 0 AS contaminated
        |FROM (SELECT id FROM sh WHERE id % 50 <> 0) t2
        |LEFT JOIN hits h ON t2.id = h.id ORDER BY 1""".stripMargin,

    // Bloom decontamination re-derived bit for bit: same shingles, the
    // same benchmark-sized modulus (63 * max(1024, ceil(16n/63)) — the
    // bm CTE replays bloomAutoWords), k=3 md5-window positions, 63-bit
    // words built with bit_or, probe requires all 3 bits set (bool_and
    // over a word join).
    "bloom_decontaminate" ->
      """WITH sh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM documents),
        |ks AS (SELECT unnest([0, 1, 2]) AS j),
|bm AS (SELECT 63 * GREATEST(1024, (COUNT(*) * 16 + 62) // 63) AS m
        |  FROM (SELECT id, unnest(s) AS shg FROM sh WHERE id % 50 = 0)),
                |bpos AS (SELECT DISTINCT
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT DISTINCT unnest(s) AS shg FROM sh WHERE id % 50 = 0), ks),
        |wrd AS (SELECT CAST(pos // 63 AS INT) AS w,
        |    bit_or(1::BIGINT << (pos % 63)) AS bits
        |  FROM bpos GROUP BY 1),
        |trp AS (SELECT id, shg,
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT id, unnest(s) AS shg FROM sh WHERE id % 50 <> 0), ks),
        |tchk AS (SELECT id, shg,
        |    bool_and(COALESCE((wrd.bits & (1::BIGINT << (trp.pos % 63))) <> 0,
        |      FALSE)) AS hit
        |  FROM trp LEFT JOIN wrd ON wrd.w = CAST(trp.pos // 63 AS INT)
        |  GROUP BY 1, 2),
        |hits AS (SELECT id, COUNT(DISTINCT shg) AS n FROM tchk
        |  WHERE hit GROUP BY 1)
        |SELECT t2.id AS doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_flagged,
        |  COALESCE(h.n, 0) > 0 AS contaminated
        |FROM (SELECT id FROM sh WHERE id % 50 <> 0) t2
        |LEFT JOIN hits h ON t2.id = h.id ORDER BY 1""".stripMargin,

    // Full re-derivation of quartered SimHash: 64 portable md5 bits per
    // token, per-bit vote sums, 16-bit MSB-first quarter packing,
    // pigeonhole blocking on equal quarters, exact Hamming verify.
    "dedup_simhash" ->
      """WITH toks AS (SELECT doc_id AS id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents),
        |h AS (SELECT id,
        |    CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS hA,
        |    CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS hB
        |  FROM toks),
        |bits AS (SELECT id, b,
        |    SUM(CASE WHEN ((CASE WHEN b < 32 THEN hA >> b
        |                    ELSE hB >> (b - 32) END) & 1) = 1
        |        THEN 1 ELSE -1 END) AS score
        |  FROM h, (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
        |q AS (SELECT id, b // 16 AS quarter,
        |    SUM(CASE WHEN score > 0 THEN 1 << (15 - (b % 16)) ELSE 0 END) AS key
        |  FROM bits GROUP BY 1, 2),
        |f AS (SELECT id, list(key ORDER BY quarter) AS f FROM q GROUP BY 1),
        |cand AS (SELECT DISTINCT a.id AS idA, c.id AS idB FROM q a JOIN q c
        |  ON a.quarter = c.quarter AND a.key = c.key AND a.id < c.id),
        |v AS (SELECT idA, idB,
        |    CAST(list_sum(list_transform(range(1, 5),
        |      i -> bit_count(xor(x.f[i], y.f[i])))) AS INT) AS hamming
        |  FROM cand JOIN f x ON x.id = idA JOIN f y ON y.id = idB)
        |SELECT idA, idB, hamming FROM v
        |WHERE hamming <= 6 ORDER BY idA, idB""".stripMargin,

    // blocking-INDEPENDENT oracle for the hot-bucket escalation: the
    // planted degenerate prints re-derived, then brute-force hamming
    // over the packed 64-bit print — if the level-2 re-block dropped a
    // true pair, this row would go red
    "dedup_hotbucket" ->
      """WITH hbf AS (SELECT doc_id AS id,
        |    md5(CAST(doc_id - (doc_id % 2) AS VARCHAR)) AS h,
        |    doc_id - (doc_id % 2) AS b
        |  FROM documents),
        |hbq AS (SELECT id, b, CAST(0 AS BIGINT) AS q0,
        |    CAST(concat('0x', substr(h, 1, 4)) AS BIGINT) AS q1r,
        |    CAST(concat('0x', substr(h, 5, 4)) AS BIGINT) AS q2r,
        |    CAST(concat('0x', substr(h, 9, 4)) AS BIGINT) AS q3r
        |  FROM hbf),
        |hbp AS (SELECT id, q0,
        |    CASE WHEN id % 2 = 1 THEN xor(q1r, CAST(1 AS BIGINT) << CAST(b % 12 AS INT)) ELSE q1r END AS q1,
        |    CASE WHEN id % 2 = 1 AND b % 3 = 0 THEN xor(q2r, CAST(1 AS BIGINT) << CAST(b % 5 AS INT)) ELSE q2r END AS q2,
        |    CASE WHEN id % 2 = 1 AND b % 7 = 0 THEN xor(q3r, CAST(7 AS BIGINT) << CAST(b % 13 AS INT))
        |         WHEN id % 2 = 1 AND b % 5 = 0 THEN xor(q3r, CAST(3 AS BIGINT) << CAST(b % 13 AS INT))
        |         ELSE q3r END AS q3
        |  FROM hbq),
        |hbw AS (SELECT id, ((q0 << 48) | (q1 << 32) | (q2 << 16) | q3) AS ph FROM hbp)
        |SELECT a.id AS idA, b.id AS idB,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        |FROM hbw a JOIN hbw b ON a.id < b.id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY idA, idB""".stripMargin,

    // index form: odd batch x even index, brute force again
    "dedup_hotbucket_incremental" ->
      """WITH hbf AS (SELECT doc_id AS id,
        |    md5(CAST(doc_id - (doc_id % 2) AS VARCHAR)) AS h,
        |    doc_id - (doc_id % 2) AS b
        |  FROM documents),
        |hbq AS (SELECT id, b, CAST(0 AS BIGINT) AS q0,
        |    CAST(concat('0x', substr(h, 1, 4)) AS BIGINT) AS q1r,
        |    CAST(concat('0x', substr(h, 5, 4)) AS BIGINT) AS q2r,
        |    CAST(concat('0x', substr(h, 9, 4)) AS BIGINT) AS q3r
        |  FROM hbf),
        |hbp AS (SELECT id, q0,
        |    CASE WHEN id % 2 = 1 THEN xor(q1r, CAST(1 AS BIGINT) << CAST(b % 12 AS INT)) ELSE q1r END AS q1,
        |    CASE WHEN id % 2 = 1 AND b % 3 = 0 THEN xor(q2r, CAST(1 AS BIGINT) << CAST(b % 5 AS INT)) ELSE q2r END AS q2,
        |    CASE WHEN id % 2 = 1 AND b % 7 = 0 THEN xor(q3r, CAST(7 AS BIGINT) << CAST(b % 13 AS INT))
        |         WHEN id % 2 = 1 AND b % 5 = 0 THEN xor(q3r, CAST(3 AS BIGINT) << CAST(b % 13 AS INT))
        |         ELSE q3r END AS q3
        |  FROM hbq),
        |hbw AS (SELECT id, ((q0 << 48) | (q1 << 32) | (q2 << 16) | q3) AS ph FROM hbp)
        |SELECT a.id AS idA, b.id AS idB,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        |FROM hbw a JOIN hbw b ON a.id % 2 = 1 AND b.id % 2 = 0
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY idA, idB""".stripMargin,

    // LSH near-dup pairs: same-bucket candidates, exact cosine >= threshold.
    "dedup_embedding_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |  ${duckBucket("embedding", 4)} AS bucket FROM embeddings),
        |p AS (SELECT x.vec_id AS idA, y.vec_id AS idB,
        |  ${duckCosine("x.embedding", "y.embedding")} AS cosine
        |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        |SELECT idA, idB, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.2 ORDER BY idA, idB""".stripMargin,

    // incoming (odd) vs indexed (even) same-bucket pairs, exact cosine
    "dedup_embedding_incremental" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |  ${duckBucket("embedding", 4)} AS bucket FROM embeddings),
        |p AS (SELECT y.vec_id AS id, x.vec_id AS matched_id,
        |  ${duckCosine("y.embedding", "x.embedding")} AS cosine
        |  FROM b x JOIN b y ON x.bucket = y.bucket
        |  WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1)
        |SELECT id, matched_id, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.2 ORDER BY id, matched_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT lang, doc_id, sample_rank FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ${duckHashPriority("doc_id")}, doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 3 ORDER BY lang, sample_rank""".stripMargin,

    "sample_split" ->
      """SELECT split, COUNT(*) AS n FROM (
        |  SELECT CASE
        |    WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 25 THEN 'test'
        |    WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 50 THEN 'validation'
        |    ELSE 'train' END AS split
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_mix" ->
      s"""WITH shares(source, target_share) AS (VALUES
        |    ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |    ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
        |  frac AS (
        |    SELECT d.source,
        |      least(CAST(1.0 AS DOUBLE),
        |            s.target_share * 40000 / CAST(sum(d.n_chars) AS DOUBLE))
        |        AS keep_frac
        |    FROM documents d JOIN shares s ON d.source = s.source
        |    GROUP BY d.source, s.target_share)
        |SELECT d.source, d.doc_id, d.n_chars
        |FROM documents d JOIN frac f ON d.source = f.source
        |WHERE ${duckHashPriority("d.doc_id")} < f.keep_frac
        |ORDER BY d.source, d.doc_id""".stripMargin,

    "sample_split_grouped" ->
      """WITH fp AS (
        |  SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |b AS (
        |  SELECT fp, CASE
        |    WHEN CAST(concat('0x', substring(md5(fp), 1, 2)) AS INT) < 25
        |      THEN 'test'
        |    WHEN CAST(concat('0x', substring(md5(fp), 1, 2)) AS INT) < 50
        |      THEN 'validation'
        |    ELSE 'train' END AS split
        |  FROM fp)
        |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_groups
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "shuffle_shards" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 8 AS shard,
        |    CAST(concat('0x', substring(md5(concat('ord:',
        |      CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) / power(16, 12)
        |      AS ord
        |  FROM documents)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS BIGINT) - 1 AS shard_pos,
        |  doc_id
        |FROM k ORDER BY shard, shard_pos""".stripMargin,

    // both epochs' permutations replayed ('ord:' vs 'ord:e1:' domain
    // separation); shard membership is epoch-invariant by construction,
    // so the oracle pins same_shard TRUE — an epoch leak into the shard
    // hash on the Spark side would flip it and mismatch
    "shuffle_shards_epoch" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 8 AS shard,
        |    CAST(concat('0x', substring(md5(concat('ord:',
        |      CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) / power(16, 12)
        |      AS ord0,
        |    CAST(concat('0x', substring(md5(concat('ord:e1:',
        |      CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) / power(16, 12)
        |      AS ord1
        |  FROM documents)
        |SELECT doc_id, shard, TRUE AS same_shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord0, doc_id)
        |    AS BIGINT) - 1 AS pos_e0,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord1, doc_id)
        |    AS BIGINT) - 1 AS pos_e1
        |FROM k ORDER BY doc_id""".stripMargin,

    "text_perplexity" ->
      s"""WITH $duckPplCtes
        |SELECT doc_id, n_toks, bits, bits_x1000_per_tok FROM ppl
        |ORDER BY doc_id""".stripMargin,

    // curriculum pack re-derived: the ppl CTE joined back to the token
    // spine, the same exclusive running sum ordered (ppl, doc_id)
    "pack_curriculum" ->
      s"""WITH $duckPplCtes,
        |pcc AS (SELECT d.doc_id, d.source,
        |    len(regexp_extract_all(lower(d.text), '\\S+')) AS n_toks,
        |    p.bits_x1000_per_tok AS ppl
        |  FROM documents d JOIN ppl p USING (doc_id)),
        |pck AS (SELECT source, doc_id, n_toks, ppl,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source
        |      ORDER BY ppl, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM pcc),
        |pcb AS (SELECT source, doc_id, n_toks, ppl,
        |    CAST(cum // 512 AS BIGINT) AS bin FROM pck)
        |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
        |  CAST(MIN(ppl) AS BIGINT) AS ppl_min,
        |  CAST(MAX(ppl) AS BIGINT) AS ppl_max
        |FROM pcb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // CCNet terciles re-derived: integer-score histogram, running-count
    // cumulation, min-value-reaching-ceil(k n/3) cutoffs, CASE bucket.
    "perplexity_buckets" ->
      s"""WITH $duckPplCtes,
        |h AS (SELECT bits_x1000_per_tok AS pv, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ppl GROUP BY 1),
        |t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM h),
        |cum AS (SELECT pv, SUM(n) OVER (ORDER BY pv) AS c FROM h),
        |cut1 AS (SELECT MIN(pv) AS v FROM cum, t2 WHERE c >= (t + 2) // 3),
        |cut2 AS (SELECT MIN(pv) AS v FROM cum, t2 WHERE c >= (2 * t + 2) // 3)
        |SELECT p.doc_id, p.n_toks, p.bits, p.bits_x1000_per_tok,
        |  CASE WHEN p.bits_x1000_per_tok <= cut1.v THEN 'head'
        |       WHEN p.bits_x1000_per_tok <= cut2.v THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ppl p, cut1, cut2
        |ORDER BY p.doc_id""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\S+')) AS n_tokens,
        |  length(text) AS n_chars_m,
        |  len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH f AS (
        |  SELECT lang,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> list_contains(['the','and','of','to','a','in','is','that'], t))) AS en,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> list_contains(['el','la','de','que','y','en','los','una'], t))) AS es,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> list_contains(['le','la','de','et','les','des','une','est'], t))) AS fr,
        |    len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN en > 0 AND en >= es AND en >= fr AND en >= de THEN 'en'
        |       WHEN es > 0 AND es >= fr AND es >= de THEN 'es'
        |       WHEN fr > 0 AND fr >= de THEN 'fr'
        |       WHEN de > 0 THEN 'de'
        |       ELSE 'und' END AS lang_pred,
        |  COUNT(*) AS n
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_quality" ->
      """WITH f AS (
        |  SELECT source,
        |    length(text) AS nc,
        |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) /
        |      greatest(length(text), 1) AS pr,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      greatest(len(regexp_extract_all(lower(text), '\S+')), 1) AS mwl
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN nc BETWEEN 20 AND 20000 AND pr < 0.2
        |           AND mwl BETWEEN 2.0 AND 14.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same 7 integer cross-multiplied rule verdicts re-derived
    "gopher_filter" ->
      s"""WITH $duckGopherCtes
        |SELECT doc_id,
        |  w BETWEEN 50 AND 100000 AS word_count_ok,
        |  (chars >= w * 3 AND chars <= w * 10) AS mean_word_len_ok,
        |  (hashes * 10 <= w AND esyms * 10 <= w) AS symbol_ratio_ok,
        |  bullets * 10 <= n_lines * 9 AS bullet_ok,
        |  ellipses * 10 <= n_lines * 3 AS ellipsis_ok,
        |  alpha * 5 >= w * 4 AS alpha_word_ok,
        |  req >= 2 AS required_words_ok,
        |  ($duckGopherPasses) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,

    // same splice + the verbatim PiiPatterns applied in the same order
    "text_redact" ->
      """WITH salted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.org or +1 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
        |      || ' card ' || CAST(4000000000000000 + doc_id AS VARCHAR) AS t0
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t0,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\+?\d{1,3}[-. ]\(?\d{3,4}\)?[-. ]\d{3,8}\b', '<PHONE>', 'g'),
        |      '\b\d{13,19}\b', '<NUMBER>', 'g') AS t
        |  FROM salted)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '<EMAIL>')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '<IP>')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '<PHONE>')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '<NUMBER>')) AS BIGINT) AS n_number,
        |  CAST(len(t) AS BIGINT) AS len_after
        |FROM red ORDER BY doc_id""".stripMargin,

    "text_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(lower(text), '\S+'),
        |        t -> CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT))),
        |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS rfp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |p AS (SELECT a.vec_id AS idA, b.vec_id AS idB,
        |  list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT idA, idB, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.2 ORDER BY idA, idB""".stripMargin,

    "text_fingerprint" ->
      """SELECT lang,
        |  COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_fp
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_ingest_docs" ->
      """SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS DOUBLE) AS sum_chars
        |FROM documents""".stripMargin,

    // double delivery collapses to the single-delivery aggregate
    "stream_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // The streaming gate replayed relationally: every stage is a per-doc
    // predicate over the batch table (the stream delivers each doc
    // exactly once), so the gates conjunct — langid CASE, the six-rule
    // Gopher shape subset, line repetition in the equivalent
    // total-minus-distinct form, the Bloom proportional rule, and the
    // history-fingerprint anti-join.
    "stream_curate" ->
      s"""WITH scb AS MATERIALIZED (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |lpred AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['the','and','of','to','a','in','is','that'], t))) AS en,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['el','la','de','que','y','en','los','una'], t))) AS es,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['le','la','de','et','les','des','une','est'], t))) AS fr,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        |  FROM scb),
        |lid AS (SELECT doc_id,
        |    (CASE WHEN cjk > 0 THEN 'zh'
        |          WHEN en > 0 AND en >= es AND en >= fr AND en >= de THEN 'en'
        |          WHEN es > 0 AND es >= fr AND es >= de THEN 'es'
        |          WHEN fr > 0 AND fr >= de THEN 'fr'
        |          WHEN de > 0 THEN 'de'
        |          ELSE 'und' END) = 'en' AS lang_ok FROM lpred),
        |${duckGopherCtesFrom("scb", "sc")},
        |gok AS (SELECT doc_id, ($duckGopherShapeRules) AS gopher_ok FROM scm),
        |lr AS (SELECT doc_id,
        |    (len(ls) - len(list_distinct(ls))) * 10 <= len(ls) * 3 AND
        |    (list_sum(list_transform(ls, x -> length(x))) -
        |       list_sum(list_transform(list_distinct(ls), x -> length(x)))) * 10
        |      <= COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) * 2
        |      AS rep_ok
        |  FROM (SELECT doc_id,
        |      list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS ls
        |    FROM scb)),
        |bsh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM documents WHERE doc_id % 50 = 0),
        |ks AS (SELECT unnest([0, 1, 2]) AS j),
|bm AS (SELECT 63 * GREATEST(1024, (COUNT(*) * 16 + 62) // 63) AS m
        |  FROM (SELECT id, unnest(s) AS shg FROM bsh)),
                |bpos AS (SELECT DISTINCT
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT DISTINCT unnest(s) AS shg FROM bsh), ks),
        |wrd AS (SELECT CAST(pos // 63 AS INT) AS w,
        |    bit_or(1::BIGINT << (pos % 63)) AS bits
        |  FROM bpos GROUP BY 1),
        |psh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM scb),
        |trp AS (SELECT id, shg,
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT id, unnest(s) AS shg FROM psh), ks),
        |tchk AS (SELECT id, shg,
        |    bool_and(COALESCE((wrd.bits & (1::BIGINT << (trp.pos % 63))) <> 0,
        |      FALSE)) AS hit
        |  FROM trp LEFT JOIN wrd ON wrd.w = CAST(trp.pos // 63 AS INT)
        |  GROUP BY 1, 2),
        |bstat AS (SELECT t.id, COUNT(DISTINCT shg) FILTER (hit) AS n_flag,
        |    COUNT(DISTINCT shg) AS n_sh
        |  FROM tchk t GROUP BY 1),
        |idxfp AS (SELECT DISTINCT
        |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        |  FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4')),
        |surv AS (SELECT b.source, b.n_chars FROM scb b
        |  JOIN lid USING (doc_id) JOIN gok USING (doc_id)
        |  JOIN lr USING (doc_id)
        |  JOIN bstat s ON b.doc_id = s.id
        |  LEFT JOIN idxfp x
        |    ON md5(regexp_replace(lower(b.text), '\\s+', ' ', 'g')) = x.fp
        |  WHERE lang_ok AND gopher_ok AND rep_ok
        |    AND s.n_flag * 5 < s.n_sh AND x.fp IS NULL)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,

    // stream rows surviving the static-index anti-join: every doc whose
    // fingerprint is not among the already-processed sources'
    "stream_dedup_indexed" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM f
        |  WHERE source IN ('src0','src1','src2','src3','src4'))
        |SELECT i.source, COUNT(*) AS n_docs,
        |  CAST(SUM(i.n_chars) AS BIGINT) AS sum_chars
        |FROM f i LEFT JOIN idx x ON i.fp = x.fp
        |WHERE x.fp IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // two-batch replay of the self-maintaining index: batch A (history
    // sources) survivors seed the index; batch B survivors are B's
    // min-id-per-fp rows whose fp batch A never produced
    "stream_index_update" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |a AS (SELECT * FROM f
        |  WHERE source IN ('src0','src1','src2','src3','src4')),
        |b AS (SELECT * FROM f
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |ka AS (SELECT fp, MIN(doc_id) AS doc_id FROM a GROUP BY fp),
        |kb AS (
        |  SELECT s.doc_id
        |  FROM (SELECT fp, MIN(doc_id) AS doc_id FROM b GROUP BY fp) s
        |  LEFT JOIN (SELECT fp FROM ka WHERE fp IS NOT NULL) x
        |    ON s.fp = x.fp
        |  WHERE x.fp IS NULL),
        |clean AS (
        |  SELECT i.source, i.n_chars FROM a i JOIN ka k ON i.doc_id = k.doc_id
        |  UNION ALL
        |  SELECT i.source, i.n_chars FROM b i JOIN kb k ON i.doc_id = k.doc_id)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM clean GROUP BY source ORDER BY source""".stripMargin,

    // the within-watermark double delivery also collapses to the
    // single-delivery aggregate (event_id is unique in the events table)
    "stream_dedup_watermark" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // merged table re-derived from first principles: base value = n_chars
    // at date 2000-01-01 + doc_id, one doc in ten revised to +1000 by the
    // second micro-batch; n_revised = CDC rows per year
    "stream_ingest_partitioned" ->
      """WITH obs AS (
        |  SELECT year(DATE '2000-01-01' + CAST(doc_id AS INTEGER)) AS y,
        |    CAST(n_chars AS DOUBLE) +
        |      CASE WHEN doc_id % 10 = 0 THEN 1000.0 ELSE 0.0 END AS value,
        |    (doc_id % 10 = 0) AS revised
        |  FROM documents)
        |SELECT CAST(y AS INTEGER) AS year, COUNT(*) AS n,
        |  SUM(value) AS sum_value,
        |  CAST(COUNT(*) FILTER (WHERE revised) AS BIGINT) AS n_revised
        |FROM obs GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_window_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // gap-based islands: a session breaks where the gap to the previous
    // event of the same user exceeds 30 minutes (strictly — matching the
    // operator's `t - last <= gap` same-session rule); millisecond grain on
    // both sides (epoch_ms truncates micros exactly like the engine's
    // nanos-div-10^6)
    // Batch re-derivation of the stream-stream interval join, at Spark's
    // microsecond timestamp precision (epoch_ns // 1000 mirrors the
    // engine's nanos->micros truncation before comparing).
    "stream_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |v AS (SELECT user_id, event_id AS view_id, us AS v_us
        |      FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, us AS c_us
        |      FROM e WHERE event_type = 'click')
        |SELECT user_id, view_id, click_id,
        |  CAST(v_us // 1000 AS BIGINT) AS view_ms,
        |  CAST(c_us // 1000 AS BIGINT) AS click_ms
        |FROM v JOIN c USING (user_id)
        |WHERE v_us <= c_us AND v_us >= c_us - 1800000000
        |ORDER BY user_id, view_id, click_id""".stripMargin,

    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |         > 1800000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id,
        |  CAST(MIN(epoch_ms(ts)) AS BIGINT) AS session_start_ms,
        |  CAST(MAX(epoch_ms(ts)) AS BIGINT) AS session_end_ms,
        |  CAST(COUNT(*) AS BIGINT) AS events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  md5(text) AS content_md5,
        |  least(octet_length(encode(text)), 8) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // robustness contract re-derived from the payload recipe: WAV ids have
    // the 44-byte header + 2 bytes/sample; corrupt ids are the 32-byte
    // poisoned header (always 'error'); raw ids are 24 + id%16 bytes.
    "mm_decode_robust" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'error' ELSE 'ok' END AS status,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44 + 2*(16 + doc_id % 8)
        |       WHEN 1 THEN 32 ELSE 24 + doc_id % 16 END AS BIGINT) AS byte_len,
        |  doc_id % 3 <> 1 AS has_features
        |FROM documents ORDER BY id""".stripMargin,

    // First-principles re-derivation of the WAV kernel's features: the same
    // generative sample formula, windowed by integer division, averaged in
    // double, rounded through float32 exactly as the Scala kernel does.
    // byte_len = 44-byte canonical header + 2 bytes/sample.
    "mm_features" ->
      """WITH d AS (SELECT doc_id AS id, 64 + doc_id % 32 AS n FROM documents),
        |u AS (SELECT id, n, unnest(range(0, n)) AS i FROM d),
        |v AS (SELECT id, (i*4)//n AS band,
        |        ((id*31 + i*17) % 4001) - 2000 AS samp FROM u),
        |f AS (SELECT id, band,
        |        CAST(CAST(AVG(samp) AS REAL) AS DOUBLE) AS m
        |      FROM v GROUP BY 1, 2)
        |SELECT id, CAST(44 + 2*(64 + id % 32) AS BIGINT) AS byte_len,
        |  MAX(CASE WHEN band = 0 THEN m END) AS f0,
        |  MAX(CASE WHEN band = 1 THEN m END) AS f1,
        |  MAX(CASE WHEN band = 2 THEN m END) AS f2,
        |  MAX(CASE WHEN band = 3 THEN m END) AS f3
        |FROM f GROUP BY 1, 2 ORDER BY id""".stripMargin,

    // Same idea for the BMP kernel: per-vertical-band mean luminance from
    // the generative gray(x,y) formula. byte_len = 54-byte header + height
    // rows padded to 4 bytes.
    "mm_decode_bmp" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 8 AS w, 6 AS h FROM documents),
        |xs AS (SELECT id, w, h, unnest(range(0, w)) AS x FROM d),
        |px AS (SELECT id, w, x, unnest(range(0, h)) AS y FROM xs),
        |v AS (SELECT id, (x*4)//w AS band,
        |        (id*7 + x*11 + y*5) % 256 AS gray FROM px),
        |f AS (SELECT id, band,
        |        CAST(CAST(AVG(gray) AS REAL) AS DOUBLE) AS m
        |      FROM v GROUP BY 1, 2)
        |SELECT id,
        |  CAST(54 + 6 * (((3*(8 + id % 8)) + 3) // 4 * 4) AS BIGINT) AS byte_len,
        |  MAX(CASE WHEN band = 0 THEN m END) AS f0,
        |  MAX(CASE WHEN band = 1 THEN m END) AS f1,
        |  MAX(CASE WHEN band = 2 THEN m END) AS f2,
        |  MAX(CASE WHEN band = 3 THEN m END) AS f3
        |FROM f GROUP BY 1, 2 ORDER BY id""".stripMargin,

    // Closed-form pixels sampled at the nearest-neighbor resize stride
    // (srcx = x2*w//4, srcy = y2*6//4); 4x4 target makes band = x2.
    // dHash re-derived from the pixel formula: the 8x8 brighter-than-
    // right-neighbor bit grid, 16-bit quarter packing, the pigeonhole
    // quarter join, and the bit_count hamming verify
    "mm_dedup_phash" ->
      s"""WITH ${duckDHashCtes(256)},
        |ppairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3))
        |      AS hamming
        |  FROM pexp a JOIN pexp b
        |    ON a.qi = b.qi AND a.key = b.key AND a.id < b.id)
        |SELECT idA, idB, CAST(hamming AS INT) AS hamming
        |FROM ppairs WHERE hamming <= 3 ORDER BY idA, idB""".stripMargin,

    // the media funnel re-derived stage by stage: decode gate as the
    // poison predicate, exact groups as pixel-LIST equality, prints
    // over exact survivors only, pigeonhole pairs, later-member drops,
    // per-shard roll-up with left joins + zero coalesce
    "curate_media" ->
      """WITH cmsrc AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id % 25 <> 0),
        |cmpx AS (SELECT id, x, y,
        |    CASE WHEN id % 10 = 5 THEN
        |      CAST(concat('0x', substring(md5('E' || CAST(id % 50 AS VARCHAR)
        |        || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)),
        |        1, 2)) AS INT)
        |    ELSE (CAST(concat('0x', substring(md5(CAST(id % 255 AS VARCHAR)
        |        || ':' || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)),
        |        1, 2)) AS INT) +
        |      CASE WHEN id // 255 > 0 AND x = (id // 255) % 9
        |          AND y = ((id // 255) * 3) % 8
        |        THEN 128 ELSE 0 END) % 256
        |    END AS px
        |  FROM cmsrc, (SELECT unnest(range(0, 9)) AS x),
        |    (SELECT unnest(range(0, 8)) AS y)),
        |cmpl AS (SELECT id, list(px ORDER BY y, x) AS pxs FROM cmpx
        |  GROUP BY 1),
        |cmex AS (SELECT MIN(id) AS id FROM cmpl GROUP BY pxs),
        |cmpb AS (SELECT a.id, (a.y * 8 + a.x) AS b,
        |    CASE WHEN n.px > a.px THEN 1 ELSE 0 END AS bit
        |  FROM cmpx a JOIN cmpx n ON a.id = n.id AND n.y = a.y
        |    AND n.x = a.x + 1
        |  JOIN cmex e ON e.id = a.id
        |  WHERE a.x < 8),
        |cmq AS (SELECT id, b // 16 AS qi,
        |    CAST(SUM(bit * (1 << (15 - (b % 16)))) AS BIGINT) AS key
        |  FROM cmpb GROUP BY 1, 2),
        |cmquad AS (SELECT id,
        |    MAX(CASE WHEN qi = 0 THEN key END) AS k0,
        |    MAX(CASE WHEN qi = 1 THEN key END) AS k1,
        |    MAX(CASE WHEN qi = 2 THEN key END) AS k2,
        |    MAX(CASE WHEN qi = 3 THEN key END) AS k3
        |  FROM cmq GROUP BY 1),
        |cmexp AS (SELECT id, k0, k1, k2, k3,
        |    unnest([0, 1, 2, 3]) AS qi,
        |    unnest([k0, k1, k2, k3]) AS key FROM cmquad),
        |cmdrop AS (SELECT DISTINCT b.id FROM cmexp a JOIN cmexp b
        |    ON a.qi = b.qi AND a.key = b.key AND a.id < b.id
        |  WHERE bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3),
        |cmfin AS (SELECT id FROM cmex
        |  WHERE id NOT IN (SELECT id FROM cmdrop)),
        |cro AS (SELECT id % 7 AS shard, CAST(COUNT(*) AS BIGINT) AS n_ok
        |  FROM cmsrc GROUP BY 1),
        |cre AS (SELECT id % 7 AS shard, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM cmex GROUP BY 1),
        |crf AS (SELECT id % 7 AS shard, CAST(COUNT(*) AS BIGINT) AS n_near,
        |    CAST(SUM(id) AS BIGINT) AS sum_id FROM cmfin GROUP BY 1)
        |SELECT o.shard, o.n_ok, COALESCE(e.n_exact, 0) AS n_exact,
        |  COALESCE(f.n_near, 0) AS n_near, COALESCE(f.sum_id, 0) AS sum_id
        |FROM cro o LEFT JOIN cre e USING (shard)
        |  LEFT JOIN crf f USING (shard)
        |ORDER BY shard""".stripMargin,

    // two-day print-index derivation: all near-dup pairs once (both
    // orientations), then day-1 within-drops, day-2 hits against the
    // day-1 SURVIVOR index only, day-2 within-drops among the rest
    "stream_print_index" ->
      s"""WITH ${duckDHashCtes(255)},
        |spairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB
        |  FROM pexp a JOIN pexp b
        |    ON a.qi = b.qi AND a.key = b.key AND a.id <> b.id
        |  WHERE bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3),
        |s1drop AS (SELECT DISTINCT idB AS id FROM spairs
        |  WHERE idA % 2 = 0 AND idB % 2 = 0 AND idA < idB),
        |s1 AS (SELECT id FROM pg WHERE id % 2 = 0
        |  AND id NOT IN (SELECT id FROM s1drop)),
        |o1hit AS (SELECT DISTINCT idA AS id FROM spairs
        |  WHERE idA % 2 = 1 AND idB % 2 = 0
        |    AND idB IN (SELECT id FROM s1)),
        |o2 AS (SELECT id FROM pg WHERE id % 2 = 1
        |  AND id NOT IN (SELECT id FROM o1hit)),
        |s2drop AS (SELECT DISTINCT idB AS id FROM spairs
        |  WHERE idA < idB AND idA IN (SELECT id FROM o2)
        |    AND idB IN (SELECT id FROM o2)),
        |s2 AS (SELECT id FROM o2 WHERE id NOT IN (SELECT id FROM s2drop))
        |SELECT CAST(0 AS BIGINT) AS batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(id) AS BIGINT) AS sum_id FROM s1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(id) AS BIGINT) FROM s2
        |ORDER BY batch_id""".stripMargin,

    // streaming SemDeDup replay: even-half fit, both days' assignments
    // against the persisted centroids, day-1 within-batch sweep, the
    // day-2 index gate (any same-cluster cosine >= 0.3 against day-1
    // SURVIVORS evicts), and the day-2 within-batch sweep
    "stream_semantic_index" ->
      s"""WITH $kmeansCtesEven,
        |vall AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |a3 AS (${duckKmeansAssign("vall", "eu2c", 1)}),
        |scs AS (SELECT a3.id, a3.v, a3.cluster,
        |    ${duckCosine("a3.v", "eu2c.c")} AS cs
        |  FROM a3 JOIN eu2c USING (cluster)),
        |sd1 AS (SELECT * FROM scs WHERE id % 2 = 0),
        |sdrp1 AS (SELECT DISTINCT a.id FROM sd1 a JOIN sd1 b
        |  ON a.cluster = b.cluster AND a.id <> b.id
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3
        |  AND (b.cs < a.cs OR (b.cs = a.cs AND b.id < a.id))),
        |sk1 AS (SELECT * FROM sd1
        |  WHERE id NOT IN (SELECT id FROM sdrp1)),
        |sd2 AS (SELECT * FROM scs WHERE id % 2 = 1),
        |shit2 AS (SELECT DISTINCT a.id FROM sd2 a JOIN sk1 b
        |  ON a.cluster = b.cluster
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3),
        |sf2 AS (SELECT * FROM sd2
        |  WHERE id NOT IN (SELECT id FROM shit2)),
        |sdrp2 AS (SELECT DISTINCT a.id FROM sf2 a JOIN sf2 b
        |  ON a.cluster = b.cluster AND a.id <> b.id
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3
        |  AND (b.cs < a.cs OR (b.cs = a.cs AND b.id < a.id))),
        |sk2 AS (SELECT * FROM sf2
        |  WHERE id NOT IN (SELECT id FROM sdrp2))
        |SELECT CAST(0 AS BIGINT) AS batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(id) AS BIGINT) AS sum_id FROM sk1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(id) AS BIGINT) FROM sk2
        |ORDER BY batch_id""".stripMargin,

    // phash pairs -> recursive components -> rep-keyed md5 split
    // buckets (0..255 vs the 10%/10% thresholds), per-split roll-up
    "mm_split_leakage_safe" ->
      s"""WITH RECURSIVE ${duckDHashCtes(256)},
        |ppairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB
        |  FROM pexp a JOIN pexp b
        |    ON a.qi = b.qi AND a.key = b.key AND a.id < b.id
        |  WHERE bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3),
        |pnodes AS (SELECT idA AS id FROM ppairs
        |  UNION SELECT idB FROM ppairs),
        |pedges AS (SELECT idA AS a, idB AS b FROM ppairs
        |  UNION SELECT idB AS a, idA AS b FROM ppairs),
        |preach AS (
        |  SELECT id AS node, id AS r FROM pnodes
        |  UNION
        |  SELECT e.b AS node, preach.r AS r
        |  FROM preach JOIN pedges e ON preach.node = e.a),
        |pcomp AS (SELECT node AS id, MIN(r) AS rep FROM preach GROUP BY 1),
        |pgrp AS (SELECT d.doc_id AS id, COALESCE(c.rep, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN pcomp c ON d.doc_id = c.id),
        |psplit AS (SELECT id, grp,
        |    CASE WHEN CAST(concat('0x', substring(md5(
        |        CAST(grp AS VARCHAR)), 1, 2)) AS INT) < 25 THEN 'test'
        |      WHEN CAST(concat('0x', substring(md5(
        |        CAST(grp AS VARCHAR)), 1, 2)) AS INT) < 50 THEN 'validation'
        |      ELSE 'train' END AS split
        |  FROM pgrp)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_images,
        |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
        |FROM psplit GROUP BY 1 ORDER BY 1""".stripMargin,

    // audio print re-derived: md5 samples, 33 time windows by the
    // i*W//n convention, cross-multiplied loudness bits, 8-bit quarter
    // packing, the same pigeonhole join
    "mm_dedup_audio" ->
      s"""WITH ${duckAudioCtes(256)},
        |apairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3))
        |      AS hamming
        |  FROM aexp a JOIN aexp b
        |    ON a.qi = b.qi AND a.key = b.key AND a.id < b.id)
        |SELECT idA, idB, CAST(hamming AS INT) AS hamming
        |FROM apairs WHERE hamming <= 3 ORDER BY idA, idB""".stripMargin,

    // incremental audio: odd-id batch prints vs even-id history, the
    // cross-set pigeonhole join over the odd-modulus variant groups
    "mm_dedup_audio_incremental" ->
      s"""WITH ${duckAudioCtes(255)},
        |apairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3))
        |      AS hamming
        |  FROM aexp a JOIN aexp b
        |    ON a.qi = b.qi AND a.key = b.key
        |  WHERE a.id % 2 = 1 AND b.id % 2 = 0)
        |SELECT idA, idB, CAST(hamming AS INT) AS hamming
        |FROM apairs WHERE hamming <= 3 ORDER BY idA, idB""".stripMargin,

    // incremental: odd-id batch prints vs even-id history prints, same
    // pigeonhole join, no ordering constraint across the two sets
    "mm_dedup_phash_incremental" ->
      s"""WITH ${duckDHashCtes(255)},
        |ppairs AS (SELECT DISTINCT a.id AS idA, b.id AS idB,
        |    bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
        |    bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3))
        |      AS hamming
        |  FROM pexp a JOIN pexp b
        |    ON a.qi = b.qi AND a.key = b.key
        |  WHERE a.id % 2 = 1 AND b.id % 2 = 0)
        |SELECT idA, idB, CAST(hamming AS INT) AS hamming
        |FROM ppairs WHERE hamming <= 3 ORDER BY idA, idB""".stripMargin,

    "mm_resize" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 8 AS w, 6 AS h FROM documents),
        |xs AS (SELECT id, w, h, unnest(range(0, 4)) AS x2 FROM d),
        |px AS (SELECT id, w, h, x2, unnest(range(0, 4)) AS y2 FROM xs),
        |v AS (SELECT id, w, x2 AS band,
        |        (id*7 + ((x2*w)//4)*11 + ((y2*h)//4)*5) % 256 AS gray FROM px),
        |f AS (SELECT id, w, band,
        |        CAST(CAST(AVG(gray) AS REAL) AS DOUBLE) AS m
        |      FROM v GROUP BY 1, 2, 3)
        |SELECT id,
        |  CAST(54 + 6 * (((3*w) + 3) // 4 * 4) AS BIGINT) AS byte_len,
        |  MAX(CASE WHEN band = 0 THEN m END) AS f0,
        |  MAX(CASE WHEN band = 1 THEN m END) AS f1,
        |  MAX(CASE WHEN band = 2 THEN m END) AS f2,
        |  MAX(CASE WHEN band = 3 THEN m END) AS f3
        |FROM f GROUP BY 1, 2 ORDER BY id""".stripMargin,

    // Same tokenizer (\S+ on lower(text)), same n-gram windows (1-based
    // inclusive list slices = the Spark sequence/element_at windows), same
    // >=3-token guard, same round-6 fractions.
    "corpus_repetition" ->
      """WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '\S+')) >= 3),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(t[i:i+1], ' '))) AS g FROM base)
        |  GROUP BY 1, 2),
        |top2 AS (SELECT doc_id,
        |    round(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
        |      AS top2gram_frac
        |  FROM c2 GROUP BY 1),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS g FROM base)
        |  GROUP BY 1, 2),
        |dup3 AS (SELECT doc_id,
        |    round(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) /
        |          CAST(SUM(n) AS DOUBLE), 6) AS dup3gram_frac
        |  FROM c3 GROUP BY 1)
        |SELECT top2.doc_id, top2.top2gram_frac, dup3.dup3gram_frac
        |FROM top2 JOIN dup3 USING (doc_id) ORDER BY doc_id""".stripMargin,

    // same splice (8-word lines + footer copies), same beyond-first
    // duplicate counting, same integer-cross-multiplied verdicts
    "gopher_repetition" ->
      s"""WITH $duckSplicedCtes,
        |g AS (SELECT doc_id, line, COUNT(*) AS n,
        |    length(line) AS lc
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |        FROM sp)
        |  WHERE length(line) > 0 GROUP BY 1, 2, 4),
        |a AS (SELECT doc_id, SUM(n) AS tot, SUM(n - 1) AS dup,
        |    SUM(n * lc) AS totc, SUM((n - 1) * lc) AS dupc
        |  FROM g GROUP BY 1)
        |SELECT doc_id, CAST(tot AS BIGINT) AS n_lines,
        |  round(CAST(dup AS DOUBLE) / tot, 6) AS dup_line_frac,
        |  round(CAST(dupc AS DOUBLE) / totc, 6) AS dup_char_frac,
        |  dup * 10 <= tot * 3 AS dup_line_ok,
        |  dupc * 10 <= totc * 2 AS dup_char_ok
        |FROM a ORDER BY doc_id""".stripMargin,

    // NB re-derived: same add-one-smoothed bin-length surprisal per
    // (class, token) over the GLOBAL vocabulary, same prior bits, same
    // (score, class) argmin
    "nb_classify" ->
      """WITH toks AS (SELECT doc_id, lang AS cls,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents),
        |cc AS (SELECT cls, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |ct AS (SELECT cls, COUNT(*) AS nc FROM toks GROUP BY 1),
        |dt AS (SELECT lang AS cls, COUNT(*) AS dc FROM documents GROUP BY 1),
        |g AS (SELECT COUNT(*) AS d, COUNT(DISTINCT lang) AS c FROM documents),
        |vv AS (SELECT DISTINCT tok FROM toks),
        |vn AS (SELECT COUNT(*) AS v FROM vv),
        |w AS (SELECT ct.cls, vv.tok,
        |    length(bin((ct.nc + vn.v) // (COALESCE(cc.cnt, 0) + 1))) - 1
        |      AS bits
        |  FROM vv CROSS JOIN vn CROSS JOIN ct
        |  LEFT JOIN cc ON cc.cls = ct.cls AND cc.tok = vv.tok),
        |pri AS (SELECT dt.cls,
        |    length(bin((g.d + g.c) // (dt.dc + 1))) - 1 AS prior
        |  FROM dt, g),
        |dtk AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
        |sc AS (SELECT d.doc_id, w.cls, SUM(d.n * w.bits) AS s
        |  FROM dtk d JOIN w ON w.tok = d.tok GROUP BY 1, 2),
        |scp AS (SELECT sc.doc_id, sc.cls, sc.s + pri.prior AS score
        |  FROM sc JOIN pri ON pri.cls = sc.cls),
        |pred AS (SELECT doc_id, cls AS predicted FROM (
        |    SELECT doc_id, cls,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score, cls) AS r
        |    FROM scp) WHERE r = 1)
        |SELECT d.lang, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents d JOIN pred p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The ppm score is one IEEE division of two exact (<2^52) integer
    // products, then floor — bit-identical across engines by construction.
    "corpus_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |totals AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total
        |  FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    CAST(floor(CAST(tf.cnt * 1000000 * nd.n_docs AS DOUBLE) /
        |      CAST(totals.total * dfreq.df AS DOUBLE)) AS BIGINT) AS score_ppm
        |  FROM tf JOIN totals USING (doc_id) JOIN dfreq USING (term)
        |  CROSS JOIN nd),
        |rk AS (SELECT doc_id, term, score_ppm,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_ppm DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, score_ppm FROM rk
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    // Independent per-column aggregates unioned (DuckDB COUNT(DISTINCT)
    // also ignores NULLs, matching Spark's countDistinct).
    "profile_table" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_orderkey")
        .map(c =>
          s"""SELECT '$c' AS col_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS DOUBLE) AS min_val,
             |  CAST(MAX($c) AS DOUBLE) AS max_val
             |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    // Same segmentation (split on single space, 10-word windows), same
    // keeper election (first (doc_id, seg_idx) per segment hash), same
    // ordered rebuild — re-derived relationally from the raw table.
    "dedup_segments" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (
        |  SELECT doc_id, w,
        |    unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
        |  FROM words),
        |segs AS (
        |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
        |    array_to_string(w[CAST(i*10+1 AS BIGINT):CAST(i*10+10 AS BIGINT)], ' ') AS seg
        |  FROM idx),
        |kept AS (
        |  SELECT doc_id, seg_idx, seg FROM (
        |    SELECT doc_id, seg_idx, seg,
        |      row_number() OVER (PARTITION BY md5(seg)
        |                         ORDER BY doc_id, seg_idx) AS rk
        |    FROM segs) WHERE rk = 1),
        |rebuilt AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id, CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_segs
        |  FROM words)
        |SELECT t.doc_id, t.n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.clean_text, '') AS clean_text
        |FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // same salt + a document-frequency CTE instead of the keeper window
    "boilerplate_filter" ->
      """WITH docs2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN 'this document is provided as is without any warranty whatsoever ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
        |idx AS (
        |  SELECT doc_id, w,
        |    unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
        |  FROM words),
        |segs AS (
        |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
        |    array_to_string(w[CAST(i*10+1 AS BIGINT):CAST(i*10+10 AS BIGINT)], ' ') AS seg
        |  FROM idx),
        |freq AS (
        |  SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS df
        |  FROM segs GROUP BY 1),
        |kept AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg
        |  FROM segs s JOIN freq f ON md5(s.seg) = f.h WHERE f.df <= 2),
        |rebuilt AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id, CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_segs
        |  FROM words)
        |SELECT t.doc_id, t.n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.clean_text, '') AS clean_text
        |FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Laplace-smoothed unigram ratio weights in ppm (integer division on
    // BIGINT, matching Spark's DIV), target = source 'src0'.
    "importance_weights" ->
      s"""WITH $importanceScoredCtes
        |SELECT doc_id, n_toks, score_ppm, score_avg_ppm
        |FROM scored ORDER BY doc_id""".stripMargin,

    "importance_resample" ->
      s"""WITH $importanceScoredCtes,
        |tw AS (SELECT CAST(SUM(score_avg_ppm) AS DOUBLE) AS total_w FROM scored)
        |SELECT doc_id, n_toks, score_ppm, score_avg_ppm
        |FROM scored, tw
        |WHERE ${duckHashPriority("doc_id")}
        |      < least(CAST(1.0 AS DOUBLE),
        |              CAST(100.0 AS DOUBLE) * score_avg_ppm / total_w)
        |ORDER BY doc_id""".stripMargin,

    // Same clamp + bit-interleave arithmetic re-derived with integer
    // shifts; DuckDB's >>/<</& match Spark's on non-negative BIGINTs.
    "zorder_key" ->
      """WITH k AS (
        |  SELECT
        |    least(greatest(CAST(l_orderkey AS BIGINT), 0), (1::BIGINT << 21) - 1) AS a,
        |    least(greatest(CAST(l_partkey AS BIGINT), 0), (1::BIGINT << 21) - 1) AS b,
        |    l_orderkey, l_partkey
        |  FROM lineitem)
        |SELECT l_orderkey, l_partkey,
        |  CAST(list_sum(list_transform(range(0, 21),
        |      i -> (((a >> CAST(i AS INT)) & 1) << (2*CAST(i AS INT) + 1)) +
        |           (((b >> CAST(i AS INT)) & 1) << (2*CAST(i AS INT))))) AS BIGINT)
        |    AS zkey
        |FROM k
        |ORDER BY zkey, l_orderkey, l_partkey
        |LIMIT 1000""".stripMargin,

    // Same tokenizer, same (count desc, token asc) vocabulary ranking,
    // same OOV -> 0 convention.
    "tokenize_ids" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS token,
        |    generate_subscripts(regexp_extract_all(lower(text), '\S+'), 1) - 1
        |      AS pos
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT)
        |      AS token_id
        |  FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
        |        ORDER BY cnt DESC, token LIMIT 100))
        |SELECT t.doc_id, CAST(t.pos AS INT) AS pos,
        |  COALESCE(v.token_id, 0) AS token_id
        |FROM toks t LEFT JOIN vocab v USING (token)
        |ORDER BY doc_id, pos""".stripMargin,

    // every merge round re-derived: pair stats, tie-break, fold
    "bpe_merges" ->
      s"""WITH ${duckBpeCtes(6)}
        |SELECT * FROM (
        |  ${(1 to 6).map(r =>
             s"""SELECT $r AS rank, l AS "left", r AS "right",
        |    CAST(cnt AS BIGINT) AS n FROM m$r WHERE l <> ''""").mkString("\n|  UNION ALL\n|  ")}
        |) ORDER BY rank""".stripMargin,

    // encode = join each doc word back to its fully-merged symbol list
    // (every corpus word is in the vocabulary by construction)
    "bpe_encode" ->
      s"""WITH ${duckBpeCtes(6)},
        |d AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS w
        |  FROM documents)
        |SELECT doc_id, CAST(SUM(len(s6.s)) AS BIGINT) AS n_bpe
        |FROM d JOIN s6 USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // train-batch/apply-stream: distributed rounds + vocab-join encode
    // re-derived, per-source roll-up (empty docs still count)
    "stream_tokenize" ->
      s"""WITH ${duckBpeCtes(6)},
        |std AS (SELECT source, doc_id,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS w
        |  FROM documents),
        |ste AS (SELECT doc_id, CAST(SUM(len(s6.s)) AS BIGINT) AS n
        |  FROM std JOIN s6 USING (w) GROUP BY 1)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(e.n, 0)) AS BIGINT) AS sum_bpe
        |FROM documents d LEFT JOIN ste e USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the vocab-join stream form computes the SAME roll-up — the shared
    // oracle text pins fold-per-occurrence == vocab-join encode
    "stream_tokenize_joined" ->
      s"""WITH ${duckBpeCtes(6)},
        |std AS (SELECT source, doc_id,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS w
        |  FROM documents),
        |ste AS (SELECT doc_id, CAST(SUM(len(s6.s)) AS BIGINT) AS n
        |  FROM std JOIN s6 USING (w) GROUP BY 1)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(e.n, 0)) AS BIGINT) AS sum_bpe
        |FROM documents d LEFT JOIN ste e USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the full tokenizer->pack chain: the DISTRIBUTED merge rounds are
    // replayed (pinning fitLocal == fit at the hash level), encoded
    // lengths re-derived, then the same exclusive-running-sum packing
    // as pack_docs at the 512-BPE-token budget
    "bpe_pack" ->
      s"""WITH ${duckBpeCtes(6)},
        |d AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS w
        |  FROM documents),
        |enc0 AS (SELECT doc_id, CAST(SUM(len(s6.s)) AS BIGINT) AS n_bpe
        |  FROM d JOIN s6 USING (w) GROUP BY doc_id),
        |enc AS (SELECT dd.doc_id, dd.source, COALESCE(e.n_bpe, 0) AS n_bpe
        |  FROM documents dd LEFT JOIN enc0 e USING (doc_id)),
        |b AS (SELECT source, doc_id, n_bpe,
        |  CAST(COALESCE(SUM(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
        |    AS BIGINT) AS bin FROM enc)
        |SELECT source, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every WordPiece round re-derived: pair stats, symbol stats, the
    // integer-e9 likelihood score, tie-break, '##'-absorbing merge
    "wordpiece_merges" ->
      s"""WITH ${duckWpCtes(6)}
        |SELECT * FROM (
        |  ${(1 to 6).map(r =>
             s"""SELECT CAST($r AS INT) AS rank, l AS "left", r AS "right",
        |    merged, score AS score_e9, CAST(cnt AS BIGINT) AS n
        |    FROM wm$r WHERE l <> ''""").mkString("\n|  UNION ALL\n|  ")}
        |) ORDER BY rank""".stripMargin,

    // MaxMatch replayed as a cursor fold per distinct word: vocabulary
    // = w0 alphabet + the six merged tokens; candidate lengths probed
    // 24..1 (the same cap constant as the Spark side); '!' cursor =
    // the whole word failed to [UNK]
    "wordpiece_encode" ->
      s"""WITH ${duckWpCtes(6)},
        |dwp AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS w,
        |    generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1)
        |      AS pos
        |  FROM documents),
        |wdist AS (SELECT DISTINCT w FROM dwp),
        |${duckMaxMatchCtes("wdist")},
        |wperdoc AS (SELECT doc_id, CAST(SUM(len(ts)) AS BIGINT) AS n_wp,
        |    md5(string_agg(array_to_string(ts, ' '), ' ' ORDER BY pos))
        |      AS wp_md5
        |  FROM dwp JOIN wenc USING (w) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(p.n_wp, 0) AS n_wp,
        |  COALESCE(p.wp_md5, md5('')) AS wp_md5
        |FROM documents d LEFT JOIN wperdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // the full unigram training replayed: seeding, seed costs, the
    // hard-EM Viterbi re-count, pruning, final Laplace costs + ranks
    "unigram_fit" ->
      s"""WITH $duckUnigramCtes
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT)
        |    AS rank,
        |  piece, CAST(cnt AS BIGINT) AS n,
        |  ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")}
        |    AS cost_mb
        |FROM ukept, utot1
        |ORDER BY rank""".stripMargin,

    // Kudo's iterated loop replayed: 3 chained (cost -> Viterbi ->
    // prune) rounds with the 3/4 cap schedule as compile-time LIMITs
    "unigram_fit_iterated" ->
      s"""WITH ${duckUnigramIterCtes(3)}
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT)
        |    AS rank,
        |  piece, CAST(cnt AS BIGINT) AS n,
        |  ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")}
        |    AS cost_mb
        |FROM uitkept, uittot
        |ORDER BY rank""".stripMargin,

    // encode = the same Viterbi fold against the FINAL costs, digested
    // per doc in document order
    "unigram_encode" ->
      s"""WITH $duckUnigramCtes,
        |udwp AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS w,
        |    generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1)
        |      AS pos
        |  FROM documents),
        |udist AS (SELECT DISTINCT w FROM udwp),
        |${duckUniEncodeCtes("udist")},
        |uperdoc AS (SELECT doc_id, CAST(SUM(len(ts)) AS BIGINT) AS n_uni,
        |    md5(string_agg(array_to_string(ts, ' '), ' ' ORDER BY pos))
        |      AS uni_md5
        |  FROM udwp JOIN uenc USING (w) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(p.n_uni, 0) AS n_uni,
        |  COALESCE(p.uni_md5, md5('')) AS uni_md5
        |FROM documents d LEFT JOIN uperdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // OOV encode: same training CTEs, the '¤'-augmented corpus, and
    // the Viterbi fold WITH the explicit-UNK arm
    "unigram_encode_oov" ->
      s"""WITH $duckUnigramCtes,
        |udwp AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text || ' q¤q'), '\\S+')) AS w,
        |    generate_subscripts(
        |      regexp_extract_all(lower(text || ' q¤q'), '\\S+'), 1) AS pos
        |  FROM documents),
        |udist AS (SELECT DISTINCT w FROM udwp),
        |ucost1 AS (SELECT piece,
        |    ${duckMb1024("(total + v)")} - ${duckMb1024("(cnt + 1)")} AS cost
        |  FROM ukept, utot1),
        |ucm1 AS (SELECT MAP(list(piece ORDER BY piece),
        |    list(cost ORDER BY piece)) AS cm FROM ucost1),
        |uencw AS (SELECT w, $duckViterbiFoldUnk AS st FROM udist, ucm1),
        |uenc AS (SELECT w, st[len(st)].t AS ts FROM uencw)
        |SELECT d.doc_id, CAST(SUM(len(ts)) AS BIGINT) AS n_uni,
        |  CAST(SUM(len(list_filter(ts,
        |    tok -> tok = '${graft.ops.Unigram.UnkToken}'))) AS BIGINT)
        |    AS n_unk,
        |  md5(string_agg(array_to_string(ts, ' '), ' ' ORDER BY pos))
        |    AS uni_md5
        |FROM udwp d JOIN uenc USING (w)
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    // byte-fallback encode: the BPE training CTEs (merges m1..m6 +
    // fit-corpus word table wc), the fit alphabet, the '¤'-augmented
    // corpus re-symbolized with the UTF-8 byte decomposition for OOV
    // characters, and all six merge folds replayed
    "bpe_encode_oov" ->
      s"""WITH ${duckBpeCtes(6)},
        |bdwp AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text || ' q¤q'), '\\S+')) AS w,
        |    generate_subscripts(
        |      regexp_extract_all(lower(text || ' q¤q'), '\\S+'), 1) AS pos
        |  FROM documents),
        |bdist AS (SELECT DISTINCT w FROM bdwp),
        |${duckBpeFallbackEncodeCtes(6)},
        |benc AS (SELECT w, CAST(len(s) AS BIGINT) AS k,
        |    CAST(len(list_filter(s, t -> t[1:3] = '<0x')) AS BIGINT) AS kb,
        |    array_to_string(s, ' ') AS ss FROM b6)
        |SELECT d.doc_id, CAST(SUM(k) AS BIGINT) AS n_bpe,
        |  CAST(SUM(kb) AS BIGINT) AS n_byte,
        |  md5(string_agg(ss, ' ' ORDER BY pos)) AS bpe_md5
        |FROM bdwp d JOIN benc USING (w)
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    // all three tokenizer replays side by side over one shared word
    // spine, aggregated to per-source fertility permilles
    "tokenizer_fertility" ->
      s"""WITH ${duckBpeCtes(6)},
        |${duckWpCtes(6)},
        |$duckUnigramCtes,
        |fd AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS w
        |  FROM documents),
        |fdist AS (SELECT DISTINCT w FROM fd),
        |${duckMaxMatchCtes("fdist")},
        |${duckUniEncodeCtes("fdist")},
        |fbpe AS (SELECT doc_id, CAST(SUM(len(s6.s)) AS BIGINT) AS n_bpe
        |  FROM fd JOIN s6 USING (w) GROUP BY 1),
        |fwp AS (SELECT doc_id, CAST(SUM(len(wenc.ts)) AS BIGINT) AS n_wp
        |  FROM fd JOIN wenc USING (w) GROUP BY 1),
        |funi AS (SELECT doc_id, CAST(SUM(len(uenc.ts)) AS BIGINT) AS n_uni
        |  FROM fd JOIN uenc USING (w) GROUP BY 1),
        |fdoc AS (SELECT d.doc_id, d.source,
        |    CAST(length(regexp_replace(d.text, '\\s', '', 'g')) AS BIGINT)
        |      AS n_chars,
        |    COALESCE(b.n_bpe, 0) AS n_bpe, COALESCE(p.n_wp, 0) AS n_wp,
        |    COALESCE(u.n_uni, 0) AS n_uni
        |  FROM documents d
        |  LEFT JOIN fbpe b USING (doc_id)
        |  LEFT JOIN fwp p USING (doc_id)
        |  LEFT JOIN funi u USING (doc_id)),
        |fsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
        |    CAST(SUM(n_wp) AS BIGINT) AS n_wp,
        |    CAST(SUM(n_uni) AS BIGINT) AS n_uni
        |  FROM fdoc GROUP BY 1)
        |SELECT source, n_docs, n_chars, n_bpe, n_wp, n_uni,
        |  (1000 * n_chars) // greatest(n_bpe, 1) AS bpe_cpt_x1000,
        |  (1000 * n_chars) // greatest(n_wp, 1) AS wp_cpt_x1000,
        |  (1000 * n_chars) // greatest(n_uni, 1) AS uni_cpt_x1000
        |FROM fsrc ORDER BY source""".stripMargin,

    // The full funnel re-derived relationally: langid CASE + quality
    // predicate, row_number exact dedup, and the shared MinHash pair CTE
    // chain applied to the deduped corpus.
    "curate_corpus" ->
      s"""WITH pred AS (
        |  SELECT doc_id, source, text,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['the','and','of','to','a','in','is','that'], t))) AS en,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['el','la','de','que','y','en','los','una'], t))) AS es,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['le','la','de','et','les','des','une','est'], t))) AS fr,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        |  FROM documents),
        |flags AS (
        |  SELECT doc_id, source, text,
        |    (CASE WHEN cjk > 0 THEN 'zh'
        |          WHEN en > 0 AND en >= es AND en >= fr AND en >= de THEN 'en'
        |          WHEN es > 0 AND es >= fr AND es >= de THEN 'es'
        |          WHEN fr > 0 AND fr >= de THEN 'fr'
        |          WHEN de > 0 THEN 'de'
        |          ELSE 'und' END) = 'en' AS lang_ok,
        |    (length(text) BETWEEN 20 AND 20000
        |      AND CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) /
        |        greatest(length(text), 1) < 0.2
        |      AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
        |        greatest(len(regexp_extract_all(lower(text), '\\S+')), 1)
        |        BETWEEN 2.0 AND 14.0) AS q_ok
        |  FROM pred),
        |ex AS (
        |  SELECT doc_id, source, text,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rk
        |  FROM flags WHERE lang_ok AND q_ok),
        |corpus AS (SELECT doc_id, text FROM ex WHERE rk = 1),
        |${minhashPairCtesFrom("corpus")},
        |drops AS (SELECT DISTINCT idB AS doc_id FROM v WHERE j >= 0.7)
        |SELECT f.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_raw,
        |  CAST(SUM(CASE WHEN f.lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN f.lang_ok AND f.q_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality,
        |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL AND d.doc_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |FROM flags f
        |LEFT JOIN corpus c ON f.doc_id = c.doc_id
        |LEFT JOIN drops d ON f.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The ten-stage curation funnel re-derived in ONE WITH chain: langid
    // CASE + six-rule Gopher gate + line-repetition + Bloom positions
    // (proportional 20% rule) + history-index minhash estimate + the
    // k-means fit/assign/semdedup sweep + mix fractions + DSIR weights +
    // 'rs:'-salted PPS resample + shard/pos/bin layout, final text joined
    // from the source table (the JSONL round-trip must be byte-faithful
    // for the hashes to meet). Stage CTEs are MATERIALIZED: DuckDB
    // re-inlines every reference otherwise, and the g1..g6 chain's
    // multi-reference fan-out re-evaluates the minhash/k-means prefixes
    // exponentially (≈320s at sf0.01 inlined vs ≈1s materialized).
    "curate_corpus_v2" ->
      s"""WITH batch AS MATERIALIZED (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |lpred AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['the','and','of','to','a','in','is','that'], t))) AS en,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['el','la','de','que','y','en','los','una'], t))) AS es,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['le','la','de','et','les','des','une','est'], t))) AS fr,
        |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
        |      t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        |  FROM batch),
        |lid AS (SELECT doc_id,
        |    (CASE WHEN cjk > 0 THEN 'zh'
        |          WHEN en > 0 AND en >= es AND en >= fr AND en >= de THEN 'en'
        |          WHEN es > 0 AND es >= fr AND es >= de THEN 'es'
        |          WHEN fr > 0 AND fr >= de THEN 'fr'
        |          WHEN de > 0 THEN 'de'
        |          ELSE 'und' END) = 'en' AS lang_ok FROM lpred),
        |${duckGopherCtesFrom("batch", "g")},
        |gok AS (SELECT doc_id, ($duckGopherShapeRules) AS gopher_ok FROM gm),
        |lrp AS (SELECT doc_id, l, COUNT(*) AS n, length(l) AS cl FROM
        |    (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM batch)
        |  WHERE length(l) > 0 GROUP BY 1, 2, 4),
        |lr AS (SELECT doc_id,
        |    (SUM(n - 1) * 10 <= SUM(n) * 3) AND
        |    (SUM((n - 1) * cl) * 10 <= SUM(n * cl) * 2) AS rep_ok
        |  FROM lrp GROUP BY 1),
        |g1 AS MATERIALIZED (SELECT b.* FROM batch b
        |  JOIN lid USING (doc_id) JOIN gok USING (doc_id)
        |  JOIN lr USING (doc_id)
        |  WHERE lang_ok AND gopher_ok AND rep_ok),
        |bsh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM documents WHERE doc_id % 50 = 0),
        |ks AS (SELECT unnest([0, 1, 2]) AS j),
|bm AS (SELECT 63 * GREATEST(1024, (COUNT(*) * 16 + 62) // 63) AS m
        |  FROM (SELECT id, unnest(s) AS shg FROM bsh)),
                |bpos AS (SELECT DISTINCT
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT DISTINCT unnest(s) AS shg FROM bsh), ks),
        |wrd AS (SELECT CAST(pos // 63 AS INT) AS w,
        |    bit_or(1::BIGINT << (pos % 63)) AS bits
        |  FROM bpos GROUP BY 1),
        |psh AS (SELECT doc_id AS id,
        |    list_filter(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 2)),
        |      i -> array_to_string(
        |        (regexp_extract_all(lower(text), '\\S+'))[i:i+2], ' '))),
        |      s -> s <> '') AS s
        |  FROM g1),
        |trp AS (SELECT id, shg,
        |    CAST(CAST(concat('0x', substring(md5(shg), 1 + 8 * j, 8))
        |      AS BIGINT) % (SELECT m FROM bm) AS INT) AS pos
        |  FROM (SELECT id, unnest(s) AS shg FROM psh), ks),
        |tchk AS (SELECT id, shg,
        |    bool_and(COALESCE((wrd.bits & (1::BIGINT << (trp.pos % 63))) <> 0,
        |      FALSE)) AS hit
        |  FROM trp LEFT JOIN wrd ON wrd.w = CAST(trp.pos // 63 AS INT)
        |  GROUP BY 1, 2),
        |bstat AS (SELECT t.id, COUNT(DISTINCT shg) FILTER (hit) AS n_flag,
        |    COUNT(DISTINCT shg) AS n_sh
        |  FROM tchk t GROUP BY 1),
        |g2 AS MATERIALIZED (SELECT g1.* FROM g1 JOIN bstat b ON g1.doc_id = b.id
        |  WHERE b.n_flag * 5 < b.n_sh),
        |mrel AS (SELECT doc_id, text FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4')
        |  UNION ALL SELECT doc_id, text FROM g2),
        |${minhashSigCtesFrom("mrel")},
        |sigm AS MATERIALIZED (SELECT * FROM sig),
        |bkm AS MATERIALIZED (SELECT * FROM bk),
        |idxb AS (SELECT bkm.id, b, bucket FROM bkm
        |  JOIN documents d ON bkm.id = d.doc_id
        |  WHERE d.source IN ('src0','src1','src2','src3','src4')),
        |incb AS (SELECT bkm.id, b, bucket FROM bkm
        |  JOIN g2 ON bkm.id = g2.doc_id),
        |cand AS (SELECT DISTINCT n.id AS id, h.id AS matched_id
        |  FROM incb n JOIN idxb h ON n.b = h.b AND n.bucket = h.bucket),
        |nd AS (SELECT DISTINCT c.id FROM cand c JOIN sigm sn ON sn.id = c.id
        |  JOIN sigm sm ON sm.id = c.matched_id
        |  WHERE CAST(list_sum(list_transform(range(1, 65),
        |      k -> CASE WHEN sn.sig[k] = sm.sig[k] THEN 1 ELSE 0 END))
        |      AS DOUBLE) / 64 >= 0.7),
        |g3 AS MATERIALIZED (SELECT g2.* FROM g2 LEFT JOIN nd ON g2.doc_id = nd.id
        |  WHERE nd.id IS NULL),
        |$kmeansCtes,
        |u2cm AS MATERIALIZED (SELECT * FROM u2c),
        |sv AS (SELECT v.id, v.v FROM v JOIN g3 ON v.id = g3.doc_id),
        |a3 AS (${duckKmeansAssign("sv", "u2cm", 1)}),
        |cs AS MATERIALIZED (SELECT a3.id, a3.v, a3.cluster,
        |    ${duckCosine("a3.v", "u2cm.c")} AS cs
        |  FROM a3 JOIN u2cm USING (cluster)),
        |drp AS (SELECT DISTINCT a.id FROM cs a JOIN cs b
        |  ON a.cluster = b.cluster AND a.id <> b.id
        |  AND ${duckCosine("a.v", "b.v")} >= 0.3
        |  AND (b.cs < a.cs OR (b.cs = a.cs AND b.id < a.id))),
        |g4 AS MATERIALIZED (SELECT g3.* FROM g3 LEFT JOIN drp ON g3.doc_id = drp.id
        |  WHERE drp.id IS NULL),
        |shares(source, target_share) AS (VALUES
        |    ('src5', CAST(0.1 AS DOUBLE)), ('src6', CAST(0.1 AS DOUBLE)),
        |    ('src7', CAST(0.1 AS DOUBLE)), ('src8', CAST(0.1 AS DOUBLE)),
        |    ('src9', CAST(0.1 AS DOUBLE)), ('src10', CAST(0.05 AS DOUBLE)),
        |    ('src11', CAST(0.05 AS DOUBLE)), ('src12', CAST(0.05 AS DOUBLE)),
        |    ('src13', CAST(0.05 AS DOUBLE)), ('src14', CAST(0.05 AS DOUBLE)),
        |    ('src15', CAST(0.05 AS DOUBLE)), ('src16', CAST(0.05 AS DOUBLE)),
        |    ('src17', CAST(0.05 AS DOUBLE)), ('src18', CAST(0.05 AS DOUBLE)),
        |    ('src19', CAST(0.05 AS DOUBLE))),
        |frac AS (
        |  SELECT d.source,
        |    least(CAST(1.0 AS DOUBLE),
        |          s.target_share * 20000 / CAST(sum(d.n_chars) AS DOUBLE))
        |      AS keep_frac
        |  FROM g4 d JOIN shares s ON d.source = s.source
        |  GROUP BY d.source, s.target_share),
        |g5 AS MATERIALIZED (SELECT d.* FROM g4 d JOIN frac f ON d.source = f.source
        |  WHERE ${duckHashPriority("d.doc_id")} < f.keep_frac),
        |itoks AS MATERIALIZED (SELECT doc_id, source = 'src5' AS is_t,
        |    unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
        |  FROM g5),
        |istats AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt_c,
        |    CAST(COUNT(*) FILTER (is_t) AS BIGINT) AS cnt_t
        |  FROM itoks GROUP BY tok),
        |itot AS (SELECT CAST(SUM(cnt_c) AS BIGINT) AS n_c,
        |    CAST(SUM(cnt_t) AS BIGINT) AS n_t,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM istats),
        |iwts AS (SELECT tok,
        |    (1000000 * (cnt_t + 1) * (n_c + v)) // ((cnt_c + 1) * (n_t + v))
        |      AS w_ppm
        |  FROM istats, itot),
        |idt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM itoks GROUP BY doc_id, tok),
        |scored AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
        |    CAST(CAST(SUM(cnt * w_ppm) AS BIGINT)
        |      // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS score_avg_ppm
        |  FROM idt JOIN iwts USING (tok) GROUP BY doc_id),
        |tw AS (SELECT CAST(SUM(score_avg_ppm) AS DOUBLE) AS total_w FROM scored),
        |g6 AS MATERIALIZED (SELECT g5.doc_id, g5.source, s.n_toks FROM g5
        |  JOIN scored s USING (doc_id), tw
        |  WHERE ${duckHashPriority("concat('rs:', CAST(g5.doc_id AS VARCHAR))")}
        |    < least(CAST(1.0 AS DOUBLE),
        |        CAST(30.0 AS DOUBLE) * s.score_avg_ppm / tw.total_w)),
        |shrd AS (SELECT doc_id, source, n_toks,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 8 AS shard,
        |    CAST(concat('0x', substring(md5(concat('ord:',
        |      CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) / power(16, 12)
        |      AS ord
        |  FROM g6),
        |spos AS (SELECT doc_id, source, n_toks, shard,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |      AS BIGINT) - 1 AS shard_pos
        |  FROM shrd),
        |packed AS (SELECT shard, shard_pos, doc_id, source, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY shard_pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 128 AS BIGINT) AS bin
        |  FROM spos)
        |SELECT p.shard, p.shard_pos, p.bin, p.doc_id, p.source, p.n_toks,
        |  d.text
        |FROM packed p JOIN documents d USING (doc_id)
        |ORDER BY p.shard, p.shard_pos""".stripMargin,

    // C4 line dedup re-derived: corpus-wide line counts over the same
    // spliced fixture, lines with count > 3 stripped everywhere,
    // position-ordered reassembly, content pinned by md5.
    "strip_boilerplate" ->
      s"""WITH $duckSplicedCtes,
        |ln AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS l,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM sp),
        |rep AS (SELECT l FROM ln WHERE l <> ''
        |  GROUP BY l HAVING COUNT(*) > 3),
        |kept AS (SELECT ln.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(ln.l ORDER BY ln.pos), chr(10)) AS text_clean
        |  FROM ln LEFT JOIN rep ON ln.l = rep.l
        |  WHERE rep.l IS NULL GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  CAST(length(COALESCE(k.text_clean, '')) AS BIGINT) AS len_clean,
        |  md5(COALESCE(k.text_clean, '')) AS fp_clean
        |FROM sp s LEFT JOIN kept k USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    // Full Gopher A1.2 table re-derived: all nine tagged n-gram
    // streams, per-(doc, n) max/total/dup roll-up, conditional pivot,
    // integer-cross-multiplied verdicts (expressions generated from
    // the same threshold table the Spark side uses).
    "gopher_ngram_full" -> {
      val ns = 2 to 10
      val topThr = Map(2 -> 20, 3 -> 18, 4 -> 16)
      val dupThr = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      def kind(n: Int) = if (n <= 4) "top" else "dup"
      def stat(n: Int) = if (n <= 4) "mx" else "dup"
      def thr(n: Int) = if (n <= 4) topThr(n) else dupThr(n)
      val fracCols = ns.map(n =>
        s"""round(MAX(CASE WHEN n = $n THEN ${stat(n)} END) /
           |    CAST(MAX(CASE WHEN n = $n THEN tot END) AS DOUBLE), 6)
           |    AS ${kind(n)}${n}gram_frac""".stripMargin)
      val okCols = ns.map(n =>
        s"""COALESCE(MAX(CASE WHEN n = $n THEN ${stat(n)} END), 0) * 100 <=
           |    COALESCE(MAX(CASE WHEN n = $n THEN tot END), 0) * ${thr(n)}
           |    AS ${kind(n)}${n}gram_ok""".stripMargin)
      val outOks = ns.map(n =>
        s"COALESCE(pv.${kind(n)}${n}gram_ok, TRUE) AS ${kind(n)}${n}gram_ok")
      val allOk = ns.map(n => s"COALESCE(pv.${kind(n)}${n}gram_ok, TRUE)")
        .mkString(" AND ")
      s"""WITH $duckSplicedCtes,
        |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
        |  FROM sp),
        |nn AS (SELECT unnest(range(2, 11)) AS n),
        |gp AS (SELECT doc_id, t, n,
        |    CAST(unnest(range(1, len(t) - n + 2)) AS INT) AS i FROM tk, nn),
        |gg AS (SELECT doc_id, n, array_to_string(t[i:i + n - 1], ' ') AS g
        |  FROM gp),
        |gc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM gg GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id, n, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot,
        |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
        |  FROM gc GROUP BY 1, 2),
        |pv AS (SELECT doc_id,
        |  ${(fracCols ++ okCols).mkString(",\n|  ")}
        |  FROM st GROUP BY 1)
        |SELECT s.doc_id,
        |  ${ns.map(n => s"pv.${kind(n)}${n}gram_frac").mkString(", ")},
        |  ${outOks.mkString(",\n|  ")},
        |  ($allOk) AS rep_all_ok
        |FROM sp s LEFT JOIN pv USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin
    },

    // ExactSubstr windows re-derived: 16-token sliding md5 windows over
    // the spliced corpus, per-hash count + (doc, pos) canonical via
    // window functions, coverage union, ordered token rebuild.
    "dedup_substring" ->
      s"""WITH $duckSplicedCtes,
        |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
        |  FROM sp),
        |wpos AS (SELECT doc_id, t,
        |    CAST(unnest(range(1, len(t) - 14)) AS INT) AS pos FROM tk),
        |win AS (SELECT doc_id, pos,
        |    md5(array_to_string(t[pos:pos + 15], ' ')) AS h FROM wpos),
        |dw AS (SELECT doc_id, pos, h,
        |    COUNT(*) OVER (PARTITION BY h) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |covj AS (SELECT doc_id, pos, unnest(range(0, 16)) AS j
        |  FROM dw WHERE c > 1 AND rn > 1),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS p FROM covj),
        |tokp AS (SELECT doc_id, t,
        |    CAST(unnest(range(1, len(t) + 1)) AS INT) AS p FROM tk),
        |tok AS (SELECT doc_id, p, t[p] AS tok FROM tokp),
        |reb AS (SELECT tok.doc_id,
        |    array_to_string(list(tok.tok ORDER BY tok.p), ' ') AS text_clean
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  WHERE cov.p IS NULL GROUP BY 1),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |  FROM cov GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(len(regexp_extract_all(lower(s.text), '\\S+')) AS BIGINT)
        |    AS n_toks,
        |  COALESCE(st.n_dup, 0) AS n_dup_toks,
        |  CASE WHEN len(regexp_extract_all(lower(s.text), '\\S+')) > 0
        |    THEN round(COALESCE(st.n_dup, 0) /
        |      CAST(len(regexp_extract_all(lower(s.text), '\\S+')) AS DOUBLE), 6)
        |    END AS dup_frac,
        |  CAST(length(COALESCE(reb.text_clean, '')) AS BIGINT) AS len_clean,
        |  md5(COALESCE(reb.text_clean, '')) AS fp_clean
        |FROM sp s
        |LEFT JOIN st ON s.doc_id = st.doc_id
        |LEFT JOIN reb ON s.doc_id = reb.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // Incremental span strip re-derived: history (even ids) window
    // hashes as the index, incoming (odd ids) windows semi-joined to
    // it, coverage union, ordered token rebuild — no canonical
    // election (history precedes the batch by definition).
    "dedup_substring_incremental" ->
      s"""WITH $duckSplicedCtes,
        |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
        |  FROM sp),
        |wpos AS (SELECT doc_id, t,
        |    CAST(unnest(range(1, len(t) - 14)) AS INT) AS pos FROM tk),
        |win AS (SELECT doc_id, pos,
        |    md5(array_to_string(t[pos:pos + 15], ' ')) AS h FROM wpos),
        |idx AS (SELECT DISTINCT h FROM win WHERE doc_id % 2 = 0),
        |hits AS (SELECT w.doc_id, w.pos FROM win w JOIN idx USING (h)
        |  WHERE w.doc_id % 2 <> 0),
        |covj AS (SELECT doc_id, pos, unnest(range(0, 16)) AS j FROM hits),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS p FROM covj),
        |tokp AS (SELECT doc_id, t,
        |    CAST(unnest(range(1, len(t) + 1)) AS INT) AS p FROM tk
        |  WHERE doc_id % 2 <> 0),
        |tok AS (SELECT doc_id, p, t[p] AS tok FROM tokp),
        |reb AS (SELECT tok.doc_id,
        |    array_to_string(list(tok.tok ORDER BY tok.p), ' ') AS text_clean
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  WHERE cov.p IS NULL GROUP BY 1),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |  FROM cov GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(len(regexp_extract_all(lower(s.text), '\\S+')) AS BIGINT)
        |    AS n_toks,
        |  COALESCE(st.n_dup, 0) AS n_dup_toks,
        |  CASE WHEN len(regexp_extract_all(lower(s.text), '\\S+')) > 0
        |    THEN round(COALESCE(st.n_dup, 0) /
        |      CAST(len(regexp_extract_all(lower(s.text), '\\S+')) AS DOUBLE), 6)
        |    END AS dup_frac,
        |  CAST(length(COALESCE(reb.text_clean, '')) AS BIGINT) AS len_clean,
        |  md5(COALESCE(reb.text_clean, '')) AS fp_clean
        |FROM sp s
        |LEFT JOIN st ON s.doc_id = st.doc_id
        |LEFT JOIN reb ON s.doc_id = reb.doc_id
        |WHERE s.doc_id % 2 <> 0
        |ORDER BY s.doc_id""".stripMargin,

    // UniMax water-filling re-derived: the (cap, source) sort, the
    // monotone capped-prefix predicate, the breakpoint row's remaining
    // budget split evenly with ordered +1 remainders
    "sample_unimax" ->
      s"""WITH um AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tok
        |    FROM documents GROUP BY 1),
        |ub AS (SELECT (9 * CAST(SUM(n_tok) AS BIGINT)) // 10 AS b FROM um),
        |ur AS (SELECT source, n_tok, n_tok * 1 AS cap,
        |    row_number() OVER (ORDER BY n_tok * 1, source) AS idx,
        |    COALESCE(SUM(n_tok * 1) OVER (ORDER BY n_tok * 1, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
        |    COUNT(*) OVER () AS nl
        |  FROM um),
        |uc AS (SELECT r.*, b - pfx AS rem,
        |    cap * (nl - idx + 1) <= b - pfx AS capped
        |  FROM ur r, ub),
        |ubp AS (SELECT MIN(CASE WHEN NOT capped THEN idx END) AS bidx
        |  FROM uc),
        |ubr AS (SELECT MAX(CASE WHEN idx = bidx THEN rem END) AS brem,
        |    MAX(CASE WHEN idx = bidx THEN nl - idx + 1 END) AS bk
        |  FROM uc, ubp)
        |SELECT c.source, c.n_tok, c.cap,
        |  CAST(CASE WHEN c.capped THEN c.cap
        |    ELSE brem // bk +
        |      (CASE WHEN c.idx - bidx < brem % bk THEN 1 ELSE 0 END)
        |  END AS BIGINT) AS alloc,
        |  CAST((1000 * (CASE WHEN c.capped THEN c.cap
        |    ELSE brem // bk +
        |      (CASE WHEN c.idx - bidx < brem % bk THEN 1 ELSE 0 END)
        |  END)) // greatest(c.n_tok, 1) AS BIGINT) AS epochs_x1000
        |FROM uc c, ubp, ubr
        |ORDER BY c.source""".stripMargin,

    // the manifest re-derived: the water-fill at cap 3 / budget 2x,
    // full-epoch fan-out as a two-step unnest(range), the partial
    // epoch as the umx-salted priority threshold (double division is
    // IEEE-identical across engines)
    "sample_unimax_manifest" ->
      s"""WITH um AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tok
        |    FROM documents GROUP BY 1),
        |ub AS (SELECT 2 * CAST(SUM(n_tok) AS BIGINT) AS b FROM um),
        |ur AS (SELECT source, n_tok, n_tok * 3 AS cap,
        |    row_number() OVER (ORDER BY n_tok * 3, source) AS idx,
        |    COALESCE(SUM(n_tok * 3) OVER (ORDER BY n_tok * 3, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
        |    COUNT(*) OVER () AS nl
        |  FROM um),
        |uc AS (SELECT r.*, b - pfx AS rem,
        |    cap * (nl - idx + 1) <= b - pfx AS capped
        |  FROM ur r, ub),
        |ubp AS (SELECT MIN(CASE WHEN NOT capped THEN idx END) AS bidx
        |  FROM uc),
        |ubr AS (SELECT MAX(CASE WHEN idx = bidx THEN rem END) AS brem,
        |    MAX(CASE WHEN idx = bidx THEN nl - idx + 1 END) AS bk
        |  FROM uc, ubp),
        |ua AS (SELECT c.source, c.n_tok,
        |    CAST(CASE WHEN c.capped THEN c.cap
        |      ELSE brem // bk +
        |        (CASE WHEN c.idx - bidx < brem % bk THEN 1 ELSE 0 END)
        |    END AS BIGINT) AS alloc
        |  FROM uc c, ubp, ubr),
        |uf AS (SELECT source, n_tok, alloc,
        |    alloc // greatest(n_tok, 1) AS full_epochs,
        |    alloc % greatest(n_tok, 1) AS rem_num FROM ua),
        |ue AS (SELECT d.doc_id, d.source, d.n_chars,
        |    unnest(range(0, f.full_epochs)) AS epoch
        |  FROM documents d JOIN uf f USING (source)
        |  WHERE f.full_epochs > 0),
        |up AS (SELECT d.doc_id, d.source, d.n_chars,
        |    f.full_epochs AS epoch
        |  FROM documents d JOIN uf f USING (source)
        |  WHERE f.rem_num > 0
        |    AND CAST(concat('0x', substring(md5('umx:' ||
        |        CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / power(16, 12)
        |      < CAST(f.rem_num AS DOUBLE) / CAST(f.n_tok AS DOUBLE)),
        |m AS (SELECT * FROM ue UNION ALL SELECT * FROM up)
        |SELECT source, CAST(epoch AS BIGINT) AS epoch,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_tok
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Temperature shares re-derived: sqrt (IEEE-exact on both engines)
    // -> floor x 1e6 integer weights -> integer-DIV ppm shares -> the
    // same mixCorpus fraction/threshold replay as sample_mix.
    "sample_mix_temperature" ->
      s"""WITH m AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS mass
        |    FROM documents GROUP BY 1),
        |w AS (SELECT source, mass,
        |    CAST(floor(sqrt(mass) * 1e6) AS BIGINT) AS w FROM m),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM w),
        |sh AS (SELECT source, mass, w, (1000000 * w) // t AS share_ppm
        |  FROM w, tw),
        |frac AS (SELECT source,
        |    least(CAST(1.0 AS DOUBLE),
        |          (share_ppm / 1000000.0) * 40000 / mass) AS kf
        |  FROM sh),
        |kept AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    CAST(SUM(d.n_chars) AS BIGINT) AS mass_kept
        |  FROM documents d JOIN frac f USING (source)
        |  WHERE ${duckHashPriority("d.doc_id")} < f.kf
        |  GROUP BY 1)
        |SELECT sh.source, sh.w, sh.share_ppm,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(k.mass_kept, 0) AS mass_kept
        |FROM sh LEFT JOIN kept k USING (source)
        |ORDER BY sh.source""".stripMargin,

    // The round-17 funnel replayed in one chain: C4 strip (corpus-wide
    // line counts over the spliced fixture), 3-rule shape gate on the
    // CLEANED text, surprisal histogram + tercile cutoffs with the tail
    // dropped, sqrt-ppm temperature shares over survivor mass, and the
    // mix keep set. Stage CTEs MATERIALIZED (the v2 lesson: DuckDB
    // re-inlines multi-referenced CTEs exponentially).
    "curate_corpus_v3" ->
      s"""WITH $duckSplicedCtes,
        |ln AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS l,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM sp),
        |rep AS (SELECT l FROM ln WHERE l <> ''
        |  GROUP BY l HAVING COUNT(*) > 3),
        |kept AS MATERIALIZED (SELECT ln.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(ln.l ORDER BY ln.pos), chr(10)) AS text_clean
        |  FROM ln LEFT JOIN rep ON ln.l = rep.l
        |  WHERE rep.l IS NULL GROUP BY 1),
        |cl AS MATERIALIZED (SELECT doc_id, text_clean AS text FROM kept
        |  WHERE n_kept > 0),
        |${duckGopherCtesFrom("cl", "v3")},
        |cg AS MATERIALIZED (SELECT cl.doc_id, cl.text FROM cl
        |  JOIN v3m USING (doc_id)
        |  WHERE w BETWEEN 50 AND 100000 AND chars >= w * 3
        |    AND chars <= w * 10 AND alpha * 5 >= w * 4),
        |${duckPplCtesFrom("cg", "p3")},
        |p3p AS MATERIALIZED (SELECT * FROM p3ppl),
        |h AS (SELECT bits_x1000_per_tok AS pv, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p3p GROUP BY 1),
        |t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM h),
        |cum AS (SELECT pv, SUM(n) OVER (ORDER BY pv) AS c FROM h),
        |cut2 AS (SELECT MIN(pv) AS v FROM cum, t2 WHERE c >= (2 * t + 2) // 3),
        |spine AS MATERIALIZED (
        |  SELECT p.doc_id, d.source, CAST(length(cg.text) AS BIGINT) AS mass
        |  FROM p3p p, cut2
        |  JOIN documents d ON p.doc_id = d.doc_id
        |  JOIN cg ON p.doc_id = cg.doc_id
        |  WHERE p.bits_x1000_per_tok <= cut2.v),
        |m AS (SELECT source, CAST(SUM(mass) AS DOUBLE) AS dmass
        |  FROM spine GROUP BY 1),
        |w2 AS (SELECT source, dmass,
        |    CAST(floor(sqrt(dmass) * 1e6) AS BIGINT) AS w FROM m),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM w2),
        |sh2 AS (SELECT source, dmass, w, (1000000 * w) // t AS share_ppm
        |  FROM w2, tw),
        |frac AS (SELECT source,
        |    least(CAST(1.0 AS DOUBLE),
        |          (share_ppm / 1000000.0) * 30000 / dmass) AS kf
        |  FROM sh2),
        |mk AS (SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    CAST(SUM(s.mass) AS BIGINT) AS mass_kept
        |  FROM spine s JOIN frac f USING (source)
        |  WHERE ${duckHashPriority("s.doc_id")} < f.kf
        |  GROUP BY 1)
        |SELECT sh2.source, sh2.share_ppm,
        |  COALESCE(mk.n_kept, 0) AS n_kept,
        |  COALESCE(mk.mass_kept, 0) AS mass_kept
        |FROM sh2 LEFT JOIN mk USING (source)
        |ORDER BY sh2.source""".stripMargin
  )
}
