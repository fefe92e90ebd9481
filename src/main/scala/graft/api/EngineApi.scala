package graft.api

import graft.config.Registry
import graft.merge.RevisionHistory
import graft.store.{SinkTypes, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The engine's read-side API over a populated TableStore: point lookups
  * (S6), bulk init (S12), SQL surface (temp views per dataset), series
  * reads, the all-series panel, revision history, and the run-summary JSON
  * sink (S11). */
final class EngineApi(spark: SparkSession, store: TableStore) {

  /** All read surfaces go through here: the at-rest files carry the
    * DDL-declared DecimalType (SinkTypes.sinkCast at the write side);
    * the engine's numeric surface is DOUBLE — same erasure the
    * reference's store performs, and what every oracle pins. No-op for
    * non-registry tables and pre-policy stores. */
  private def readEngine(table: String): DataFrame =
    SinkTypes.engineCast(store.read(table), table)

  /** S12: idempotent bulk init — every configured table becomes readable
    * (empty with its date-keyed schema if no data yet), mirroring
    * initialize_tables (azure_connector.py:427-471). */
  def initTables(): Unit = {
    import spark.implicits._
    Registry.allConfigs.foreach { cfg =>
      if (!store.exists(cfg.tableName)) {
        val valueCols =
          if (cfg.kind == Registry.NyuStern) Registry.nyuValueFields
          else Seq(Registry.snakeCase(cfg.valueColumn))
        val schema = StructType(StructField("date", StringType) +:
          valueCols.map(c => StructField(c, org.apache.spark.sql.types.DoubleType)))
        store.overwrite(cfg.tableName,
          SinkTypes.sinkCast(
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
            cfg.tableName),
          maxFiles = 1)
      }
    }
  }

  /** S6: point lookup by (table, date key) — the (PartitionKey, RowKey) get
    * (azure_connector.py:219-242). Dataset scoping is the table directory;
    * the date predicate prunes parquet row groups. */
  def pointLookup(table: String, date: String): Option[Row] =
    if (!store.exists(table)) None
    else readEngine(table).filter(col("date") === date).collect().headOption

  /** Read one series (S5 read-back), sorted. */
  def series(table: String): DataFrame =
    readEngine(table).orderBy("date")

  /** view_data.py's "view latest data" (economic_indicators.md:121): the
    * newest observation of one series. Arg-max on the date key — the
    * sort+limit(1) plans as TakeOrderedAndProject (per-partition top-1,
    * no full sort, no wide shuffle) however large the series. */
  def latest(table: String): DataFrame =
    readEngine(table).orderBy(col("date").desc).limit(1)

  /** Latest observation of EVERY populated single-value series, long
    * (dataset, date, value) shape — the "dataset summaries" view. One
    * hash aggregation over the stacked store: max_by picks each series'
    * newest value, so a 1000-series store answers in a single shuffle of
    * (dataset, date, value) triples — no per-series driver loop. */
  def latestAll(): DataFrame = {
    val (_, long) = singleSeriesLong("latestAll")
    long.groupBy("dataset")
      .agg(max(col("date")).as("date"),
        max_by(col("value"), col("date")).as("value"))
  }

  /** Register every existing table as a temp view so the whole store is
    * SQL-queryable: `spark.sql("SELECT ... FROM autosales")`. */
  def registerViews(): Seq[String] = {
    val registered = Registry.allTables.filter(store.exists)
    registered.foreach(t => readEngine(t).createOrReplaceTempView(t))
    registered
  }

  /** J2 panel over every populated single-value series: stack long then
    * pivot once (one shuffle regardless of series count — Panel.panelByPivot
    * scale path). */
  def panelAll(): DataFrame = {
    val (series, long) = singleSeriesLong("panelAll")
    Panel.panelByPivot(long, series)
  }

  /** Full-inventory panel: every populated single-value series PLUS the
    * NYU multi-value table unpivoted into its three rate series — the
    * reference's flagship "merge all datasets with date alignment" read
    * (documentation/economic_indicators.md:71,122) at the complete
    * 26-dataset registry. Still one shuffle total: the NYU unpivot is a
    * generator (no exchange), then the single panelByPivot aggregation. */
  def panelFull(): DataFrame = {
    val (singles, singleLong) = singleSeriesLong("panelFull")
    if (!store.exists(Registry.nyuConfig.tableName))
      Panel.panelByPivot(singleLong, singles)
    else {
      val nyuLong = readEngine(Registry.nyuConfig.tableName)
        .select(col("date") +:
          Registry.nyuValueFields.map(f => col(f).cast("double").as(f)): _*)
        .unpivot(Array(col("date")),
          Registry.nyuValueFields.map(col).toArray, "dataset", "value")
      Panel.panelByPivot(singleLong.unionByName(nyuLong),
        singles ++ Registry.nyuValueFields)
    }
  }

  /** Every populated single-value (non-NYU) series stacked long as
    * (date, dataset, value), with the stacked table names in registry
    * order. `caller` names the read in the error when none is populated. */
  private def singleSeriesLong(caller: String): (Seq[String], DataFrame) = {
    val series = Registry.allConfigs
      .filter(c => c.kind != Registry.NyuStern && store.exists(c.tableName))
    require(series.nonEmpty, s"$caller: no populated series")
    val long = series.map { c =>
      val v = Registry.snakeCase(c.valueColumn)
      readEngine(c.tableName).select(col("date"),
        lit(c.tableName).as("dataset"), col(v).cast("double").as("value"))
    }.reduce(_.unionByName(_))
    (series.map(_.tableName), long)
  }

  /** §2.11 read path over the stored revision log. */
  def revisionHistory(dataset: Option[String] = None, date: Option[String] = None,
                      field: Option[String] = None, limit: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val revs =
      if (store.exists(Registry.RevisionsTable)) store.read(Registry.RevisionsTable)
      else Seq.empty[(String, String, String, Double, Double, java.sql.Timestamp)]
        .toDF("dataset", "data_date", "value_field", "old_value", "new_value", "revision_date")
    RevisionHistory.query(revs, dataset, date, field, limit)
  }

  /** Analysis-CSV export of the full panel — the reference's documented
    * "merges all datasets with date alignment" analysis file
    * (documentation/economic_indicators.md:116-126, export_data.py):
    * panelFull(), date-sorted, one headered CSV. One file by contract —
    * the export is the human/BI hand-off, not a lake table (the panel is
    * series x months, small by construction even when the keyed store
    * behind it is huge). Returns the written directory. */
  def exportPanelCsv(name: String = "exports/panel_csv"): String = {
    val target = store.path(name)
    panelFull().orderBy("date")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(target)
    target
  }

  /** S11: run-summary JSON sink (`logs/run_summary_{ts}.json`,
    * main_azure.py:214-234) — one JSON file per run under the store root. */
  def saveRunSummaryJson(summary: DataFrame, runStamp: String): String = {
    val target = store.path(s"logs/run_summary_$runStamp")
    summary.coalesce(1).write.mode("overwrite").json(target)
    target
  }
}
