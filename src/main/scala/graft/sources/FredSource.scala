package graft.sources

import graft.config.Registry
import graft.ops.{Coerce, FiscalDates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FRED observations source (fixture-backed).
  *
  * The reference GETs `/fred/series/observations` with `file_type=json`,
  * `sort_order=desc`, `limit=1000`, `observation_start=2014-01-01` and lets
  * the SERVER resample via `frequency='m'|'q'`
  * (azure_fred_scraper.py:62-128). Fixtures replicate the raw response body
  * (`{"observations": [{"date": ..., "value": ...}, ...]}`) so the read path
  * is a genuine `spark.read.json` + explode; resampling is done IN-ENGINE
  * (Analytics/groupBy) instead of delegated, per SURVEY.md §2.6.
  *
  * Post-processing mirrors fetch_fred_data + process_data
  * (azure_fred_scraper.py:106-156): "." sentinel -> null -> drop, numeric
  * coercion, observation_start filter, newest-1000 cap, quarterly date
  * shift (F3), int rounding if configured.
  */
object FredSource {

  /** The part of a response body the pipeline reads. Declared, so a read
    * runs no schema-inference job over the file. */
  private val Schema = "observations array<struct<date:string,value:string>>"

  /** Raw fixture read: one JSON document with an `observations` array. */
  def readObservations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schema).option("multiLine", true).json(path)
      // a body without the array (an API error object, an HTML page) fails
      // the dataset rather than reading as an empty series
      .select(explode(when(col("observations").isNull,
        raise_error(lit(s"$path: no FRED observations array")))
        .otherwise(col("observations"))).as("o"))
      .select(col("o.date").as("date_s"), col("o.value").as("value_s"))

  /** Full FRED pipeline: raw observations -> (date, <valueColumn>). */
  def process(raw: DataFrame, cfg: Registry.DatasetConfig,
              observationStart: String = Registry.FredStartDate,
              limit: Int = 1000): DataFrame = {
    val parsed = raw
      .withColumn("date", to_date(col("date_s")))
      .withColumn("v", Coerce.fredValue(col("value_s")))
      .na.drop(Seq("date", "v"))
      .filter(col("date") >= lit(observationStart))
      // the API returns the NEWEST `limit` observations (sort_order=desc)
      .orderBy(col("date").desc).limit(limit)
    val shifted =
      if (cfg.frequency == "q")
        parsed.withColumn("date", FiscalDates.quarterEndShift(col("date")))
      else parsed
    val typed = cfg.valueType match {
      case Registry.IntType => shifted.withColumn("v", Coerce.roundToLong(col("v")))
      case Registry.FloatType => shifted
    }
    typed.select(col("date"), col("v").as(cfg.valueColumn)).orderBy("date")
  }

  /** Storage canonicalization (azure_fred_scraper.py:190-223). */
  def canonicalize(processed: DataFrame, cfg: Registry.DatasetConfig): (DataFrame, String) =
    GridSource.canonicalize(processed, cfg)
}
