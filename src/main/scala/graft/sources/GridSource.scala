package graft.sources

import graft.config.Registry
import graft.ops.{Coerce, FiscalDates, Reshape}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** EDB grid source: A1-range cell extraction + the monthly/quarterly
  * reshape-to-long pipelines.
  *
  * Reference semantics:
  *   - S2 cell-range slice (`A6:K18`): azure_common_scrapers.py:66-79 —
  *     `start_row = int(cell[1:]) - 1`, `start_col = ord(letter) - ord('A')`;
  *   - monthly process (T1/T2/F1/F4/F5/P1/P2/O1): :117-140;
  *   - quarterly process (T1/T2/F2/F4/P1/P2/O1): :210-237.
  *
  * The grid itself is parsed on the DRIVER (exactly where the reference
  * parses Excel bytes): grids are config-bounded to ~13x11 cells, so this is
  * schema work, not data work — the resulting DataFrame (with an explicit
  * `__row_idx` for positional header promotion) is where distribution
  * starts. Fixture files are headerless CSV or real `.xlsx` workbooks —
  * `readGrid` dispatches on extension and parses workbook bytes through
  * [[XlsxReader]] without touching anything downstream.
  */
object GridSource {

  /** Parse an A1-style rectangle like "A6:K18" into 0-based inclusive
    * (startRow, startCol, endRow, endCol). Single-letter columns only
    * (the reference's grids never exceed K). */
  def parseRange(a1: String): (Int, Int, Int, Int) = {
    val Array(a, b) = a1.split(":")
    def cell(s: String) = (s.tail.toInt - 1, s.head.toUpper - 'A')
    val (r1, c1) = cell(a); val (r2, c2) = cell(b)
    (r1, c1, r2, c2)
  }

  /** Read a headerless grid from disk (driver-side) and slice the
    * configured A1 rectangle; returns a DataFrame of string cells
    * c0..cN with a 0-based `__row_idx` (row 0 = first row of the slice,
    * i.e. the fiscal-year header row).
    *
    * Dispatches on extension: `.xlsx` goes through the real workbook-byte
    * parser ([[XlsxReader.readFirstSheet]] — the reference reads actual
    * Excel bytes, azure_common_scrapers.py:66-79); `.xls` through the
    * legacy BIFF8 parser ([[XlsReader.readFirstSheet]] — the reference's
    * 15 production EDB files are all `.XLS`, core_local/config.py:32-116);
    * anything else is the comma-separated fixture dialect. All yield the
    * same sliced grid. */
  def readGrid(spark: SparkSession, path: String, dataLocation: String): DataFrame = {
    val lower = path.toLowerCase
    val rows: Vector[Vector[String]] =
      if (lower.endsWith(".xlsx")) XlsxReader.readFirstSheet(path)
      else if (lower.endsWith(".xls")) XlsReader.readFirstSheet(path)
      else csvRows(new java.io.FileInputStream(path))
    val sliced = slice(rows, dataLocation).zipWithIndex.map { case (cells, i) =>
      Row.fromSeq(i.toLong +: cells)
    }
    // a local relation, not an RDD: the header collect and the plans over
    // a grid this small run on the driver without a Spark job
    spark.createDataFrame(sliced.asJava, schema(dataLocation))
  }

  /** A sliced grid's shape: `__row_idx` plus one string cell per column. */
  private[sources] def schema(dataLocation: String): StructType = {
    val (_, c1, _, c2) = parseRange(dataLocation)
    StructType(
      StructField(Reshape.RowIdxCol, LongType, nullable = false) +:
        (0 to (c2 - c1)).map(j => StructField(s"c$j", StringType, nullable = true)))
  }

  /** The rows of a headerless comma-separated grid (no quoting: the
    * fixture dialect), decoded as UTF-8 whatever the JVM's default
    * charset. Closes `in`. */
  private[sources] def csvRows(in: java.io.InputStream): Vector[Vector[String]] = {
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.split(",", -1).toVector).toVector finally src.close()
  }

  /** The A1 rectangle `dataLocation` of a grid: one row per grid row, one
    * cell per column, an empty or missing cell null. Both grid readers
    * (this object's and the V2 `edb-grid` connector's) slice through it. */
  private[sources] def slice(rows: Vector[Vector[String]], dataLocation: String): Vector[Vector[String]] = {
    val (r1, c1, r2, c2) = parseRange(dataLocation)
    rows.slice(r1, r2 + 1).map { cells =>
      (c1 to c2).map(j =>
        if (j < cells.length && cells(j) != null && cells(j).nonEmpty) cells(j)
        else null).toVector
    }
  }

  /** Monthly EDB pipeline: grid -> long (date, <valueColumn>), typed.
    * Mirrors azure_common_scrapers.py:117-140 exactly: header promotion,
    * melt, fiscal-date mapping (null-date rows dropped), numeric coercion
    * (null dropped), int rounding when configured, sort by date. */
  def processMonthly(grid: DataFrame, cfg: Registry.DatasetConfig): DataFrame =
    process(grid, cfg, "Month", FiscalDates.fiscalMonthlyDate)

  /** Quarterly EDB pipeline (azure_common_scrapers.py:210-237): same shape
    * with quarter labels and the quarter->first-of-next-month mapping. */
  def processQuarterly(grid: DataFrame, cfg: Registry.DatasetConfig): DataFrame =
    process(grid, cfg, "Quarter", FiscalDates.fiscalQuarterlyDate)

  private def process(grid: DataFrame, cfg: Registry.DatasetConfig,
                      label: String, date: (Column, Column) => Column): DataFrame = {
    val dated = Reshape.promoteHeaderAndMelt(grid, label)
      .withColumn("date", date(col(label), col("fiscal_year")))
      .na.drop(Seq("date"))
      .withColumn("v", Coerce.toDoubleOrNull(col("value")))
      .na.drop(Seq("v"))
    val typed = cfg.valueType match {
      case Registry.IntType => dated.withColumn("v", Coerce.roundToLong(col("v")))
      case Registry.FloatType => dated
    }
    typed.select(col("date"), col("v").as(cfg.valueColumn)).orderBy("date")
  }

  /** Canonicalize for storage (insert_data, azure_common_scrapers.py:268-289):
    * value column -> snake_case (IndividualLoans special case included),
    * date -> 'YYYY-MM-DD' string key. Returns (frame, snakeCasedValueCol). */
  def canonicalize(processed: DataFrame, cfg: Registry.DatasetConfig): (DataFrame, String) = {
    val snake = Registry.snakeCase(cfg.valueColumn)
    (processed.select(
      date_format(col("date"), "yyyy-MM-dd").as("date"),
      col(cfg.valueColumn).cast("double").as(snake)), snake)
  }
}
