package graft.sources.v2

import graft.sources.GridSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 connector for the EDB grid format:
  *
  * {{{
  *   spark.read.format("edb-grid")
  *     .option("dataLocation", "A6:K18")
  *     .load("fixtures/edb_auto_sales.csv")
  * }}}
  *
  * Produces the same shape as `GridSource.readGrid` — `__row_idx` (0-based
  * within the slice; row 0 is the fiscal-year header) plus string cells
  * `c0..cN` — but the parse runs in an EXECUTOR task via the Hadoop FS API,
  * so a directory of thousands of workbook extracts scans in parallel, one
  * file per input partition (`spark.read...load(dir)` with many files).
  * Column pruning is honored at the connector level (SupportsPushDownRequiredColumns).
  *
  * Semantics of the A1 slice mirror the reference's extract_data
  * (/root/reference/core_local/azure_common_scrapers.py:66-79).
  */
class EdbGridSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "edb-grid"

  private def location(options: CaseInsensitiveStringMap): String =
    Option(options.get("dataLocation")).getOrElse("A6:K18")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GridSource.schema(location(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // single-path loads arrive verbatim under `path`; vararg loads arrive
    // as a JSON-encoded string array under `paths` — split(",") on the
    // raw JSON would leave brackets/quotes glued to every element
    val paths = Option(opts.get("path")).toSeq ++
      Option(opts.get("paths")).toSeq.flatMap(EdbGridSource.parseJsonPaths)
    new GridTable(paths, location(opts), schema)
  }
}

object EdbGridSource {
  /** Decode Spark's JSON-encoded `paths` option (a string array). A real
    * JSON parse (Jackson ships with Spark) — string surgery on ',' would
    * shred any path legally containing a comma or an escaped quote. */
  private[v2] def parseJsonPaths(json: String): Seq[String] = {
    val t = json.trim
    if (!t.startsWith("[")) Seq(t)
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(t, classOf[Array[String]]).toSeq.filter(_.nonEmpty)
  }
}

private[v2] class GridTable(paths: Seq[String], dataLocation: String,
                            tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"edb-grid(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GridScanBuilder(paths, dataLocation, tableSchema)
}

private[v2] class GridScanBuilder(paths: Seq[String], dataLocation: String,
                                  full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new GridScan(paths, dataLocation, required)
}

private[v2] class GridScan(paths: Seq[String], dataLocation: String,
                           required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // expand directories driver-side at planning (the documented
    // "directory of thousands of extracts" mode): one partition per FILE,
    // hidden/marker entries skipped — handing a directory itself to the
    // reader would fs.open() a directory and fail
    val conf = new org.apache.hadoop.conf.Configuration()
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (fs.getFileStatus(hp).isDirectory)
        fs.listStatus(hp).toSeq.filter(_.isFile).map(_.getPath.toString)
          .filterNot { n =>
            val base = new Path(n).getName
            base.startsWith("_") || base.startsWith(".")
          }
      else Seq(p)
    }.map(p => GridPartition(p, dataLocation): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GridReaderFactory(required.fieldNames)
}

private[v2] case class GridPartition(path: String, dataLocation: String)
    extends InputPartition

private[v2] class GridReaderFactory(requiredCols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val gp = partition.asInstanceOf[GridPartition]
    new GridReader(gp.path, gp.dataLocation, requiredCols)
  }
}

/** Executor-side reader: stream the file through Hadoop FS, slice the A1
  * rectangle, emit one InternalRow per grid row (projected to the required
  * columns only). Grids are config-bounded (~13x11) so the whole slice fits
  * trivially in task memory. */
private[v2] class GridReader(path: String, dataLocation: String,
                             requiredCols: Array[String])
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val p = new Path(path)
    val in = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
    val grid = GridSource.slice(GridSource.csvRows(in), dataLocation)
    grid.zipWithIndex.iterator.map { case (cells, i) =>
      val byName: String => Any = {
        case "__row_idx" => i.toLong
        case col => UTF8String.fromString(cells(col.drop(1).toInt))
      }
      InternalRow.fromSeq(requiredCols.toSeq.map(byName))
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
