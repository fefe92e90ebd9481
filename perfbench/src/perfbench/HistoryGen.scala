package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Seeded long daily series for the partitioned merge path: `BaseYears` years
  * of date-keyed values (one year partition each), then batches that mix new
  * recent dates, revisions spread over a seeded number of old years, and
  * unchanged resends, in seeded row order. Values are multiples of 0.25, so
  * sums and compares are exact in double. */
final class HistoryGen(seed: Long) {
  import HistoryGen._

  private val rnd = new scala.util.Random(seed ^ 0x5deece66dL)
  /** Current value of every date, by day index from FirstDay. */
  val values: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.tabulate(BaseDays)(baseValue)
  /** Every revision so far: (data_date, old, new, batch number). */
  val revisions = mutable.ArrayBuffer.empty[(String, Double, Double, Int)]
  private var batchNo = 0

  private def baseValue(d: Int): Double = ((d.toLong * 7919L + seed) % 400000L) / 4.0

  def days: Int = values.size
  def total: Double = values.sum

  /** One batch: rows (date, value) and the expected (new, updated, revisions). */
  def nextBatch(): (Seq[(String, Double)], (Long, Long, Long)) = {
    batchNo += 1
    val years = 2 + rnd.nextInt(MaxRevisedYears - 1)
    val yearIdx = rnd.shuffle((0 until BaseYears - 1).toList).take(years)
    val revised = Iterator.continually {
      val y = yearIdx(rnd.nextInt(years))
      dayOf(FirstYear + y) + rnd.nextInt(365)
    }.distinct.take(RevisedPerBatch).toList
    val revisedSet = revised.toSet
    val resent = Iterator.continually(rnd.nextInt(days)).filterNot(revisedSet)
      .distinct.take(ResentPerBatch).toList
    val fresh = (days until days + NewPerBatch).toList
    val rows = mutable.ArrayBuffer.empty[(String, Double)]
    revised.foreach { d =>
      val old = values(d)
      val nv = old + 1 + rnd.nextInt(40) * 0.25
      values(d) = nv
      revisions += ((date(d), old, nv, batchNo))
      rows += ((date(d), nv))
    }
    resent.foreach(d => rows += ((date(d), values(d))))
    fresh.foreach { d =>
      values += baseValue(d)
      rows += ((date(d), values(d)))
    }
    (rnd.shuffle(rows.toList), (NewPerBatch.toLong, revised.size.toLong, revised.size.toLong))
  }

  def baseRows: Seq[(String, Double)] = (0 until BaseDays).map(d => (date(d), baseValue(d)))
}

object HistoryGen {
  val FirstYear = 2004
  val BaseYears = 20 // 2004..2023, one partition per year
  private val First = LocalDate.of(FirstYear, 1, 1)
  val BaseDays: Int = dayOf(FirstYear + BaseYears)
  val NewPerBatch = 60
  val RevisedPerBatch = 240
  val ResentPerBatch = 600
  val MaxRevisedYears = 8
  val Table = "history"

  /** Write one batch as the single parquet file `dst`, via Spark's writer
    * into the temporary directory `tmp`. */
  def writeBatch(spark: SparkSession, rows: Seq[(String, Double)], tmp: String, dst: Path): Unit = {
    import spark.implicits._
    rows.toDF("date", "value").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dst)
  }

  def dayOf(year: Int): Int =
    java.time.temporal.ChronoUnit.DAYS.between(First, LocalDate.of(year, 1, 1)).toInt
  def date(d: Int): String = First.plusDays(d.toLong).toString
}
