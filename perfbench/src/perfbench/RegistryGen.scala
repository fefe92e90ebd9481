package perfbench

import graft.config.Registry
import graft.sources.{XlsWriter, XlsxWriter}
import graft.tools.RegistryFixtures
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable

/** Seeded inputs for the 26-dataset registry: 15 BIFF8 `.xls` grids, 10 FRED
  * JSON bodies and one NYU `.xlsx` sheet, written with the repo's writers from
  * the RegistryFixtures value formulas. Cycle 0 holds months up to `StartMonth`;
  * each later cycle appends one month and revises a seeded set of existing
  * cells. A revision adds a whole unit (or 5 milli to an NYU rate), so it is
  * exact at every declared scale and well past the merge tolerance. The
  * generator keeps the cell state, so it knows every expected merge count,
  * stored value and revision record. */
final class RegistryGen(seed: Long) {
  import RegistryGen._

  private val rnd = new scala.util.Random(seed)
  private val bumps = mutable.Map.empty[(String, Int), Int].withDefaultValue(0)
  private var cycleNo = 0
  /** Newest month present in the files (months since 2014-01). */
  var month: Int = StartMonth
  /** Every revision so far: (table, data_date, field, old, new). */
  val revisions = mutable.ArrayBuffer.empty[(String, String, String, Double, Double)]

  // seeded pre-revised cells, so cycle 0 already differs between seeds
  for (_ <- 1 to 12) pickCell(month).foreach { case (key, _) => bumps(key) += 1 }

  def cycle: Int = cycleNo

  /** Months with a row in the store for this dataset, given the newest
    * file month `m`: FRED quarterly rows are quarter starts whose quarter
    * has ended, stored three months later. */
  def rowMonths(cfg: Registry.DatasetConfig, m: Int): Seq[Int] = cfg.kind match {
    case Registry.Fred if cfg.frequency == "q" => (0 to m - 2 by 3).map(_ + 3)
    case Registry.Fred | Registry.NyuStern => 0 to m
    case _ => EdbFirstMonth to m
  }

  private def k(cfg: Registry.DatasetConfig) = Registry.allConfigs.indexOf(cfg) + 1

  /** Source month of the value stored at row month `rm`. */
  private def srcMonth(cfg: Registry.DatasetConfig, rm: Int) =
    if (cfg.kind == Registry.Fred && cfg.frequency == "q") rm - 3 else rm

  def valueText(cfg: Registry.DatasetConfig, src: Int): String = {
    val kk = k(cfg)
    val base = RegistryFixtures.baseValue(kk, src) + bumps((cfg.tableName, src))
    cfg.valueType match {
      case Registry.IntType => base.toString
      case Registry.FloatType =>
        s"$base${RegistryFixtures.fracText(cfg, RegistryFixtures.quarterIdx(kk, src))}"
    }
  }

  def nyuText(f: Int, m: Int): String = {
    val milli = 3L * f + (m.toLong * (f + 2)) % 11 + 5L * bumps((Registry.nyuValueFields(f - 1), m))
    java.math.BigDecimal.valueOf(milli).movePointLeft(3).toPlainString
  }

  /** Stored value columns of a dataset. */
  def fields(cfg: Registry.DatasetConfig): Seq[String] =
    if (cfg.kind == Registry.NyuStern) Registry.nyuValueFields
    else Seq(Registry.snakeCase(cfg.valueColumn))

  /** Expected stored value of (dataset, row month, field). */
  def value(cfg: Registry.DatasetConfig, rm: Int, field: String): Double =
    if (cfg.kind == Registry.NyuStern)
      nyuText(Registry.nyuValueFields.indexOf(field) + 1, rm).toDouble
    else valueText(cfg, srcMonth(cfg, rm)).toDouble

  /** Every expected stored cell: (table, date) -> field -> value. */
  def storeState: Map[(String, String), Map[String, Double]] =
    Registry.allConfigs.flatMap { cfg =>
      rowMonths(cfg, month).map(rm =>
        (cfg.tableName, date(rm)) -> fields(cfg).map(f => f -> value(cfg, rm, f)).toMap)
    }.toMap

  /** One seeded existing cell: ((bump key), (table, row month, field)). */
  private def pickCell(newest: Int): Option[((String, Int), (Registry.DatasetConfig, Int, String))] = {
    val cfg = Registry.allConfigs(rnd.nextInt(Registry.allConfigs.size))
    val rows = rowMonths(cfg, newest)
    if (rows.isEmpty) None
    else {
      val rm = rows(rnd.nextInt(rows.size))
      if (cfg.kind == Registry.NyuStern) {
        val f = Registry.nyuValueFields(rnd.nextInt(3))
        Some(((f, rm), (cfg, rm, f)))
      } else Some(((cfg.tableName, srcMonth(cfg, rm)), (cfg, rm, fields(cfg).head)))
    }
  }

  /** Advance one cycle: append a month and revise `RevisedPerCycle` distinct
    * existing cells. Returns table -> expected (new rows, updated rows,
    * revisions) for the merge of the rewritten files. */
  def advance(): Map[String, (Long, Long, Long)] = {
    val prev = month
    val picked = Iterator.continually(pickCell(prev)).flatten
      .distinctBy(_._1).take(RevisedPerCycle).toList
    cycleNo += 1
    month = prev + 1
    picked.foreach { case (key, (cfg, rm, f)) =>
      val old = value(cfg, rm, f)
      bumps(key) += 1
      revisions += ((cfg.tableName, date(rm), f, old, value(cfg, rm, f)))
    }
    Registry.allConfigs.map { cfg =>
      val added = (rowMonths(cfg, month).toSet -- rowMonths(cfg, prev)).size.toLong
      val mine = picked.filter(_._2._1 == cfg)
      cfg.tableName -> ((added, mine.map(_._2._2).distinct.size.toLong, mine.size.toLong))
    }.toMap
  }

  /** Write the 26 files of the current state; returns dataset name -> path. */
  def write(dir: String): Map[String, String] = {
    Files.createDirectories(Paths.get(dir))
    Registry.allConfigs.map { cfg =>
      val path = cfg.kind match {
        case Registry.Fred =>
          val srcs = if (cfg.frequency == "q") 0 to month - 2 by 3 else 0 to month
          val obs = srcs.map(m => s"""{"date": "${date(m)}", "value": "${valueText(cfg, m)}"}""")
          val p = s"$dir/fred_${cfg.name}.json"
          Files.write(Paths.get(p), s"""{"observations": [${obs.mkString(", ")}]}"""
            .getBytes(StandardCharsets.UTF_8))
          p
        case Registry.NyuStern =>
          val header = Vector("Start of month", "T.Bond Rate", "ERP (T12m)", "Expected Return")
          val body = (0 to month).map(m => date(m) +: (1 to 3).map(f => nyuText(f, m)).toVector)
          val p = s"$dir/nyu_erp_full.xlsx"
          XlsxWriter.write(p, header +: body)
          p
        case _ =>
          // fiscal-year grid: a header row of FY2016..FY2025, then July..June;
          // months after the newest one are blank cells
          val header: Vector[String] = null +: FiscalYears.map(_.toString).toVector
          val body = FiscalMonths.map { case (name, mn) =>
            name +: FiscalYears.map { fy =>
              val m = ((if (mn >= 7) fy - 1 else fy) - 2014) * 12 + (mn - 1)
              if (m <= month) valueText(cfg, m) else ""
            }.toVector
          }
          val filler = Vector(Vector("SYNTHETIC REGISTRY INPUT"), Vector(cfg.fileName),
            Vector.empty[String], Vector.empty[String], Vector.empty[String])
          val p = s"$dir/edb_${cfg.name}.xls"
          XlsWriter.write(p, filler ++ (header +: body))
          p
      }
      cfg.name -> path
    }.toMap
  }
}

object RegistryGen {
  private val Epoch = LocalDate.of(2014, 1, 1)
  def date(m: Int): String = Epoch.plusMonths(m.toLong).toString

  /** 2022-06: leaves 36 appendable months inside the FY2016..FY2025 grids. */
  val StartMonth = 101
  /** 2015-07, the first month of FY2016, the grids' first column. */
  val EdbFirstMonth = 18
  val RevisedPerCycle = 8

  private val FiscalMonths = Seq(
    "July" -> 7, "August" -> 8, "September" -> 9, "October" -> 10,
    "November" -> 11, "December" -> 12, "January" -> 1, "February" -> 2,
    "March" -> 3, "April" -> 4, "May" -> 5, "June" -> 6)
  private val FiscalYears = 2016 to 2025
}
