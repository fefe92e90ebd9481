package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal pure-JVM .xlsx writer (java.util.zip, no external deps): the
  * smallest valid ECMA-376 SpreadsheetML package — content types, package
  * rels, workbook, one worksheet. Numeric-looking cells are written as raw
  * number cells, everything else as inline strings, so a grid round-trips
  * byte-identically through [[XlsxReader.readFirstSheet]].
  *
  * Used to generate the checked-in workbook fixtures (the reference ingests
  * real Excel bytes: core_local/azure_common_scrapers.py:66-79,
  * azure_nyu_scraper.py:86) and by tests that exercise the xlsx read path.
  */
object XlsxWriter {

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c   => c.toString
  }

  /** 0-based column index -> A1 column letters (0 -> A, 26 -> AA). */
  def colRef(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) {
      val r = (n - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  private val NumericCell = """-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?""".r

  /** Write `rows` (row-major; null or empty string = absent cell) as a
    * single-sheet workbook at `path`. */
  def write(path: String, rows: Seq[Seq[String]]): Unit = {
    val zip = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |</Types>""".stripMargin)
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
          |</workbook>""".stripMargin)
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)
      val sheet = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          "<sheetData>")
      rows.zipWithIndex.foreach { case (cells, i) =>
        val nonEmpty = cells.zipWithIndex.filter { case (v, _) => v != null && v.nonEmpty }
        if (nonEmpty.nonEmpty) {
          sheet.append(s"""<row r="${i + 1}">""")
          nonEmpty.foreach { case (v, j) =>
            val ref = s"${colRef(j)}${i + 1}"
            if (NumericCell.pattern.matcher(v).matches())
              sheet.append(s"""<c r="$ref"><v>$v</v></c>""")
            else
              sheet.append(
                s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>""")
          }
          sheet.append("</row>")
        }
      }
      sheet.append("</sheetData></worksheet>")
      entry("xl/worksheets/sheet1.xml", sheet.toString)
    } finally zip.close()
  }

  /** Convert a comma-separated grid file (no quoting — the fixture dialect)
    * to a workbook alongside it; returns the .xlsx path. */
  def fromCsv(csvPath: String, xlsxPath: String): String = {
    write(xlsxPath, GridSource.csvRows(new java.io.FileInputStream(csvPath)))
    xlsxPath
  }
}
