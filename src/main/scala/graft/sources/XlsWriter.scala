package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Minimal pure-JVM legacy `.XLS` (BIFF8) writer — the fixture-generation
  * twin of [[XlsReader]], emitting a spec-shaped [MS-CFB] container around
  * a [MS-XLS] `Workbook` stream.
  *
  * Exists because the reference's 15 production EDB workbooks are legacy
  * `.XLS` files (core_local/config.py:32-116) and the zero-egress sandbox
  * has no other way to produce real BIFF bytes to ingest. The writer
  * deliberately diversifies the record set so fixtures exercise the
  * reader's real decode paths, not one happy path:
  *
  *   - numbers: RK (integer, integer/100, and truncated-double encodings)
  *     when encodable, NUMBER otherwise; runs of >=2 consecutive RK cells
  *     in a row collapse to MULRK;
  *   - strings: SST + LABELSST (the BIFF8 norm), UTF-16 and compressed
  *     8-bit forms, with CONTINUE splits (mid-string, flags byte repeated)
  *     once the SST payload exceeds the 8224-byte record cap;
  *   - container: mini-stream (mini-FAT, 64-byte sectors) for workbooks
  *     under the 4096-byte cutoff, regular FAT chains above it.
  */
object XlsWriter {

  private final val MaxRecData = 8224 // BIFF8 record payload cap
  private final val EndOfChain = 0xFFFFFFFE
  private final val FreeSect   = 0xFFFFFFFF
  private final val FatSect    = 0xFFFFFFFD

  private val NumericCell = """-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?""".r

  // --------------------------------------------------------- BIFF encoding

  private final class Rec(val buf: mutable.ArrayBuilder.ofByte = new mutable.ArrayBuilder.ofByte) {
    def u8(v: Int): Rec = { buf += v.toByte; this }
    def u16(v: Int): Rec = { buf += v.toByte; buf += (v >> 8).toByte; this }
    def u32(v: Int): Rec = { u16(v & 0xFFFF); u16((v >>> 16) & 0xFFFF); this }
    def f64(v: Double): Rec = {
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { buf += (bits >>> (8 * i)).toByte; i += 1 }
      this
    }
    def bytes(b: Array[Byte]): Rec = { buf ++= b; this }
    def result(): Array[Byte] = buf.result()
  }

  private def record(op: Int, data: Array[Byte]): Array[Byte] =
    new Rec().u16(op).u16(data.length).bytes(data).result()

  /** RK-encode a cell if one of the three RK forms is exact; None -> the
    * writer falls back to a NUMBER record. */
  private[sources] def rkEncode(text: String): Option[Int] = {
    def fitsInt30(v: Long): Boolean = v >= -(1L << 29) && v < (1L << 29)
    val asLong = try Some(text.toLong) catch { case _: NumberFormatException => None }
    asLong match {
      case Some(v) if fitsInt30(v) => Some(((v << 2) | 2).toInt)
      case _ =>
        val d = try text.toDouble catch { case _: NumberFormatException => return None }
        val scaled = try Some(new java.math.BigDecimal(text).movePointRight(2).longValueExact())
        catch { case _: ArithmeticException | _: NumberFormatException => None }
        scaled match {
          case Some(c) if fitsInt30(c) => Some(((c << 2) | 3).toInt)
          case _ =>
            val bits = java.lang.Double.doubleToLongBits(d)
            if ((bits & 0x00000003FFFFFFFFL) == 0L) Some(((bits >>> 32) & 0xFFFFFFFCL).toInt)
            else None
        }
    }
  }

  /** Per-cell encoding decision, computed ONCE per cell (the SST pass and
    * the row encoder share it — regex + BigDecimal parsing per cell is not
    * free over 15 workbooks). A cell is RK/NUMBER-encoded only when the
    * reader's decode reproduces the text EXACTLY; anything else — "0.50",
    * "2016.0", "007", scientific notation the plain form can't echo —
    * stays text via LABELSST, so a grid-to-xls conversion is a faithful
    * text round-trip, never a silent "0.50" -> "0.5" rewrite. */
  private sealed trait CellEnc
  private final case class RkCell(rk: Int) extends CellEnc
  private final case class NumCell(d: Double) extends CellEnc
  private final case class LabelCell(s: String) extends CellEnc

  private def encodeCell(v: String): CellEnc =
    if (!NumericCell.pattern.matcher(v).matches()) LabelCell(v)
    else rkEncode(v) match {
      case Some(rk) =>
        if (XlsReader.rkText(rk) == v) RkCell(rk) else LabelCell(v)
      case None =>
        val roundTrips =
          try XlsReader.numText(v.toDouble) == v
          catch { case _: NumberFormatException => false }
        if (roundTrips) NumCell(v.toDouble) else LabelCell(v)
    }

  /** XLUnicodeRichExtendedString body (no rich/ext data): cch, flags,
    * chars — compressed 8-bit when the text is pure Latin-1, UTF-16LE
    * otherwise, so the reader sees both forms in practice. */
  private def unicodeStringBytes(s: String): Array[Byte] = {
    val compressible = s.forall(_ < 0x100)
    val r = new Rec().u16(s.length)
    if (compressible) r.u8(0x00).bytes(s.getBytes(StandardCharsets.ISO_8859_1))
    else r.u8(0x01).bytes(s.getBytes(StandardCharsets.UTF_16LE))
    r.result()
  }

  /** SST + CONTINUE records. Splits mid-string when a string body crosses
    * the record cap (repeating the flags byte, per [MS-XLS] 2.5.293);
    * a split landing exactly between strings starts the CONTINUE at the
    * next cch with no flags byte — both shapes occur in real files. */
  private def sstRecords(strings: IndexedSeq[String], totalRefs: Int): Array[Byte] = {
    val out = new mutable.ArrayBuilder.ofByte
    val head = new Rec().u32(totalRefs).u32(strings.length).result()
    var cur = new mutable.ArrayBuilder.ofByte
    var curLen = head.length
    cur ++= head
    var first = true
    def flush(): Unit = {
      val data = cur.result()
      out ++= record(if (first) 0x00FC else 0x003C, data)
      first = false
      cur = new mutable.ArrayBuilder.ofByte
      curLen = 0
    }
    strings.foreach { s =>
      val body = unicodeStringBytes(s)
      if (curLen + body.length <= MaxRecData) { cur ++= body; curLen += body.length }
      else {
        // split mid-characters, REPEATEDLY if the remainder still exceeds
        // a record (a single string body can span several CONTINUEs): the
        // first chunk carries the 3-byte cch+flags header, every continued
        // chunk reopens with the repeated flags byte, and EVERY chunk must
        // fit under the cap ([MS-XLS] 2.5.293) or Excel rejects the file.
        val wide = body(2) == 0x01
        val charBytes = if (wide) 2 else 1
        var pos = 0 // bytes of `body` emitted so far (0 = header pending)
        while (pos == 0 || pos < body.length) {
          val head = if (pos == 0) 3 else 1
          if (MaxRecData - curLen < head + charBytes) flush()
          val nFit = math.min((MaxRecData - curLen - head) / charBytes,
            (body.length - math.max(pos, 3)) / charBytes)
          if (pos == 0) {
            cur ++= java.util.Arrays.copyOfRange(body, 0, 3 + nFit * charBytes)
            curLen += 3 + nFit * charBytes
            pos = 3 + nFit * charBytes
          } else {
            cur += body(2) // repeated flags byte opens the continued chars
            cur ++= java.util.Arrays.copyOfRange(body, pos, pos + nFit * charBytes)
            curLen += 1 + nFit * charBytes
            pos += nFit * charBytes
          }
        }
      }
    }
    flush()
    out.result()
  }

  // --------------------------------------------------------- sheet records

  /** Write `rows` (row-major; null or empty string = absent cell) as a
    * single-sheet BIFF8 workbook at `path`. */
  def write(path: String, rows: Seq[Seq[String]]): Unit = {
    // one encoding decision per present cell, shared by both passes below
    val encodedRows: Seq[Seq[(Int, CellEnc)]] = rows.map(_.zipWithIndex.collect {
      case (v, c) if v != null && v.nonEmpty => c -> encodeCell(v)
    })
    // SST: unique strings in first-appearance order
    val sstIndex = mutable.LinkedHashMap.empty[String, Int]
    var totalRefs = 0
    encodedRows.foreach(_.foreach {
      case (_, LabelCell(v)) =>
        totalRefs += 1
        sstIndex.getOrElseUpdate(v, sstIndex.size)
      case _ => ()
    })

    val sheet = new mutable.ArrayBuilder.ofByte
    // BOF (worksheet): vers, dt=0x0010, rupBuild, rupYear, bfh, sfo
    sheet ++= record(0x0809,
      new Rec().u16(0x0600).u16(0x0010).u16(0x0DBB).u16(0x07CC).u32(0xC1).u32(0x06).result())
    val nRows = rows.length
    val nCols = if (rows.isEmpty) 0 else rows.map(_.length).max
    sheet ++= record(0x0200, // DIMENSIONS
      new Rec().u32(0).u32(nRows).u16(0).u16(nCols).u16(0).result())

    encodedRows.zipWithIndex.foreach { case (encoded, r) =>
      var i = 0
      while (i < encoded.length) {
        encoded(i) match {
          case (c, RkCell(rk)) =>
            // collect the run of consecutive-column RK cells
            var j = i
            while (j + 1 < encoded.length &&
              encoded(j + 1)._2.isInstanceOf[RkCell] &&
              encoded(j + 1)._1 == encoded(j)._1 + 1) j += 1
            if (j > i) {
              val rec = new Rec().u16(r).u16(c)
              (i to j).foreach { k =>
                rec.u16(0x000F).u32(encoded(k)._2.asInstanceOf[RkCell].rk)
              }
              rec.u16(encoded(j)._1)
              sheet ++= record(0x00BD, rec.result()) // MULRK
              i = j + 1
            } else {
              sheet ++= record(0x027E, new Rec().u16(r).u16(c).u16(0x000F).u32(rk).result())
              i += 1
            }
          case (c, NumCell(d)) =>
            sheet ++= record(0x0203, // NUMBER: not RK-exact
              new Rec().u16(r).u16(c).u16(0x000F).f64(d).result())
            i += 1
          case (c, LabelCell(v)) =>
            sheet ++= record(0x00FD, // LABELSST
              new Rec().u16(r).u16(c).u16(0x000F).u32(sstIndex(v)).result())
            i += 1
        }
      }
    }
    sheet ++= record(0x000A, Array.emptyByteArray) // EOF
    val sheetBytes = sheet.result()

    // globals substream; BOUNDSHEET's lbPlyPos is patched once sized
    def globals(plyPos: Int): Array[Byte] = {
      val g = new mutable.ArrayBuilder.ofByte
      g ++= record(0x0809, // BOF (workbook globals, dt=0x0005)
        new Rec().u16(0x0600).u16(0x0005).u16(0x0DBB).u16(0x07CC).u32(0xC1).u32(0x06).result())
      g ++= record(0x0042, new Rec().u16(0x04B0).result()) // CODEPAGE: UTF-16
      g ++= record(0x003D, // WINDOW1 (cosmetic defaults)
        new Rec().u16(0x0168).u16(0x010E).u16(0x3A5C).u16(0x23BE)
          .u16(0x0038).u16(0).u16(0).u16(1).u16(0x0258).result())
      val name = "Sheet1".getBytes(StandardCharsets.ISO_8859_1)
      g ++= record(0x0085, // BOUNDSHEET
        new Rec().u32(plyPos).u16(0x0000).u8(name.length).u8(0x00).bytes(name).result())
      if (sstIndex.nonEmpty)
        g ++= sstRecords(sstIndex.keys.toIndexedSeq, totalRefs)
      g ++= record(0x000A, Array.emptyByteArray) // EOF
      g.result()
    }
    val globalsLen = globals(0).length // BOUNDSHEET is fixed-size: length is stable
    val stream = globals(globalsLen) ++ sheetBytes

    Files.write(Paths.get(path), cfbContainer("Workbook", stream))
  }

  // ----------------------------------------------------------- CFB writing

  /** Wrap one stream in a v3 (512-byte-sector) compound file. Streams
    * under the 4096-byte cutoff go through the mini-stream (mini-FAT,
    * 64-byte sectors inside the root's storage); larger ones chain
    * directly in the FAT. */
  private[sources] def cfbContainer(streamName: String, data: Array[Byte]): Array[Byte] = {
    val sectorSize = 512
    def sectorsFor(n: Int, unit: Int) = (n + unit - 1) / unit
    val mini = data.length < 4096

    // payload sectors after [FAT...][dir][miniFAT?]
    val miniDataSectors = if (mini) sectorsFor(data.length, 64) else 0
    val miniStreamBytes = miniDataSectors * 64
    val payloadSectors =
      if (mini) sectorsFor(miniStreamBytes, sectorSize) else sectorsFor(data.length, sectorSize)
    val miniFatSectors = if (mini) sectorsFor(miniDataSectors * 4, sectorSize) else 0
    val dirSectors = 1 // 4 entries
    // FAT self-hosting fixpoint: FAT sectors are themselves FAT-mapped
    var fatSectors = 1
    var stable = false
    while (!stable) {
      val total = fatSectors + dirSectors + miniFatSectors + payloadSectors
      val need = sectorsFor(total * 4, sectorSize)
      if (need == fatSectors) stable = true else fatSectors = need
    }
    require(fatSectors <= 109, s"stream too large for header DIFAT: $fatSectors FAT sectors")

    val dirStart = fatSectors
    val miniFatStart = dirStart + dirSectors
    val payloadStart = miniFatStart + miniFatSectors
    val totalSectors = payloadStart + payloadSectors

    val fat = Array.fill(fatSectors * (sectorSize / 4))(FreeSect)
    (0 until fatSectors).foreach(fat(_) = FatSect)
    fat(dirStart) = EndOfChain
    (miniFatStart until miniFatStart + miniFatSectors).foreach(s =>
      fat(s) = if (s == miniFatStart + miniFatSectors - 1) EndOfChain else s + 1)
    (payloadStart until payloadStart + payloadSectors).foreach(s =>
      fat(s) = if (s == payloadStart + payloadSectors - 1) EndOfChain else s + 1)

    val out = ByteBuffer.allocate(sectorSize * (totalSectors + 1)).order(ByteOrder.LITTLE_ENDIAN)
    // ---- header (sector -1)
    out.putLong(0xE11AB1A1E011CFD0L)
    out.put(new Array[Byte](16)) // CLSID
    out.putShort(0x003E.toShort); out.putShort(0x0003.toShort) // minor/major
    out.putShort(0xFFFE.toShort) // little-endian marker
    out.putShort(9.toShort); out.putShort(6.toShort) // sector/mini shifts
    out.put(new Array[Byte](6)) // reserved
    out.putInt(0) // num dir sectors (v3: 0)
    out.putInt(fatSectors)
    out.putInt(dirStart)
    out.putInt(0) // transaction signature
    out.putInt(4096) // mini-stream cutoff
    out.putInt(if (mini) miniFatStart else EndOfChain)
    out.putInt(miniFatSectors)
    out.putInt(EndOfChain) // first DIFAT sector (none beyond header)
    out.putInt(0) // num DIFAT sectors
    (0 until 109).foreach(i => out.putInt(if (i < fatSectors) i else FreeSect))

    // ---- FAT sectors
    fat.foreach(out.putInt)

    // ---- directory sector: Root Entry, stream, two free entries
    def dirEntry(name: String, objType: Int, color: Int, child: Int,
                 start: Int, size: Long): Unit = {
      val base = out.position()
      val utf16 = name.getBytes(StandardCharsets.UTF_16LE)
      out.put(utf16)
      out.put(new Array[Byte](64 - utf16.length))
      out.putShort(if (name.isEmpty) 0 else (utf16.length + 2).toShort)
      out.put(objType.toByte).put(color.toByte)
      out.putInt(FreeSect).putInt(FreeSect).putInt(child) // siblings, child
      out.put(new Array[Byte](16 + 4 + 16)) // CLSID, state, times
      out.putInt(start)
      out.putLong(size)
      assert(out.position() - base == 128)
    }
    dirEntry("Root Entry", 5, 1, 1,
      if (mini) payloadStart else EndOfChain,
      if (mini) miniStreamBytes.toLong else 0L)
    dirEntry(streamName, 2, 1, FreeSect,
      if (mini) 0 else payloadStart, data.length.toLong)
    dirEntry("", 0, 0, FreeSect, FreeSect, 0L)
    dirEntry("", 0, 0, FreeSect, FreeSect, 0L)

    // ---- mini-FAT sectors (chain of the stream's 64-byte mini sectors)
    if (mini) {
      (0 until miniFatSectors * (sectorSize / 4)).foreach { i =>
        out.putInt(
          if (i < miniDataSectors - 1) i + 1
          else if (i == miniDataSectors - 1) EndOfChain
          else FreeSect)
      }
    }

    // ---- payload
    out.put(data)
    out.put(new Array[Byte](out.capacity() - out.position()))
    out.array()
  }

  /** Convert a comma-separated grid file (the fixture dialect) to a legacy
    * workbook alongside it; returns the .xls path. */
  def fromCsv(csvPath: String, xlsPath: String): String = {
    write(xlsPath, GridSource.csvRows(new java.io.FileInputStream(csvPath)))
    xlsPath
  }
}
