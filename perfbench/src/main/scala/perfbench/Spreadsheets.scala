package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal spreadsheet writers for the generated mail attachments: one
  * sheet, first row the header, every cell a string or a number. They
  * write only what the program's decoders read, from the published
  * layouts (ECMA-376 for XLSX; MS-CFB and MS-XLS BIFF8 for `.xls`).
  */
object Spreadsheets {

  private val Numeric = """-?\d+(\.\d+)?""".r

  /** XLSX: a zip of the workbook, its relationships and one worksheet
    * with inline-string and numeric cells.
    */
  def xlsx(rows: Seq[Seq[String]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    put("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$main" xmlns:r="$rel">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    val sb = new StringBuilder
    sb ++= s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$main"><sheetData>"""
    rows.zipWithIndex.foreach { case (row, r) =>
      sb ++= s"""<row r="${r + 1}">"""
      row.zipWithIndex.foreach { case (v, c) =>
        val ref = s"${colName(c)}${r + 1}"
        if (Numeric.matches(v)) sb ++= s"""<c r="$ref"><v>$v</v></c>"""
        else sb ++= s"""<c r="$ref" t="inlineStr"><is><t>${escape(v)}</t></is></c>"""
      }
      sb ++= "</row>"
    }
    sb ++= "</sheetData></worksheet>"
    put("xl/worksheets/sheet1.xml", sb.toString)
    z.close()
    bos.toByteArray
  }

  private def colName(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString else colName(c / 26 - 1) + ('A' + c % 26).toChar

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Little-endian byte sink. */
  private final class Le {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Le = { out.write(v & 0xFF); this }
    def u16(v: Int): Le = u8(v).u8(v >> 8)
    def i32(v: Int): Le = u16(v).u16(v >>> 16)
    def f64(v: Double): Le = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => u8((bits >>> (8 * i)).toInt)); this
    }
    def bytes(a: Array[Byte]): Le = { out.write(a); this }
    def size: Int = out.size()
    def result: Array[Byte] = out.toByteArray
  }

  private def record(id: Int, body: Le): Array[Byte] = {
    val b = body.result
    new Le().u16(id).u16(b.length).bytes(b).result
  }

  private def bof(kind: Int): Array[Byte] =
    record(0x0809, new Le().u16(0x0600).u16(kind).u16(0x0DBB).u16(0x07CC).i32(0).i32(0))

  private val Eof = record(0x000A, new Le())

  /** BIFF8 `.xls`: a workbook stream (globals with one BOUNDSHEET, then
    * the sheet's LABEL and NUMBER cells) inside a compound file.
    */
  def xls(rows: Seq[Seq[String]]): Array[Byte] = {
    val sheet = new Le().bytes(bof(0x0010))
    rows.zipWithIndex.foreach { case (row, r) =>
      row.zipWithIndex.foreach { case (v, c) =>
        if (Numeric.matches(v))
          sheet.bytes(record(0x0203, new Le().u16(r).u16(c).u16(0).f64(v.toDouble)))
        else {
          val latin = v.getBytes(StandardCharsets.ISO_8859_1)
          sheet.bytes(record(0x0204, new Le().u16(r).u16(c).u16(0).u16(latin.length).u8(0).bytes(latin)))
        }
      }
    }
    sheet.bytes(Eof)
    def globals(sheetPos: Int): Array[Byte] = {
      val name = "Sheet1".getBytes(StandardCharsets.ISO_8859_1)
      new Le().bytes(bof(0x0005))
        .bytes(record(0x0085, new Le().i32(sheetPos).u8(0).u8(0).u8(name.length).u8(0).bytes(name)))
        .bytes(Eof).result
    }
    val g = globals(globals(0).length)
    compoundFile(g ++ sheet.result)
  }

  private val FreeSect = 0xFFFFFFFF
  private val EndOfChain = 0xFFFFFFFE
  private val FatSect = 0xFFFFFFFD

  /** A version-3 compound file holding one stream named "Workbook":
    * sector 0 is the FAT, sector 1 the directory, the stream follows.
    * Streams are padded to the 4096-byte mini-stream cutoff so they
    * always live in regular sectors (trailing zeros after the sheet's
    * EOF record are never read).
    */
  private def compoundFile(stream0: Array[Byte]): Array[Byte] = {
    val stream = if (stream0.length >= 4096) stream0 else stream0 ++ new Array[Byte](4096 - stream0.length)
    val nData = (stream.length + 511) / 512
    require(nData <= 126, s"workbook stream too large for one FAT sector: ${stream.length} bytes")
    val header = new Le()
    header.bytes(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    header.bytes(new Array[Byte](16))
    header.u16(0x003E).u16(0x0003).u16(0xFFFE).u16(9).u16(6).bytes(new Array[Byte](6))
    header.i32(0).i32(1).i32(1).i32(0).i32(4096) // dir sectors, FAT sectors, first dir, txn, cutoff
    header.i32(EndOfChain).i32(0).i32(EndOfChain).i32(0) // no mini FAT, no DIFAT chain
    header.i32(0) // DIFAT[0]: FAT in sector 0
    (1 until 109).foreach(_ => header.i32(FreeSect))
    val fat = new Le()
    val entries = Array.fill(128)(FreeSect)
    entries(0) = FatSect
    entries(1) = EndOfChain
    (0 until nData).foreach(i => entries(2 + i) = if (i == nData - 1) EndOfChain else 3 + i)
    entries.foreach(fat.i32)
    def dirEntry(name: String, kind: Int, start: Int, size: Int, child: Int): Array[Byte] = {
      val e = new Le()
      name.foreach(ch => e.u16(ch.toInt))
      while (e.size < 64) e.u8(0)
      e.u16(if (name.isEmpty) 0 else (name.length + 1) * 2).u8(kind).u8(1)
      e.i32(FreeSect).i32(FreeSect).i32(child)
      e.bytes(new Array[Byte](36))
      e.i32(start).i32(size).i32(0)
      e.result
    }
    val dir = dirEntry("Root Entry", 5, EndOfChain, 0, child = 1) ++
      dirEntry("Workbook", 2, 2, stream.length, child = FreeSect) ++ new Array[Byte](256)
    val padded = stream ++ new Array[Byte](nData * 512 - stream.length)
    header.result ++ fat.result ++ dir ++ padded
  }
}
