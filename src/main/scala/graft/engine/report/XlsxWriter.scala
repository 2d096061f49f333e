package graft.engine.report

import java.io.{BufferedOutputStream, BufferedWriter, OutputStreamWriter,
  StringWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame

/** Zero-dependency OOXML workbook writer (SURVEY.md §2.8 K1/K2 fidelity).
  *
  * The reference ships a real multi-sheet .xlsx via pandas/openpyxl
  * (mongo_parser.py:134-143); the offline image has no Excel jar, but an
  * .xlsx is only a zip of five XML part types, so this assembles one with
  * `java.util.zip` directly: [Content_Types].xml, the package rels, the
  * workbook + its rels, and one worksheet part per sheet. Strings are
  * inline (`t="inlineStr"`), numbers native — no sharedStrings table
  * needed.
  *
  * DRIVER-SIDE BY DESIGN, exactly like the reference's pandas frames: a
  * workbook is a human artifact of collected rows; the distributed
  * artifacts remain [[ReportSink.writeSheets]]'s directories.
  * `maxRowsPerSheet` caps the collect ([[ReportSink.collectCapped]]) so
  * a huge sheet degrades to a truncated workbook, never a driver OOM;
  * a cut is printed as a warning, never silent. The workbook streams:
  * one sheet's rows are on the driver at a time, written into their zip
  * entry through one buffered UTF-8 writer, and the file appears under
  * its name only once every sheet is in it.
  */
object XlsxWriter {

  /** Append `s` XML-escaped: each run of characters that need no escape
    * goes in as one write; control characters other than tab, newline and
    * carriage return are dropped. */
  private def writeEscaped(out: Writer, s: String): Unit = {
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val rep = c match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case _ if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
        case _ => null
      }
      if (rep != null) {
        out.write(s, run, i - run)
        out.write(rep)
        run = i + 1
      }
      i += 1
    }
    out.write(s, run, s.length - run)
  }

  private def esc(s: String): String = {
    val out = new StringWriter(s.length)
    writeEscaped(out, s)
    out.toString
  }

  /** A1-style column letters (0-based). */
  private def colRef(i: Int): String = {
    var n = i; var s = ""
    while (n >= 0) { s = ('A' + n % 26).toChar + s; n = n / 26 - 1 }
    s
  }

  private def writeCell(out: Writer, ref: String, v: Any): Unit = v match {
    case null =>
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) =>
      out.write(s"""<c r="$ref"><v>$n</v></c>""")
    case d: java.math.BigDecimal => out.write(s"""<c r="$ref"><v>${d.toPlainString}</v></c>""")
    case b: Boolean => out.write(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
    case other =>
      out.write(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">""")
      writeEscaped(out, other.toString)
      out.write("</t></is></c>")
  }

  private def writeSheet(out: Writer, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    out.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    out.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    val refs = header.indices.map(colRef)
    (Iterator.single(header) ++ rows.iterator).zipWithIndex.foreach { case (cells, r) =>
      val row = r + 1
      out.write(s"""<row r="$row">""")
      cells.iterator.zipWithIndex.foreach { case (v, c) =>
        writeCell(out, s"${if (c < refs.length) refs(c) else colRef(c)}$row", v)
      }
      out.write("</row>")
    }
    out.write("</sheetData></worksheet>")
  }

  /** Write the workbook of sheets `names` to `path`: the four package
    * parts, then sheet i's part as `sheet(i)` produces its header and
    * rows, one sheet at a time. The zip is written to a temporary file
    * beside `path` and renamed onto it once complete, so a sheet that
    * fails leaves no workbook behind. */
  private def assemble(path: String, names: Seq[String])(
      sheet: Int => (Seq[String], Seq[Seq[Any]])): Unit = {
    val target = Paths.get(path).toAbsolutePath
    val tmp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      val zos = new ZipOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp)), UTF_8)
      val out = new BufferedWriter(new OutputStreamWriter(zos, UTF_8))
      def part(name: String)(content: => Unit): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        content
        out.flush()
        zos.closeEntry()
      }
      try {
        val n = names.length
        part("[Content_Types].xml")(out.write(
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
            """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
            """<Default Extension="xml" ContentType="application/xml"/>""" +
            """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
            (1 to n).map(i =>
              s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
              .mkString +
            """</Types>"""))
        part("_rels/.rels")(out.write(
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
            """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
            """</Relationships>"""))
        part("xl/workbook.xml")(out.write(
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
            names.zipWithIndex.map { case (name, i) =>
              s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
            }.mkString +
            """</sheets></workbook>"""))
        part("xl/_rels/workbook.xml.rels")(out.write(
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
            (1 to n).map(i =>
              s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
              .mkString +
            """</Relationships>"""))
        for (i <- names.indices) {
          val (header, rows) = sheet(i)
          part(s"xl/worksheets/sheet${i + 1}.xml")(writeSheet(out, header, rows))
        }
      } finally out.close()
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Assemble `path` (an .xlsx file) from (sheetName, header, rows). */
  def writeRaw(path: String,
               sheets: Seq[(String, Seq[String], Seq[Seq[Any]])]): Unit =
    assemble(path, sheets.map(_._1)) { i =>
      val (_, header, rows) = sheets(i)
      (header, rows)
    }

  /** Collect each sheet's DataFrame in turn and stream it into the
    * workbook; a sheet cut at the cap is named in a printed warning. */
  def write(path: String, sheets: Seq[(String, DataFrame)],
            maxRowsPerSheet: Int = 1000000): Unit =
    assemble(path, sheets.map(_._1)) { i =>
      val (name, df) = sheets(i)
      val (header, rows, cut) = ReportSink.collectCapped(df, maxRowsPerSheet)
      if (cut)
        println(s"Warning: sheet '$name' truncated at $maxRowsPerSheet rows " +
          s"in $path.")
      (header, rows)
    }
}
