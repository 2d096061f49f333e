package graft.engine.report

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
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
  * a cut is printed as a warning, never silent.
  */
object XlsxWriter {

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }

  /** A1-style column letters (0-based). */
  private def colRef(i: Int): String = {
    var n = i; var s = ""
    while (n >= 0) { s = ('A' + n % 26).toChar + s; n = n / 26 - 1 }
    s
  }

  private def cellXml(ref: String, v: Any): String = v match {
    case null => ""
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case d: java.math.BigDecimal => s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
    case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case other =>
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(other.toString)}</t></is></c>"""
  }

  private def sheetXml(header: Seq[String], rows: Seq[Seq[Any]]): String = {
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    val all = header.map(h => h: Any) +: rows
    all.zipWithIndex.foreach { case (cells, r) =>
      sb.append(s"""<row r="${r + 1}">""")
      cells.zipWithIndex.foreach { case (v, c) =>
        sb.append(cellXml(s"${colRef(c)}${r + 1}", v))
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  /** Assemble `path` (an .xlsx file) from (sheetName, header, rows). */
  def writeRaw(path: String,
               sheets: Seq[(String, Seq[String], Seq[Seq[Any]])]): Unit = {
    val zos = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)), UTF_8)
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    try {
      val n = sheets.length
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
            .mkString +
          """</Types>""")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>""")
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _, _), i) =>
            s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString +
          """</sheets></workbook>""")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
            .mkString +
          """</Relationships>""")
      sheets.zipWithIndex.foreach { case ((_, header, rows), i) =>
        part(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(header, rows))
      }
    } finally zos.close()
  }

  /** Collect each sheet's DataFrame and assemble the workbook; a sheet
    * cut at the cap is named in a printed warning. */
  def write(path: String, sheets: Seq[(String, DataFrame)],
            maxRowsPerSheet: Int = 1000000): Unit =
    writeRaw(path, sheets.map { case (name, df) =>
      val (header, rows, cut) = ReportSink.collectCapped(df, maxRowsPerSheet)
      if (cut)
        println(s"Warning: sheet '$name' truncated at $maxRowsPerSheet rows " +
          s"in $path.")
      (name, header, rows)
    })
}
