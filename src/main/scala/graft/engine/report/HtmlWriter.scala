package graft.engine.report

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Self-contained single-file HTML report (SURVEY.md §2.8 K3 analog).
  *
  * The reference's interactive surface is a Streamlit page rendering the
  * same frames the workbook ships (mongo_parser.py:146-192,
  * mysqlLogParser.py:147-195). A server is out of scope offline, so the
  * serve-less equivalent is one static HTML file: every sheet as a table
  * with a client-side nav, inline CSS, zero external fetches — open it
  * from disk and the whole report is there.
  *
  * DRIVER-SIDE BY DESIGN, the same capped collect as [[XlsxWriter]]; the
  * cap is stamped into the page, so truncation is never silent.
  */
object HtmlWriter {

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private val css =
    """body{font-family:sans-serif;margin:1.5em;color:#1a1a1a}
      |nav a{margin-right:1em}
      |table{border-collapse:collapse;margin:.5em 0 2em}
      |caption{text-align:left;font-weight:bold;padding:.3em 0}
      |th,td{border:1px solid #bbb;padding:.25em .6em;text-align:left}
      |th{background:#eee}
      |td.num{text-align:right;font-variant-numeric:tabular-nums}
      |p.trunc{color:#a00}
      |""".stripMargin

  private def isNum(v: Any): Boolean = v match {
    case _: Int | _: Long | _: Short | _: Byte | _: Float | _: Double |
        _: java.math.BigDecimal => true
    case _ => false
  }

  /** Render `sheets` = (name, header, rows, truncated?) to one page. */
  def renderRaw(title: String,
                sheets: Seq[(String, Seq[String], Seq[Seq[Any]], Boolean)])
      : String = {
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"/>")
    sb.append(s"<title>${esc(title)}</title><style>$css</style></head><body>")
    sb.append(s"<h1>${esc(title)}</h1><nav>")
    sheets.zipWithIndex.foreach { case ((name, _, _, _), i) =>
      sb.append(s"""<a href="#s$i">${esc(name)}</a>""")
    }
    sb.append("</nav>")
    sheets.zipWithIndex.foreach { case ((name, header, rows, truncated), i) =>
      sb.append(s"""<table id="s$i"><caption>${esc(name)} — ${rows.length} rows</caption>""")
      sb.append("<thead><tr>")
      header.foreach(h => sb.append(s"<th>${esc(h)}</th>"))
      sb.append("</tr></thead><tbody>")
      rows.foreach { cells =>
        sb.append("<tr>")
        cells.foreach { v =>
          val cls = if (isNum(v)) " class=\"num\"" else ""
          val txt = if (v == null) "" else esc(v.toString)
          sb.append(s"<td$cls>$txt</td>")
        }
        sb.append("</tr>")
      }
      sb.append("</tbody></table>")
      if (truncated)
        sb.append(s"""<p class="trunc">sheet truncated at ${rows.length} rows</p>""")
    }
    sb.append("</body></html>")
    sb.toString
  }

  /** Collect each sheet's DataFrame and write the page to `path`. */
  def write(path: String, title: String, sheets: Seq[(String, DataFrame)],
            maxRowsPerSheet: Int = 100000): Unit = {
    val collected = sheets.map { case (name, df) =>
      val (header, rows, cut) = ReportSink.collectCapped(df, maxRowsPerSheet)
      (name, header, rows, cut)
    }
    Files.write(Paths.get(path), renderRaw(title, collected).getBytes(UTF_8))
  }
}
