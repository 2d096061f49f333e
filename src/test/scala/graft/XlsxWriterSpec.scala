package graft

import java.io.File
import java.nio.file.Files
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import graft.cli.Main
import graft.engine.report.{ReportSink, XlsxWriter}

object XlsxWriterSpec {

  /** The sheets of the golden workbook ([[GoldenDir]]): every escaped character, control
    * characters dropped and kept, multi-byte and surrogate-pair text, a
    * string longer than any write buffer, every cell type the writer
    * renders, a row wider than 26 columns and a header-only sheet. */
  val GoldenSheets: Seq[(String, Seq[String], Seq[Seq[Any]])] = Seq(
    ("Sheet & <One> \"q\"", Seq("text", "long", "double", "decimal", "flag", "int"), Seq(
      Seq[Any]("a&b<c>\"d\"", 7L, 2.5, new java.math.BigDecimal("12345678901234567890.000123"), true, 3),
      Seq[Any]("ctl\u0001bell\u0000nul\ttab\nnl\rcr\u001fend", -1L, 1.0e-10,
        new java.math.BigDecimal("-0.5"), false, null),
      Seq[Any]("é café 日本語 😀 \ud800x", null, Double.NaN, new java.math.BigDecimal("1E+3"), null, 0),
      Seq[Any](null, Long.MaxValue, -0.0, null, true, Int.MinValue),
      Seq[Any]("", 0L, 1.0e300, new java.math.BigDecimal("0"), false, 42),
      Seq[Any](2.5f, 3.toShort, 4.toByte, java.sql.Timestamp.valueOf("2023-10-25 10:00:00.5"),
        java.sql.Date.valueOf("2023-10-25"), Seq(1, 2)),
      Seq[Any]("ab&<é😀" * 1500, 1L, 0.1, null, null, null),
      (0 until 28).map(i => if (i % 2 == 0) s"c$i&" else i))),
    ("Second", Seq("only"), Seq(Seq[Any](true), Seq[Any]("x"))),
    ("Empty", Seq("a", "b"), Seq.empty))

  /** The golden workbook's parts, one file each, as its writer made them. */
  val GoldenDir = new File("src/test/resources/xlsx_golden")

  /** Every part of the .xlsx at `path`, by name. */
  def parts(path: String): Map[String, Array[Byte]] = {
    val zf = new ZipFile(path)
    try zf.entries().asScala.map(e => e.getName -> zf.getInputStream(e).readAllBytes()).toMap
    finally zf.close()
  }
}

/** K1/K2 workbook fidelity: the zero-dep OOXML assembler produces a valid
  * xlsx package (right parts, right sheet names, right cell payloads) and
  * the CLI's --xlsx flag lands it next to the per-sheet dirs.
  */
class XlsxWriterSpec extends SparkTestBase {

  private def readZip(path: String): Map[String, String] = {
    val zf = new ZipFile(path)
    try zf.entries().asScala.map { e =>
      e.getName -> new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }.toMap
    finally zf.close()
  }

  test("writeRaw assembles a well-formed package with typed cells") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    val path = new java.io.File(dir, "wb.xlsx").getAbsolutePath
    XlsxWriter.writeRaw(path, Seq(
      ("Sheet & One", Seq("name", "n"), Seq(
        Seq[Any]("a<b>", 7L),
        Seq[Any](null, 2.5))),
      ("Second", Seq("flag"), Seq(Seq[Any](true)))))

    val parts = readZip(path)
    assert(parts.keySet === Set("[Content_Types].xml", "_rels/.rels",
      "xl/workbook.xml", "xl/_rels/workbook.xml.rels",
      "xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml"))
    // sheet names escaped in the workbook part, in order
    val wb = parts("xl/workbook.xml")
    assert(wb.contains("""<sheet name="Sheet &amp; One" sheetId="1" r:id="rId1"/>"""))
    assert(wb.contains("""<sheet name="Second" sheetId="2" r:id="rId2"/>"""))
    val s1 = parts("xl/worksheets/sheet1.xml")
    // header row + escaped inline string + native number; null cell omitted
    assert(s1.contains("""<c r="A1" t="inlineStr"><is><t xml:space="preserve">name</t></is></c>"""))
    assert(s1.contains("a&lt;b&gt;"))
    assert(s1.contains("""<c r="B2"><v>7</v></c>"""))
    assert(s1.contains("""<row r="3"><c r="B3"><v>2.5</v></c></row>"""))
    assert(parts("xl/worksheets/sheet2.xml")
      .contains("""<c r="A2" t="b"><v>1</v></c>"""))
  }

  test("writeRaw writes every part byte for byte as the golden workbook") {
    val path = new File(Files.createTempDirectory("xlsxgolden").toFile, "wb.xlsx").getAbsolutePath
    XlsxWriter.writeRaw(path, XlsxWriterSpec.GoldenSheets)
    val got = XlsxWriterSpec.parts(path)
    assert(got.keySet === Set("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
      "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml", "xl/worksheets/sheet2.xml",
      "xl/worksheets/sheet3.xml"))
    // read from the source tree: the build leaves `_rels/.rels`, a hidden
    // file, off the test classpath
    for ((name, bytes) <- got)
      assert(bytes.sameElements(Files.readAllBytes(new File(XlsxWriterSpec.GoldenDir, name).toPath)), name)
  }

  test("write warns when it cuts a sheet at the row cap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xlsxcap").toFile
    val path = new java.io.File(dir, "wb.xlsx").getAbsolutePath
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      XlsxWriter.write(path, Seq("Long" -> Seq(1, 2, 3).toDF("n"),
        "AtCap" -> Seq(1, 2).toDF("n")), maxRowsPerSheet = 2)
    }
    assert(out.toString.linesIterator.toSeq ===
      Seq(s"Warning: sheet 'Long' truncated at 2 rows in $path."))
    val parts = readZip(path)
    // header + the first two rows; the at-cap sheet is whole
    for (sheet <- Seq("sheet1", "sheet2")) {
      val xml = parts(s"xl/worksheets/$sheet.xml")
      assert(xml.contains("""<row r="3">""") && !xml.contains("""<row r="4">"""), sheet)
    }
  }

  test("a sheet of lines shows its first rows in line order, whole or cut") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xlsxorder").toFile
    val path = new java.io.File(dir, "wb.xlsx").getAbsolutePath
    val sheet = Seq(5L, 3L, 1L, 4L, 2L).toDF("line_no").repartition(3)
    for ((cap, want) <- Seq(5 -> (1 to 5), 2 -> (1 to 2))) {
      Console.withOut(new java.io.ByteArrayOutputStream) {
        XlsxWriter.write(path, Seq("S" -> sheet), maxRowsPerSheet = cap)
      }
      val shown = """<c r="A\d+"><v>(\d+)</v>""".r
        .findAllMatchIn(readZip(path)("xl/worksheets/sheet1.xml")).map(_.group(1).toInt).toSeq
      assert(shown === want, s"cap $cap")
    }
  }

  test("mongo CLI --xlsx emits a workbook with the four reference sheets") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("clix").toFile
    val in = new java.io.File(dir, "mongod.log")
    java.nio.file.Files.writeString(in.toPath,
      """{"t":{"$date":"2023-10-25T10:00:00.000Z"},"s":"I","c":"COMMAND","id":1,"ctx":"c","msg":"Slow query","attr":{"ns":"db.users","command":{"find":"users","filter":{"a":1}},"durationMillis":9}}
        |""".stripMargin)
    val out = new java.io.File(dir, "report")
    Main.main(Array("--mode", "mongo", "--input", in.getAbsolutePath,
      "--output", out.getAbsolutePath, "--xlsx"))
    val wbPath = new java.io.File(out, "report.xlsx")
    assert(wbPath.isFile)
    val parts = readZip(wbPath.getAbsolutePath)
    val wb = parts("xl/workbook.xml")
    for (sheet <- ReportSink.MongoSheets)
      assert(wb.contains(s"""name="$sheet""""), sheet)
    // the slow query's split namespace lands in the Detailed Metrics part
    val s1 = parts("xl/worksheets/sheet1.xml")
    assert(s1.contains(">users<") && s1.contains("""<c r="E2"><v>9</v></c>"""))
  }
}
