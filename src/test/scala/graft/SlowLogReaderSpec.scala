package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.ingest.Sources
import graft.engine.mysql.MySqlLogPipeline

/** `Sources.readDelimited` against its spec: for any slow-log directory it
  * gives the rows of `entriesFromFiles(readWholeFile(dir))` — the
  * reference's `content.split('# Time: ')`, element 0 dropped, entries
  * numbered per file (mysqlLogParser.py:44-53) — row for row. Generated
  * logs put the marker at a file's start, mid-line, twice in a row and as
  * a file's last bytes, next to multi-byte UTF-8 and to near-misses of
  * the marker, with and without a preamble and a trailing newline, and
  * mix in empty files and files with no marker. Raw ScalaCheck generators
  * with fixed seeds, as in PropertiesSpec.
  */
class SlowLogReaderSpec extends SparkTestBase {

  private val Marker = Sources.EntryMarker

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0x5EEDL + i)))

  private val entry: Gen[String] = for {
    s <- Gen.choose(0, 59)
    q <- Gen.oneOf("SELECT 1;", "SELECT 'é日本' FROM t;", "SELECT '🙂';",
      s"UPDATE t SET a = 'ü${Marker}x';", "")
  } yield s"""${Marker}231026 10:00:$s
             |# User@Host: u[u] @ h [ip] thread_id: $s
             |# Query_time: 0.$s Lock_time: 0.0 Rows_sent: 1 Rows_examined: $s
             |SET timestamp=$s;
             |$q
             |""".stripMargin

  /** Text around the marker: near-misses, multi-byte characters, a
    * marker that a `#` or a multi-byte character runs into. */
  private val noise: Gen[String] = Gen.oneOf("#", "## Time: ", "# Tim", "# Time:",
    "# TIME: ", "é", "日本", s"é$Marker", s"#$Marker", "x\n", "\n", "# ")

  private val log: Gen[String] = for {
    preamble <- Gen.oneOf("", "/usr/sbin/mysqld, Version: 8.0.35 started with:\n",
      "é\n#")
    n <- Gen.choose(0, 6)
    pieces <- Gen.listOfN(n, Gen.frequency(4 -> entry, 3 -> noise, 2 -> Gen.const(Marker)))
    chomp <- Gen.oneOf(true, false)
  } yield {
    val s = preamble + pieces.mkString
    if (chomp) s.stripSuffix("\n") else s
  }

  private val file: Gen[String] =
    Gen.frequency(6 -> log, 1 -> Gen.const(""), 1 -> Gen.const("no marker here\n"))

  private val dir: Gen[Seq[String]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_, file))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.select("file_id", "entry_no", "ord", "entry").collect().toSeq
      .sortBy(_.getLong(2))

  /** Writes `files` as `f0.log`, `f1.log`, ... and compares the readers. */
  private def assertSameEntries(files: Seq[String]): Int = {
    val d = Files.createTempDirectory("slowlog").toFile
    try {
      files.zipWithIndex.foreach { case (c, i) =>
        Files.writeString(new File(d, s"f$i.log").toPath, c)
      }
      val want = rows(MySqlLogPipeline.entriesFromFiles(
        Sources.readWholeFile(spark, d.getAbsolutePath)))
      val got = rows(Sources.readDelimited(spark, d.getAbsolutePath))
      assert(got === want, files)
      want.size
    } finally { d.listFiles().foreach(_.delete()); d.delete() }
  }

  test("readDelimited equals entriesFromFiles(readWholeFile) on generated logs") {
    val dirs = samples(dir, 40)
    val ends = dirs.flatten.filter(_.nonEmpty)
    // the generator reaches the cases the reader must get right
    assert(ends.exists(_.endsWith(Marker)) && ends.exists(_.startsWith(Marker)) &&
      ends.exists(_.contains(Marker + Marker)) && dirs.exists(_.contains("")))
    assert(dirs.map(assertSameEntries).sum > 100)
  }

  test("readDelimited gives the same rows for a file above one block") {
    // a 4 KB block size cuts the ~80 KB file into ~20 blocks (the uncached local
    // file system reads it); a 1 KB read buffer puts markers across the
    // record reader's buffer refills
    val big = samples(Gen.listOfN(600, Gen.frequency(4 -> entry, 1 -> noise)), 1)
      .head.mkString
    withHadoopConf("fs.local.block.size" -> "4096", "fs.file.impl.disable.cache" -> "true",
        "io.file.buffer.size" -> "1024") {
      val d = Files.createTempDirectory("slowlog-big").toFile
      val f = new File(d, "slow.log")
      Files.writeString(f.toPath, big)
      // the block size took effect: a plain Hadoop text scan cuts the file
      assert(spark.sparkContext.newAPIHadoopFile[LongWritable, Text, TextInputFormat](
        f.getAbsolutePath).getNumPartitions > 10)
      f.delete(); d.delete()
      assert(assertSameEntries(Seq("", big, big + Marker)) > 800)
    }
  }
}
