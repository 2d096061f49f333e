package graft

import scala.jdk.CollectionConverters._

/** QUERIES.md is the hand-kept face of a ~190-entry registry — after a
  * 17-query growth round, silent drift between the doc tables and
  * `SparkEntry.queries` is the likeliest documentation bug. This spec
  * makes drift a test failure: every registered query must appear as a
  * table row exactly once, and every table row must name a registered
  * query. (Oracle coverage symmetry — every query has either an
  * `oracleSql` entry or a documented rows-only rationale — is asserted
  * structurally too: the driver records a weaker check for missing
  * oracles, so an accidentally-dropped oracle would otherwise demote a
  * query silently.) `cli.Main`'s usage text is held to its argument
  * parser the same way, so a deleted flag cannot linger in the docs, and
  * every `spark.graft.*` key the docs name must be one the engine reads.
  */
class DocsConsistencySpec extends SparkTestBase {

  private lazy val docNames: Seq[String] = {
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("QUERIES.md")).asScala.toSeq
    val cell = """^\|\s*([a-z0-9_]+)\s*\|""".r
    lines.flatMap(l => cell.findFirstMatchIn(l).map(_.group(1)))
      .filter(_ != "query") // table header rows
  }

  test("every registered query has exactly one QUERIES.md row") {
    val dups = docNames.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"documented more than once: ${dups.sorted.mkString(", ")}")
    val registered = SparkEntry.queries.keySet
    val missing = registered.diff(docNames.toSet)
    assert(missing.isEmpty,
      s"registered but missing a QUERIES.md row: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every QUERIES.md row names a registered query") {
    val stale = docNames.toSet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty,
      s"QUERIES.md rows with no registered query: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("cli.Main's usage in its scaladoc and in README lists the flags parseArgs takes") {
    def flags(text: String): Set[String] = "--[a-z][a-z-]*".r.findAllIn(text).toSet
    val src = java.nio.file.Files.readString(scalaSources(new java.io.File("src/main"))
      .find(_.getPath.endsWith("cli/Main.scala")).get.toPath)
    val parsed = """case "(--[a-z-]+)"""".r.findAllMatchIn(src).map(_.group(1)).toSet
    val usage = src.substring(src.indexOf("* Usage:"), src.indexOf("*\n", src.indexOf("* Usage:")))
    val readme = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("README.md")).asScala
      .dropWhile(!_.startsWith("graft.cli.Main ")).zipWithIndex
      .takeWhile { case (l, i) => i == 0 || !l.startsWith("graft.") }.map(_._1).mkString("\n")
    assert(parsed.contains("--mode") && parsed.contains("--html"), parsed)
    assert(flags(usage) === parsed, "cli.Main scaladoc usage")
    assert(flags(readme) === parsed, "README cli.Main usage")
  }

  test("every registered query has an oracle (or is a documented rows-only case)") {
    val noOracle = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    // rows-only queries must say so in their QUERIES.md row; none exist
    // today — if one is ever added legitimately, list it here with the
    // doc row carrying "rows-only"
    assert(noOracle.isEmpty,
      s"queries without an oracleSql entry: ${noOracle.toSeq.sorted.mkString(", ")}")
    val staleOracles = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(staleOracles.isEmpty,
      s"oracleSql entries with no query: ${staleOracles.toSeq.sorted.mkString(", ")}")
  }

  test("every spark.graft.* key README and the verify skill name is one src/main reads") {
    val src = scalaSources(new java.io.File("src/main"))
      .map(f => java.nio.file.Files.readString(f.toPath)).mkString("\n")
    // a key is read when its constant is passed to a session conf getter
    val read = """val (\w+) = "(spark\.graft\.[\w.]+)"""".r.findAllMatchIn(src)
      .filter(m => raw"\.conf\.get(Option)?\(${m.group(1)}\)".r.findFirstIn(src).nonEmpty)
      .map(_.group(2)).toSet
    assert(read.contains("spark.graft.checkpointDir"), read)
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
      .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
    assert(docs.nonEmpty)
    for (doc <- docs) {
      val named = """spark\.graft\.[\w.]*\w""".r
        .findAllIn(java.nio.file.Files.readString(doc)).toSet
      assert(named.diff(read).isEmpty, s"$doc names keys nothing reads: ${named.diff(read)}")
    }
  }
}
