package graft

import java.io.File
import java.nio.file.Files

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact lines are parsed as JSON downstream: every key must be
  * a valid JSON string whatever characters a query name carries. */
class BenchHostSpec extends AnyFunSuite {

  test("jsonString escapes quotes, backslashes and control characters") {
    val raw = "q\"uote\\back\tslash\nline\u0001ctl\u001f end"
    val lit = BenchHost.jsonString(raw)
    assert(lit === "\"q\\\"uote\\\\back\\tslash\\nline\\u0001ctl\\u001f end\"")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"{$lit:1.5}")
    assert(parsed.fieldNames().next() === raw)
    assert(parsed.get(raw).asDouble() === 1.5)
  }

  test("gitSha is HEAD's sha on a clean tree and adds -dirty for a modified tracked file") {
    val repo = Files.createTempDirectory("benchhost-git").toFile
    def git(args: String*): Unit =
      assert(Process("git" +: "-c" +: "user.name=t" +: "-c" +: "user.email=t@t" +: args,
        repo).! === 0, args)
    val tracked = new File(repo, "tracked.txt")
    Files.writeString(tracked.toPath, "one\n")
    git("init", "-q")
    git("add", "tracked.txt")
    git("commit", "-q", "-m", "one")
    val sha = Process(Seq("git", "rev-parse", "HEAD"), repo).!!.trim
    assert(BenchHost.gitShaOf(repo) === sha)
    assert(sha.matches("[0-9a-f]{40}"))
    // an untracked file leaves the tree clean; a modified tracked one does not
    Files.writeString(new File(repo, "untracked.txt").toPath, "x\n")
    assert(BenchHost.gitShaOf(repo) === sha)
    Files.writeString(tracked.toPath, "two\n")
    assert(BenchHost.gitShaOf(repo) === s"$sha-dirty")
  }
}
