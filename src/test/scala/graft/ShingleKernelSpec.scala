package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused shingle/simhash kernels must be VALUE-IDENTICAL to the
  * column chains they replaced — the DuckDB oracles replay the legacy
  * forms (md5 of the ' '-joined lowercased ws-tokens), so any drift in
  * tokenization, joining or slicing breaks every shingle-keyed dedup
  * oracle at once. Fixtures are chosen adversarially for the BYTE-scan
  * tokenizer: multi-byte UTF-8 (no ASCII-\s byte may be misread inside
  * a sequence), NBSP (NOT Java \s — must stay inside a token), every
  * ASCII \s separator, leading/trailing/doubled separators, uppercase
  * (the kernel lowercases), salted '~k' tokens, and docs shorter than
  * the shingle width.
  */
class ShingleKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val texts = Seq(
    "",
    "one",
    "one two",
    "one two three",
    "The Quick BROWN Fox Jumps",
    "tab\tsep\nnewline\rcr\fffvt end",
    "  doubled  spaces   and trailing  ",
    "nbsp inside token stays",
    "汉字 测试 中文 分词 行为",
    "mixed 漢字tok ascii 𠀀supp tail",
    "salted~3 tokens~3 from~3 the~3 replicas~3",
    "a b a b a b a b",
    "café résumé naïve coöp über",
    ("repeat " * 40).trim)

  private def docs: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  /** The pre-r16 shingleHashRows chain, verbatim. */
  private def legacyShingleRows(d: DataFrame, n: Int): DataFrame = {
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "\\s+"), t => t =!= "")
    d.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("doc_id"), col("i"),
        graft.engine.expr.NativeFunctions.md5PrefixLong(concat_ws(" ",
          (0 until n).map(j => element_at(col("toks"), col("i") + j + 1)): _*),
          15).as("sh_h"))
  }

  test("shingle_hashes equals the tokens/element_at/concat_ws/md5 chain, " +
    "positionally, at n = 1, 2, 3, 5") {
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    for (n <- Seq(1, 2, 3, 5)) {
      val native = docs.select(col("doc_id"),
          posexplode(graft.engine.expr.NativeFunctions
            .shingleHashes(col("text"), n, 15)).as(Seq("i", "sh_h")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      val legacy = legacyShingleRows(docs, n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      assert(native.toSeq === legacy.toSeq, s"n = $n")
    }
  }

  test("shingle_hashes at 12 hex chars matches the 48-bit minhash slice") {
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    val native = docs.select(col("doc_id"),
        explode(graft.engine.expr.NativeFunctions
          .shingleHashes(col("text"), 3, 12)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // legacy 48-bit: rebuild the shingle STRING and take 12 hex chars
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "\\s+"), t => t =!= "")
    val legacy48 = docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"),
        graft.engine.expr.NativeFunctions.md5PrefixLong(concat_ws(" ",
          (0 until 3).map(j => element_at(col("toks"), col("i") + j + 1)): _*),
          12).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(native.toSeq === legacy48.toSeq)
  }

  test("shingle_hash_set equals DISTINCT-per-doc of the positional kernel, " +
    "sorted ascending, at n = 1, 3") {
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    for (n <- Seq(1, 3)) {
      val set = docs.select(col("doc_id"),
          graft.engine.expr.NativeFunctions
            .shingleHashSet(col("text"), n, 15).as("shs"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      val expected = docs.select(col("doc_id"),
          array_sort(array_distinct(graft.engine.expr.NativeFunctions
            .shingleHashes(col("text"), n, 15))).as("shs"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      assert(set.toSeq === expected.toSeq, s"n = $n")
      // the repeated-token doc must actually dedup (set < positional)
      val rep = docs.filter(col("text").startsWith("repeat"))
        .select(size(graft.engine.expr.NativeFunctions
            .shingleHashSet(col("text"), n, 15)),
          size(graft.engine.expr.NativeFunctions
            .shingleHashes(col("text"), n, 15)))
        .collect().head
      assert(rep.getInt(0) === 1 && rep.getInt(1) === 41 - n,
        s"repeat doc dedup at n = $n")
    }
  }

  /** The pre-r16 simhashSigAt aggregate, with the md5 halves taken by the
    * built-in conv(substring(md5(tok), s, 15), 16, 10) chain. */
  private def legacySig(d: DataFrame, bands: Int, bitsPerBand: Int): DataFrame = {
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "\\s+"), t => t =!= "")
    val total = bands * bitsPerBand
    val halves = (total + 59) / 60
    val tok = d.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id") +:
        (0 until halves).map(k =>
          conv(substring(md5(col("tok")), 1 + 15 * k, 15), 16, 10)
            .cast("long").as(s"h$k")): _*)
    val onesCols = (0 until total).map(p =>
      sum(shiftright(col(s"h${p / 60}"), p % 60).bitwiseAND(lit(1L)))
        .as(s"ones_$p"))
    tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), onesCols: _*)
      .select(col("doc_id"),
        array((0 until bands).map(b =>
          (0 until bitsPerBand).map(j =>
            when(col(s"ones_${b * bitsPerBand + j}") * 2 > col("n"),
              lit(1L << j)).otherwise(0L))
            .reduce(_ + _)): _*).as("sig"))
  }

  test("simhash_sig equals the explode + vote aggregate at 4x15, 4x18 " +
    "and 2x60, including dropping zero-token docs") {
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    for ((bands, bpb) <- Seq((4, 15), (4, 18), (2, 60))) {
      val native = docs.select(col("doc_id"),
          graft.engine.expr.NativeFunctions
            .simhashSig(col("text"), bands, bpb).as("sig"))
        .filter(col("sig").isNotNull)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      val legacy = legacySig(docs, bands, bpb)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      assert(native.toSeq === legacy.toSeq, s"geometry ${bands}x$bpb")
      // the empty doc (doc_id 0) must be ABSENT from both
      assert(!native.exists(_._1 == 0L), s"zero-token doc at ${bands}x$bpb")
    }
  }
}
