package graft

import org.apache.spark.sql.functions._

/** The allocation-free md5-prefix expression must be VALUE-IDENTICAL to
  * the conv(substring(md5(s), 1, N), 16, 10) chain it replaced — the
  * DuckDB oracles still replay the hex form, so any drift here breaks
  * every hash-keyed dedup/minhash oracle at once.
  */
class Md5PrefixSpec extends SparkTestBase {
  import spark.implicits._

  test("md5_prefix_long(s, 15) and (s, 12) equal the hex-substring-conv " +
    "chain on adversarial strings") {
    val texts = Seq("", "a", "the quick brown fox", "漢字テスト",
      "𠀀 supplementary", "token~7 salted~7 forms~7",
      "x" * 1000, "\u0000nul\u0000", "café résumé", " leading space")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "s")
    val rows = d.select(col("id"),
        graft.engine.expr.NativeFunctions.md5PrefixLong(col("s"), 15).as("n60"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("c60"),
        graft.engine.expr.NativeFunctions.md5PrefixLong(col("s"), 12).as("n48"),
        conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("c48"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"60-bit @ id ${r.get(0)}")
      assert(r.getLong(3) === r.getLong(4), s"48-bit @ id ${r.get(0)}")
    }
  }
}
