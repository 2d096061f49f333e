package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-bucket pair expansion — the one shape behind every blocked pair
  * generator (shared-rare shingle Jaccard, shared spans, banded Hamming
  * for SimHash and pHash, MinHash bands, market baskets, source
  * overlap): group members by a blocking key, drop buckets past a cap,
  * emit every unordered member pair of each kept bucket once.
  *
  * [[buckets]] ships SLIM rows through an explicit hash exchange on the
  * keys before the list aggregate, instead of a bare groupBy. Blocking
  * keys are near-unique within a scan partition, so a map-side partial
  * collect_list would dedup nothing and only turn primitive rows into
  * per-key list buffers shipped through the exchange
  * (ObjectHashAggregate's 128-key fallback also sorts every scan-sized
  * partition). The groupBy reuses the repartition's hash partitioning,
  * so this is ONE exchange, and the aggregate runs once, post-exchange,
  * on balanced partitions.
  *
  * [[pairs]] streams pairs through a TWO-LEVEL explode — member i
  * against the slice after i — inside whole-stage codegen. The shapes
  * this replaced, measured: (a) in-row expansion (`flatten(transform(
  * ...))` of C(s, 2) structs in ONE array value — ~36 MB per row for
  * the sf10 corpus's 1,400–1,750-member near-dup families, a certain
  * executor OOM for a 100k-member family, and an interpreted
  * CodegenFallback lambda); (b) a per-bucket self-join, whose inferred
  * IsNotNull filters de-canonicalize the shared exchange so the whole
  * upstream build ran once per side. The explode keeps peak memory per
  * generated row at O(bucket), produces the C(s, 2) output
  * incrementally, and leaves one consumer chain over one exchange
  * (mm_phash_pairs at sf10: 51.8 → ~20 s).
  *
  * The cap bounds per-bucket work: a bucket past it is boilerplate or a
  * real duplicate family whose C(s, 2) pair list is O(s²) output
  * carrying one bit of information — exact fingerprint dedup is the
  * operator for that mass. [[capCensus]] reports what a cap excludes;
  * an observer placed between [[buckets]] and [[pairs]] sees every
  * bucket, singletons and over-cap ones included (Catalyst does not
  * push predicates below CollectMetrics).
  */
object BucketPairs {

  /** One row per distinct `keys` value with `ms`: its members, sorted
    * and distinct. `rows` should carry only the keys and the member's
    * inputs — they are what the exchange ships. Distinct members make
    * "each unordered pair at most once per bucket" hold by construction;
    * where members are already unique per bucket it changes no value.
    */
  def buckets(rows: DataFrame, keys: Seq[String], member: Column): DataFrame =
    rows
      .repartition(keys.map(col): _*)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(array_distinct(collect_list(member))).as("ms"))

  /** `(keep*, a, b)` for every member pair a < b (by position in the
    * sorted `ms`) of each bucket with 2 <= size(ms) <= cap. `buckets` is
    * any frame with a sorted distinct array column `ms`.
    */
  def pairs(buckets: DataFrame, cap: Long, keep: String*): DataFrame = {
    val kept = keep.map(col)
    buckets
      .filter(size(col("ms")).between(2, cap))
      .select(kept ++ Seq(col("ms"), posexplode(col("ms")).as(Seq("i", "a"))): _*)
      .select(kept ++ Seq(col("a"),
        explode(slice(col("ms"), col("i") + lit(2),
          greatest(size(col("ms")) - col("i") - 1, lit(0)))).as("b")): _*)
  }

  /** What `cap` does to buckets of `size` members, as three aggregates:
    * `n_over_cap` (buckets past the cap), `excluded_pair_mass` (their
    * C(size, 2) pairs) and `kept_pair_mass` (the C(size, 2) pairs of
    * buckets with 2 <= size <= cap). Integer-exact, so every census built
    * from it — observed or standalone, Spark or an oracle replay — is
    * bit-identical.
    */
  def capCensus(size: Column, cap: Long): Seq[Column] = {
    val mass = call_function("div", size.cast("long") * (size - 1), lit(2L))
    Seq(
      sum(when(size > cap, 1L).otherwise(0L)).as("n_over_cap"),
      sum(when(size > cap, mass).otherwise(0L)).as("excluded_pair_mass"),
      sum(when(size.between(2L, cap), mass).otherwise(0L)).as("kept_pair_mass"))
  }
}
