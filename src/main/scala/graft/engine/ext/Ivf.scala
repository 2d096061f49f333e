package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.qdot

/** The inverted-file (IVF) primitive — every decision an ANN search in
  * [[Similarity]] makes about cells, queries and rankings, each once:
  * which centroid a point belongs to ([[nearest]]), which cells a query
  * probes ([[probes]]), where a trained centroid moves ([[recenter]]),
  * which vectors are queries ([[panel]]) and which candidates a query
  * keeps ([[topK]]). All arithmetic is exact BIGINT over quantized
  * vectors, so every tie-break below is deterministic and the DuckDB
  * oracles replay it bit-for-bit.
  *
  * Distances ([[Metric]]): [[Dot]] is the inner product (larger is
  * nearer — the untrained first-N cells); [[L2]] is the exact squared
  * distance p·p − 2·p·c + c·c (smaller is nearer — trained cells and PQ
  * subspaces), with both self-dots computed once per row before the
  * candidate expansion, so each (point, centroid) pair pays one
  * [[Similarity.qdot]], not three.
  *
  * The argmin is a PACKED primitive aggregate: the points × centroids
  * broadcast expansion carries one long per candidate,
  * pk = cost · 2²⁰ + cell_id, and min(pk) picks the nearest cell with
  * ties → lowest id. Exact because cell ids stay below 2²⁰ (a checked
  * bound; the √n cell rule reaches it only at n = 2⁴⁰) and the cost
  * stays below 2²⁹ under the quantization contract of
  * [[Similarity.quantize]] (components in [-1, 1], |q_i| ≤ 1000): a
  * 64-dim squared distance is ≤ 64 · 2000² < 2²⁸, a PQ subvector's
  * ≤ 8 · 2000² < 2²⁵, and the Dot cost 2²⁸ − dot sits in (0, 2²⁹) while
  * |dot| ≤ 64e6 < 2²⁷. Only the Dot form can leave that window on
  * out-of-contract input (dot > 2²⁸ makes pk negative and pk % 2²⁰ a
  * wrong cell); it raises instead, one branch per candidate row inside
  * whole-stage codegen, and larger excursions overflow loudly under ANSI
  * arithmetic. The packing exists because the natural forms fall out of
  * the hash aggregate: a struct anywhere in `min_by`/`max_by` leaves no
  * mutable aggregation buffer, so Spark falls back to a sort-based
  * aggregate, and a 64-dim array riding the grouping key hashes 512 B
  * per candidate row — measured 19 s, 15 s and 10 s vs 1.5–2.8 s at sf1
  * when the derived cell count reached 256. Vectors are re-joined
  * per POINT (n rows), never carried through the n × nCells expansion;
  * a short array key (a PQ subvector) may ride the grouping key.
  *
  * [[topK]] is a `row_number` window filtered by `rank <= k` directly,
  * which Spark plans as a WindowGroupLimit: each map task pre-prunes to
  * k rows per query before the shuffle.
  */
object Ivf {

  sealed trait Metric
  /** Inner product; larger is nearer. */
  case object Dot extends Metric
  /** Exact squared L2 distance; smaller is nearer. */
  case object L2 extends Metric

  private val IdLimit = 1L << 20
  private val DotBias = 1L << 28

  /** The one distance definition: non-negative in contract, smaller is
    * nearer. `pp`/`cc` are the precomputed self-dots (L2 only). */
  private def cost(metric: Metric, p: Column, c: Column): Column = metric match {
    case Dot => lit(DotBias) - qdot(p, c)
    case L2 => col("pp") - lit(2L) * qdot(p, c) + col("cc")
  }

  /** `centroids` as (on..., id, cq[, cc]): `cc` only for L2. */
  private def withSelfDot(centroids: DataFrame, metric: Metric): DataFrame =
    if (metric == L2) centroids.withColumn("cc", qdot(col("cq"), col("cq")))
    else centroids

  /** The nearest centroid of every point: `keys` + `id` (+ `dist` for
    * L2), ties → lowest id. `points` carry `keys` and the vector `vec`;
    * `centroids` carry `id` (in [0, nCells)), the vector `cq` and any
    * further columns a point must match to meet a centroid (a PQ
    * subspace `m`) — with none, every point meets every centroid.
    * Centroids are broadcast; the argmin is one packed min per point.
    */
  def nearest(points: DataFrame, centroids: DataFrame, keys: Seq[String],
              metric: Metric, nCells: Int, vec: String = "q",
              id: String = "cell_id"): DataFrame = {
    require(nCells < IdLimit, s"packed argmin supports < 2^20 cells, got $nCells")
    val on = centroids.columns.toSeq.diff(Seq(id, "cq"))
    val pts = points.select(((keys :+ vec).distinct.map(col) ++
      (if (metric == L2) Seq(qdot(col(vec), col(vec)).as("pp")) else Nil)): _*)
    val cents = broadcast(withSelfDot(centroids, metric))
    val pk = cost(metric, col(vec), col("cq")) * lit(IdLimit) + col(id)
    val guarded = metric match {
      case Dot => when(pk >= 0, pk).otherwise(raise_error(concat(
        lit(s"quantized dot exceeds 2^28 for ${keys.head}="), col(keys.head),
        lit(" — embeddings must be unit-normalized (components in" +
          " [-1, 1]); see Similarity.quantize"))))
      case L2 => pk
    }
    (if (on.isEmpty) pts.join(cents) else pts.join(cents, on))
      .select(keys.map(col) :+ guarded.as("pk"): _*)
      .groupBy(keys.map(col): _*)
      .agg(min(col("pk")).as("pk"))
      .select(keys.map(col) ++ Seq((col("pk") % lit(IdLimit)).cast("int").as(id)) ++
        (if (metric == L2) Seq(expr(s"pk div $IdLimit").as("dist")) else Nil): _*)
  }

  /** The `nprobe` best cells of every query: (query_id, keep..., cell_id),
    * ties → lowest cell_id. `queries` carry query_id, the vector `qq`
    * and the `keep` columns; `centroids` are (cell_id, cq). `keep` may
    * also name `probe`, the cell's 1-based rank for its query, so one
    * widest probe list serves every narrower width.
    */
  def probes(queries: DataFrame, centroids: DataFrame, nprobe: Int,
             metric: Metric, keep: String*): DataFrame = {
    val qs = if (metric == L2) queries.withColumn("pp", qdot(col("qq"), col("qq")))
      else queries
    qs.join(broadcast(withSelfDot(centroids, metric)))
      .withColumn("cost", cost(metric, col("qq"), col("cq")))
      .withColumn("probe", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cost"), col("cell_id"))))
      .filter(col("probe") <= nprobe)
      .select((col("query_id") +: keep.map(col)) :+ col("cell_id"): _*)
  }

  /** Floor-mean centroid recompute: one row per `keys` value with `cq`,
    * the per-dimension floor of the mean of its members' `vec`, exact
    * (|sum| ≤ 64 · 2000 · n and every mean stay far inside double's 2⁵³
    * integer range). Cells without members drop out, as in the oracle.
    * The result is tiny (one row per centroid) and localCheckpointed, so
    * a training loop's later rounds do not replay the earlier ones.
    */
  def recenter(assigned: DataFrame, keys: Seq[String], vec: String): DataFrame =
    assigned
      .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", "x")): _*)
      .groupBy(keys.map(col) :+ col("pos"): _*)
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("mean", floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        x => x.getField("mean")).as("cq"))
      .localCheckpoint(true)

  /** The query panel: every vector with `vec_id % qm = 0`, as
    * (query_id, qq, keep...) — a fixed-size panel when qm comes from
    * [[ScaleKnobs.panelMod]]. */
  def panel(vs: DataFrame, qm: Int, keep: Column*): DataFrame =
    vs.filter(col("vec_id") % qm === 0)
      .select(Seq(col("vec_id").as("query_id"), col("q").as("qq")) ++ keep: _*)

  /** The `k` best candidates of every query_id by `score` (descending),
    * ties → lowest neighbor_id, numbered 1..k in `rank` (int). */
  def topK(candidates: DataFrame, k: Int, score: String): DataFrame =
    candidates
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc(score), col("neighbor_id"))))
      .filter(col("rank") <= k)
}
