package graft.engine.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Scores are integer dot products over quantized vectors
  * (floor(x * 1000) per dimension, BIGINT accumulate): exact, associative
  * and reproducible on any engine/partitioning — float dot products are
  * summation-order-dependent and would make rank ties nondeterministic.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: broadcast the (small) query set against every
  *    vector — the exact baseline; linear scan, no shuffle of the corpus.
  *  - [[ivfTopK]]: IVF-style — assign every vector to its nearest coarse
  *    centroid once, probe only the best nprobe cells per query. At 100 TB
  *    the corpus side stays partitioned by cell (bucket join), and recall
  *    is tunable via nprobe.
  *
  * Every search composes its cell assignment, probe list, centroid
  * recompute, query panel and per-query top-k from [[Ivf]], so each of
  * those decisions — and its tie-break — exists once.
  */
object Similarity {

  /** floor(x*1000) integer quantization of a float vector.
    *
    * INPUT CONTRACT: components in [-1, 1] (unit-normalized embeddings —
    * the testdata's shape and the overwhelmingly common one), i.e.
    * |q_i| ≤ 1000. The packed argmin of [[Ivf.nearest]] relies on
    * quantized dots staying under 2²⁸, which holds with 2 000× headroom
    * at 64 dims under this contract; quantize does NOT clamp (a silent
    * clamp would corrupt magnitudes invisibly). Out-of-contract
    * magnitudes are caught, not mis-assigned: the packed assignment
    * raises on the dot > 2²⁸ window that would otherwise yield a
    * negative packed key (r12 ADVICE), and larger excursions overflow
    * loudly under ANSI arithmetic.
    */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  /** Exact BIGINT dot product of two quantized vectors — declarative form,
    * kept as the portable spec of the semantics. Hot paths use the
    * native [[graft.engine.expr.NativeFunctions.qdotRun]] kernel via
    * [[qdot]], which is ~an order of magnitude faster per pair (tight Java
    * loop vs interpreted lambda dispatch per element).
    */
  def qdotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Codegen'd exact BIGINT dot product (registered per session). */
  def qdot(a: Column, b: Column): Column =
    graft.engine.expr.NativeFunctions.qdotNative(a, b)

  /** Quantize an `embeddings`-shaped DataFrame (vec_id, label, embedding)
    * into the (vec_id, label, q) working set all operators consume — any
    * input with those columns works.
    */
  def quantizedVectors(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    graft.engine.expr.NativeFunctions.ensureRegistered(spark)
    embeddings
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
  }

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    quantizedVectors(spark, spark.read.parquet(s"$dir/embeddings.parquet"))

  /** Resolve a wrapper's queryMod: 0 (the default everywhere) means
    * "derive the fixed-size panel from the corpus count" —
    * [[ScaleKnobs.panelMod]], max(50, ceil(n/100)) — so exact recall
    * baselines stay linear in the corpus instead of panel ∝ n making
    * them quadratic (the r10 sf1 finding: 36.5x on 10x data). Explicit
    * values pin the panel; the DuckDB oracles replay the same rule from
    * count(*).
    */
  private def resolveQm(spark: SparkSession, dir: String, queryMod: Int): Int =
    if (queryMod == 0) ScaleKnobs.panelMod(ScaleKnobs.embeddingCount(spark, dir))
    else queryMod

  /** Resolve a wrapper's nCells: 0 (the default everywhere, r12) means
    * "derive the coarse-cell count from the corpus size at TRAIN time" —
    * [[ScaleKnobs.ivfCells]], max(16, 2^⌈log2 √n⌉) — the classical
    * nCells ≈ √n rule that balances centroid-ranking cost against
    * per-cell candidate-scan cost (16 cells at every scale left sf1
    * probes scanning 1/4 of a 10× corpus). Explicit values pin the cell
    * count; the DuckDB oracles replay the same rule from count(*).
    */
  private def resolveCells(spark: SparkSession, dir: String, nCells: Int): Int =
    if (nCells == 0) ScaleKnobs.ivfCells(ScaleKnobs.embeddingCount(spark, dir))
    else nCells

  /** Derived k-means training-sample modulus for this corpus at the cell
    * count in effect ([[ScaleKnobs.kmeansTrainMod]]) — the (spark, dir)
    * registry paths derive it; DataFrame-form callers default to 1
    * (train on everything) like every other knob convention here.
    */
  private def resolveTrainMod(spark: SparkSession, dir: String,
                              nCells: Int): Int =
    ScaleKnobs.kmeansTrainMod(ScaleKnobs.embeddingCount(spark, dir), nCells)

  /** Exact top-k by inner product for every query vector
    * (vec_id % queryMod == 0), self-match excluded, ties broken by
    * neighbor id. The query side is broadcast; the corpus is scanned once.
    */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 10,
                     queryMod: Int = 0): DataFrame =
    // the default-parameter exact baseline is the ground truth of every
    // recall QA row — materialized once per (session, dir)
    if (k == 10 && queryMod == 0)
      graft.engine.StageCache.materialized(spark, dir, "ann.bruteforce_topk") {
        bruteForceTopK(vectors(spark, dir), 10, resolveQm(spark, dir, 0))
      }
    else bruteForceTopK(vectors(spark, dir), k, resolveQm(spark, dir, queryMod))

  def bruteForceTopK(vs: DataFrame, k: Int, queryMod: Int): DataFrame =
    ranked(vs.join(broadcast(Ivf.panel(vs, queryMod)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        qdot(col("qq"), col("q")).as("dot")), k)

  /** Per-query top-k by `score` ([[Ivf.topK]]) as (query_id, rank,
    * neighbor_id, the candidates' other columns), ordered. */
  private def ranked(candidates: DataFrame, k: Int, score: String = "dot"): DataFrame = {
    val rest = candidates.columns.toSeq.filterNot(Set("query_id", "neighbor_id"))
    Ivf.topK(candidates, k, score)
      .select((Seq("query_id", "rank", "neighbor_id") ++ rest).map(col): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Every member of a probed cell against each query probing it (the
    * probe list is broadcast, so the corpus never shuffles for it), self
    * excluded, scored by exact dot: (query_id, neighbor_id, cell_id, dot,
    * keep...). `index` carries (vec_id, cell_id, q), `probes` carry
    * (query_id, qq, cell_id). */
  private def probed(index: DataFrame, probes: DataFrame, keep: String*): DataFrame =
    index.join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"), col("cell_id"),
        qdot(col("qq"), col("q")).as("dot")) ++ keep.map(col): _*)

  /** Exact dots for a candidate list: (query_id, neighbor_id, dot, the
    * list's other columns). Vectors re-join per candidate by neighbor id
    * (fan-out = list size, never the corpus); the query panel is
    * broadcast. */
  private def rescore(cand: DataFrame, vs: DataFrame, queries: DataFrame): DataFrame = {
    val rest = cand.columns.toSeq.filterNot(Set("query_id", "neighbor_id")).map(col)
    cand
      .join(vs.select(col("vec_id").as("neighbor_id"), col("q")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(Seq(col("query_id"), col("neighbor_id"),
        qdot(col("qq"), col("q")).as("dot")) ++ rest: _*)
  }

  /** The untrained coarse centroids: the first nCells vectors (a
    * deterministic stand-in for a k-means pass) as (cell_id, cq) — also
    * the k-means init. */
  private def firstCells(vs: DataFrame, nCells: Int): DataFrame =
    vs.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell_id"), col("q").as("cq"))

  /** (vec_id, cell_id): every vector's best untrained cell by inner
    * product ([[Ivf.nearest]], ties → lowest cell id). */
  private def untrainedAssigned(vs: DataFrame, nCells: Int): DataFrame =
    Ivf.nearest(vs, firstCells(vs, nCells), Seq("vec_id"), Ivf.Dot, nCells)

  /** IVF-bucketed ANN: coarse centroids are the first nCells vectors
    * (deterministic stand-in for a k-means pass, which at scale would be
    * trained offline); every vector is assigned to its best cell by inner
    * product (ties → lowest cell id); a query probes its nprobe best cells
    * and ranks only those candidates. Bucket-join shaped: the corpus never
    * cross-joins the query set.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 10,
              queryMod: Int = 0, nCells: Int = 0, nprobe: Int = 4): DataFrame =
    ranked(untrainedCandidates(spark, dir, queryMod, nCells, nprobe), k)

  def ivfTopK(vs: DataFrame, k: Int, queryMod: Int, nCells: Int,
              nprobe: Int): DataFrame =
    ranked(untrainedCandidates(vs, untrainedAssigned(vs, nCells), nCells,
      queryMod, nprobe), k)

  /** Default-geometry UNTRAINED cell assignment — (vec_id, cell_id) by
    * argmax inner product against the first-nCells centroids —
    * materialized once per (session, dir) ([[graft.engine.StageCache]]):
    * ann_ivf, ann_range_search and corpus_cell_quality each re-derived
    * this identical n × nCells argmax per query (r14 verdict ask #5 —
    * corpus_cell_quality alone paid 15.7 s / 9.3×-decade at sf10 for an
    * assignment the family already computes). In production this table
    * IS the flat IVF index: built once per corpus snapshot, served to
    * every probe/audit. Consumers re-attach q per VECTOR from the
    * vectors scan (n rows, never n × nCells). The bench's
    * `_stage_ivf_assigned` row times exactly this build.
    */
  def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    ivfAssignedT(spark, dir)

  private def ivfAssignedT(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StageCache.materialized(spark, dir, "ann.ivf_assigned") {
      untrainedAssigned(vectors(spark, dir), resolveCells(spark, dir, 0))
    }

  /** The registry form's candidates: the default geometry rides the
    * materialized assignment, a pinned cell count re-derives it. */
  private def untrainedCandidates(spark: SparkSession, dir: String, queryMod: Int,
                                  nCells: Int, nprobe: Int): DataFrame = {
    val vs = vectors(spark, dir)
    val nc = resolveCells(spark, dir, nCells)
    untrainedCandidates(vs,
      if (nCells == 0) ivfAssignedT(spark, dir) else untrainedAssigned(vs, nc),
      nc, resolveQm(spark, dir, queryMod), nprobe)
  }

  /** (query_id, neighbor_id, cell_id, dot) for every candidate in the
    * nprobe best untrained cells of each panel query, by inner product. */
  private def untrainedCandidates(vs: DataFrame, assignedIds: DataFrame,
                                  nCells: Int, queryMod: Int,
                                  nprobe: Int): DataFrame = {
    val assigned = assignedIds.join(vs.select(col("vec_id"), col("q")), "vec_id")
    probed(assigned, Ivf.probes(Ivf.panel(assigned, queryMod),
      firstCells(vs, nCells), nprobe, Ivf.Dot, "qq"))
  }

  /** RANGE search on the IVF index: every candidate within the probed
    * cells whose exact inner product clears `minDot` — "all near-dups of
    * this query", the retrieval mode embedding-level dedup and
    * contamination sweeps need (top-k truncates exactly the mass a dedup
    * pass cares about; range search returns the whole neighborhood).
    *
    * Same index machinery as [[ivfTopK]] (first-nCells centroids,
    * broadcast assignment, nprobe best cells per query); the only change
    * is the acceptance predicate — a threshold on the exact codegen'd
    * dot instead of a rank window, so no per-query sort exists at all.
    * Result size is data-dependent by design; the probed-cell blocking
    * bounds the candidate set exactly as in top-k search.
    */
  def ivfRangeSearch(spark: SparkSession, dir: String, minDot: Long = 250000L,
                     queryMod: Int = 0, nCells: Int = 0,
                     nprobe: Int = 4): DataFrame =
    inRange(untrainedCandidates(spark, dir, queryMod, nCells, nprobe), minDot)

  def ivfRangeSearch(vs: DataFrame, minDot: Long, queryMod: Int, nCells: Int,
                     nprobe: Int): DataFrame =
    inRange(untrainedCandidates(vs, untrainedAssigned(vs, nCells), nCells,
      queryMod, nprobe), minDot)

  private def inRange(candidates: DataFrame, minDot: Long): DataFrame =
    candidates.filter(col("dot") >= minDot)
      .orderBy(col("query_id"), col("neighbor_id"))

  /** FILTERED vector search: label-constrained top-k on the trained IVF
    * index — the "metadata filter" axis every production vector store
    * needs (tenant, language, licence, category). The filter applies
    * DURING the probe join (pre-filter), not after ranking: post-
    * filtering a k-list silently returns fewer than k hits whenever the
    * neighborhood is label-mixed, which is exactly when filtering
    * matters. Semantics here: each query accepts only candidates
    * sharing its own label.
    *
    * Rides the materialized trained index ([[kmeansT]]); the label is
    * attached at VECTOR grain before the probe fan-out (a 1:1 equi-join
    * on vec_id, co-partitionable with the index at scale), so the label
    * constraint applies as a cheap predicate DURING the probe join —
    * candidate rows of the wrong label never materialize, and no
    * candidate-grain (query × neighbor) join ever runs. Probing and
    * ranking are [[Ivf.probes]] and [[Ivf.topK]], the same exact integer
    * arithmetic as [[ivfTrainedTopK]], so the oracle replays training,
    * probing, filtering and ranking end to end.
    */
  def filteredTopK(spark: SparkSession, dir: String, k: Int = 10,
                   queryMod: Int = 0, nprobe: Int = 4): DataFrame = {
    val qm = resolveQm(spark, dir, queryMod)
    val (assigned, centroids) = kmeansT(spark, dir)
    val labels = vectors(spark, dir).select(col("vec_id"), col("label"))
    val queries = Ivf.panel(assigned, qm)
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"))), "query_id")
    val probes = Ivf.probes(queries, centroids, nprobe, Ivf.L2, "qq", "qlabel")
    Ivf.topK(probed(assigned.join(labels, Seq("vec_id")), probes, "label", "qlabel")
        .filter(col("label") === col("qlabel")), k, "dot")
      .select(col("query_id"), col("label"), col("rank"),
        col("neighbor_id"), col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic k-means (Lloyd) cell training over the quantized
    * vectors: `iters` rounds of assign-to-nearest (exact squared-L2,
    * ties → lowest cell — [[Ivf.nearest]]) then floor-mean centroid
    * recompute ([[Ivf.recenter]]). Returns the final assignment
    * (vec_id, cell_id, dist) — the trained upgrade of [[ivfTopK]]'s
    * pick-first-N init, and the piece of an IVF build that actually
    * needs a cluster: everything else is a broadcast.
    *
    * Scale shape per iteration: one broadcast join against ≤nCells
    * centroids with a map-side partial argmin (the nCells× candidate
    * expansion collapses to one row per vector before the exchange),
    * plus a posexplode re-aggregation whose groupBy key space is
    * nCells × dim — constant-size shuffles after partial agg. Empty
    * cells drop out (deterministically) exactly as in the oracle. All
    * arithmetic is exact BIGINT / exact-in-double floor-means, so DuckDB
    * replays the whole training bit-for-bit.
    */
  def kmeansCells(spark: SparkSession, dir: String, nCells: Int = 0,
                  iters: Int = 2): DataFrame =
    if (nCells == 0 && iters == 2)
      kmeansT(spark, dir)._1
        .select(col("vec_id"), col("cell_id"), col("dist"))
        .orderBy(col("vec_id"))
    else {
      val nc = resolveCells(spark, dir, nCells)
      kmeansCells(vectors(spark, dir), nc, iters,
        resolveTrainMod(spark, dir, nc))
    }

  def kmeansCells(vs: DataFrame, nCells: Int, iters: Int): DataFrame =
    kmeansCells(vs, nCells, iters, 1)

  def kmeansCells(vs: DataFrame, nCells: Int, iters: Int,
                  trainMod: Int): DataFrame =
    kmeansLoop(vs, nCells, iters, trainMod)._1
      .select(col("vec_id"), col("cell_id"), col("dist"))
      .orderBy(col("vec_id"))

  /** Default-parameter trained IVF index (nCells derived at train time
    * via [[ScaleKnobs.ivfCells]], iters=2), materialized once per
    * (session, dir) via
    * [[graft.engine.StageCache]]: the k-means queries, the balance
    * audit, trained-IVF search, the nprobe sweep and IVF-PQ all ride ONE
    * training run — exactly how a production index is trained offline
    * once and served to every retrieval. Both halves come from one loop
    * invocation; the dedicated lock makes the two-key populate atomic,
    * so the stash is always set when the centroid key is missing and the
    * full-retrain fallback is reachable only after a clear() that raced
    * this call.
    */
  private val kmeansTLock = new Object
  private def kmeansT(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    kmeansTLock.synchronized {
      var stash: DataFrame = null
      val assigned = graft.engine.StageCache
        .materialized(spark, dir, "ann.kmeans_assigned") {
          val nc = resolveCells(spark, dir, 0)
          val (a, c) = kmeansLoop(vectors(spark, dir), nc, 2,
            resolveTrainMod(spark, dir, nc))
          stash = c
          a
        }
      val centroids = graft.engine.StageCache
        .materialized(spark, dir, "ann.kmeans_centroids") {
          if (stash != null) stash
          else { // full retrain; see doc
            val nc = resolveCells(spark, dir, 0)
            kmeansLoop(vectors(spark, dir), nc, 2,
              resolveTrainMod(spark, dir, nc))._2
          }
        }
      (assigned, centroids)
    }

  /** IVF index-health audit: per-cell population share and distortion
    * (sum / max of the exact integer squared distance to the assigned
    * centroid). A skewed share column means hot cells at probe time —
    * the signal to retrain or raise nCells; rising distortion flags a
    * drifted index. Derived from the SAME training loop the index
    * queries use, so the audit sees exactly what the index serves.
    * The share window runs over nCells rows (constant).
    */
  def cellBalance(spark: SparkSession, dir: String, nCells: Int = 0,
                  iters: Int = 2): DataFrame =
    if (nCells == 0 && iters == 2)
      cellBalanceFromAssigned(kmeansT(spark, dir)._1)
    else {
      val nc = resolveCells(spark, dir, nCells)
      cellBalance(vectors(spark, dir), nc, iters,
        resolveTrainMod(spark, dir, nc))
    }

  def cellBalance(vs: DataFrame, nCells: Int, iters: Int): DataFrame =
    cellBalance(vs, nCells, iters, 1)

  def cellBalance(vs: DataFrame, nCells: Int, iters: Int,
                  trainMod: Int): DataFrame =
    cellBalanceFromAssigned(kmeansLoop(vs, nCells, iters, trainMod)._1)

  private def cellBalanceFromAssigned(assigned: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    assigned
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dist")).as("sum_dist"), max(col("dist")).as("max_dist"))
      .withColumn("total", sum(col("n_vectors")).over(all))
      .select(col("cell_id"), col("n_vectors"),
        expr("n_vectors * 1000000 div total").as("share_ppm"),
        col("sum_dist"), col("max_dist"))
      .orderBy(col("cell_id"))
  }

  /** The training loop: returns (final assignment incl. the quantized
    * vector, the centroids that produced it) — the pieces
    * [[ivfTrainedTopK]] composes into a probed search.
    *
    * `trainMod` (r15, [[ScaleKnobs.kmeansTrainMod]]): the centroid
    * RECOMPUTE iterations argmin only the deterministic `vec_id %
    * trainMod = 0` sample; the final iteration assigns the FULL input.
    * At the derived value the training argmins are linear in n (64 ·
    * nCells² work) instead of n · √n, and tm = 1 ≤ sf1 so history
    * replays bit-for-bit. Default 1 = train on everything (the
    * DataFrame-form/fixture behavior; the (spark, dir) wrappers derive).
    */
  private def kmeansLoop(vs: DataFrame, nCells: Int,
                         iters: Int, trainMod: Int = 1): (DataFrame, DataFrame) = {
    val train = if (trainMod > 1) vs.filter(col("vec_id") % trainMod === 0) else vs
    var centroids = firstCells(vs, nCells)
    var assigned: DataFrame = null
    for (it <- 1 to iters) {
      assigned = Ivf.nearest(if (it < iters) train else vs, centroids,
          Seq("vec_id"), Ivf.L2, nCells)
        .join(vs.select(col("vec_id"), col("q")), "vec_id")
        .select(col("vec_id"), col("q"), col("cell_id"), col("dist"))
      if (it < iters) centroids = Ivf.recenter(assigned, Seq("cell_id"), "q")
    }
    (graft.engine.StageCache.checkpointed(assigned), centroids)
  }

  /** IVF search over TRAINED cells: [[kmeansCells]]' final assignment is
    * the index, queries probe their nprobe nearest centroids (the same
    * exact squared-L2 + tie-break as training), and candidates rank by
    * inner product like every other ANN query here. Composes the two proven
    * pieces — trained cells upgrade recall over [[ivfTopK]]'s
    * pick-first-N init at identical probe cost, and the whole pipeline
    * stays deterministic integer math, so the oracle replays training,
    * probing and ranking end to end.
    */
  def ivfTrainedTopK(spark: SparkSession, dir: String, k: Int = 10,
                     queryMod: Int = 0, nCells: Int = 0, iters: Int = 2,
                     nprobe: Int = 4): DataFrame = {
    val qm = resolveQm(spark, dir, queryMod)
    if (nCells == 0 && iters == 2) {
      val (assigned, centroids) = kmeansT(spark, dir)
      ivfTrainedFromIndex(assigned, centroids, k, qm, nprobe)
    } else {
      val nc = resolveCells(spark, dir, nCells)
      ivfTrainedTopK(vectors(spark, dir), k, qm, nc, iters, nprobe,
        resolveTrainMod(spark, dir, nc))
    }
  }

  def ivfTrainedTopK(vs: DataFrame, k: Int, queryMod: Int, nCells: Int,
                     iters: Int, nprobe: Int): DataFrame =
    ivfTrainedTopK(vs, k, queryMod, nCells, iters, nprobe, 1)

  def ivfTrainedTopK(vs: DataFrame, k: Int, queryMod: Int, nCells: Int,
                     iters: Int, nprobe: Int, trainMod: Int): DataFrame = {
    val (assigned, centroids) = kmeansLoop(vs, nCells, iters, trainMod)
    ivfTrainedFromIndex(assigned, centroids, k, queryMod, nprobe)
  }

  private def ivfTrainedFromIndex(assigned: DataFrame, centroids: DataFrame,
                                  k: Int, queryMod: Int,
                                  nprobe: Int): DataFrame =
    ranked(probed(assigned, Ivf.probes(Ivf.panel(assigned, queryMod),
      centroids, nprobe, Ivf.L2, "qq")), k)

  /** nprobe TUNING CURVE — recall@k of the trained IVF index at several
    * probe widths in one pass: the table an index operator reads to set
    * nprobe (the recall/latency knob). Training runs ONCE
    * ([[kmeansLoop]] checkpoints), the exact baseline runs once
    * (checkpointed), and each sweep point reuses the widest probe
    * list filtered down by its `probe` rank — so the sweep costs little
    * more than the single widest search, not |probes| retrainings.
    */
  def nprobeSweep(spark: SparkSession, dir: String, k: Int = 10,
                  queryMod: Int = 0, nCells: Int = 0, iters: Int = 2,
                  probesList: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val qm = resolveQm(spark, dir, queryMod)
    val vs = vectors(spark, dir)
    // defaults ride the materialized index + exact baseline
    val (assigned, centroids) =
      if (nCells == 0 && iters == 2) kmeansT(spark, dir)
      else {
        val nc = resolveCells(spark, dir, nCells)
        kmeansLoop(vs, nc, iters, resolveTrainMod(spark, dir, nc))
      }
    val exact = (if (k == 10 && queryMod == 0) bruteForceTopK(spark, dir)
                 else bruteForceTopK(vs, k, qm))
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val totals = exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_true"))
    val probesAll = Ivf.probes(Ivf.panel(assigned, qm), centroids,
      probesList.max, Ivf.L2, "qq", "probe").localCheckpoint(true)
    probesList.sorted.map { p =>
      val approx = Ivf.topK(
          probed(assigned, probesAll.filter(col("probe") <= p)), k, "dot")
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .crossJoin(broadcast(totals))
        .select(lit(p.toLong).as("nprobe"), col("n_queries"), col("n_true"),
          col("n_overlap"),
          expr("n_overlap * 1000000 div n_true").as("recall_ppm"))
    }.reduce(_.union(_)).orderBy(col("nprobe"))
  }

  /** Incremental IVF index maintenance — the ANN twin of
    * [[Dedup.incremental]]: a new embedding batch is assigned to the
    * ALREADY-TRAINED centroids (no retrain — the production path when
    * vectors arrive faster than the index can be rebuilt), and the
    * output is the per-cell growth census an index operator watches to
    * decide WHEN a retrain is due: base/new member counts, growth ppm,
    * and the max assignment distance drift (a new batch that lands far
    * from every centroid is the retrain signal).
    *
    * The base/batch split is deterministic and scale-stable (seeds stay
    * in the base: vec_id < nCells, plus 4 of every 5 remaining ids).
    *
    * Scale shape: training touches only the base (same checkpointed
    * [[kmeansLoop]]); the batch assignment is the same [[Ivf.nearest]]
    * against nCells centroid rows — the batch never shuffles; both
    * censuses are map-side-combined counts at cell grain (nCells rows).
    */
  def ivfIndexUpdate(spark: SparkSession, dir: String, nCells: Int = 0,
                     iters: Int = 2): DataFrame = {
    val nc = resolveCells(spark, dir, nCells)
    val vs = vectors(spark, dir)
    val isBase = col("vec_id") < nc || col("vec_id") % 5 =!= 4
    // trainMod derives from the FULL corpus count (the cheap metadata
    // count the other knobs already consume — the base slice is a fixed
    // 4/5 of it, so the sample stays within the same 64-256/centroid
    // band); the oracle replays the same full-count rule
    val (assignedBase, centroids) = kmeansLoop(vs.filter(isBase), nc, iters,
      resolveTrainMod(spark, dir, nc))
    val assignedNew = Ivf.nearest(vs.filter(!isBase), centroids, Seq("vec_id"),
      Ivf.L2, nc)
    val baseC = assignedBase.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_base"), max(col("dist")).as("max_base_dist"))
    val newC = assignedNew.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_new"), max(col("dist")).as("max_new_dist"))
    baseC.join(newC, Seq("cell_id"), "full_outer")
      .select(col("cell_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("max_base_dist"), lit(0L)).as("max_base_dist"),
        coalesce(col("max_new_dist"), lit(0L)).as("max_new_dist"))
      .withColumn("growth_ppm",
        expr("n_new * 1000000 div greatest(n_base, 1)"))
      .orderBy(col("cell_id"))
  }

  /** IVF-PQ composed search — the production ANN index shape (FAISS's
    * default at corpus scale): trained coarse cells prune the corpus to
    * the query's `nprobe` cells, PQ-ADC ranks ONLY those candidates from
    * their 8-byte codes, and the exact inner product re-ranks the
    * shortlist. Composes [[kmeansLoop]] (the IVF index) and [[pqLoop]]
    * (the compressed codes) — both already oracle-replayed — so the
    * whole composed pipeline stays deterministic integer math.
    *
    * Scale shape — one corpus shuffle, zero pair shuffles: the index
    * build co-partitions (cell_id, codes[M]) per vector by vec_id (the
    * one corpus-keyed exchange, amortizable as a stored index); the
    * candidate fan-out is a broadcast-hash join against the tiny probe
    * list, so (query, neighbor) pairs are created AND scored where the
    * corpus partition lives — each pair's ADC score is M lookups into
    * the query's broadcast M·K LUT map, no per-code row explosion and no
    * (query, neighbor) aggregation exchange. The only post-index shuffle
    * is the shortlist top-k ([[Ivf.topK]], map-side pre-pruned to
    * `shortlist` rows per query). vs the
    * flat [[pqSearchTopK]], the ADC touches nprobe/nCells of the corpus;
    * vs [[ivfTrainedTopK]], scoring reads M-byte codes, not 64-dim
    * vectors. The ADC sum is wrapped in the opaque barrier so the
    * interpreted lookup fold is evaluated once per pair, not re-inlined
    * per consumer (see OpaqueBarrier).
    */
  def ivfPqTopK(spark: SparkSession, dir: String, topK: Int = 10,
                shortlist: Int = 30, queryMod: Int = 0, nCells: Int = 0,
                ivfIters: Int = 2, nprobe: Int = 4, M: Int = 8,
                subDim: Int = 8, pqK: Int = 16, pqIters: Int = 2): DataFrame =
    // consumed by the IVF-PQ search query AND its recall QA — materialized
    if (topK == 10 && shortlist == 30 && queryMod == 0 && nCells == 0 &&
        ivfIters == 2 && nprobe == 4 && M == 8 && subDim == 8 && pqK == 16 &&
        pqIters == 2)
      graft.engine.StageCache.materialized(spark, dir, "ann.ivfpq_topk") {
        ivfPqCompute(spark, dir, 10, 30, 0, 0, 2, 4, 8, 8, 16, 2)
      }
    else ivfPqCompute(spark, dir, topK, shortlist, queryMod, nCells, ivfIters,
      nprobe, M, subDim, pqK, pqIters)

  private[graft] def ivfPqCompute(spark: SparkSession, dir: String, topK: Int,
                           shortlist: Int, queryMod: Int, nCells: Int,
                           ivfIters: Int, nprobe: Int, M: Int,
                           subDim: Int, pqK: Int, pqIters: Int): DataFrame = {
    val qm = resolveQm(spark, dir, queryMod)
    val vs = vectors(spark, dir)
    val (cellAssigned, centroids) =
      if (nCells == 0 && ivfIters == 2) kmeansT(spark, dir)
      else {
        val nc = resolveCells(spark, dir, nCells)
        kmeansLoop(vs, nc, ivfIters, resolveTrainMod(spark, dir, nc))
      }
    val (pqAssigned, cb) =
      if (M == 8 && subDim == 8 && pqK == 16 && pqIters == 2) pqT(spark, dir)
      else pqLoop(vs, M, subDim, pqK, pqIters)

    // probe list: nprobe nearest TRAINED centroids per query
    val queries = Ivf.panel(cellAssigned, qm)
    val probes = Ivf.probes(queries, centroids, nprobe, Ivf.L2)

    // index build: ONE corpus-keyed shuffle co-locates each vector's
    // cell with its M codes packed into a single array row — at 100 TB
    // this is the stored ANN index, not a per-query cost
    val codesByVec = pqAssigned
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))
    val vecIndex = cellAssigned.select(col("vec_id"), col("cell_id"))
      .join(codesByVec, "vec_id")

    // per-query ADC lookup table (exact query subvectors × trained
    // codebook), flattened to a broadcastable m·K→dot map per query
    val qsubs = Ivf.panel(pqAssigned.withColumnRenamed("sq", "q"), qm, col("m"))
    val lut = qsubs.join(cb, Seq("m"))
      .select(col("query_id"),
        (col("m") * pqK + col("code")).cast("int").as("slot"),
        qdot(col("qq"), col("cq")).as("d"))
    val lutMap = lut.groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("d"))))
        .as("lutmap"))

    // candidate fan-out + scoring, all narrow: each corpus index row
    // meets its cell's probing queries via the broadcast probe list and
    // scores itself with M map lookups — no pair rows ever shuffle
    val adcSum = aggregate(
      sequence(lit(0), lit(M - 1)), lit(0L),
      (acc, m) => acc + element_at(col("lutmap"),
        (m * pqK + element_at(col("codes"), m + 1)).cast("int")))
    val adc = vecIndex
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutMap), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.engine.expr.NativeFunctions.opaque(adcSum).as("adc_dot"))

    // shortlist: the one post-index exchange, then the exact re-rank
    val short = Ivf.topK(adc, shortlist, "adc_dot")
      .select(col("query_id"), col("neighbor_id"), col("adc_dot"))
    ranked(rescore(short, vs, queries), topK)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF) of the dense
    * embedding top-k ([[bruteForceTopK]]) and the sparse lexical top-k
    * ([[TextAnalysis.tfidfTopK]]) — the production search shape, where
    * neither channel alone is enough (dense misses exact names/numbers,
    * lexical misses paraphrase). Fusion is rank-based, so the two
    * incomparable score spaces never mix: each list contributes
    * 1e6 div (rrfK + rank) (the integer analog of the standard
    * 1/(60+rank)), absent = 0.
    *
    * Scale shape: both inputs are already top-k-bounded (k·|queries|
    * rows), so the fusion full-outer join, the fused re-rank window and
    * the output are all query-bounded — the corpus-sized work happened
    * inside the two retrieval operators. At 100 TB this is the cheap
    * last stage over two index scans.
    *
    * ONE panel modulus drives BOTH retrievers (r11 ADVICE fix): when
    * each side derived from its own corpus count (embeddings 200 vs
    * documents 500 at sf1) the panels only coincided at multiples of
    * lcm(200, 500) = 1000 and ~80% of fused queries carried ranks from
    * a single retriever — degenerate single-source ranking. The shared
    * modulus is the DENSE side's derived default (so the dense input
    * stays on the materialized exact baseline); the lexical panel uses
    * the same modulus, making every embedded query a genuine two-
    * retriever fusion. Documents beyond the embedding id range still
    * fuse lexical-only — honest: no embedding exists for them.
    */
  def hybridRrf(spark: SparkSession, dir: String, k: Int = 10,
                rrfK: Int = 60): DataFrame = {
    val qm = resolveQm(spark, dir, 0)
    val dense = bruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("dense_rank"))
    // r17: the lexical leg rides the shared `_stage_doc_tf` postings
    // base (its panel stays embedding-derived, so qm is passed through)
    val lex = TextAnalysis.tfidfFromTf(
        TextAnalysis.docTermTf(spark, dir), queryMod = qm)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").as("lex_rank"))
    val fused = dense.join(lex, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        col("dense_rank"), col("lex_rank"),
        (coalesce(expr(s"1000000 div ($rrfK + dense_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + lex_rank)"), lit(0L)))
          .as("rrf_score"))
    Ivf.topK(fused, k, "rrf_score")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("rrf_score"), col("dense_rank"), col("lex_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization codebook training + encoding: split each 64-dim
    * quantized vector into M=8 contiguous 8-dim subvectors and run the
    * SAME deterministic Lloyd loop as [[kmeansCells]] independently per
    * subspace (init = subvectors of the first K vectors, exact integer
    * squared-L2, ties → lowest code, floor-mean recompute). The encoding
    * (vec_id, m, code) compresses each vector to M codes — the 8-byte
    * representation that lets a 100 TB ANN index live in RAM.
    *
    * Scale shape: every iteration is one broadcast join against the
    * M·K-row codebook with a map-side partial argmin, then a
    * constant-size (M·K·subDim keys) re-aggregation — identical budget
    * to [[kmeansCells]], M times over, with no extra corpus shuffles.
    */
  def pqCodes(spark: SparkSession, dir: String, M: Int = 8, subDim: Int = 8,
              k: Int = 16, iters: Int = 2): DataFrame =
    (if (M == 8 && subDim == 8 && k == 16 && iters == 2) pqT(spark, dir)._1
     else pqLoop(vectors(spark, dir), M, subDim, k, iters)._1)
      .select(col("vec_id"), col("m").cast("long").as("m"),
        col("code").cast("long").as("code"))
      .orderBy(col("vec_id"), col("m"))

  /** Default-parameter trained product quantizer (M=8, subDim=8, K=16,
    * iters=2), materialized once per (session, dir) — the codes dump,
    * ADC search, re-rank and both PQ recall QAs ride one training run.
    * Same atomic two-key populate as [[kmeansT]].
    */
  private val pqTLock = new Object
  private def pqT(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqTLock.synchronized {
      var stash: DataFrame = null
      val assigned = graft.engine.StageCache
        .materialized(spark, dir, "ann.pq_assigned") {
          val (a, c) = pqLoop(vectors(spark, dir), 8, 8, 16, 2)
          stash = c
          a
        }
      val cb = graft.engine.StageCache
        .materialized(spark, dir, "ann.pq_codebook") {
          if (stash != null) stash
          else pqLoop(vectors(spark, dir), 8, 8, 16, 2)._2 // full retrain; see kmeansT
        }
      (assigned, cb)
    }

  /** Each vector as M contiguous subDim-dim subvectors: (vec_id, m, sq). */
  private def subvectors(vs: DataFrame, M: Int, subDim: Int): DataFrame =
    vs
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(M - 1))).as("m"), col("q"))
      .select(col("vec_id"), col("m"),
        slice(col("q"), (col("m") * subDim + 1).cast("int"), lit(subDim))
          .as("sq"))

  /** The nearest codebook entry of each subvector in its own subspace
    * ([[Ivf.nearest]] joined on `m`): keys + code + dist. Code ids lie
    * in [0, nCodes). */
  private def nearestCode(subs: DataFrame, cb: DataFrame, nCodes: Int,
                          keys: String*): DataFrame =
    Ivf.nearest(subs, cb, keys, Ivf.L2, nCodes, vec = "sq", id = "code")

  /** PQ codebook STALENESS audit — the index-maintenance question "has
    * the corpus drifted past the codebook?". Train the product-quantizer
    * codebook on the EVEN-id half only (same per-subspace k-means as
    * [[pqCodes]], initial centroids = first k even ids), freeze it,
    * encode BOTH halves, and report per (half, subspace) assignment
    * distortion — count, total, and mean in exact milli. A healthy index
    * shows comparable halves; a climbing held-out-half mean is the
    * retrain signal. Everything integer-exact, so the oracle replays the
    * training bit-for-bit.
    *
    * Scale shape: identical to [[pqCodes]] — the corpus streams against
    * a broadcast M·k codebook; training state is localCheckpointed
    * between rounds; the audit itself is one partial-agg rollup to
    * 2·M rows.
    */
  def pqDriftAudit(spark: SparkSession, dir: String, M: Int = 8,
                   subDim: Int = 8, k: Int = 16, iters: Int = 2): DataFrame =
    pqDriftAudit(vectors(spark, dir), M, subDim, k, iters)

  def pqDriftAudit(vs: DataFrame, M: Int, subDim: Int, k: Int,
                   iters: Int): DataFrame = {
    val subs = subvectors(vs, M, subDim)
    val train = subs.filter(col("vec_id") % 2 === 0)
    // codes are the even ids below 2k
    var cb = train.filter(col("vec_id") < 2L * k)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sq").as("cq"))
    for (_ <- 1 until iters)
      cb = Ivf.recenter(nearestCode(train, cb, 2 * k, "vec_id", "m", "sq"),
        Seq("m", "code"), "sq")
    nearestCode(subs, cb, 2 * k, "vec_id", "m")
      .select((col("vec_id") % 2).as("half"), col("m").cast("long").as("m"),
        col("dist"))
      .groupBy(col("half"), col("m"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("dist")).as("sum_dist"))
      .withColumn("mean_dist_milli",
        expr("sum_dist * 1000 div n_vectors"))
      .orderBy(col("half"), col("m"))
  }

  /** The per-subspace training loop: (final (vec_id, m, sq, code),
    * codebook (m, code, cq)). sq rides the argmin's grouping key
    * (functionally dependent on (vec_id, m)) — deterministic where
    * first(sq) is plan-order-dependent.
    */
  private def pqLoop(vs: DataFrame, M: Int, subDim: Int, k: Int,
                     iters: Int): (DataFrame, DataFrame) = {
    val subs = subvectors(vs, M, subDim)
    var cb = subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sq").as("cq"))
    var assigned: DataFrame = null
    for (it <- 1 to iters) {
      assigned = nearestCode(subs, cb, k, "vec_id", "m", "sq")
        .select(col("vec_id"), col("m"), col("sq"), col("code"))
      if (it < iters) cb = Ivf.recenter(assigned, Seq("m", "code"), "sq")
    }
    // consumers (codes dump, LUT build, ADC join) reference the encoded
    // corpus several times in one plan: materialize it once.
    (graft.engine.StageCache.checkpointed(assigned), cb)
  }

  /** PQ asymmetric-distance (ADC) search: queries keep their EXACT
    * subvectors; each query precomputes a lookup table of dots against
    * every codebook entry (M·K values — the classic ADC trick), and a
    * candidate's approximate inner product is the sum of M table lookups
    * keyed by its codes. Top-k per query over the encoded corpus, self
    * excluded, ties → lowest neighbor id.
    *
    * Scale shape: the corpus side is the (vec_id, m, code) encoding —
    * 8 small rows per vector, never the raw vectors; the LUT is a
    * broadcast of nQueries·M·K rows. One hash join + one (query,
    * neighbor) aggregation + a per-query top-k window. Recall follows
    * codebook quality; the exact re-rank of the survivors is
    * [[bruteForceTopK]] on the top-k ids.
    */
  def pqSearchTopK(spark: SparkSession, dir: String, topK: Int = 10,
                   queryMod: Int = 0, M: Int = 8, subDim: Int = 8,
                   k: Int = 16, iters: Int = 2): DataFrame = {
    val qm = resolveQm(spark, dir, queryMod)
    val vs = vectors(spark, dir)
    val (assigned, cb) =
      if (M == 8 && subDim == 8 && k == 16 && iters == 2) pqT(spark, dir)
      else pqLoop(vs, M, subDim, k, iters)
    val qsubs = Ivf.panel(assigned.withColumnRenamed("sq", "q"), qm, col("m"))
    val lut = qsubs.join(cb, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        qdot(col("qq"), col("cq")).as("d"))
    ranked(assigned.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dot"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dot")), topK, "adc_dot")
  }

  /** Two-stage retrieval: PQ-ADC shortlist → EXACT inner-product re-rank —
    * the production ANN pattern (compressed codes prune the corpus, the
    * few survivors pay the exact dot). `shortlist` candidates per query
    * come from [[pqSearchTopK]]; the re-rank joins their raw vectors back
    * (hash join on neighbor id, fan-out = shortlist size per query, never
    * the corpus) and keeps the final `topK` by exact score.
    */
  def pqRerankTopK(spark: SparkSession, dir: String, topK: Int = 10,
                   shortlist: Int = 30, queryMod: Int = 0): DataFrame =
    // consumed by the rerank query AND the PQ recall QA — materialized
    if (topK == 10 && shortlist == 30 && queryMod == 0)
      graft.engine.StageCache.materialized(spark, dir, "ann.pq_rerank_topk") {
        pqRerankCompute(spark, dir, 10, 30, 0)
      }
    else pqRerankCompute(spark, dir, topK, shortlist, queryMod)

  private def pqRerankCompute(spark: SparkSession, dir: String, topK: Int,
                              shortlist: Int, queryMod: Int): DataFrame = {
    val vs = vectors(spark, dir)
    val cand = pqSearchTopK(spark, dir, topK = shortlist, queryMod = queryMod)
      .select(col("query_id"), col("neighbor_id"), col("adc_dot"))
    ranked(rescore(cand, vs, Ivf.panel(vs, resolveQm(spark, dir, queryMod))), topK)
  }

  /** Per-DIMENSION census of the quantized corpus — the calibration
    * pass every quantizer (int8 scale choice, PQ sub-space ranges, SRP
    * plane scaling) runs before committing to a layout: for each of the
    * d dimensions, the population count, exact min/max/sum, zero count
    * (sparsity), and truncated integer mean.
    *
    * Scale shape: one posexplode projection (rows = N·d but bytes/row
    * is ~16) into a d-group aggregate with map-side partials — output
    * is d rows regardless of corpus size, no joins, no window.
    */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimStats(vectors(spark, dir))

  def dimStats(vs: DataFrame): DataFrame =
    vs.select(posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy(col("pos").cast("long").as("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("x")).as("min_q"), max(col("x")).as("max_q"),
        sum(col("x")).as("sum_q"),
        sum(when(col("x") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim"), col("n_vecs"), col("min_q"), col("max_q"),
        col("sum_q"), col("n_zero"),
        expr("sum_q div n_vecs").as("mean_q"))
      .orderBy(col("dim"))

  /** Int8 compression diagnostics: per-vector symmetric quantization of
    * the milli-quantized components to 8-bit codes (`code = q·127 div s`,
    * s = max |component|), reporting the scale and the reconstruction
    * error in ppm of total magnitude — the go/no-go metric for shrinking
    * a 100 TB ANN index 8× before the recall-sensitive stages.
    *
    * All arithmetic is BIGINT with truncating division (`div` here,
    * `//` in DuckDB — verified identical on negatives), so the oracle
    * reproduces every code and error bit-for-bit. One shuffle: the
    * window partial aggregates and the final groupBy share the vec_id
    * hash partitioning, so Catalyst plans a single exchange.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(vectors(spark, dir))

  def quantizeInt8(vs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
    vs.select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "x")))
      .withColumn("s", greatest(max(abs(col("x"))).over(w), lit(1L)))
      .withColumn("code", expr("(x * 127) div s"))
      .withColumn("recon", expr("(code * s) div 127"))
      .groupBy(col("vec_id"))
      .agg(
        max(col("s")).as("s"), // constant within the vec_id partition
        sum(abs(col("x") - col("recon"))).as("err"),
        sum(abs(col("x"))).as("mag"))
      .select(col("vec_id"), col("s"),
        (col("err") * lit(1000000L) / greatest(col("mag"), lit(1)))
          .cast("long").as("err_ppm"))
      .orderBy(col("vec_id"))
  }

  /** LSH-bucketed top-k retrieval: SRP band buckets generate candidates
    * (a neighbor must share ≥1 of `bands` signature bands with the query),
    * then an exact codegen'd inner-product re-rank keeps the top k.
    *
    * The hash-bucket alternative to [[ivfTopK]]'s learned cells — no
    * training pass at all, which is the right trade when the corpus churns
    * faster than a centroid build. Scale shape: signatures are a pure
    * projection (nPlanes codegen'd dots per vector, no shuffle); corpus
    * band rows shuffle ONCE on (band, value); the query side is broadcast.
    * Candidate count is Σ bucket sizes over the query's bands — bounded by
    * bucket occupancy, never N·Q. Same output schema as the exact
    * [[bruteForceTopK]], so recall is measurable by direct diff.
    */
  def srpTopK(spark: SparkSession, dir: String, k: Int = 10,
              queryMod: Int = 0, nPlanes: Int = 0, bands: Int = 4,
              dims: Int = 64): DataFrame = {
    // nPlanes = 0 derives the band width from the corpus count (same
    // rule and rationale as Dedup.embedCosinePairs — see ScaleKnobs)
    def planes = if (nPlanes == 0)
      ScaleKnobs.srpPlanes(ScaleKnobs.embeddingCount(spark, dir), bands)
    else nPlanes
    if (k == 10 && queryMod == 0 && nPlanes == 0 && bands == 4 && dims == 64)
      graft.engine.StageCache.materialized(spark, dir, "ann.srp_topk") {
        srpTopK(vectors(spark, dir), 10, resolveQm(spark, dir, 0), planes, 4, 64)
      }
    else srpTopK(vectors(spark, dir), k, resolveQm(spark, dir, queryMod),
      planes, bands, dims)
  }

  def srpTopK(vs: DataFrame, k: Int, queryMod: Int, nPlanes: Int,
              bands: Int, dims: Int): DataFrame = {
    require(nPlanes % bands == 0)
    val bitsPerBand = nPlanes / bands
    val mask = (1L << bitsPerBand) - 1
    // one native expression, constant code size at any plane count (the
    // per-plane CASE chain fell out of codegen at 44 planes — see
    // Dedup.srpBandRows)
    val sigCol = graft.engine.expr.NativeFunctions
      .srpSignature(col("q"), Dedup.srpCoefMatrix(nPlanes, dims))
    val sig = vs.select(col("vec_id"), col("q")).withColumn("sig", sigCol)

    def bandRows(df: DataFrame, id: String): DataFrame = df
      .select(col(id), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col(id), col("band"),
        expr(s"shiftright(sig, cast(band as int) * $bitsPerBand)")
          .bitwiseAND(lit(mask)).as("band_val"))

    val corpusBands = bandRows(sig, "vec_id")
      .withColumnRenamed("vec_id", "neighbor_id")
    val queries = Ivf.panel(sig, queryMod, col("sig"))
    val queryBands = bandRows(queries, "query_id")

    val cand = corpusBands.join(broadcast(queryBands), Seq("band", "band_val"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()

    ranked(rescore(cand, vs, queries.select(col("query_id"), col("qq"))), k)
  }

  /** In-engine index QA: recall@k of the SRP-LSH index against the exact
    * brute-force baseline, per query — the acceptance gate an embedding
    * pipeline runs before swapping an index into production. Both sides
    * are the engine's own operators; the overlap join is per-(query,
    * neighbor) — k·|queries| rows, trivial at any corpus size (the cost
    * lives in the two retrieval passes, not the comparison).
    */
  def srpRecall(spark: SparkSession, dir: String, k: Int = 10,
                queryMod: Int = 0): DataFrame =
    // both sides ride the (session, dir) wrappers so the default-case
    // exact baseline comes from the materialized stage
    recallOf(
      bruteForceTopK(spark, dir, k, queryMod)
        .select(col("query_id"), col("neighbor_id")),
      srpTopK(spark, dir, k, queryMod)
        .select(col("query_id"), col("neighbor_id")))

  /** Recall@k of the two-stage PQ retrieval ([[pqRerankTopK]]) against
    * the exact baseline — the same QA gate as [[srpRecall]] for the
    * compressed-index path, so the two index families are comparable on
    * one metric.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(
      bruteForceTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")),
      pqRerankTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")))

  /** Recall@k of the composed IVF-PQ retrieval ([[ivfPqTopK]]) against
    * the exact baseline — quantifies what the cell pruning costs on top
    * of PQ compression (vs [[pqRecall]], which prices compression alone).
    */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(
      bruteForceTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")),
      ivfPqTopK(spark, dir)
        .select(col("query_id"), col("neighbor_id")))

  /** Per-query overlap of an approximate top-k against the exact one,
    * as integer ppm. The comparison is k·|queries| rows — free next to
    * the retrieval passes it grades.
    */
  private def recallOf(brute: DataFrame, approx: DataFrame): DataFrame = {
    val overlap = brute.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    brute.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        col("n_true"),
        (coalesce(col("n_overlap"), lit(0L)) * lit(1000000L) / col("n_true"))
          .cast("long").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  /** Cross-modal curation diagnostic: text-quality rate per embedding
    * cell — joins each document's C4-style keep/drop verdict to its
    * vector's IVF cell and rolls up. The "which clusters are full of
    * junk" view that decides whether to drop a whole region of embedding
    * space instead of filtering doc-by-doc. One broadcast assignment
    * (nCells centroids), one equi-join on the shared id, one tiny
    * rollup — no new shuffles beyond the operators it composes.
    */
  def cellQuality(spark: SparkSession, dir: String, nCells: Int = 0): DataFrame = {
    // default geometry rides the materialized untrained assignment
    // (ann.ivf_assigned — shared with ann_ivf / ann_range_search); a
    // pinned cell count re-derives inline
    val assigned =
      if (nCells == 0) ivfAssignedT(spark, dir)
      else untrainedAssigned(vectors(spark, dir), resolveCells(spark, dir, nCells))
    val verdicts = Corpus.qualitySignals(spark, dir)
      .select(col("doc_id"), col("keep"))
    assigned.join(verdicts, col("vec_id") === col("doc_id"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("cell_id"), col("n_docs"), col("n_keep"),
        (col("n_keep") * lit(1000000L) / col("n_docs")).cast("long")
          .as("keep_ppm"))
      .orderBy(col("cell_id"))
  }

  /** The scale-derived configuration as a QUERYABLE one-row report —
    * what [[ScaleKnobs]] derives for THIS corpus (SRP band width / plane
    * count, embedding- and document-side query-panel moduli, IVF cell
    * count and training modulus, Hamming signature width and threshold,
    * the triangle, bucket and shingle caps), computed by the very
    * functions the operators call on the same memoized counts, so the
    * report cannot disagree with what a query ran. The DuckDB oracle
    * replays every rule from its own count(*). The operational "what
    * will my deployment actually do" view of the deployment-rules table
    * in QUERIES.md.
    */
  def knobReport(spark: SparkSession, dir: String): DataFrame = {
    import ScaleKnobs._
    val ne = embeddingCount(spark, dir)
    val nd = documentCount(spark, dir)
    val cells = ivfCells(ne)
    val sigBits = sigBitsPerBand(nd)
    val row = Seq[(String, Long)](
      "n_embeddings" -> ne, "n_documents" -> nd,
      "srp_bits" -> srpBitsPerBand(ne), "srp_planes" -> srpPlanes(ne),
      "embed_query_mod" -> panelMod(ne), "doc_query_mod" -> panelMod(nd),
      "ivf_cells" -> cells, "kmeans_train_mod" -> kmeansTrainMod(ne, cells),
      "sig_bits" -> sigBits, "sig_max_hamming" -> sigMaxHamming(4, sigBits),
      "triangle_cap" -> triangleDegreeCap(nd),
      "bucket_cap" -> hammingBucketCap(nd),
      "shingle_df_cap" -> shingleDfCap(nd))
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(row.map(_._2))),
      org.apache.spark.sql.types.StructType(row.map { case (name, _) =>
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.LongType, nullable = false)
      }))
  }

  /** Label-centroid similarity: mean quantized vector per label (integer
    * sums + count, exact), then pairwise centroid inner products — the
    * "are these classes separable" diagnostic.
    */
  def labelCentroidSim(spark: SparkSession, dir: String): DataFrame =
    labelCentroidSim(vectors(spark, dir))

  def labelCentroidSim(vs: DataFrame): DataFrame = {
    val sums = vs
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s"), col("n")))),
        r => floor(r.getField("s") * lit(1000L) / r.getField("n")).cast("long"))
        .as("cent"))
    // one row per label (bounded domain) — broadcast EXPLICITLY: the
    // inequality self-join must never degrade to a shuffled cartesian
    // when a size estimate misses at scale
    sums.as("a").join(broadcast(sums.as("b")), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        qdot(col("a.cent"), col("b.cent")).as("dot"))
      .orderBy(col("label_a"), col("label_b"))
  }
}
