package graft.engine.ext

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Deterministic SCALE-DERIVED defaults for the operator knobs that must
  * track corpus size — the fix for the "sf0.1-tuned constant ships to a
  * 100 TB cluster" footgun (the r10 study measured the fixed 16-plane SRP
  * default at ~n² pair work: 21× cost on 10× vectors).
  *
  * Every rule here is INTEGER-EXACT (bit-length, ceiling division — no
  * floating-point log whose last ulp could differ between engines), so the
  * DuckDB oracles replay the identical derivation from their own
  * `count(*)` and the engine/oracle configs can never diverge. Explicit
  * parameters still pin any knob; these are only the defaults.
  *
  * The three rules:
  *  - [[srpBitsPerBand]]: SRP band width grows one bit per corpus
  *    doubling past 2^11, holding bucket occupancy — and thus LSH pair
  *    work per vector — at ≤ 2^7 = 128. At the sf0.1 testdata (2,000
  *    vectors) this reproduces the historical 16-plane config exactly;
  *    at sf1 (20,000) it yields the A/B-measured 32-plane fix
  *    (29.2 s → 4.5 s for the full pair build, QUERIES.md).
  *  - [[panelMod]]: recall-QA / search query panels are FIXED-SIZE
  *    (~100 queries) instead of ∝ corpus: with `vec_id % qm = 0` panels
  *    and constant qm, exact-baseline work is panel × corpus = n²/qm —
  *    the r10 sf1 study measured 36.5× on 10× data. qm = ⌈n/100⌉ keeps
  *    the baseline linear while grading the same approximate paths.
  *  - [[tableCount]]: the deterministic corpus count the rules consume,
  *    memoized per (dir, table) path — like
  *    [[graft.engine.StageCache]]'s durable keys, the memo assumes a
  *    corpus directory is immutable for the life of the process.
  */
object ScaleKnobs {

  /** Smallest b with 2^b >= n (integer-exact ceil(log2 n)); 0 for n <= 1.
    * SQL replay: `(SELECT min(b) FROM range(0, 63) t(b)
    * WHERE (1::BIGINT << b) >= n)`.
    */
  def ceilLog2(n: Long): Int =
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)

  /** SRP band width in bits: max(4, ceil(log2 n) − 7), capped at 15 so a
    * 4-band signature always fits one BIGINT. Bucket occupancy is bounded
    * by n/2^bits < 2^7 = 128, so banded-LSH pair work per vector
    * (occupancy × bands dot products) stays CONSTANT as the corpus grows
    * — the "+1 plane per band per corpus doubling" deployment rule, as
    * code. The candidate recall at a fixed cosine threshold declines as
    * bits grow (the standard LSH precision/recall trade); pin nPlanes
    * explicitly to hold a recall target instead.
    */
  def srpBitsPerBand(n: Long): Int =
    math.min(15, math.max(4, ceilLog2(n) - 7))

  /** Total SRP hyperplanes for `bands` bands at the derived band width. */
  def srpPlanes(n: Long, bands: Int = 4): Int = bands * srpBitsPerBand(n)

  /** Query-panel modulus: qm = max(50, ⌈n/100⌉). A `id % qm = 0` panel
    * then holds ≤ ~100 queries at any corpus size (and stays at the
    * historical qm=50 for n ≤ 5,000), so exact recall baselines cost
    * O(panel × corpus) = O(n), not O(n²/50). SQL replay:
    * `greatest(50, (count(*) + 99) // 100)`.
    */
  def panelMod(n: Long): Int =
    math.max(50L, (n + 99L) / 100L).toInt

  /** Hamming-signature band width (SimHash / pHash) in bits:
    * min(30, max(15, ceil(log2 n) − 1)) — band occupancy n/2^bits ≤ 2
    * past the 15-bit floor, so banded candidate work (buckets ×
    * C(occupancy, 2) local pairs) stays LINEAR in the corpus instead of
    * ~n²/2^bits (the r12 sf10 study measured the pinned 4 × 15 default
    * at 15.1×/decade — `mm_phash_pairs`, 500k items ⇒ ~15 random
    * collisions per bucket and quadrupling per further doubling).
    * The floor reproduces the historical 60-bit geometry bit-for-bit at
    * every committed artifact scale (sf0.001..sf1 ≤ 65,536 docs); the
    * 30-bit cap is where 4 bands exhaust the 120 hash bits two md5
    * halves supply (n = 2^31 — band occupancy only re-grows past two
    * billion items). Occupancy ≤ 2 is far tighter than SRP's ≤ 128
    * ([[srpBitsPerBand]]) on purpose: an SRP candidate still pays a
    * 64-dim dot product to confirm, so tolerating collisions trades
    * hash width against verify cost, while a Hamming candidate verifies
    * in one xor+bit_count — the only real cost of a false bucket
    * collision is the collect_list shuffle itself, so the knob buys
    * pure savings. Recall is band-COUNT-shaped, not width-shaped (a
    * near-dup pair collides when some band is clean of its differing
    * bits; each band is 1/`bands` of the signature at any width), but
    * the absolute `maxHamming` threshold tightens as width grows —
    * [[sigMaxHamming]] is the fraction-preserving companion rule.
    * SQL replay: `least(30, greatest(15, L − 1))` with L the min-b bit
    * length.
    */
  def sigBitsPerBand(n: Long): Int =
    math.min(30, math.max(15, ceilLog2(n) - 1))

  /** Hamming near-dup threshold at a given signature geometry: the
    * historical "≤ 8 of 60 bits differ" similarity FRACTION re-expressed
    * at whatever width is in effect — `(8 · bands · bits) div 60`
    * (exactly 8 at the default 4 × 15). Without this, a derived width
    * silently tightens the match threshold as the corpus grows (a
    * SimHash vote disagrees per bit with probability ∝ document
    * distance, so expected Hamming distance of a fixed-similarity pair
    * scales with total width). Integer-exact; SQL replay:
    * `(8 * bands * bits) // 60`.
    */
  def sigMaxHamming(bands: Int, bitsPerBand: Int): Int =
    (8 * bands * bitsPerBand) / 60

  /** Triangle-census hub cap: 32 · ⌈log2 n⌉ (floor 32) — vertices with
    * near-dup degree above the cap are excluded from wedge formation
    * ([[Dedup.trianglesFromPairs]]). The exact census costs the OUTPUT's
    * size, Σ_family C(s, 3) — the r12 sf10 study measured it 35×/decade
    * (1.07B triangles at 500k docs) because duplicate families densify
    * with crawl size. A log-shaped cap keeps the census quasi-linear
    * (wedge work ≤ n · cap² = n log² n) while leaving every family a
    * constant-per-doubling growth allowance; members of a capped
    * mega-family sit in a near-clique, so their closure is
    * definitionally ~1 and enumerating C(1500, 3) wedges each buys no
    * information. At the committed artifact scales the cap clears the
    * measured max degrees (416 vs 238 at sf0.1; 512 vs 469 at sf1), so
    * every ≤ sf1 artifact replays bit-for-bit; the first capped scale is
    * sf10 (608 vs 1518). SQL replay: `32 * greatest(1, L)` with L the
    * min-b bit length.
    */
  def triangleDegreeCap(n: Long): Long =
    32L * math.max(1, ceilLog2(n))

  /** Hamming band-bucket cap: 64 · ⌈log2 n⌉ (floor 64) — LSH band
    * buckets larger than the cap are excluded from pair generation
    * ([[BucketPairs.pairs]]), closing the last open-ended
    * per-bucket memory/output shape (r13 verdict optional ask #7): the
    * derived band width holds RANDOM collisions to occupancy ≤ 2, so a
    * bucket at thousands of members is a real duplicate family whose
    * C(s, 2) pair list is O(family²) output carrying one bit of
    * information ("these are all the same document") — exact
    * fingerprint dedup ([[Dedup.exact]], `mm_dupes`) is the operator
    * for that mass, and [[Dedup.bucketAudit]] is the census that shows
    * what the cap excluded. A log cap bounds per-bucket pair work at
    * C(64 log n, 2) ≈ 2k log² n while leaving family recall a
    * constant-per-doubling allowance, mirroring [[triangleDegreeCap]].
    * At the committed artifact scales the cap clears the measured max
    * buckets (576 vs 27 at sf0.01; 832 vs 269 at sf0.1; 1024 vs 400 at
    * sf1 — the pHash side is the larger), so every ≤ sf1 artifact
    * replays bit-for-bit; the first capped scale is sf10, and only on
    * the media side (1216 vs pHash 1746; text SimHash measured 861).
    * SQL replay: `64 * greatest(1, L)` with L the min-b bit length.
    */
  def hammingBucketCap(n: Long): Long =
    64L * math.max(1, ceilLog2(n))

  /** IVF coarse-cell count: 2^⌈log2 √n⌉ — the classical nCells ≈ √n
    * train-time rule, snapped to a power of two so the derivation stays
    * integer-exact (⌈log2 √n⌉ = ⌈⌈log2 n⌉ / 2⌉, an identity of the
    * ceiling), floored at the historical 16 so small corpora reproduce
    * every pre-derivation artifact bit-for-bit. √n balances the two
    * costs a probe pays — ranking nCells centroids vs scanning
    * n/nCells candidates per probed cell — so both sides grow as √n
    * instead of one of them going linear. nprobe stays a PINNED
    * recall/cost dial (the nprobe-sweep query is the tool that sizes it
    * per deployment; a fixed probe FRACTION would hold recall but
    * re-linearize probe cost). SQL replay:
    * `greatest(16, 1 << ((L + 1) // 2))` with L the min-b bit length.
    */
  def ivfCells(n: Long): Int =
    math.max(16, 1 << ((ceilLog2(n) + 1) / 2))

  /** Shingle document-frequency cap (r14 verdict ask #1 — the dedup
    * family's last pinned scale knob, `dfCap = 100` since r6): shingles
    * whose document frequency exceeds the cap are excluded from
    * shared-shingle candidate blocking ([[Dedup.ngramJaccardPairs]] /
    * containment / span buckets) — boilerplate phrases carry no
    * near-dup signal and their C(df, 2) bucket expansions are the only
    * quadratic term in the pipelines. The derived form is
    * 8 · ⌈log2 n⌉ (floor 8), the [[triangleDegreeCap]] /
    * [[hammingBucketCap]] log-allowance shape with the family's
    * TIGHTEST multiplier: shingle buckets are by far the densest bucket
    * population (every document contributes hundreds of shingle
    * occurrences vs 4 signature bands), so per-bucket pair work
    * C(8·log n, 2) ≈ 32 log² n keeps the whole candidate stage
    * quasi-linear, while a genuine near-dup pair — sharing MANY
    * low-df shingles — keeps its evidence through any single capped
    * bucket. At the committed artifact scales the rule clears every
    * measured maximum df (72 vs 7 at sf0.01; 104 vs 25 at sf0.1; the
    * salted decade replicas hold per-replica df constant, so 25 stays
    * the max at sf1/sf10) AND sits at/above the historical 100 from
    * sf0.1 up, so every committed artifact replays bit-for-bit under
    * either constant — [[Dedup.shingleAudit]] is the census that shows
    * what the cap excludes (nothing, at these corpora; real crawls
    * have df ∝ n boilerplate and the cap is what keeps them linear).
    * SQL replay: `8 * greatest(1, L)` with L the min-b bit length.
    */
  def shingleDfCap(n: Long): Int =
    8 * math.max(1, ceilLog2(n))

  /** Market-basket size cap (r15 verdict ask #5 — the last
    * quadratic-shaped pair expansion without a derived bound): baskets
    * (orders) whose DISTINCT-part count exceeds the cap are excluded
    * from co-purchase pair generation ([[Relational.basketPairs]]) —
    * the same log-allowance shape as [[shingleDfCap]] with the same
    * tightest multiplier, because basket pair work is C(size, 2)
    * exactly like a shingle bucket's. n is the ORDER count (the basket
    * population). TPC-H baskets hold ≤ 7 lines, so the cap
    * (8 · ⌈log2 n⌉, floor 8) excludes nothing at any committed artifact
    * scale and every artifact replays bit-for-bit under either form;
    * real retail/crawl baskets have power-law sizes and the cap is what
    * keeps the expansion linear — [[Relational.basketAudit]] is the
    * census that shows the excluded mass. SQL replay:
    * `8 * greatest(1, L)` with L the min-b bit length.
    */
  def basketCap(n: Long): Int =
    8 * math.max(1, ceilLog2(n))

  /** k-means TRAINING-SAMPLE modulus (r14 verdict ask #4): the Lloyd
    * recompute iterations see only vectors with `vec_id % tm = 0`,
    * tm = max(1, n div (64 · nCells)), and the FINAL assignment covers
    * the full corpus. Classical IVF practice trains on
    * O(points-per-centroid · nCells) vectors (the 64 sits inside the
    * standard ~39–256-per-centroid band) because centroid positions
    * stop moving long before the millionth example — only the
    * ASSIGNMENT needs every vector. Cost: each training argmin drops
    * from n · nCells to 64 · nCells² = 64 · n at the √n cell rule
    * ([[ivfCells]]) — LINEAR — leaving the one-time full-corpus
    * assignment (n · √n, the stored index itself) as the only
    * superlinear term. Floor division makes the sample AT LEAST
    * 64 · nCells (⌈n/tm⌉ ≥ 64 · nCells), and tm = 1 at every committed
    * artifact scale ≤ sf1 (first binds at sf10: n = 200k, 512 cells →
    * tm = 6), so every ≤ sf1 artifact replays bit-for-bit. Cells with
    * no sampled member simply vanish from that recompute — the standard
    * empty-cell outcome of Lloyd, identical in the oracle's replay.
    * SQL replay: `greatest(1, n // (64 * nc))`.
    */
  def kmeansTrainMod(n: Long, nCells: Int): Int =
    math.max(1L, n / (64L * nCells)).toInt

  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of `dir/table.parquet`, memoized per (path, CONTENT
    * fingerprint) for the life of the process (a parquet metadata count —
    * cheap, but every derived default in a query should agree on one
    * value). The fingerprint is the same listing-shaped digest the
    * durable [[graft.engine.StageCache]] keys by (name/size/mtime), so
    * the two caches agree on what "the same corpus" means: regenerating
    * a table IN PLACE changes its fingerprint, the memo misses, and the
    * knob re-derives from the fresh count — without this, a long-lived
    * JVM would rebuild a durable stage under its new fingerprint key
    * using a STALE memoized count, persisting a wrong derivation that
    * other JVMs then trust (r11 ADVICE). Superseded entries linger in
    * the map unread — bounded by the number of in-place regenerations.
    * Cost per call is one FileSystem listing, far below the count job
    * it memoizes.
    */
  def tableCount(spark: SparkSession, dir: String, table: String): Long = {
    val pathStr = s"$dir/$table.parquet"
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val fp =
      if (st.isDirectory) graft.engine.StageCache.corpusFingerprint(fs, p)
      else s"${st.getLen}|${st.getModificationTime}"
    val key = s"$pathStr|$fp"
    val cached = counts.get(key)
    if (cached != null) cached.longValue()
    else {
      val n = spark.read.parquet(pathStr).count()
      counts.put(key, n)
      n
    }
  }

  def embeddingCount(spark: SparkSession, dir: String): Long =
    tableCount(spark, dir, "embeddings")

  def documentCount(spark: SparkSession, dir: String): Long =
    tableCount(spark, dir, "documents")
}
