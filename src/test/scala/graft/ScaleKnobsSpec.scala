package graft

import graft.engine.ext.ScaleKnobs
import org.scalatest.funsuite.AnyFunSuite

/** The scale-derived defaults (r10 verdict asks #1/#2): integer-exact,
  * monotone in the corpus count, and pinned to the historically-measured
  * values at the testdata scales so the derivation can never silently
  * change what the committed bench/correctness artifacts measured.
  */
class ScaleKnobsSpec extends AnyFunSuite {

  test("basketCap: clears the TPC-H <= 7-line basket maximum at every " +
    "scale, so committed artifacts replay under either form") {
    assert(ScaleKnobs.basketCap(1L) === 8)          // floor > 7
    assert(ScaleKnobs.basketCap(15000L) === 112)    // sf0.01 orders
    assert(ScaleKnobs.basketCap(150000L) === 144)   // sf0.1
    assert(ScaleKnobs.basketCap(15000000L) === 192) // sf10
    // quasi-linear worst case: per-basket pair work C(8L, 2) = O(log² n)
    assert(ScaleKnobs.basketCap(1L << 40) === 320)
  }

  test("shingleDfCap: clears every measured max df through sf10 (salted " +
    "replicas hold per-replica df constant) and the historical 100 from " +
    "sf0.1 up, so committed artifacts replay under either constant") {
    // measured max shingle df: 7 (sf0.01), 25 (sf0.1 — and, by the
    // token-salted replica construction, at sf1/sf10 too)
    assert(ScaleKnobs.shingleDfCap(500L) === 72)      // > 7
    assert(ScaleKnobs.shingleDfCap(5000L) === 104)    // > 25 and >= 100
    assert(ScaleKnobs.shingleDfCap(50000L) === 128)
    assert(ScaleKnobs.shingleDfCap(500000L) === 152)
    assert(ScaleKnobs.shingleDfCap(1L) === 8)
    // quasi-linear worst case: per-bucket pair work C(8L, 2) = O(log² n)
    assert(ScaleKnobs.shingleDfCap(1L << 40) === 320)
  }

  test("kmeansTrainMod: >= 64 vectors per centroid, tm = 1 at every " +
    "committed scale <= sf1, first binds at sf10") {
    assert(ScaleKnobs.kmeansTrainMod(500L, ScaleKnobs.ivfCells(500L)) === 1)
    assert(ScaleKnobs.kmeansTrainMod(2000L, ScaleKnobs.ivfCells(2000L)) === 1)
    assert(ScaleKnobs.kmeansTrainMod(20000L, ScaleKnobs.ivfCells(20000L)) === 1)
    // sf10: 200k vectors, 512 cells -> tm = 6, sample 33,334 >= 64*512
    val tm10 = ScaleKnobs.kmeansTrainMod(200000L, ScaleKnobs.ivfCells(200000L))
    assert(tm10 === 6)
    assert((200000L + tm10 - 1) / tm10 >= 64L * ScaleKnobs.ivfCells(200000L))
    // the floor-division sample-size guarantee holds across a sweep
    for (e <- 4 to 40) {
      val n = 1L << e
      val nc = ScaleKnobs.ivfCells(n)
      val tm = ScaleKnobs.kmeansTrainMod(n, nc)
      assert(tm >= 1, s"tm >= 1 at n=$n")
      if (tm > 1)
        assert((n + tm - 1) / tm >= 64L * nc, s"sample >= 64*nc at n=$n")
    }
  }

  test("hammingBucketCap: log-shaped, clears every measured max bucket " +
    "through sf1, first binds at sf10 (media side only)") {
    // measured max band buckets (r14 probe, larger of simhash/pHash):
    // 27 (sf0.01), 269 (sf0.1), 400 (sf1), 861/1746 (sf10 text/media)
    assert(ScaleKnobs.hammingBucketCap(500L) === 576L)     // > 27
    assert(ScaleKnobs.hammingBucketCap(5000L) === 832L)    // > 269
    assert(ScaleKnobs.hammingBucketCap(50000L) === 1024L)  // > 400
    assert(ScaleKnobs.hammingBucketCap(500000L) === 1216L) // < 1746: capped
    assert(ScaleKnobs.hammingBucketCap(1L) === 64L)
    // derived-branch fixture value matches no historical constant
    assert(ScaleKnobs.hammingBucketCap(70000L) === 1088L)
  }

  test("sigBitsPerBand: occupancy <= 2 past the 15-bit floor; the floor " +
    "covers every committed artifact scale") {
    // every driver scale AND sf1 stay on the historical 4 x 15 geometry
    assert(ScaleKnobs.sigBitsPerBand(50L) === 15)
    assert(ScaleKnobs.sigBitsPerBand(500L) === 15)
    assert(ScaleKnobs.sigBitsPerBand(5000L) === 15)
    assert(ScaleKnobs.sigBitsPerBand(50000L) === 15)
    assert(ScaleKnobs.sigBitsPerBand(65536L) === 15)
    // the first derived step: sf10 (500k docs) rebuilds at 4 x 18 —
    // the geometry QUERIES.md's r12 occupancy analysis called for
    assert(ScaleKnobs.sigBitsPerBand(65537L) === 16)
    assert(ScaleKnobs.sigBitsPerBand(500000L) === 18)
    // monotone; occupancy n / 2^bits <= 2 between floor and cap; the cap
    // is where 4 bands exhaust the two-md5-half 120-bit hash budget
    var prev = 0
    for (e <- 1 to 62) {
      val n = 1L << e
      val bits = ScaleKnobs.sigBitsPerBand(n)
      assert(bits >= prev); prev = bits
      if (bits > 15 && bits < 30)
        assert(n.toDouble / (1L << bits) <= 2.0, s"occupancy at n=$n")
      assert(bits <= 30)
    }
    // the derived threshold preserves the historical 8-of-60 fraction
    assert(ScaleKnobs.sigMaxHamming(4, 15) === 8)
    assert(ScaleKnobs.sigMaxHamming(4, 18) === 9)
    assert(ScaleKnobs.sigMaxHamming(4, 30) === 16)
  }

  test("triangleDegreeCap: log-shaped, clears every measured max degree " +
    "through sf1, first binds at sf10") {
    // measured near-dup max degrees: 238 (sf0.1), 469 (sf1), 1518 (sf10)
    assert(ScaleKnobs.triangleDegreeCap(5000L) === 416L)   // > 238
    assert(ScaleKnobs.triangleDegreeCap(50000L) === 512L)  // > 469
    assert(ScaleKnobs.triangleDegreeCap(500000L) === 608L) // < 1518: capped
    assert(ScaleKnobs.triangleDegreeCap(1L) === 32L)
    // quasi-linear census: wedge work <= n * cap^2 = n log^2 n
    var prev = 0L
    for (e <- 1 to 62) {
      val cap = ScaleKnobs.triangleDegreeCap(1L << e)
      assert(cap >= prev); prev = cap
    }
  }

  test("ceilLog2 is the exact integer ceil(log2 n)") {
    assert(ScaleKnobs.ceilLog2(1L) === 0)
    assert(ScaleKnobs.ceilLog2(2L) === 1)
    assert(ScaleKnobs.ceilLog2(3L) === 2)
    assert(ScaleKnobs.ceilLog2(4L) === 2)
    assert(ScaleKnobs.ceilLog2(5L) === 3)
    assert(ScaleKnobs.ceilLog2(1024L) === 10)
    assert(ScaleKnobs.ceilLog2(1025L) === 11)
    // the SQL replay (min b with 2^b >= n) agrees on a dense sweep
    for (n <- 1L to 5000L) {
      val sqlB = (0 to 62).find(b => (1L << b) >= n).get
      assert(ScaleKnobs.ceilLog2(n) === sqlB, s"n=$n")
    }
  }

  test("srpBitsPerBand: occupancy-bounded, grows one bit per doubling") {
    // the testdata family reproduces the historical 16-plane config
    assert(ScaleKnobs.srpBitsPerBand(500L) === 4)
    assert(ScaleKnobs.srpBitsPerBand(2000L) === 4)
    assert(ScaleKnobs.srpPlanes(2000L) === 16)
    // sf1 (20k vectors) derives the A/B-measured 32-plane fix
    assert(ScaleKnobs.srpBitsPerBand(20000L) === 8)
    assert(ScaleKnobs.srpPlanes(20000L) === 32)
    // monotone non-decreasing; occupancy n / 2^bits stays < 128 once
    // the floor is passed; capped at 15 so 4-band signatures fit a BIGINT
    var prev = 0
    for (e <- 1 to 40) {
      val n = 1L << e
      val bits = ScaleKnobs.srpBitsPerBand(n)
      assert(bits >= prev)
      prev = bits
      if (bits > 4 && bits < 15)
        assert(n.toDouble / (1L << bits) <= 128.0, s"occupancy at n=$n")
      assert(bits <= 15)
    }
  }

  test("ivfCells: the nCells ~ sqrt(n) train-time rule, power-of-two") {
    // the driver-tested scales: 500 vectors -> 32 cells, 2000 -> 64
    assert(ScaleKnobs.ivfCells(500L) === 32)
    assert(ScaleKnobs.ivfCells(2000L) === 64)
    // sf1 embeddings (20k) -> 256; sf10 (200k) -> 512
    assert(ScaleKnobs.ivfCells(20000L) === 256)
    assert(ScaleKnobs.ivfCells(200000L) === 512)
    // floor reproduces the historical 16 for tiny corpora
    assert(ScaleKnobs.ivfCells(1L) === 16)
    assert(ScaleKnobs.ivfCells(256L) === 16)
    // 2^⌈log2 √n⌉ brackets √n within [√n, 2√n): both probe-side costs
    // (rank nc centroids; scan ~n/nc candidates per cell) grow as √n
    for (e <- 9 to 40) {
      val n = 1L << e
      val nc = ScaleKnobs.ivfCells(n).toLong
      val sqrtN = math.sqrt(n.toDouble)
      assert(nc >= sqrtN && nc < 2 * sqrtN, s"nc=$nc at n=$n")
      // ceiling identity used by the derivation: ⌈log2 √n⌉ = ⌈⌈log2 n⌉/2⌉
      assert(nc === (1L << math.ceil(math.log(sqrtN) / math.log(2)).toInt),
        s"identity at n=$n")
    }
  }

  test("panelMod: fixed ~100-query panel at any corpus size") {
    // unchanged at the driver-tested scales (panel == historical qm=50)
    assert(ScaleKnobs.panelMod(500L) === 50)
    assert(ScaleKnobs.panelMod(2000L) === 50)
    assert(ScaleKnobs.panelMod(5000L) === 50)
    // grows past 5k: sf1 embeddings (20k) -> 200, documents (50k) -> 500
    assert(ScaleKnobs.panelMod(20000L) === 200)
    assert(ScaleKnobs.panelMod(50000L) === 500)
    // panel size |{id : id % qm == 0, id < n}| stays <= 100 forever
    for (n <- Seq(10L, 5001L, 99999L, 1000000L, 123456789L)) {
      val qm = ScaleKnobs.panelMod(n)
      val panel = (n + qm - 1) / qm // ids 0, qm, 2qm, ... < n
      assert(panel <= 100L, s"panel=$panel at n=$n")
    }
  }
}
