package graft

import graft.engine.ext.Relational
import graft.engine.plans.PlanWalk

/** Physical-plan shape assertions: the 100 TB design properties the
  * VERDICT audits by hand become test failures. A plan regression (a
  * broadcast that silently turns into a shuffle join, a top-k that
  * becomes a global sort, a new cartesian product) fails `sbt test`
  * instead of surfacing at scale.
  *
  * Assertions run on the PLANNED (not executed) physical plan at
  * sf0.001 — plan shapes are data-size-independent here because the
  * broadcasts are explicit hints, not size-estimated choices.
  */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("topLineitems plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.topLineitems(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(!p.contains("Exchange rangepartitioning"), p.take(500))
  }

  test("dimension joins broadcast (segmentRevenue, suppliersPerRegion)") {
    val p1 = plan(Relational.segmentRevenue(spark, dir))
    assert(p1.contains("BroadcastHashJoin"), p1.take(500))
    assert(!p1.contains("SortMergeJoin"), p1.take(500))
    val p2 = plan(Relational.suppliersPerRegion(spark, dir))
    // two dimension hops, both broadcast
    assert("BroadcastHashJoin".r.findAllIn(p2).length === 2, p2.take(800))
    assert(!p2.contains("SortMergeJoin"), p2.take(500))
  }

  test("mysql_agg shuffles exactly once for the aggregate") {
    val p = plan(SparkEntry.queries("mysql_agg")(spark, dir))
    // exactly one hash exchange on the aggregation key (partial agg
    // map-side, merge reduce-side); the plan's other exchanges are the
    // ordered-output range partition and LogGen's fixture construction
    // (groupBy file_id), not pipeline work
    assert("Exchange hashpartitioning\\(Normalized_Query".r
      .findAllIn(p).length === 1, p.take(800))
    assert("Exchange".r.findAllIn(p).length <= 3, p.take(800))
  }

  test("corpus operators plan with the promised exchange budget") {
    import graft.engine.ext.{Corpus, Similarity}
    // splitAssign: pure projection + output sort — no hash exchange at all
    val split = plan(Corpus.splitAssign(spark, dir))
    assert(!split.contains("Exchange hashpartitioning"), split.take(600))
    // weightedInterleave: a range-partitioned sort, never a single-task
    // global window (the scaladoc's scale contract)
    val mix = plan(Corpus.weightedInterleave(spark, dir))
    assert(mix.contains("Exchange rangepartitioning"), mix.take(600))
    assert(!mix.contains("Exchange SinglePartition"), mix.take(600))
    // quantizeInt8: the window partial agg and final groupBy share the
    // vec_id partitioning — exactly one hash exchange
    val quant = plan(Similarity.quantizeInt8(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(quant).length === 1,
      quant.take(800))
  }

  test("event analytics plan on a single user_id exchange") {
    import graft.engine.ext.Sessionize
    // funnel: three chained window mins + distinct all share the
    // hashpartitioning(user_id) — ONE hash exchange, then the output sort
    val fun = plan(Sessionize.funnel(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(fun).length === 1,
      fun.take(800))
    // retention: user_id window + distinct reuse one exchange; the
    // cohort×offset rollup adds exactly one more (tiny key space)
    val ret = plan(Sessionize.retention(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(ret).length <= 2,
      ret.take(800))
    // MAD outliers (census form, r16): the fact leaves its scan through
    // ONE map-side-combined (event_type, value_c) count aggregate — the
    // partial HashAggregate must sit below the fact exchange — then the
    // windows/median/MAD run over the census behind a second, census-
    // grain exchange. Two hash exchanges, only one at fact grain, no
    // self-join.
    val mad = plan(Sessionize.madOutliers(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(mad).length === 2,
      mad.take(1000))
    assert(mad.contains("partial_count"), mad.take(1000))
    assert(!mad.contains("Join"), mad.take(1000))
  }

  test("round-6 additions keep their scale shapes") {
    import graft.engine.ext.TextAnalysis
    import graft.engine.ingest.Layout
    import org.apache.spark.sql.functions.col
    // vocab: corpus top-k plans as TakeOrderedAndProject (per-task heaps),
    // never a global sort of the vocabulary
    val v = plan(TextAnalysis.vocab(spark, dir, 100))
    assert(v.contains("TakeOrderedAndProject"), v.take(600))
    // zorder write layout: a range partition on the interleaved key
    val z = plan(Layout.zorder(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      col("l_partkey"), col("l_suppkey"), 8))
    assert(z.contains("Exchange rangepartitioning"), z.take(600))
    // zorderStats: exactly one hash exchange (the bucket rollup)
    val zs = plan(Layout.zorderStats(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(zs).length === 1,
      zs.take(800))
  }

  test("round-7 additions keep their scale shapes") {
    import graft.engine.streaming.EventStream
    // profile twin: ONE hash exchange (the user_id aggregate), then the
    // output sort — the stateful fold's batch statement must not shuffle
    // more than the streaming operator would
    val pr = plan(EventStream.userProfilesBatch(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(pr).length === 1,
      pr.take(800))
    // attribution twin: an equi-join on user_id with the interval bounds
    // as join conditions — never a cartesian/BNLJ range join
    val at = plan(EventStream.attributedPurchasesBatch(spark, dir))
    assert(at.contains("Join") || at.contains("HashJoin"), at.take(800))
    assert(!at.contains("CartesianProduct") &&
      !at.contains("BroadcastNestedLoopJoin"), at.take(800))
    // Q21 shape: the EXISTS must plan as a LEFT SEMI, the NOT EXISTS
    // as a LEFT ANTI (never a fan-out join + dedup), and the supplier
    // dimension must broadcast
    val q21 = plan(Relational.soleLateSuppliers(spark, dir))
    assert(q21.contains("LeftSemi"), q21.take(800))
    assert(q21.contains("LeftAnti"), q21.take(800))
    assert(q21.contains("BroadcastHashJoin"), q21.take(800))
    // composed IVF-PQ: the shortlist top-k must pre-prune map-side
    // (WindowGroupLimit), and the candidate scoring path must stay
    // narrow — broadcast joins only, no sort-merge join of pair rows
    // (the one allowed SMJ-shaped exchange is the vec_id index build).
    // The registry wrapper returns the materialized stage (an RDD scan),
    // so the shape assertions run on the compute path it caches.
    val pq = plan(graft.engine.ext.Similarity.ivfPqCompute(spark, dir,
      10, 30, 50, 16, 2, 4, 8, 8, 16, 2))
    assert(pq.contains("WindowGroupLimit"), pq.take(1200))
    assert("BroadcastHashJoin".r.findAllIn(pq).length >= 3, pq.take(1200))
  }

  // The StageCache wrappers hide their build pipelines behind an RDD scan
  // once materialized, so the registry sweep can no longer see inside
  // them. This test runs the SAME nested-loop census on the pure
  // DataFrame-form builds (the exact code the cached thunks execute) so
  // a cartesian regression in a shared stage still fails loudly.
  test("materialized stage builds keep their bucket-join shapes") {
    import graft.engine.ext.{Dedup, Similarity}
    val docs = Dedup.documents(spark, dir)
    val vs = Similarity.quantizedVectors(spark,
      spark.read.parquet(s"$dir/embeddings.parquet"))
    val builds: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "simhash_pairs" -> Dedup.simhashPairs(docs),
      "ngram_pairs_t0" -> Dedup.ngramJaccardPairs(docs, 3, 100, 0L),
      "minhash_pairs" -> Dedup.minhashPairs(docs),
      "spans" -> Dedup.substringSpans(docs),
      "srp_topk" -> Similarity.srpTopK(vs, 10, 50, 16, 4, 64),
      // bruteforce is the one deliberate hinted fan-out (exact baseline)
      "bruteforce_topk" -> Similarity.bruteForceTopK(vs, 10, 50))
    for ((name, df) <- builds) {
      val (cartesians, _, risky) = nestedLoopCensus(df)
      assert(cartesians === 0, s"stage $name plans a CartesianProduct")
      if (risky.nonEmpty)
        assert(risky.size <= hintedNonEquiJoins(df),
          s"stage $name has an unexcused BNLJ")
    }
  }

  test("TPC-H Q22/Q15/Q20 shapes plan without cartesians or extra shuffles") {
    // Q22: the NOT EXISTS must plan as a LEFT ANTI (never fan-out +
    // dedup), and the uncorrelated scalar subqueries must never become
    // a per-row nested loop
    val q22 = plan(Relational.idleRichCustomers(spark, dir))
    assert(q22.contains("LeftAnti"), q22.take(800))
    assert(!q22.contains("CartesianProduct"), q22.take(800))
    // Q15: the 1-row max gate and the supplier dimension both join
    // broadcast — no shuffle join anywhere in the plan
    val q15 = plan(Relational.topSupplier(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(q15).length === 2, q15.take(800))
    assert(!q15.contains("SortMergeJoin") &&
      !q15.contains("ShuffledHashJoin"), q15.take(800))
    // Q20: per-part totals come from a Window OVER the aggregate (no
    // self-join back on partkey), so the whole query is exactly three
    // hash exchanges — (part,supp) agg, partkey window, suppkey agg —
    // plus the broadcast dimension
    val q20 = plan(Relational.dominantSuppliers(spark, dir))
    assert(q20.contains("Window"), q20.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(q20).length === 3,
      q20.take(1200))
    assert(q20.contains("BroadcastHashJoin"), q20.take(800))
    assert(!q20.contains("SortMergeJoin"), q20.take(800))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB a fact-fact shuffle join with a selective dim-side filter
    // should not shuffle the unfiltered probe side in full: Spark's
    // runtime row-level filtering builds a bloom filter from the filtered
    // side and semi-prunes the probe side BEFORE its shuffle. Thresholds
    // are size-based (meant for TB-scale sides), so pin them for the
    // sf0.001 fixture — the assertion is the plan shape, not the sizes.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 500000.0) // selective creation side
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the probe side:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // The salted rollup is the hand-built skew answer; this proves the
    // engine-level one: AQE detects an oversized shuffle partition during
    // execution and splits it (skew=true in the FINAL adaptive plan), so
    // one hot key cannot stall a 1000-executor join. Thresholds are
    // tuned for MB-scale fixtures — production defaults are the same
    // mechanism at 256 MB.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, when, lit, concat}
      // key 0 carries 55k of 60k rows; the 5k tail ids miss the right side
      val left = spark.range(60000).select(
        when(col("id") < 55000, 0L).otherwise(col("id")).as("k"),
        concat(lit("payload_payload_payload_"), col("id")).as("v"))
      val right = spark.range(64).select(col("id").as("k"))
      val q = left.join(right, "k")
      // execute q's OWN queryExecution (count() would plan a new one and
      // leave this plan un-finalized)
      assert(q.collect().length === 55000)
      val finalPlan = q.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"no skew-split in the final adaptive plan:\n${finalPlan.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("TPC-H Q5/Q2/Q13/Q14/Q19/Q11 shapes keep their scale plans") {
    // Q5: orders⋈customer and the fact join shuffle; supplier/nation/
    // region ride broadcasts (the dual-role nation equality must stay a
    // second conjunct on the supplier join, never a cartesian)
    val q5 = plan(Relational.localRevenue(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(q5).length >= 3, q5.take(1200))
    assert(!q5.contains("CartesianProduct") &&
      !q5.contains("BroadcastNestedLoopJoin"), q5.take(1200))
    // Q2: the correlated min decorrelates to a Window over the offer
    // aggregate (no self-join back on partkey), top-k stays a
    // TakeOrderedAndProject, and every dimension hop broadcasts — the
    // only hash exchanges are the offer aggregate and the partkey window
    val q2 = plan(Relational.minCostSuppliers(spark, dir))
    assert(q2.contains("Window"), q2.take(1200))
    assert(q2.contains("TakeOrderedAndProject"), q2.take(1200))
    assert("BroadcastHashJoin".r.findAllIn(q2).length >= 4, q2.take(1600))
    assert(!q2.contains("SortMergeJoin"), q2.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(q2).length === 2,
      q2.take(1600))
    // Q13: the outer join runs at CUSTOMER grain — the orders aggregate
    // must sit below the join, so the join carries no fact-sized side
    val q13 = plan(Relational.orderCountHistogram(spark, dir))
    assert(q13.contains("LeftOuter"), q13.take(1200))
    assert(!q13.contains("CartesianProduct"), q13.take(1200))
    // Q14/Q19: single-row conditional aggregates over a pruned join;
    // Q19's part-only disjunction must reach the part side as a filter
    // (CNF extraction), not survive only as a join residual
    val q14 = plan(Relational.promoShare(spark, dir))
    assert(!q14.contains("CartesianProduct") &&
      !q14.contains("BroadcastNestedLoopJoin"), q14.take(1200))
    val q19opt = Relational.disjunctiveRevenue(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("Brand#34".r.findAllIn(q19opt).length >= 2,
      "part-side disjunction was not extracted below the join:\n" +
        q19opt.take(1600))
    // Q7: the cross-role disjunction's single-column residues
    // (n ∈ {A,B}) must reach EACH nation dimension — two pushed IN
    // filters besides the residual pair gate
    val q7opt = Relational.volumeShipping(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("NATION_3".r.findAllIn(q7opt).length >= 3,
      "nation-pair residues were not pushed to both dimension roles:\n" +
        q7opt.take(2400))
    // Q16: the denylist must stay a LEFT ANTI (never NOT IN's
    // null-trap rewrite into a nested loop)
    val q16 = plan(Relational.supplierVariety(spark, dir))
    assert(q16.contains("LeftAnti"), q16.take(1200))
    assert(!q16.contains("CartesianProduct") &&
      !q16.contains("BroadcastNestedLoopJoin"), q16.take(1200))
  }

  test("TPC-H Q6/Q10/Q12 shapes keep their scale plans") {
    // Q6: no join at all — the whole query is one pruned scan; the
    // shipdate window and quantity cap must reach the parquet reader
    val q6 = Relational.forecastRevenue(spark, dir)
    val q6p = plan(q6)
    assert(!q6p.contains("Join"), q6p.take(800))
    val q6scan = q6.queryExecution.executedPlan.toString
    assert(q6scan.contains("PushedFilters") &&
      q6scan.contains("l_quantity"), q6scan.take(1600))
    // Q10: customer + nation broadcast (the quarter-filtered orders
    // side may ALSO broadcast at tiny SF — a size choice, not shape);
    // top-20 plans as TakeOrderedAndProject
    val q10 = plan(Relational.returnedItemRevenue(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(q10).length >= 2, q10.take(1200))
    assert(q10.contains("TakeOrderedAndProject"), q10.take(1200))
    assert(!q10.contains("CartesianProduct") &&
      !q10.contains("BroadcastNestedLoopJoin"), q10.take(1200))
    // Q12: the year window must prune the fact scan BEFORE the join,
    // and the conditional split aggregates map-side (partial agg below
    // the class-key exchange)
    val q12opt = Relational.priorityLineCounts(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(q12opt.contains("1996"), q12opt.take(1200))
    val q12 = plan(Relational.priorityLineCounts(spark, dir))
    assert(!q12.contains("CartesianProduct") &&
      !q12.contains("BroadcastNestedLoopJoin"), q12.take(1200))
    assert(q12.contains("partial"), q12.take(1200))
  }

  // ---- structural cartesian sweep ------------------------------------
  //
  // A nested-loop join is acceptable ONLY in two shapes, both O(n) at
  // any scale:
  //  (a) scalar broadcast: the build side contains an UNGROUPED
  //      aggregate — ≤1 build row, constant work per probe row (the
  //      canonical scalar-subquery plan: text_surprisal's corpus total,
  //      ext_q11's global (count,sum), ...);
  //  (b) deliberate bounded fan-out: the logical join has NO equi-key
  //      AND our code explicitly marked the small side `broadcast(...)`
  //      (ANN centroid assignment — every vector × ≤nCells rows — and
  //      the brute-force/inequality recall baselines). The explicit
  //      hint is the structural marker of intent: an ACCIDENTAL
  //      cartesian (a naked crossJoin, a typo'd join key) carries no
  //      hint and fails the sweep.
  // A CartesianProductExec (non-broadcast nested loop: n×m shuffle) is
  // never acceptable.

  /** Physical BNLJ/cartesian nodes NOT excused by the scalar-aggregate
    * build shape (a). Returned so the assertion message can name them. */
  /** (cartesian nodes, scalar-excused BNLJs, unexcused BNLJs). A
    * CartesianProductExec (n×m shuffle nested loop) is NEVER acceptable
    * and is reported separately so nothing can licence it.
    */
  private def nestedLoopCensus(df: org.apache.spark.sql.DataFrame)
      : (Int, Int, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    def scalarAggBelow(p: SparkPlan): Boolean =
      p.exists {
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }
    val plan = df.queryExecution.sparkPlan
    val cartesians = plan.collect { case c: CartesianProductExec => c }.size
    val bnljs = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    val (scalar, risky) = bnljs.partition(j =>
      scalarAggBelow(if (j.buildSide == BuildLeft) j.left else j.right))
    (cartesians, scalar.size, risky.map(j => j: SparkPlan))
  }

  /** Logical joins with no equi-key conjunct that our code explicitly
    * hinted broadcast — the only licence for a non-scalar BNLJ (b). */
  private def hintedNonEquiJoins(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    def hasEquiKey(j: Join): Boolean = j.condition.exists(c =>
      conjuncts(c).exists {
        case _: EqualTo | _: EqualNullSafe => true
        case _ => false
      })
    df.queryExecution.optimizedPlan.collect {
      case j: Join
          if !hasEquiKey(j) &&
            (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
              j.hint.rightHint.exists(_.strategy.contains(BROADCAST))) => j
    }.size
  }

  test("no cartesian/BNLJ outside scalar-broadcast or hinted fan-out shapes") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, dir)
      val (cartesians, scalarExcused, risky) = nestedLoopCensus(df)
      // a shuffled n×m cartesian has NO licence, ever
      assert(cartesians === 0, s"$name plans a CartesianProduct")
      if (risky.nonEmpty) {
        // every unexcused BNLJ must be accounted for by an explicitly-
        // broadcast non-equi logical join. Scalar-excused BNLJs consume
        // their own (typically hinted) joins first — without the
        // subtraction, one crossJoin(broadcast(<agg>)) would licence an
        // unrelated accidental nested loop in the same query.
        val licences = math.max(0, hintedNonEquiJoins(df) - scalarExcused)
        assert(risky.size <= licences,
          s"$name plans ${risky.size} unexcused nested-loop join(s) but only " +
            s"$licences spare explicitly-broadcast non-equi join(s): " +
            risky.map(_.nodeName).mkString(", "))
      }
    }
  }

  test("round-9 operators plan with the promised shapes") {
    import graft.engine.ext.{Dedup, Sessionize, TextAnalysis}
    // firewall13: the training side must collapse to a distinct SET
    // below a left-semi probe — an aggregate on the build side of a
    // semi join, never a postings fan-out join
    val fw = plan(Dedup.firewall13(spark, dir))
    assert(fw.contains("LeftSemi"), fw.take(800))
    assert(!fw.contains("SortMergeJoin LeftOuter"), fw.take(800))
    // disorder census: the block HWM census joins back via an explicit
    // broadcast — the fact-side scan must not shuffle for it
    val dc = plan(Sessionize.disorderCensus(spark, dir))
    assert(dc.contains("BroadcastHashJoin"), dc.take(800))
    // fertility: exactly one hash exchange, on the (lang, source) key
    val fert = plan(TextAnalysis.fertility(spark, dir))
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(fert).length === 1,
      fert.take(800))
    // pq drift: the codebook rides broadcasts; the corpus side never
    // shuffles on vec_id for the assignment join
    val drift = plan(
      graft.engine.ext.Similarity.pqDriftAudit(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(drift).nonEmpty, drift.take(800))
  }

  test("round-10: RFM/Lorenz quantile cuts never single-partition the user grain") {
    import graft.engine.ext.Sessionize
    import org.apache.spark.sql.execution.window.WindowExec
    // the round-9 verdict's last two scale-killers: ntile over an
    // unpartitioned window. Now ScaleRank range-sorted ranks — the plan
    // must contain the parallel range exchange, and every remaining
    // unpartitioned window may order only by census keys (the ≤32-row
    // partition census, the 10-row decile rollup), never by the
    // user-grain metrics.
    val userGrain = Set("last_day", "n_events", "value_c", "user_id")
    for ((name, df) <- Seq(
        "ext_rfm" -> Sessionize.rfmSegments(spark, dir),
        "ext_value_concentration" -> Sessionize.valueConcentration(spark, dir))) {
      val p = df.queryExecution.executedPlan
      assert(p.toString.contains("Exchange rangepartitioning"),
        s"$name lost the range-partitioned sort: ${p.toString.take(600)}")
      val globalWindows = PlanWalk.nodes(p).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.nonEmpty,
        s"$name: census windows invisible — traversal broke, not the plan")
      globalWindows.foreach { w =>
        val ordered = w.orderSpec.flatMap(_.references.map(_.name)).toSet
        assert(ordered.intersect(userGrain).isEmpty,
          s"$name has a data-sized single-partition window over $ordered")
      }
    }
    // filtered ANN search: the label attaches at vector grain (equi-join
    // on vec_id) and the probe/label joins are hash joins — no cartesian,
    // and the ONLY nested loop is the hinted ≤nCells centroid fan-out
    // (the sweep's licensed shape; the candidate-grain label join is gone)
    val fsDf = graft.engine.ext.Similarity.filteredTopK(spark, dir)
    val fs = plan(fsDf)
    val bhj = "BroadcastHashJoin".r.findAllIn(fs).length
    assert(bhj >= 2, s"expected >=2 BroadcastHashJoin, got $bhj:\n${fs.take(1600)}")
    val (fsCart, fsScalar, fsRisky) = nestedLoopCensus(fsDf)
    assert(fsCart === 0, fs.take(1600))
    assert(fsRisky.size <= math.max(0, hintedNonEquiJoins(fsDf) - fsScalar),
      s"unexcused nested loop: ${fsRisky.map(_.nodeName).mkString(", ")}")
  }

  test("selection operators keep their scale shapes") {
    import graft.engine.ext.{Corpus, TextAnalysis}
    // dsir: the 256-row weight table must broadcast onto the token
    // stream (bucket-keyed BroadcastHashJoin), and the doc-grain census
    // diamond rides the persisted subtree — every arm reads the cache
    // (InMemoryTableScan), never a second tokenize+hash parquet pass
    // (the InMemoryRelation printout inlines its stored plan, so "Scan
    // parquet" occurrences are all within cache-definition blocks)
    val dp = plan(Corpus.dsirScore(spark, dir))
    assert(dp.contains("BroadcastHashJoin"), dp.take(800))
    assert("InMemoryTableScan".r.findAllIn(dp).length >= 2, dp.take(1200))
    // bm25: postings join on term, index stats ride a 1-row broadcast;
    // the per-query top-k must prune map-side (WindowGroupLimit)
    val bm = plan(TextAnalysis.bm25ChunkTopK(spark, dir))
    assert(bm.contains("WindowGroupLimit"), bm.take(800))
    assert(!bm.contains("CartesianProduct"), bm.take(800))
    // tv drift: per-source totals and the corpus total broadcast; the
    // only fact-sized exchanges are the (source,word) census and the
    // word-keyed join back — never a vocabulary × sources product
    val tv = plan(Corpus.tvDrift(spark, dir))
    assert(tv.contains("BroadcastHashJoin"), tv.take(800))
    assert(!tv.contains("CartesianProduct"), tv.take(800))
  }

  test("log readers number records without a window or a broadcast") {
    import org.apache.spark.sql.execution.ExternalRDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.engine.ingest.Sources
    val f = java.nio.file.Files.createTempFile("readers", ".log")
    java.nio.file.Files.writeString(f, "# Time: 1\nSELECT 1;\n")
    for ((name, df) <- Seq(
        "readLines" -> Sources.readLines(spark, f.toString),
        "readDelimited" -> Sources.readDelimited(spark, f.toString))) {
      val nodes = PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[ExternalRDDScanExec[_]]),
        s"$name: the walk never reached the record scan")
      assert(!nodes.exists {
        case _: WindowExec | _: BroadcastExchangeExec => true
        case _ => false
      }, s"$name: ${df.queryExecution.executedPlan}")
    }
    java.nio.file.Files.delete(f)
  }

  test("the sweep rejects a deliberately-injected naked cross join") {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val l = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    def flagged(df: org.apache.spark.sql.DataFrame): Boolean = {
      val (cartesians, scalarExcused, risky) = nestedLoopCensus(df)
      cartesians > 0 ||
        risky.size > math.max(0, hintedNonEquiJoins(df) - scalarExcused)
    }
    // no broadcast hint, no equi key, no scalar aggregate: a genuine
    // accidental cartesian. The sweep must flag it.
    assert(flagged(l.crossJoin(r)), "naked crossJoin was not flagged")
    // the inequality-join variant without a hint is equally naked
    assert(flagged(l.join(r, col("n_regionkey") < col("r_regionkey"))),
      "unhinted inequality join was not flagged")
    // a legitimate scalar broadcast must NOT licence an unrelated naked
    // cartesian riding in the same query
    val scalarOk = l.crossJoin(broadcast(r.agg(count(lit(1)).as("n"))))
    assert(!flagged(scalarOk), "scalar broadcast wrongly flagged")
    assert(flagged(scalarOk.crossJoin(r)),
      "naked cartesian laundered through a scalar-broadcast licence")
  }
}
