package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Plan-quality regression guards: the scale properties PLANS.md claims
  * are asserted here against the EXECUTED plans, so a refactor that
  * silently un-pushes a filter, un-broadcasts a dimension side, or
  * introduces a shuffle into a scan-only operator fails the build
  * instead of surfacing as a 100 TB incident.
  *
  * == The no-CSE rule (twice-measured, r14) ==
  * An alias referenced more than once RE-EVALUATES per reference once
  * the optimizer inlines it through filters/joins — Catalyst/codegen
  * does NOT common-subexpression-eliminate across an inlined projection
  * boundary. Never assume CSE; either restructure so the expensive
  * expression is referenced exactly once (lookup-table the consumers,
  * as d39's Fellegi-Sunter weight array does), or keep the
  * per-reference cost trivial. Both measurements, at sf10:
  *  1. d39's `lev` alias consumed by a 4-branch when-chain inlined into
  *     the pushed score predicate paid the unbanded Levenshtein DP up
  *     to 4x per pair — 179.7 s vs 63.9 s full-query wall after the
  *     single-reference weight-table rewrite (commit 8ef940c).
  *  2. Replacing `size(array_union)` with the |A|+|B|-|A∩B| identity in
  *     verifiedNearDups references the intersect twice; the inlined
  *     filter + projection each paid it and the verify stage DOUBLED
  *     (1,543 -> 3,673 CPU-s). Rejected; see Dedup.verifiedNearDups.
  * Greppable symptom: the same expensive function appearing N>1 times
  * in the executed-plan string where the source aliases it once — the
  * d39 test below pins this structurally for Levenshtein.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def executedPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, SparkTestBase.Sf0001)
    df.collect() // finalize AQE so we assert on the plan that actually ran
    df.queryExecution.executedPlan.toString
  }

  test("q6: filters are pushed into the parquet scan and columns pruned") {
    val plan = executedPlan("q6_forecast_revenue")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_discount"), "discount predicate should reach the scan")
    // pruned read schema: the 16-column lineitem is read as few columns
    assert(!plan.contains("l_comment"), "untouched columns must not be read")
  }

  test("d19 (PII scrub): scan-side only — no shuffle exchange") {
    val plan = executedPlan("d19_pii_scrub")
    assert(!plan.contains("Exchange"),
      s"scan-side transform grew a shuffle:\n$plan")
  }

  test("d15 (decontamination): benchmark side broadcast, corpus not shuffled before the join") {
    val plan = executedPlan("d15_decontaminate")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must ride a broadcast:\n$plan")
  }

  test("q3: dimension sides broadcast into the fact scan") {
    val plan = executedPlan("q3_shipping_priority")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins on the dimension sides:\n$plan")
  }

  test("s8 (profiling): all per-column aggregates ride ONE parquet scan") {
    // count scans in the FINAL adaptive plan only (the executed-plan
    // string also embeds the pre-AQE "Initial Plan" section)
    val plan = executedPlan("s8_profile").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profiling must be one pass, saw $scans scans:\n$plan")
  }

  test("j10 (bloom prune): dim broadcasts and the probe stays codegen") {
    val plan = executedPlan("j10_bloom_prune")
    assert(plan.contains("BroadcastHashJoin"), s"dim side must broadcast:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe must stay codegen arithmetic:\n$plan")
  }

  test("q21: hash-aggregate decorrelation — one fact read, no window sort, no Expand") {
    val plan = executedPlan("q21_waiting_supplier").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 3, s"q21 must read lineitem/orders/supplier once each, saw $scans scans:\n$plan")
    // the EXISTS/NOT-EXISTS pair decorrelates as two cascaded hash
    // aggregates: no per-order sort-window, no multi-distinct Expand
    // (which triples the join output), no self-joins
    assert(!plan.contains("Window"), s"q21 must not sort per order:\n$plan")
    assert(!plan.contains("Expand"), s"q21 must not use a multi-distinct Expand:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash-aggregate cascade:\n$plan")
  }

  test("s9 (V2 ring source): range_id predicate prunes partitions at planning") {
    val df = graft.SparkEntry.queries("s9_v2_ring_source")(spark, SparkTestBase.Sf0001)
    assert(df.rdd.getNumPartitions <= 8,
      s"range_id < 8 must prune to at most 8 input partitions, " +
        s"saw ${df.rdd.getNumPartitions}")
  }

  test("q8: every dimension side of the 8-table star broadcasts") {
    val plan = executedPlan("q8_market_share").split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 5, s"expected >=5 broadcast joins in the star, saw $bhj:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("e8 (z-score): per-type stats broadcast; exactly two source scans") {
    val plan = executedPlan("e8_anomaly_zscore").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the stats relation must broadcast into the scoring pass:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"exact moments need two scans, no more — saw $scans:\n$plan")
  }

  test("d27 (CMS): sketch aggregation map-side combines and the sketch broadcasts") {
    val plan = executedPlan("d27_heavy_hitters_cms").split("== Initial Plan ==").head
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"sketch build must partial-aggregate before the exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 4x1024 sketch must broadcast into the probe join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("s13 (ORC): the quantity predicate is pushed into the ORC reader") {
    val plan = executedPlan("s13_orc_roundtrip")
    assert(plan.contains("Scan orc"), s"expected an ORC scan:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("l_quantity"),
      s"quantity filter must reach the ORC reader:\n$plan")
  }

  test("a19 (OLS): one scan; the model fit is sufficient-stats aggregation only") {
    val plan = executedPlan("a19_ols_regression").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"OLS must reduce to sufficient stats in one pass, saw $scans scans:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"no window or join belongs in a sufficient-stats fit:\n$plan")
  }

  test("v7 (kNN classify): probes broadcast, corpus streams once") {
    val plan = executedPlan("v7_knn_classify").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the probe side must ride a broadcast:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"corpus+probes means at most 2 scans, saw $scans:\n$plan")
  }

  test("e9 (windowed top-k): the rank consumes aggregate-sized input, not events") {
    val plan = executedPlan("e9_windowed_topk").split("== Initial Plan ==").head
    val w = plan.indexOf("Window")
    val agg = plan.indexOf("HashAggregate")
    assert(w >= 0 && agg >= 0 && w < agg,
      s"the window must sit ABOVE the (day,type) aggregation:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"one events scan expected, saw $scans:\n$plan")
  }

  test("d30 (charset profile): per-row projection — no join, no aggregation") {
    val plan = executedPlan("d30_charset_profile").split("== Initial Plan ==").head
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"charset gate must stay a scan-side projection:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"one documents scan expected, saw $scans:\n$plan")
  }

  test("d31 (ngram novelty): one documents scan feeds both the gram window and the rollup") {
    val plan = executedPlan("d31_ngram_novelty").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"novelty is a single-scan pipeline, saw $scans:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no product joins belong here:\n$plan")
  }

  test("q11 (value share): the global scalar reads the CACHED per-part aggregate, not the fact table") {
    val plan = executedPlan("q11_value_share").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the per-part aggregate must be persisted and reused by both branches:\n$plan")
  }

  test("j11 (pagerank): top-20 equals a brute-force integer PageRank on the fixture graph") {
    // Pins j11's VALUES (the plan pins below only see its shape): the
    // fixture trade pairs, symmetrized in Scala, run through 3 supersteps
    // of the same integer millionths arithmetic as pagerankSuperstep
    // (floor division, rank0 = 1e6), then ordered rank desc, node asc.
    import org.apache.spark.sql.functions.col
    val trades = graft.core.Tables.orders(spark, SparkTestBase.Sf0001)
      .join(graft.core.Tables.lineitem(spark, SparkTestBase.Sf0001),
            col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = trades.collect().toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .flatMap { case (c, sp) => Seq(c -> sp, sp -> c) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank = deg.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to 3) {
      val cpe = rank.map { case (n, r) => n -> r / deg(n) }
      rank = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> (150000L + 850000L * es.map(e => cpe(e._1)).sum / 1000000L)
      }
    }
    val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20).map {
      case (n, r) => (if (n % 2 == 1) "supplier" else "customer", n / 2, r)
    }
    val got = try {
      graft.ops.Joins.pagerankRanked(spark, trades).collect().toSeq.map(r =>
        (r.getString(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))
    } finally {
      graft.ops.PipelineCache.release()
      spark.sharedState.cacheManager.clearCache()
    }
    assert(got == expected, s"j11 top-20 != brute force:\n$got\nvs\n$expected")
  }

  test("j11 (pagerank): supersteps join the cached edge list; no cartesian") {
    val plan = executedPlan("j11_pagerank").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"edges/degrees must be cached across iterations:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian in a superstep:\n$plan")
  }

  test("j11: superstep checkpoint cleanup never destroys the shared edge caches") {
    // The loop unpersists the previous iteration's localCheckpoint
    // blocks via a persistent-RDD id diff; persist() being lazy, an
    // unmaterialized edge cache would register its buffer RDDs inside
    // iteration 1's checkpoint job and the diff would put the SHARED
    // caches into the cleanup set (iteration 2 then destroyed the edge
    // cache every later superstep depends on — review finding). The
    // contract: after j11 executes, the two shared caches AND the
    // final checkpoint are still live; a release() drains all of them.
    graft.ops.PipelineCache.release()
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    try {
      val df = graft.SparkEntry.queries("j11_pagerank")(spark, SparkTestBase.Sf0001)
      df.collect()
      val added = sc.getPersistentRDDs.keySet -- base
      assert(added.size >= 3,
        s"edges/deg buffers + the final checkpoint must be live after " +
          s"execution, saw only ${added.size} persistent RDDs")
    } finally {
      graft.ops.PipelineCache.release()
      spark.sharedState.cacheManager.clearCache()
    }
    val leftover = sc.getPersistentRDDs.keySet -- base
    assert(leftover.isEmpty,
      s"release() must drain every cache and checkpoint j11 created, left $leftover")
  }

  test("j11 superstep (un-truncated): exact shape — no edge-side exchange, <=2 shuffles") {
    // j11's loop truncates lineage between supersteps, so the query-level
    // pins see only the final iteration. This audits the SHARED superstep
    // body directly, with no truncation and no broadcast shortcut: one
    // rank-side exchange into the join (satisfied edge side from the
    // cached partitioning) plus the dst aggregation exchange, and nothing
    // keyed on the edge table's src column.
    import org.apache.spark.sql.functions.{col, lit}
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
                         "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    try {
      val pairs = spark.read.parquet(s"${SparkTestBase.Sf0001}/nation.parquet")
        .select((col("n_nationkey") * 2).as("c"), (col("n_regionkey") * 2 + 1).as("sp"))
        .distinct()
      // mirrors pagerankRanked's cache layout: one edge cache, hash-
      // partitioned by src BEFORE the persist; deg aggregates off it
      val edges = graft.ops.Edges.symmetrize(pairs, col("c"), col("sp"))
        .repartition(col("src")).persist()
      val deg = edges.groupBy("src").agg(
        org.apache.spark.sql.functions.count(lit(1)).as("d")).persist()
      val rank0 = deg.select(col("src").as("node"), lit(1000000L).as("rank"))
      try {
        val step = graft.ops.Joins.pagerankSuperstep(edges, deg, rank0)
        step.collect()
        val executed = step.queryExecution.executedPlan
        val keys = graft.tools.ScanAudit.exchangeKeys(executed)
        assert(keys.count(_.contains("src")) == 0,
          s"superstep re-shuffled the edge side on src (keys=$keys):\n$executed")
        assert(keys.size <= 2,
          s"one superstep is two pre-partitioned joins + one aggregation — at " +
            s"most 2 exchanges outside the cache build, saw ${keys.size} " +
            s"(keys=$keys):\n$executed")
      } finally {
        edges.unpersist(); deg.unpersist()
      }
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("a20 (equi-depth): the 9 boundaries broadcast; two scans max") {
    val plan = executedPlan("a20_equidepth_hist").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange"), s"boundaries must broadcast:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"boundaries+bucketing means at most 2 scans, saw $scans:\n$plan")
  }

  test("d29 (boilerplate): hash-keyed equi-joins only; sentence text never shuffles") {
    val plan = executedPlan("d29_boilerplate").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"doc-frequency must join on the sentence hash:\n$plan")
    // the shuffled attributes are doc_id + the md5 hash — the raw `sent`
    // column must not appear in any Exchange's output
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("sent#")),
      s"sentence text leaked into a shuffle:\n$plan")
  }

  test("q12: the date filter reaches the lineitem scan; one join, one aggregation") {
    val plan = executedPlan("q12_shipmode_priority").split("== Initial Plan ==").head
    assert(plan.contains("PushedFilters: [") && plan.contains("l_shipdate"),
      s"the ship-date range must be pushed into the parquet scan:\n$plan")
    assert(!plan.contains("o_totalprice"),
      s"untouched orders columns must be pruned from the scan:\n$plan")
    assert(!plan.contains("Window"), s"Q12 is join+agg, no window belongs here:\n$plan")
  }

  test("q20: the gear filter broadcasts and the supplier probe is a semi join") {
    val plan = executedPlan("q20_excess_shipments").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the filtered part dimension must broadcast into the fact scan:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"the IN must plan as a left-semi join, not a distinct+inner:\n$plan")
  }

  test("v8 (Hamming ANN): probes broadcast; signature+popcount stay codegen") {
    val plan = executedPlan("v8_hamming_topk").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the probe side must ride a broadcast:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"signature and popcount must stay codegen integer ops:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"corpus+probes means at most 2 scans, saw $scans:\n$plan")
  }

  test("d37 (LM coverage): one documents scan feeds both the LM and the rollup") {
    val plan = executedPlan("d37_lm_coverage").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"bigram instances must be persisted and reused by both branches:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the coverage join must stay hash-keyed on the pair:\n$plan")
  }

  test("v9 (hard negatives): anchors broadcast, corpus streams once") {
    val plan = executedPlan("v9_hard_negatives").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the anchor side must ride a broadcast:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"anchors+corpus means at most 2 scans, saw $scans:\n$plan")
  }

  test("d36 (BPE): supersteps read the cached token table; merges broadcast") {
    val plan = executedPlan("d36_bpe_merges").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the token table must be persisted across supersteps:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row merge must ride a broadcast, not a cartesian:\n$plan")
  }

  test("d35 (sentence dedup): the global-first decision shuffles hash+ids, never text") {
    val plan = executedPlan("d35_sentence_dedup").split("== Initial Plan ==").head
    // text legitimately rides the (doc_id, pos) join-back and the per-doc
    // rebuild, but the sentence-hash exchange that decides keep/drop must
    // carry only (sh, doc_id, pos)
    val shExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("sh#"))
    assert(shExchanges.nonEmpty, s"expected a hash-keyed dedup exchange:\n$plan")
    assert(shExchanges.forall(l => !l.contains("sent#")),
      s"sentence text leaked into the dedup shuffle:\n$plan")
  }

  test("e10 (gap fill): one events scan; the daily aggregate is cached and reused") {
    val plan = executedPlan("e10_gap_fill").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 1, s"spine and fill must share one events scan, saw $scans:\n$plan")
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the (user x day) aggregate must be persisted and reused by both branches:\n$plan")
  }

  test("j12 (triangles): edge list cached across all three legs; no cartesian") {
    val plan = executedPlan("j12_triangle_count").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the edge list must be built once and reused:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"triangle legs must stay equi-joins on node ids:\n$plan")
  }

  test("f4 (array HOFs): per-row array work stays in the scan stage — no join, no agg") {
    val plan = executedPlan("f4_array_ops").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"one embeddings scan expected, saw $scans:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"higher-order functions must not grow a join or aggregation:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"array work must stay builtin expressions:\n$plan")
  }

  test("d38 (SNM dedup): one scan, one keyed sort — no self-join") {
    val plan = executedPlan("d38_snm_neardup").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"sorted-neighborhood is a single-scan pipeline, saw $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"candidates must come from lead windows, not a self-join:\n$plan")
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"both neighbor slots must share one window pass, saw $windows:\n$plan")
  }

  test("d39 (entity resolution): features cached once; all joins equi-keyed") {
    val df = graft.SparkEntry.queries("d39_entity_resolution")(spark, SparkTestBase.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // every branch (2 blocking passes x 2 sides + 2 feature join-backs)
    // must read the cached feature frame, not re-scan parquet. Each
    // InMemoryTableScan's dump re-prints the FileScan INSIDE the cached
    // relation, so count cache reads, not "Scan parquet" substrings.
    val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheReads >= 6,
      s"all 6 branches must read the cached feature frame, saw $cacheReads:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking and join-back must stay equi-joins:\n$plan")
    // The edit distance is the stage's whole cost at corpus scale (r14
    // sf10 profile: the when-chain shape paid the unbanded DP up to 4x
    // per pair once the optimizer inlined the lev alias into the pushed
    // score predicate — 179.7 vs 63.9 s full-query wall). Pin both
    // halves of the fix: every occurrence is the banded 3-arg form, and
    // there are at most 2 textual occurrences (one in the join-condition
    // predicate, one in the output projection) — a when-chain regression
    // reads 4+.
    // primary, structural: collect the actual Levenshtein expressions from
    // the executed plan (unwrapping AQE / query-stage / cache leaf nodes)
    // and require every one to carry a threshold — immune to toString
    // format drift across Spark upgrades
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val wrapped = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
        case _                        => Seq.empty
      }
      p +: (p.children ++ wrapped).flatMap(allNodes)
    }
    val levExprs = allNodes(df.queryExecution.executedPlan)
      .flatMap(_.expressions)
      .flatMap(_.collect { case l: Levenshtein => l })
    assert(levExprs.nonEmpty, s"no Levenshtein expression found in the executed plan:\n$plan")
    assert(levExprs.forall(_.threshold.isDefined),
      s"edit distance must use the banded (threshold) levenshtein; " +
        s"found unbanded among: ${levExprs.mkString(", ")}")
    assert(levExprs.size <= 2,
      s"lev must be referenced once per operator (saw ${levExprs.size} evaluations " +
        s"— a when-chain re-expansion pays the DP per branch):\n$plan")
    // secondary, textual (the historical pin): keep the string-level count
    // as a cross-check while it still renders this way
    val levs = "levenshtein\\([^)]*\\)".r.findAllIn(plan).toSeq
    assert(levs.forall(_.contains("Some(15)")),
      s"edit distance must use the banded (threshold-15) levenshtein:\n$plan")
    assert(levs.size <= 2,
      s"lev must be referenced once per operator (saw ${levs.size} textual occurrences " +
        s"— a when-chain re-expansion pays the DP per branch):\n$plan")
  }

  test("w5 (pattern match): one scan, one keyed window, no self-join") {
    val plan = executedPlan("w5_pattern_match").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"pattern matching is a single-scan pipeline, saw $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"the pattern must come from lead windows, not self-joins:\n$plan")
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"all three lead slots share one window pass, saw $windows:\n$plan")
  }

  test("m6 (modality balance): one scan, one per-stratum window") {
    val plan = executedPlan("m6_modality_balance").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"batch assembly is a single-scan pipeline, saw $scans:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in round-robin assembly:\n$plan")
  }

  test("d41 (BPE encode): vocabulary stages cached; corpus joins the encoded vocab by word") {
    val plan = executedPlan("d41_bpe_encode").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the token table must be persisted across merge steps:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row merges must ride broadcasts, not a cartesian:\n$plan")
  }

  for (q <- Seq("d22_embedding_lsh_neardup", "d22b_embedding_lsh_wide"))
    test(s"$q: candidate top-k is TakeOrderedAndProject, not a global window sort") {
      val plan = executedPlan(q).split("== Initial Plan ==").head
      val topIdx = plan.indexOf("TakeOrderedAndProject")
      assert(topIdx >= 0,
        s"top-20 must be per-partition heaps + k-row merge (TakeOrderedAndProject):\n$plan")
      // below the top-k (i.e. over the full candidate set) nothing may
      // funnel into one partition — the only single-partition stage allowed
      // is the rank window over the 20 survivors ABOVE it
      assert(!plan.substring(topIdx).contains("Exchange SinglePartition"),
        s"the candidate set must never collapse to one partition:\n$plan")
    }

  test("d24 (OOV ratio): vocab selection is TakeOrderedAndProject; no single-partition stage") {
    val plan = executedPlan("d24_oov_ratio").split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-500 vocab must be per-partition heaps, not a global rank window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage may collapse the vocabulary into one partition:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 500-word vocab must broadcast into the scoring join:\n$plan")
  }

  test("d42 (domain cap): ranking is partitioned by source — no global sort, no single partition") {
    val plan = executedPlan("d42_domain_cap").split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"),
      s"per-domain ranks must never funnel into one partition:\n$plan")
    assert(plan.contains("hashpartitioning(source"),
      s"the rank window must hash-partition on source so domains rank independently:\n$plan")
  }

  test("d44 (leakage-safe split): the pair graph is cached and reused, not recomputed") {
    val plan = executedPlan("d44_leakage_safe_split").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan"),
      s"the MinHash pair graph must feed the leakage check from cache, not a second pipeline run:\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"),
      s"all pair/label joins must be equi-keyed:\n$plan")
  }

  test("d46 (SemDeDup): centroids broadcast; the pairwise check is cell-keyed, never cartesian") {
    val plan = executedPlan("d46_semdedup").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the 16-row centroid table must broadcast into assignment:\n$plan")
    assert(plan.contains("hashpartitioning(cell"),
      s"the pairwise similarity join must shuffle on cell (cluster-bounded quadratic):\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"),
      s"no corpus-level cartesian may appear — cells bound the pair space:\n$plan")
  }

  test("d47 (substring dedup): span merge is per-doc; dup-content join is hash-keyed") {
    val plan = executedPlan("d47_substring_dedup").split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"),
      s"window positions must merge per document, never in one partition:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"),
      s"the gaps-and-islands window must partition by doc_id:\n$plan")
    assert(plan.contains("hashpartitioning(wh"),
      s"duplicated-content detection must shuffle md5 window keys:\n$plan")
    // dup detection is two window functions over ONE wh shuffle — the
    // groupBy+self-join formulation this replaced scanned the corpus twice
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"the documents table must be scanned exactly once:\n$plan")
  }

  test("d48 (UniMax): the waterfill branches read the cached language aggregate, not the corpus") {
    val plan = executedPlan("d48_unimax_epochs").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan"),
      s"the per-language token aggregate must be persisted — every waterfill branch re-scans the corpus otherwise:\n$plan")
  }

  test("d43 (mixture sampling): stratum branches read the cached counts, not the corpus") {
    val plan = executedPlan("d43_quality_mix").split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan"),
      s"the per-language counts must be persisted — the keep-probability branches re-scan the corpus otherwise:\n$plan")
  }

  test("a25b (bucketed Gini): the cumulative window consumes the <=100-row bucket aggregate") {
    val plan = executedPlan("a25b_gini_bucketed").split("== Initial Plan ==").head
    val w = plan.indexOf("Window")
    val agg = plan.indexOf("keys=[k#")
    assert(w >= 0 && agg >= 0 && w < agg,
      s"the Lorenz window must sit ABOVE the bucket aggregation, never over customers:\n$plan")
    // the window input really is bucket-sized
    val df = graft.SparkEntry.queries("a25b_gini_bucketed")(spark, SparkTestBase.Sf0001)
    assert(df.collect().head.getAs[Long]("n_buckets") <= 100L)
  }

  test("q17: the Brand#13 semi-join prunes lineitem BELOW the threshold aggregate") {
    val plan = executedPlan("q17_small_quantity").split("== Initial Plan ==").head
    val aggIdx = plan.indexOf("keys=[l_partkey")
    assert(aggIdx >= 0, s"expected the per-part threshold aggregate:\n$plan")
    assert(plan.indexOf("LeftSemi", aggIdx) > aggIdx,
      s"the semi-join must sit below the groupBy so the agg input is pruned ~25x:\n$plan")
  }

  test("v10 (PQ ANN): codebook and ADC tables broadcast; subvectors cached; no cartesian") {
    val plan = executedPlan("v10_pq_ann").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook/ADC sides must ride broadcasts:\n$plan")
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"the (vector, subspace) frame must be cached across encode/ADC/codebook:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"every PQ stage joins on (sub) or (sub, code) keys:\n$plan")
  }

  test("d10 (bounded near-dup): the 200-vector cap is pushed into the scan; global window is by contract") {
    // d10's global-window rank is safe ONLY because of its bounded-sample
    // contract (vec_id < 200 => ~20k pairs); this guard pins the cap to
    // the scan so a refactor that drops the filter — turning the
    // deliberate bounded baseline into an uncapped all-pairs window —
    // fails here instead of at corpus scale. The uncapped path is d22.
    val plan = executedPlan("d10_embedding_neardup").split("== Initial Plan ==").head
    assert(plan.contains("LessThan(vec_id,200") || plan.contains("vec_id#") && plan.contains("< 200"),
      s"the 200-vector sample cap must reach the embeddings scan:\n$plan")
  }

  test("d16/d20/e11: two-level window offsets ride a broadcast, not a corpus shuffle") {
    // The cross-bucket component is aggregate-sized (one row per bucket);
    // joining it back by sort-merge would re-shuffle the whole corpus and
    // erase the point of the two-level plan.
    Seq("d16_pack_sequences", "d20_quality_percentile", "e11_late_data_audit").foreach { name =>
      val plan = executedPlan(name).split("== Initial Plan ==").head
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: bucket-offset join must broadcast:\n$plan")
    }
  }

  test("d40/d25: the MinHash signature table is cached, not rebuilt per consumer") {
    // ScanAudit r8 caught both queries recomputing the shingle+minhash
    // scan three times (band keys + both sides of the verification
    // join). The persist makes the signature build run once — the
    // 'materialize signatures once' invariant every LSH pipeline needs
    // at corpus scale.
    Seq("d40_cross_corpus_dedup", "d25_minhash_est_error").foreach { name =>
      val plan = executedPlan(name).split("== Initial Plan ==").head
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"$name: signature table must be persisted and reused:\n$plan")
      graft.ops.PipelineCache.release()
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("Edges.symmetrize: undirected edges come from ONE pass, not a self-union") {
    // Symmetrizing via union-of-two-projections materializes the upstream
    // pair pipeline once per branch when the input is not persisted (d21
    // computed the whole MinHash candidate join twice; j11 ran the
    // orders x lineitem distinct twice). The final plans of d21/j11 hide
    // the edge build behind persist/localCheckpoint boundaries, so the
    // pin asserts on the shared helper's OWN plan: one source scan, no
    // Union — the union form shows two scans here.
    import org.apache.spark.sql.functions.col
    val pairs = spark.read.parquet(s"${SparkTestBase.Sf0001}/nation.parquet")
      .select(col("n_nationkey").as("doc_a"), col("n_regionkey").as("doc_b"))
    val edges = graft.ops.Edges.symmetrize(pairs, col("doc_a"), col("doc_b"))
    edges.collect()
    val plan = edges.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"edge symmetrization must read its input once, saw $scans scans:\n$plan")
    assert(!plan.contains("Union"),
      s"edge symmetrization must not be a self-union:\n$plan")
  }

  test("t6 (validate counts): all three reconciliation counts ride ONE lineitem scan") {
    val df = graft.SparkEntry.queries("t6_validate_counts")(spark, SparkTestBase.Sf0001)
    df.collect()
    val rels = graft.tools.ScanAudit.relationScans(df.queryExecution.executedPlan)
    assert(rels.size == 1,
      s"multi-distinct aggregation must be a single pass over lineitem, saw $rels")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Expand"),
      s"the three distinct counts should plan as one scan + Expand:\n$plan")
  }

  test("k9 (CDC tombstones): the three generations come from ONE orders scan") {
    val df = graft.SparkEntry.queries("k9_cdc_tombstones")(spark, SparkTestBase.Sf0001)
    df.collect()
    val rels = graft.tools.ScanAudit.relationScans(df.queryExecution.executedPlan)
    assert(rels.size == 1,
      s"change-set generation must read orders once, saw $rels")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Generate"),
      s"generations should come from an explode (Generate), not a union of re-scans:\n$plan")
  }

  test("j11 (PageRank): supersteps reuse the cached edge partitioning — no edge-side exchange") {
    // At sf0.001 AQE broadcasts the tiny edge table, which hides the
    // property this test exists for: at cluster scale the edge list is
    // NOT broadcastable, the superstep join plans as SMJ/SHJ, and its
    // edge-side distribution requirement must be satisfied by the
    // partitioning baked into the cache — never by a fresh exchange.
    // Disable broadcast to plan the joins the way the big cluster would.
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
                         "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    try {
      val df = graft.SparkEntry.queries("j11_pagerank")(spark, SparkTestBase.Sf0001)
      df.collect()
      // walk the executed tree (cache-build subtrees excluded — the
      // one-time repartition(src) that bakes the cache partitioning is
      // legitimate): no exchange that actually ran per superstep may be
      // keyed on the edge-side src column.
      val keys = graft.tools.ScanAudit.exchangeKeys(df.queryExecution.executedPlan)
      val srcExchanges = keys.count(_.contains("src"))
      assert(srcExchanges == 0,
        s"superstep re-shuffled the cached edge table on src ($srcExchanges of ${keys.size} " +
          s"exchanges, keys=$keys):\n${df.queryExecution.executedPlan}")
      assert(df.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "supersteps must read the degree-annotated edge table from cache")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      graft.ops.PipelineCache.release()
      spark.sharedState.cacheManager.clearCache()
    }
  }
}
