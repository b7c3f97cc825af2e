package graft

/** The plan-audit smell heuristics must flag real scale smells and
  * stay quiet on the presentation-layer root sort every oracle query
  * carries (VERDICT r3 #8: the old heuristic treated "a GlobalLimit
  * exists anywhere" as "the root is a sorted-limit", under-counting
  * mid-plan global sorts in queries that also have a limit).
  */
class ExplainSpec extends SparkSpec {

  import org.apache.spark.sql.functions._

  test("root ORDER BY is not a smell") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("x", "y")
      .groupBy("y").agg(sum("x").as("s")).orderBy("y")
    assert(!Explain.midPlanGlobalSort(df.queryExecution.optimizedPlan))
  }

  test("root sorted-limit (TakeOrdered presentation) is not a smell") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("x", "y")
      .orderBy(desc("x")).limit(5)
    assert(!Explain.midPlanGlobalSort(df.queryExecution.optimizedPlan))
  }

  test("mid-plan sorted-limit (top-k selection) is NOT a smell") {
    // top-5 via sorted limit, then further filtering: Limit(Sort) plans
    // as TakeOrderedAndProject wherever it sits — per-partition top-k +
    // bounded merge, no range exchange — so it must stay quiet (q70-q72
    // cut a top-K vocab mid-plan exactly this way).
    val df = Tables.region(spark, sf0001)
      .orderBy(desc("r_regionkey")).limit(5)
      .filter(col("r_name") =!= "ZZZ")
    val opt = df.queryExecution.optimizedPlan
    val hasGlobalSort = opt.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }.isDefined
    assert(hasGlobalSort, s"fixture no longer produces a global sort:\n$opt")
    assert(!Explain.midPlanGlobalSort(opt), s"plan:\n${opt.treeString}")
  }

  test("per-group top-k plans a WindowGroupLimit (rank pushdown)") {
    // q19's rank<=5 filter over a partitioned row_number must keep
    // planning as WindowGroupLimitExec: per-partition top-k BEFORE the
    // window exchange, so only k rows per group ever shuffle — the
    // difference between shuffling 5·|groups| rows and the whole fact
    // table. A regression here (e.g. an expression change the rule no
    // longer matches) silently re-shuffles everything; this pins it.
    val df = queries.Catalog.all("q19_top5_orders_per_status")
      .fn(spark, sf0001)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("WindowGroupLimit"),
      s"rank-limit pushdown no longer fires:\n$physical")
  }

  test("bare mid-plan global sort IS a smell") {
    // Hand-built Filter(Sort) — no limit backs the sort, so the reorder
    // is pure wasted exchange; built directly because the optimizer
    // would push a real filter below the sort.
    import org.apache.spark.sql.catalyst.expressions.{Ascending, EqualTo, Literal, Not, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Sort}
    val base = Tables.region(spark, sf0001).queryExecution.analyzed
    val sorted = Sort(Seq(SortOrder(base.output.head, Ascending)), global = true, base)
    val plan = Filter(Not(EqualTo(base.output(1), Literal("ZZZ"))), sorted)
    assert(Explain.midPlanGlobalSort(plan), s"plan:\n${plan.treeString}")
  }

  test("partitionless windows and non-scalar nested loops: bounded or allowlisted") {
    // Two structural 100 TB lints over the whole catalog in ONE
    // construction sweep:
    //
    // (1) A Window with no PARTITION BY moves every row to one task —
    // fatal at 100 TB unless its input is provably bounded (limit
    // upstream, scalar rollup, joins/unions thereof). Queries whose
    // boundedness rests on a bounded KEY DOMAIN the plan can't express
    // are allowlisted WITH the domain that bounds them; anything new
    // fails the suite instead of shipping silently.
    //
    // (2) A Join with no extractable equi-key plans as
    // BroadcastNestedLoopJoin/CartesianProduct. The benign class —
    // either side provably ≤1 row (crossJoin(broadcast(scalar_agg))) —
    // is classified out by Explain.nonScalarNestedLoopJoin; what
    // remains has |L|·|R| candidate volume and must either carry a
    // domain bound justified here or fail the suite (VERDICT r11 #2:
    // the raw string smell flagged ~45 intended scalar broadcasts, so
    // a real nested loop added tomorrow would have been invisible).
    //
    // EAGER-BARRIER coverage (round 11): `localCheckpoint(true)` runs
    // its subtree at CONSTRUCTION time and replaces it with a leaf, so
    // a smell behind an eager barrier never reaches the final
    // optimizedPlan — the lint used to be blind there (ADVICE r10).
    // Explain.eagerExecutions captures every plan the construction
    // executes (checkpoint/collect barriers) and lints those too.
    val boundedByDomain: Map[String, String] = ExplainSpec.windowAllowlist
    val nlAllowed: Map[String, String] = ExplainSpec.nestedLoopAllowlist
    val (winOffenders, nlOffenders) = {
      val results = queries.Catalog.all.toSeq.sortBy(_._1).map {
        case (name, spec) =>
          // construction failures are CatalogSmokeSpec's job, not this lint's
          val (opt, eagerQs) = Explain.eagerExecutions(spark)(scala.util.Try(
            spec.fn(spark, sf0001).queryExecution.optimizedPlan).toOption)
          // optimizedPlan is a memoized lazy val already forced by the
          // execution itself; Try guards exotic executions only
          val eager = eagerQs.flatMap(qe => scala.util.Try(qe.optimizedPlan).toOption)
          val plans = opt.toVector ++ eager
          (name, plans.exists(Explain.unboundedGlobalWindow),
            plans.exists(Explain.nonScalarNestedLoopJoin))
      }
      (results.collect { case (n, true, _) => n },
        results.collect { case (n, _, true) => n })
    }
    val unexplained = winOffenders.filterNot(boundedByDomain.contains)
    assert(unexplained.isEmpty,
      s"unproven partitionless Window in: ${unexplained.mkString(", ")} — " +
        "either bound the input (limit / scalar rollup) or add a justified " +
        "ExplainSpec.windowAllowlist entry")
    val stale = boundedByDomain.keys.filterNot(winOffenders.contains)
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (plan now proves boundedness): " +
        stale.mkString(", "))
    val nlUnexplained = nlOffenders.filterNot(nlAllowed.contains)
    assert(nlUnexplained.isEmpty,
      s"non-scalar nested-loop join in: ${nlUnexplained.mkString(", ")} — " +
        "give the join an equi-key, bound one side to a scalar, or add a " +
        "justified ExplainSpec.nestedLoopAllowlist entry naming the domain " +
        "that bounds the |L|*|R| candidate volume")
    val nlStale = nlAllowed.keys.filterNot(nlOffenders.contains)
    assert(nlStale.isEmpty,
      s"nestedLoopAllowlist entries no longer needed: ${nlStale.mkString(", ")}")
  }

  test("nested-loop classifier: scalar broadcast quiet, unbounded cross flagged") {
    // scalar-aggregate broadcast: the intended crossJoin(broadcast(tot))
    // shape — quiet
    val fact = Tables.orders(spark, sf0001)
    val tot = fact.agg(sum("o_totalprice").as("t"))
    val scalar = fact.crossJoin(broadcast(tot))
    assert(!Explain.nonScalarNestedLoopJoin(scalar.queryExecution.optimizedPlan))
    // both sides unbounded, no condition: |L|*|R| — flagged
    val cross = fact.crossJoin(Tables.customer(spark, sf0001))
    assert(Explain.nonScalarNestedLoopJoin(cross.queryExecution.optimizedPlan))
    // non-equi theta over unbounded sides — flagged
    val theta = fact.as("a").join(Tables.customer(spark, sf0001).as("b"),
      col("a.o_totalprice") > col("b.c_acctbal"))
    assert(Explain.nonScalarNestedLoopJoin(theta.queryExecution.optimizedPlan))
    // equi-join (plus residual non-equi conjunct) — quiet
    val equi = fact.as("a").join(Tables.customer(spark, sf0001).as("b"),
      col("a.o_custkey") === col("b.c_custkey") &&
        col("a.o_totalprice") > col("b.c_acctbal"))
    assert(!Explain.nonScalarNestedLoopJoin(equi.queryExecution.optimizedPlan))
    // limit-bounded side is NOT scalar: still flagged (allowlist decides)
    val lim = fact.crossJoin(Tables.customer(spark, sf0001).limit(7))
    assert(Explain.nonScalarNestedLoopJoin(lim.queryExecution.optimizedPlan))
  }

  test("q318 materializes the gram stream once (VERDICT r11 #3)") {
    // The DSIR gram stream (documents scan + split + explode + polyhash)
    // feeds BOTH the bucket rollup and the per-doc join. Round 11 shipped
    // it as three independent corpus scans; the fix checkpoints the gram
    // stream eagerly and merges raw/tgt into one conditional rollup. In
    // the final plan that reads as: the gram stream appears as LEAF RDD
    // scans (built once at construction), and the ONLY parquet scan of
    // documents left is the cheap doc_id/lang projection of the final
    // left join — not the text-bearing corpus scan.
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = queries.Catalog.all("q318_dsir_stats").fn(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan
    val leaves = opt.collect { case l: LeafNode => l }
    val docScans = leaves.collect {
      case l: LogicalRelation if (l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("documents"))
        case _ => false
      }) => l
    }
    assert(docScans.size == 1,
      s"expected exactly one residual documents scan, got ${docScans.size}:\n" +
        opt.treeString)
    // and that residual scan must NOT read the text column — pruning is
    // physical (the logical LogicalRelation always carries full output),
    // so assert on the FileScan's ReadSchema
    val physical = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val readSchemas = physical.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.size == 1 && readSchemas.head.contains("doc_id") &&
      readSchemas.head.contains("lang") && !readSchemas.head.contains("text"),
      s"residual documents scan not pruned to (doc_id, lang): $readSchemas")
    val rddLeaves = leaves.filterNot(_.isInstanceOf[LogicalRelation])
    assert(rddLeaves.size == 2,
      s"expected the checkpointed gram stream as 2 RDD leaves " +
        s"(rollup + join), got ${rddLeaves.size}:\n" + opt.treeString)
  }

  test("root sorted-limit plus a bare mid-plan sort is still a smell") {
    // The root-chain exemption must not soak up the inner bare sort.
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Sort}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val base = Tables.region(spark, sf0001).queryExecution.analyzed
    val ord = Seq(SortOrder(base.output.head, Ascending))
    val inner = Sort(ord, global = true, base)            // bare: wasted
    val root = GlobalLimit(Literal(5), LocalLimit(Literal(5), Sort(ord, global = true, inner)))
    assert(Explain.midPlanGlobalSort(root), s"plan:\n${root.treeString}")
  }

  test("global window boundedness walk: positives and negatives") {
    import org.apache.spark.sql.expressions.{Window => W}
    // over a raw scan: unbounded → flagged
    val bad = Tables.orders(spark, sf0001)
      .withColumn("rk", rank().over(W.orderBy(col("o_totalprice"))))
    assert(Explain.unboundedGlobalWindow(bad.queryExecution.optimizedPlan))
    // after a limit: bounded → quiet
    val limited = Tables.orders(spark, sf0001).limit(20)
      .withColumn("rk", rank().over(W.orderBy(col("o_totalprice"))))
    assert(!Explain.unboundedGlobalWindow(limited.queryExecution.optimizedPlan))
    // over a scalar rollup joined back: bounded → quiet
    val scalar = Tables.orders(spark, sf0001)
      .agg(sum("o_totalprice").as("t"))
      .withColumn("rk", rank().over(W.orderBy(col("t"))))
    assert(!Explain.unboundedGlobalWindow(scalar.queryExecution.optimizedPlan))
    // partitioned window over a raw scan: not a global window → quiet
    val part = Tables.orders(spark, sf0001)
      .withColumn("rk", rank().over(
        W.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))))
    assert(!Explain.unboundedGlobalWindow(part.queryExecution.optimizedPlan))
  }
}

object ExplainSpec {
  /** Partitionless windows whose input is bounded by a KEY DOMAIN the
    * plan cannot express — each entry names the domain that bounds it.
    * Keep this list justified and minimal: the lint fails on any
    * catalog query not listed here whose partitionless window input it
    * cannot prove bounded.
    */
  /** The one window of [[graft.operators.PrefixScan]] that has no
    * partition: the fold over its per-partition totals, one row per
    * range partition. Every entry whose only such window is the
    * kernel's shares this reason.
    */
  private val prefixScanOffsets =
    "offset fold over per-partition totals (operators.PrefixScan); bounded by the shuffle partition count"

  val windowAllowlist: Map[String, String] = Map(
    "m07_roc_points" ->
      "window input = per-threshold rollup; thr domain is the fixed 11-value ROC grid",
    "q115_revenue_shares" ->
      "window input = groupBy(r_name, n_name) rollup; TPC-H dims: 5 regions x 25 nations",
    "q77_mixture_allocation" ->
      "window input = groupBy(source) rollup; documents.source is a small categorical domain",
    "q88_chisq_contingency" ->
      "window input = groupBy(lang, source) contingency cells; both categorical domains",
    "q162_pareto_frontier" ->
      prefixScanOffsets,
    "q166_ks_statistic" ->
      prefixScanOffsets,
    "q167_mann_whitney_u" ->
      prefixScanOffsets,
    "q178_rfm_segmentation" ->
      "threshold rank windows over the per-customer rollup (2 rows kept); PrefixScan.runningSums is the documented fact-scale swap",
    "q184_pps_sample" ->
      prefixScanOffsets,
    "q206_ranking_metrics" ->
      "cumulative-hits window over the limit-50 popular cut joined with its per-rank hit rollup; rank domain fixed at k=50",
    "q219_quantile_effect" ->
      prefixScanOffsets,
    "q220_survival_stats" ->
      "reverse at-risk sum over the lifetime rollup; lifetime domain is calendar-bounded (≤|days| rows) — PrefixScan.runningSums on the negated key is the fact-scale swap",
    "q185_open_orders_per_day" ->
      prefixScanOffsets,
    "q188_equidepth_histogram" ->
      prefixScanOffsets,
    "q189_funnel_latency" ->
      prefixScanOffsets,
    "q298_bh_fdr" ->
      "BH rank window over the groupBy(nation) test rollup; nation domain fixture-fixed at 25",
    "q288_sax_symbols" ->
      "ntile window over the 16-segment PAA rollup (128 calendar days div 8, fixed segment domain)",
    "q281_page_hinkley" ->
      "prefix-sum + running-min windows over the daily rollup; day domain calendar-bounded (≤|days| rows) — PrefixScan.runningSums is the fact-scale swap",
    "q277_cramer_von_mises" ->
      prefixScanOffsets,
    "q246_watermark_lag" ->
      prefixScanOffsets,
    // the four below execute their windows behind eager localCheckpoint
    // barriers — visible only to the round-11 listener capture
    "q265_spearman_ranks" ->
      "rank windows over the per-part rollup (eager barrier); |parts|-bounded at fixture scale — PrefixScan.runningSums is the documented fact-scale swap",
    "q304_matrix_profile" ->
      "row_number + 16-row sliding collect over the daily rollup (eager barrier); day domain calendar-bounded (~2370 rows at any SF)",
    "q307_sorted_neighborhood" ->
      prefixScanOffsets,
    "q310_mann_kendall" ->
      "row_number over the daily rollup (eager barrier); day domain calendar-bounded (~2370 rows at any SF)",
    // classifierMetrics (deterministic midrank AUC, logloss and
    // accuracy from one per-margin rollup) runs PrefixScan over the
    // distinct-margin rollup inside every GBT/LR metric evaluation
    "m05_gbt_eval" ->
      prefixScanOffsets,
    "m13_learning_curve" ->
      prefixScanOffsets,
    "m14_cross_validation" ->
      prefixScanOffsets,
    "m22_permutation_importance" ->
      prefixScanOffsets)

  /** Non-scalar nested-loop joins (no equi-key, neither side provably
    * ≤1 row) whose |L|·|R| candidate volume is bounded by a DOMAIN the
    * plan cannot express — each entry names that domain. Keep justified
    * and minimal: the lint fails any catalog query not listed here.
    */
  val nestedLoopAllowlist: Map[String, String] = Map(
    "m02_als_recommendations" ->
      "Spark ML recommendForAllUsers internals: blocked factor-matrix CartesianProduct (library code, block count bounded by rank/blocking params)",
    "m09_ivf_ann" ->
      "probe-to-centroid assignment: cross against the broadcast k-centroid table; k is a constant quantizer parameter",
    "m10_semdedup" ->
      "nearest-center assignment against broadcast k-means centroids; within-cluster pairs only afterwards, never all-pairs",
    "m16_pq_ann" ->
      "ADC lookup: cross against the broadcast constant-size PQ codebook (subspace x 256 centroids)",
    "m21_jl_projection" ->
      "cross against the broadcast constant d x k projection-matrix table",
    "q104_fuzzy_name_rule" ->
      "length-band candidate join over the DISTINCT name vocabulary; band predicate bounds fan-out, vocab is Heaps-bounded",
    "q129_rank_fusion" ->
      "fusion of two LIMIT-100 rank lists: both sides sorted-limit cuts, 100x100 worst case",
    "q134_negative_sampling" ->
      "bounded candidate build: 50 sampled candidates per user (documented bounded-build BNLJ class)",
    "q140_source_overlap" ->
      "|sources|^2/2 pair matrix; documents.source is a small categorical domain",
    "q172_source_minhash_overlap" ->
      "|sources|^2 signature pairs over 64-int minhash signatures; source domain small-categorical",
    "q175_audience_overlap" ->
      "|event_types|^2 pair matrix over constant-size theta sketches",
    "q178_rfm_segmentation" ->
      "threshold join against rank-filtered 2-row quantile extracts (bounded by construction, invisible to maxRows)",
    "q188_equidepth_histogram" ->
      "range probe of the 10-row quantile-rank table into the CDF; non-equi by nature, 10-row side",
    "q213_poisson_bootstrap" ->
      "fact x constant B-row resample-index table (B bootstrap replicates)",
    "q215_heaps_law" ->
      "10-row decile-cutoff grid band-joined (<=) against per-doc rollups; fan-out bounded by 10",
    "q219_quantile_effect" ->
      "range probe of the broadcast 9-row quantile-rank table (PrefixScan CDF)",
    "q255_jaro_winkler_match" ->
      "|vocab|^2 all-pairs over the DISTINCT name vocabulary by contract (Heaps-bounded; never |rows|^2)",
    "q262_damerau_scores" ->
      "|vocab|^2 all-pairs over the distinct vocabulary by contract (q255 shape; q89 bigram index is the fact-scale prefilter)",
    "q273_shapley_attribution" ->
      "coalition/marginal enumeration: broadcast joins over constant-size relations (2^|channels| with fixed channel domain)",
    "q289_permutation_test" ->
      "fact x constant 24-row permutation-index table",
    "q298_bh_fdr" ->
      "BH step-up comparison over the groupBy(nation) test rollup; nation domain fixture-fixed at 25",
    "q300_two_sweep_diameter" ->
      "argmax landmark cut (rank-filtered 1-row extract) joined non-equi into the next sweep; bounded by construction",
    "q310_mann_kendall" ->
      "i<j pair census over the daily rollup; day domain calendar-bounded (~2370 rows at any SF)",
    "q320_randomized_response" ->
      "k x k event-type index build; small categorical domain, k=5 asserted in-plan",
    "q39_embedding_knn" ->
      "brute-force exact kNN baseline BY DESIGN (recall oracle, never benched; q40/m09 are the scale paths)",
    "q41_embedding_neardup" ->
      "brute-force cosine threshold pair list (q39 class); q40's LSH bucketing is the documented scale path",
    // the five below sit behind eager localCheckpoint barriers —
    // visible only to the listener capture, not to Explain.main
    "q263_bpe_merges" ->
      "per-round join against the sorted-LIMIT-1 best-merge pair (1-row cut, invisible to maxRows); rounds vocab-bounded (eager barrier)",
    "q301_bpe_encode" ->
      "q263's merge loop reused: per-round 1-row best-pair cut; encode pass itself is a broadcast vocab hash join (eager barrier)",
    "q275_consistent_ring" ->
      "key assignment over the broadcast 128-point ring relation; ring size is a constant vnode parameter (eager barrier)",
    "q287_rrf_fusion" ->
      "probe-side pair stage over the bounded query set x k-bounded rank survivors (eager barrier)",
    "q304_matrix_profile" ->
      "i<j pair census over the daily rollup; day domain calendar-bounded, constant ~5.6M-pair stage at any SF (eager barrier)")
}
