package graft

/** Deterministic plan-shape gate for the bench headlines (round 12).
  *
  * Wall-time envelopes absorb container load BY DESIGN — which is
  * exactly why they cannot catch a plan regression smaller than the
  * noise floor: the r11 q85 4.71 s reading was pure load variance, and
  * a dropped broadcast hint costing a real 1.3× would have read the
  * same. The EXCHANGE FINGERPRINT is the deterministic complement:
  * with AQE off and stat-based broadcast disabled, the
  * (shuffle exchanges, broadcast exchanges) pair per headline is a
  * pure function of the query source — a new shuffle, a dropped
  * broadcast hint, or a de-hinted join moves an integer here on every
  * machine identically, long before it moves seconds anywhere.
  * Disabling the autoBroadcast threshold also means the counts record
  * the HINTED plan shape — what the query does at 100 TB, where no
  * side fits under the threshold by accident of a tiny fixture.
  *
  * Counts include subqueries, the plans cached behind shared-kernel
  * InMemoryTableScans (construction happens with cleared caches, so
  * each entry owns its kernels' exchanges in full), and eager
  * localCheckpoint(true) barriers captured at construction time via a
  * QueryExecutionListener (the Explain.scala idiom) — a checkpointed
  * subtree executes during fn() and is a leaf in the final plan, so
  * its shuffles would otherwise vanish from the fingerprint.
  *
  * ML headlines (m*) are excluded: fit() runs at construction and
  * floods the listener with per-iteration job plans that are not any
  * single query's shape.
  *
  * Updating a row is a DELIBERATE act, same contract as a BASELINE
  * envelope edit: the failure message prints the full actual map —
  * paste it only with a commit message explaining the shape delta.
  */
class PlanBudgetSpec extends SparkSpec {

  /** name -> (shuffle exchanges, broadcast exchanges), committed.
    * Harvested twice back-to-back on the round-12 tree (identical both
    * runs). Notable shapes, as sanity anchors for future edits: q21 is
    * (0,0) — a pure TakeOrderedAndProject, no exchange at all; q12's
    * (2,1) is the hinted dim broadcast; the big totals are the
    * bounded-round iterative kernels (q284 grid-DBSCAN components,
    * q300 two-sweep BFS, q307 blocking) where each round legitimately
    * owns a shuffle — the gate pins the ROUND COUNT times the
    * per-round shape, so an accidental extra exchange per round moves
    * the integer by the round count, loudly.
    */
  private val budgets: Map[String, (Int, Int)] = Map(
    "q01_pricing_summary" -> ((2, 0)),
    "q04_part_stats" -> ((1, 0)),
    "q05_customer_order_stats" -> ((3, 0)),
    "q12_brand_revenue" -> ((2, 1)),
    // Round-15 optimization refreshes (each explained in its commit):
    // q149 18->14: candidates from the shared lshBandCandidates kernel
    // + set sizes riding minhashSigs' new n column (two shingleSizes
    // joins gone). q294 15->(10,6): the q300 Pregel treatment — seed
    // round folded into a degree rollup, walk vector broadcast into
    // the checkpointed adjacency, composition join broadcast (gated by
    // Rounds.gate). q296 37->39 / q305 41->43: the banded-LSH
    // candidate build moved into the shared persisted kernel — the
    // fingerprint counts the kernel's exchanges through its cache
    // relation (construction under cleared caches), slightly different
    // bookkeeping for the same stages; wall time 1.8x/2.8x faster as
    // later consumers hit the cache. q307 (51,8)->(45,5): the three
    // audit aggregates collapsed into one flagged-union pass (the
    // union distinct no longer recomputes twice; two of the three
    // broadcast assemblies gone).
    // q14 3->(2,0) and -1/-2 sh on every co_pairs consumer
    // (q85/q290/q294/q300/q95) round 15: the coPairCounts kernel build
    // partitions its projection by the join key BEFORE the dedup, so
    // one exchange serves both the distinct and the self-join (the old
    // shape shuffled by (ok,pk) then re-shuffled by ok).
    // Thirteen rows drop with no plan change when exchangeCounts
    // dedupes a cache by its shared CachedRDDBuilder instead of by
    // InMemoryRelation instance (each branch reading a cache gets its
    // own instance, so a cache read through k branches counted k
    // times): the documents shingle cache (1 shuffle) read 2-7 times
    // in q149/q296/q305/q307/q35/q36/q50/q65/q86, a 2-shuffle
    // aggregate cache over the shingles twice in q149/q296/q305, the
    // lineitem co-occurrence cache (2) twice in q85/q95/q294/q300, the
    // 9-shuffle blocking-join cache twice in q305/q307 and q65's
    // 2-shuffle join cache twice.
    "q149_minhash_estimate_audit" -> ((10, 0)),
    "q14_part_pairs" -> ((2, 0)),
    "q201_hits_scores" -> ((10, 5)),
    "q206_ranking_metrics" -> ((10, 2)),
    "q213_poisson_bootstrap" -> ((2, 1)),
    "q21_recent_orders" -> ((0, 0)),
    // Round-15 refresh of the three rows round 14's plan commits moved
    // but never re-harvested (the red-suite debt, VERDICT r14 #1):
    // q284 71->66: the star-contraction convergence protocol now runs
    // ONE symmetric-difference job per round instead of exceptAll's
    // two-sided count pair (commit 0fa3347) — 5 fewer shuffles across
    // the bounded rounds. q290 32->(8,12): the proposal self-join probe
    // and both gone anti-join sides broadcast per round (9bac561) — 24
    // shuffles become 12 broadcasts; kept after an idle 5-rep A/B
    // (3.35s vs 3.78s min, 36MB vs 61MB shuffled — the driver's r14
    // "regression" was box load). q300 45->(20,22): frontier/visited
    // broadcast into the checkpointed adjacency + one-aggregate start
    // vertex (2fdc104), driver-confirmed 2.47x.
    // q284 stays (66,0): the round-15 star-minima broadcast
    // ((66,0)->(54,18), focused cold A/B +1.24x) was REVERTED at round
    // close — the FULL-bench warm context read 0.83x both by the
    // commit-boundary step (2.57->3.58s) and by a constant-context
    // SPARK_GRAFT_BCAST_MAX_ROWS=0 A/B (3.36 vs 4.04s); the loop is
    // AQE-stage-bound and 12 broadcast builds add more driver-gap jobs
    // than the saved edge re-shuffles cost (Components.scala note).
    "q284_grid_dbscan" -> ((66, 0)),
    "q290_greedy_matching" -> ((7, 12)),
    "q294_katz_centrality" -> ((6, 6)),
    "q296_blocking_quality" -> ((30, 0)),
    "q300_two_sweep_diameter" -> ((16, 22)),
    "q305_fellegi_sunter" -> ((26, 0)),
    "q307_sorted_neighborhood" -> ((31, 5)),
    "q35_ngram_jaccard_neardup" -> ((12, 0)),
    "q36_minhash_lsh_neardup" -> ((10, 0)),
    "q40_embedding_lsh_ann" -> ((8, 0)),
    "q47_user_sessions" -> ((2, 0)),
    "q50_corpus_curation" -> ((17, 0)),
    "q57_embedding_neardup_ann" -> ((7, 0)),
    "q63_embedding_quantize" -> ((1, 0)),
    "q65_incremental_dedup" -> ((18, 0)),
    "q66_repetition_stats" -> ((1, 0)),
    "q74_substring_dedup" -> ((5, 0)),
    "q83_zorder_layout" -> ((1, 0)),
    // q85 (12,5)->(11,5): round 1's share is seeded from deg alone
    // (no ranks ⋈ deg join, whose broadcast side AQE picked by stage
    // completion order)
    "q85_pagerank" -> ((9, 5)),
    "q86_bloom_decontamination" -> ((6, 2)),
    // q95 (12,0)->(10,1) round 15: the vertex-sized per-part count
    // table broadcasts into both enrichment joins (Rounds.gate;
    // ReuseExchange dedupes the two hints into one broadcast build)
    // instead of sort-merging the symmetric pair table twice
    "q95_item_similarity" -> ((6, 1)),
    "q99_regional_revenue" -> ((3, 3)),
  )

  test("headline exchange fingerprints match the committed budgets") {
    withAuditConf {
      val headlines = queries.Catalog.all.toSeq
        .filter { case (name, spec) => spec.headline && name.startsWith("q") }
        .sortBy(_._1)
      val actuals = headlines.map { case (name, spec) =>
        queries.Catalog.clearCaches(spark)
        val ((sh0, bc0), eagerQs) = Explain.eagerExecutions(spark) {
          Explain.exchangeCounts(spec.fn(spark, sf0001).queryExecution.executedPlan)
        }
        val eager = eagerQs.map(qe => Explain.exchangeCounts(qe.executedPlan))
        name -> ((sh0 + eager.map(_._1).sum, bc0 + eager.map(_._2).sum))
      }
      val rendered = actuals
        .map { case (n, (s, b)) => s"""    "$n" -> (($s, $b)),""" }
        .mkString("\n")
      val missing = actuals.collect {
        case (n, _) if !budgets.contains(n) => n
      }
      val drifted = actuals.collect {
        case (n, got) if budgets.get(n).exists(_ != got) =>
          s"$n: committed ${budgets(n)} actual $got"
      }
      val stale = (budgets.keySet -- actuals.map(_._1)).toSeq.sorted
      assert(missing.isEmpty && drifted.isEmpty && stale.isEmpty,
        s"""exchange-fingerprint drift (a plan SHAPE changed — explain it
           |in the commit that updates this map):
           |  missing rows: ${missing.mkString(", ")}
           |  drifted: ${drifted.mkString("; ")}
           |  stale rows (no longer q* headlines): ${stale.mkString(", ")}
           |full actual map:
           |$rendered""".stripMargin)
    }
  }
}
