package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 empirical scale check: the driver fixtures stop at sf0.1, so
  * this main materializes a ~10× fixture directory and drives the
  * headline dedup/ANN/graph families plus the integer-headroom family
  * against it — confirming the Σdf² candidate growth, LSH bucket sizes,
  * and BIGINT budgets hold one real scale step up (VERDICT r5 #6).
  *
  *   SCALE_MULT=10 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ScaleSweep /root/testdata/sf0.1 /tmp/graft_scale10"
  *
  * Fixture construction:
  *  - `documents` / `embeddings`: regenerated at 10× row count by
  *    [[sources.Synthetic.documents]]/[[sources.Synthetic.embeddings]]
  *    (fixture-shaped vocab/langs/sources + engineered near-dup and
  *    exact-copy structure; label-clustered vectors).
  *  - `lineitem`/`orders`/`customer`/`events`: the sf0.1 tables
  *    replicated MULT× with fact keys shifted per replica (orderkey /
  *    custkey / user_id), preserving intra-replica joins while growing
  *    join and aggregate cardinality 10× — dims (region, nation,
  *    supplier, part) copy through unchanged, exactly how a bigger
  *    TPC-H behaves.
  *
  * Under ANSI mode an integer-headroom budget miss THROWS, so "zero
  * errors" in the emitted JSON line is itself the overflow check; the
  * per-query seconds against the sf0.1 anchors give the scaling
  * exponent (expect ≈ linear for the map/shuffle families, ≈ MULT× for
  * the candidate-quadratic dedup families whose Σdf² bound is the
  * documented scale contract).
  */
object ScaleSweep {

  /** Families share session caches INTERNALLY (first consumer pays the
    * build, as in production and the bench suite) but caches clear at
    * family boundaries: without the clear, q40's persisted candidate
    * set (hundreds of MB at 10×) squeezed the unified memory pool and
    * inflated the next family's shuffles ~3× (measured q14 9.6 → 28 s
    * purely from ordering).
    */
  private val sweepFamilies: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq(
      "q35_ngram_jaccard_neardup", "q36_minhash_lsh_neardup", "q62_dedup_components",
      "q65_incremental_dedup", "q66_repetition_stats", "q74_substring_dedup",
      "q86_bloom_decontamination", "q50_corpus_curation"),
    // m09 is one scale path for ANN (IVF probe cost O(n²/k_centroids),
    // linear when centroids scale with n); the hyperplane-LSH q40 keeps
    // its oracle-pinned (k=4, L=8) knobs, whose Σbucket² candidate
    // volume is quadratic in n by contract. q204 and q165 (round 8) run
    // on the ADAPTIVE multi-probe cut (k grows with log n, ~32-vector
    // buckets) — their 10× points should track the linear O(L·k·32·n)
    // candidate volume, not the old brute-force quadratic
    "ann" -> Seq("q40_embedding_lsh_ann", "q57_embedding_neardup_ann",
      "m09_ivf_ann", "q165_semantic_decontamination", "q204_mutual_knn",
      // r8: q238 is near-dup-pair-sized; q240 composes the LSH cut with
      // the two shingle probes (shares this family's session caches)
      "q238_matryoshka_audit", "q240_contamination_report",
      // late r8: PQ codes scan + 50-deep exact re-rank through GroupTopK
      "m16_pq_ann",
      // r12: Lloyd k-means baseline — per-iteration map over rows
      // against k broadcast centers; the sweep point the r11 verdict
      // asked for (200k vectors at 100x, k=8)
      "m23_kmeans",
      // r9: grid DBSCAN — per-point O(1) binning; components on the
      // core-CELL graph, never points
      "q284_grid_dbscan",
      // r9: RRF fusion — probe-bounded pair stage + rank arithmetic
      "q287_rrf_fusion",
      // r9: grid kNN JOIN — 9-shift equi-join, linear at fixed density
      "q292_grid_knn_join",
      // r9: Moran's I — occupied-cell rollup + 8-shift adjacency
      "q293_morans_i"),
    "graph" -> Seq("q14_part_pairs", "q85_pagerank", "q94_triangle_count",
      "q164_label_propagation", "q201_hits_scores", "q222_bfs_distances",
      // r8: q243 re-runs the oriented wedge join with centers kept
      "q243_clustering_buckets",
      // r8 session 3: four Bellman-Ford relaxations over the co-graph;
      // q252 re-runs 3 LP rounds + the two endpoint-labeled joins
      "q251_sssp_weighted", "q252_modularity",
      // r8s4: kNN-sparsified wedge rollup — fan-out bounded 28·|V|
      "q258_link_prediction",
      // r8s4: duels are the per-part co-occurrence shape; 3 MM rounds on
      // the supplier-sized strength table
      "q269_bradley_terry",
      // r9: 4 mutual-proposal matching rounds — min-rollup + proposal
      // self-join per round, edge list only shrinks
      "q290_greedy_matching",
      // r9: butterfly census — one pass over the shared pair-count
      // kernel, no new fact work
      "q291_butterfly_census",
      // r9: Katz — 4 edge-join rounds, exact integer walk counts; a
      // clean ANSI run is the BIGINT headroom check
      "q294_katz_centrality",
      // r9s2: two-sweep diameter — two 6-round BFS chains + argmax cuts
      "q300_two_sweep_diameter",
      // r11: Louvain local-moving round — one gain join over the
      // weighted co-pair kernel + a src-partitioned argmax window
      "q313_louvain_move",
      // r11: WL color refinement — two fixed rounds of edge join +
      // node-keyed sorted-neighbor-color fold
      "q314_wl_refinement",
      // r11: ANF — two rounds of edge join + 8-column bit_or rollup,
      // 8 longs of state per node (never a reach set)
      "q317_anf"),
    // ANSI overflow = hard failure, so a clean run IS the headroom check
    "headroom" -> Seq("q82_anomaly_minutes", "q93_gini_order_value",
      "q108_rank_rationals", "q109_trend_ols", "q125_bm25_retrieval"),
    // event-time family (added r7 once the NTZ reader fix unblocked it):
    // replicated events add USERS, not events-per-user, so session
    // windows / carry-forward state per key is scale-invariant and the
    // cost should track the single user_id shuffle ~linearly
    "time" -> Seq("q10_events_per_min", "q47_user_sessions",
      "q51_asof_join", "q52_range_join", "q133_rolling_wau",
      "q170_hll_sketch_merge", "q175_audience_overlap",
      "q176_inter_event_gaps", "q179_touch_attribution",
      "q189_funnel_latency", "q198_event_trigrams", "q223_activity_histogram",
      "q224_native_sessions", "q256_markov_attribution",
      // r8: q246 is two distributed prefix-max range exchanges
      "q246_watermark_lag",
      // r8s4: PrefixSpan over per-user sequences — one user shuffle,
      // projected DBs bounded by maxPatternLength=2
      "q261_sequential_patterns",
      // r8s4: one distinct (type,day,user) rollup + a (type,user)
      // co-partitioned adjacent-day self-join
      "q270_dau_overlap",
      // r9: Shapley attribution — one user-keyed shuffle, then a
      // 16-row coalition table regardless of SF
      "q273_shapley_attribution",
      // r11: FM-PCSA + linear counting — one map-side-combinable
      // bit_or / distinct-slot rollup each, constant state per group
      "q315_fm_pcsa", "q316_linear_counting",
      // r11: randomized response — one broadcast-index map over the
      // fact stream + two type rollups
      "q320_randomized_response"),
    // corpus-level audits (added r7): source count is FIXED at 20 while
    // docs/vecs grow, so the |sources|-bounded fan-out claims are what
    // this family actually measures
    "corpus" -> Seq("q139_leakage_free_split", "q140_source_overlap",
      "q141_source_semantic_similarity", "q172_source_minhash_overlap",
      "q173_labeler_agreement", "q208_good_turing", "q214_kneser_ney_stats", "q215_heaps_law",
      "q228_dataset_datasheet",
      // round-8 additions: q230/q233 roll up to |sources|/|cells| rows,
      // q231 rides the inverted index + one min-rollup, q232 one source
      // shuffle, q234 the shared verified-pair/component kernel
      "q230_mixture_weights", "q231_accession_novelty",
      "q232_quality_calibration", "q233_raking_weights",
      "q234_dedup_token_ledger", "q237_mixture_sample",
      // r8s4: 5 BPE rounds over the vocab-bounded word-freq table —
      // should be flat in corpus size once the one freq rollup is paid
      "q263_bpe_merges",
      // r10: encode pass = corpus explode + broadcast vocab join +
      // per-doc rollup — tracks the explode volume
      "q301_bpe_encode",
      // r8s4: explode + 20-source rollup; regexp in codegen, map-side combine
      "q268_readability_stats",
      // r8s4: 5 greedy rounds of vocab-bounded anti-join + top-1 over
      // the shared shingle kernel — cost tracks the shingle build
      "q260_coverage_selection",
      // r9s2: Yule K / Simpson D — one word-count shuffle + scalar rollup
      "q299_lexical_concentration",
      // r8: q244 is two word-count-shaped rollups + vertex-sized score
      // joins — tracks the bigram explode volume
      "q244_textrank_keywords",
      // r8s3: positional-postings build + two doc-co-partitioned joins
      "q257_phrase_search",
      // r9: FD-discovery profiler — per-candidate linear scans + two
      // narrow hash-agg shuffles on the 8-byte polyhash LHS key
      "q271_fd_discovery",
      // r9: chi-squared token-class selection — posting-list rollup +
      // vocab/class-bounded margin joins; tracks the explode volume
      "q280_token_chi2",
      // r10: McNemar — two per-row classifier maps + a 6-row rollup
      "q308_mcnemar"),
    "decode" -> Seq("q138_pixel_stats", "q247_container_decode", "q248_flac_decode",
      "q253_mp4_decode",
      // r10: aHash — map-only decode+hash, banded self-join on 16-bit
      // hash bands (Σbucket² bounded, the q36 shape)
      "q311_perceptual_hash_dedup"),
    // decision-support classics (added r7): replicated facts with
    // copied-through dims — the broadcast-dim / single-fact-shuffle
    // claims should track the fact volume ~linearly
    "classic" -> Seq("q142_order_count_distribution", "q143_small_qty_revenue",
      "q145_sole_return_suppliers", "q151_returned_revenue_customers",
      "q152_bi_nation_trade", "q153_disjunctive_revenue",
      "q154_revenue_share_parts", "q155_large_volume_orders",
      "q157_table_digest", "q159_cheapest_supplier",
      "q171_kll_sketch_merge", "q177_order_reconciliation",
      // r8s4: bottom-64 KMV heaps + a 5-priority distinct rollup —
      // should track the orders scan; the sketch exchange is 5·64 rows
      "q259_kmv_distinct",
      // r8s4: sweep-line interval union — one orderkey join + one
      // custkey window, bounded per key by orders-per-customer
      "q267_interval_union",
      "q178_rfm_segmentation", "q183_mode_per_group", "q184_pps_sample",
      "q185_open_orders_per_day", "q186_holt_smoothing",
      "q187_hierarchy_flatten", "q180_snapshot_diff",
      "q181_dow_seasonality", "q182_discount_quantity_corr",
      "q188_equidepth_histogram", "q190_shipping_priority",
      "q191_priority_checking", "q192_forecast_revenue",
      "q193_market_share", "q194_nation_year_profit",
      "q195_promo_revenue", "q196_supplier_relationship",
      "q197_part_promotion", "q199_cohort_ltv",
      "q200_supplier_lead_time", "q202_cusum_changepoint",
      "q203_forecast_accuracy", "q205_linear_interpolation",
      "q206_ranking_metrics", "q207_recursive_closure",
      "q209_grouping_sets", "q210_hilbert_layout",
      "q211_rolling_ols", "q212_tukey_fences", "q213_poisson_bootstrap",
      "q216_clamped_balance", "q217_simpsons_audit", "q218_cuped_stats",
      "q225_trending_parts", "q226_market_concentration", "q227_native_unpivot",
      "q229_sla_compliance", "q235_lateral_topk", "q236_variant_shred",
      "q241_half_life_trending", "q242_group_topk", "q245_pit_features",
      "q249_dense_rank_ties", "q250_gini_relevance", "q254_rank_fractions",
      "q255_jaro_winkler_match",
      "q219_quantile_effect", "q220_survival_stats",
      "q221_seasonal_anomaly",
      // r9: SPIDER single-pass IND profiler — one (ind, key) shuffle
      // shared by all 8 candidates, no joins
      "q272_ind_discovery",
      // r9: consistent-hash ring — broadcast 128-point ring, map-side
      // successor min per key, one 8-key rollup
      "q275_consistent_ring",
      // r9: Count-Min — the sketch build is a fixed 256-cell hash-agg,
      // so incremental cost over the orders scan should be ~flat
      "q279_count_min",
      // r10: Count sketch — same fixed-domain hash-agg shape (320 cells)
      "q303_count_sketch",
      // r10: sequential Poisson — one map pass + TakeOrdered(50)
      "q302_sequential_poisson"),
    // line/token-granular curation (added r7): rows grow 10× but the
    // line-window and bigram-window state per key stays a counter, so
    // cost should track the explode volume; q149 rides the dedup
    // family's shingle/signature cache shapes rebuilt fresh here
    "lines" -> Seq("q147_line_dedup", "q148_lm_familiarity",
      "q149_minhash_estimate_audit", "q150_gap_fill_locf",
      "q174_blocklist_filter",
      // r9: winnowing — positioned-shingle build + two doc-keyed
      // windows; output density pinned at 2/(w+1) of k-gram volume
      "q274_winnowing_fingerprints",
      // r10: Aho-Corasick — one automaton pass, tracks corpus bytes
      // regardless of dictionary size
      "q306_aho_corasick",
      // r11: composed blocklist — broadcast token probe + one automaton
      // pass; tracks the token explode volume
      "q312_blocklist_ac",
      // r11: DSIR stats — one bigram explode + constant-size bucket
      // rollups + a broadcast bucket join; tracks the explode volume
      "q318_dsir_stats",
      // r11: Stupid Backoff — three gram rollups (the distributed LM)
      // + gram-keyed joins onto the batch token stream
      "q319_stupid_backoff"),
    // exact statistics (added late r7): the KS/MW prefix-sum kernel's
    // cost tracks the distinct-value rollup (~linear in facts here);
    // the day-rollup entries (Theil-Sen, TWAP) are calendar-bounded
    // and should be near scale-invariant past the rollup scan
    "stats" -> Seq("q162_pareto_frontier", "q163_theil_sen_trend",
      "q166_ks_statistic", "q167_mann_whitney_u",
      "q168_time_weighted_revenue", "q169_benford_audit",
      // r9: Kendall pair census — |suppliers-per-nation|²-bounded
      // self-join after one map-side-combined suppkey rollup
      "q276_kendall_tau",
      // r9: CvM on the shared prefix-sum kernel — ANSI decimal chain
      // is the headroom check (num value crosses 10^38 near 10^8 rows)
      "q277_cramer_von_mises",
      // r9: Haar synopsis — calendar-bounded transform after one
      // map-side-combined daily rollup; 17 output rows at any SF
      "q278_haar_synopsis",
      // r9: Page-Hinkley — calendar-bounded daily rollup + bounded
      // windows; near scale-invariant past the rollup scan
      "q281_page_hinkley",
      // r9: AMS F2 — one 16-sum global agg (16-value shuffle at any SF)
      // plus the exact-F2 audit rollup
      "q286_ams_f2",
      // r9: SAX — 16-segment PAA over the calendar-bounded daily rollup
      "q288_sax_symbols",
      // r10: matrix profile — calendar-bounded windows² pair stage;
      // only the daily rollup is fact-sized, so cost should be ~flat
      // past the scan; a clean ANSI run checks the DECIMAL(38,0) chain
      "q304_matrix_profile",
      // r10: Mann-Kendall — same calendar-bounded pair-census class,
      // integers BIGINT forever (N^3 ~ 1.4e10 at any SF)
      "q310_mann_kendall"),
    // r9: randomization inference — 48 conditional aggregates in ONE
    // map-side-combined pass; |T| = m2*S1 - m1*S2 nears 2^63 around
    // sf100, so a clean ANSI run doubles as the headroom check
    "inference" -> Seq("q289_permutation_test",
      // r10: Cochran-Armitage — one orderkey semi-join + a 5-key
      // rollup; DECIMAL(38,0) chain is the headroom check
      "q309_cochran_armitage",
      // r9s2: DiD — one 8-sum global agg; DECIMAL chain is the check
      "q295_did_estimator",
      // r9s2: BH-FDR — 48-sum ensemble pass + 24x25 arithmetic
      "q298_bh_fdr"),
    // r9s2: blocking audit — rides the prefix/minhash kernels + three
    // count rollups and one pair-keyed join against the truth table
    "blocking" -> Seq("q296_blocking_quality",
      // r9s2: b-bit minwise audit — two signature lookups per LSH
      // candidate pair + one candidate-bounded intersection rollup
      "q297_bbit_minwise",
      // r10: Fellegi-Sunter m/u weights — candidate-bounded truth join
      // + per-field flags + a 2-row rollup melted to 3 field rows
      "q305_fellegi_sunter",
      // r10: sorted-neighborhood — distributed prefix ranks + the 1-D
      // block join; candidates exactly (n - w/2-ish)·(w-1) per pass
      "q307_sorted_neighborhood"))

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val mult = sys.env.getOrElse("SCALE_MULT", "10").toInt
    val spark = Harness.session(Harness.cpus("32"))

    if (!new java.io.File(s"$outDir/documents.parquet").exists()) {
      System.err.println(s"[sweep] building ${mult}x fixtures under $outDir")
      buildFixtures(spark, srcDir, outDir, mult)
    }

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // SWEEP_FAMILIES=classic,lines restricts to named families — a new
    // family can be measured without re-paying the whole suite (the
    // full sweep stays the round-cadence default). Unset = all.
    // SWEEP_ONLY=q166_...,q85_... further restricts to named queries
    // (the mult=100 spot-check runs three kernels, not whole families).
    val only = sys.env.get("SWEEP_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val onlyQ = sys.env.get("SWEEP_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    sweepFamilies.filter(f => only.forall(_.contains(f._1)))
      .foreach { case (family, names) =>
      queries.Catalog.clearCaches(spark)
      System.gc()
      names.filter(n => onlyQ.forall(_.contains(n))).foreach { name =>
        Harness.timed(queries.Catalog.all(name).fn(spark, outDir)) match {
          case Right(dt) =>
            times(name) = dt
            System.err.println(f"[sweep] $family/$name $dt%.2fs")
          case Left(e) =>
            errors += name
            System.err.println(s"[sweep] $family/$name FAILED: $e")
        }
      }
    }
    val qs = times.map { case (k, v) => "\"" + k + "\":" + Harness.num(v, 3) }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"scale_sweep","mult":$mult,"queries":$qs,"errors":$errs,"src":"$srcDir","dir":"$outDir"}""")
    spark.stop()
  }

  private def buildFixtures(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val nDocs = Tables.documents(spark, srcDir).count() * mult
    val nVecs = Tables.embeddings(spark, srcDir).count() * mult
    // SCALE_VOCAB: extra synthetic vocabulary words. Default grows the
    // vocab with the corpus (Heaps-law shape) so per-shingle df — and
    // with it the near-dup families' Σdf² candidate bound — stays
    // scale-invariant; SCALE_VOCAB=0 reproduces the fixture's exact
    // 31-word vocab, whose df densifies ∝ mult and makes candidate
    // growth quadratic (the measured fixed-vocab saturation mode).
    val extraVocab = sys.env.get("SCALE_VOCAB").map(_.toInt)
      .getOrElse(31 * (mult - 1))
    write(sources.Synthetic.documents(spark, nDocs, extraVocab = extraVocab),
      "documents")
    write(sources.Synthetic.embeddings(spark, nVecs), "embeddings")

    // dims copy through unchanged
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t)
    }

    // facts replicate with per-replica key shifts (keys stay dense and
    // intra-replica joins stay intact — the way a bigger SF behaves)
    def replicate(df: DataFrame, shiftCols: Map[String, Long]): DataFrame = {
      val reps = spark.range(mult).select(col("id").as("__rep"))
      shiftCols.foldLeft(df.crossJoin(broadcast(reps))) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + col("__rep") * base)
      }.drop("__rep")
    }
    val ordKeyBase = 1L + Tables.orders(spark, srcDir)
      .agg(max("o_orderkey")).head().getLong(0)
    val custKeyBase = 1L + Tables.customer(spark, srcDir)
      .agg(max("c_custkey")).head().getLong(0)
    write(replicate(Tables.customer(spark, srcDir),
      Map("c_custkey" -> custKeyBase)), "customer")
    write(replicate(Tables.orders(spark, srcDir),
      Map("o_orderkey" -> ordKeyBase, "o_custkey" -> custKeyBase)), "orders")
    write(replicate(Tables.lineitem(spark, srcDir),
      Map("l_orderkey" -> ordKeyBase)), "lineitem")
    val userBase = 1L + Tables.events(spark, srcDir)
      .agg(max("user_id")).head().getLong(0)
    write(replicate(Tables.events(spark, srcDir),
      Map("user_id" -> userBase)), "events")
  }
}
