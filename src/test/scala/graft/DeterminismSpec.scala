package graft

/** Results must not depend on the partition layout — the failure class
  * behind the PrefixScan boundary-recompute bug (block-constant
  * offset errors) and the reason every rank/fold in the catalog
  * carries explicit tiebreaks. Representative queries from each risky
  * family (prefix-sum kernel, global-order extraction, deterministic
  * shuffle, iterative pointer jumping) run under different
  * shuffle-partition counts and must return IDENTICAL row sequences.
  */
class DeterminismSpec extends SparkSpec {

  private val names = Seq(
    "q166_ks_statistic",        // prefix-sum kernel, offsets + totals
    "q184_pps_sample",          // kernel + threshold crossings
    "q185_open_orders_per_day", // kernel over delta sweep
    "q163_theil_sen_trend",     // scaled-key median extraction
    "q122_deterministic_shuffle", // seeded corpus ordering contract
    "q187_hierarchy_flatten",   // iterative localCheckpoint loop
    "q213_poisson_bootstrap",   // row-local hash weights ⇒ layout-free
    "q216_clamped_balance",     // sequential clamped fold over sort_array
    "q201_hits_scores",         // iterative broadcast-Pregel rounds
    // round-11 additions (the partition-count invariance guard exists
    // for exactly these constructions):
    "q304_matrix_profile",      // calendar-bounded crossJoin + argmin ranks
    "q307_sorted_neighborhood", // distributed prefix-sum ranks + grid blocks
    "q311_perceptual_hash_dedup", // banded candidates + hamming verify
    "q313_louvain_move",        // argmax-gain window + strict-positive rule
    "q314_wl_refinement",       // sorted collect_list + hash fold per node
    "q317_anf",                 // bit_or merges must be layout-free
    "q318_dsir_stats",          // broadcast bucket join + integer div sums
    // round-12 rewrites: both must stay layout-free after the change
    "q315_fm_pcsa",             // true-PCSA routing: bit_or of routed bits
    "q319_stupid_backoff")      // gram-keyed joins + order-free div sums

  test("representative queries are shuffle-partition invariant") {
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    def runAll(parts: String): Map[String, Seq[String]] = {
      conf.set("spark.sql.shuffle.partitions", parts)
      try names.map { n =>
        queries.Catalog.clearCaches(spark)
        n -> queries.Catalog.all(n).fn(spark, sf0001)
          .collect().map(_.toString).toSeq
      }.toMap
      finally conf.set("spark.sql.shuffle.partitions", saved)
    }
    val at3 = runAll("3")
    val at7 = runAll("7")
    names.foreach { n =>
      assert(at3(n) == at7(n),
        s"$n differs across partition counts: " +
          s"${at3(n).zip(at7(n)).find { case (a, b) => a != b }}")
    }
  }
}
