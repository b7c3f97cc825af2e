package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components — the dedup-clustering primitive
  * (collapse transitive near-dup pairs to one representative per
  * group). Two algorithms:
  *
  *  - [[connectedComponents]]: min-label propagation. Rounds = graph
  *    diameter; near-dup graphs are shallow (cliques/short chains), so
  *    2-4 rounds in practice — the default for the catalog's q62.
  *  - [[connectedComponentsStar]]: the large-star/small-star
  *    alternation (Kiveris et al., "Connected Components in MapReduce
  *    and Beyond", SoCC'14) — logarithmic round count on adversarial
  *    diameters (long chains), same labels. The 100 TB swap-in when
  *    the pair graph's diameter is not known to be shallow.
  */
object Components {

  /** Round-15 note (tried TWICE, measured, REVERTED): broadcasting the
    * per-round vertex-sized tables here (min-label table, star halves'
    * per-node minima — the Catalog kernels' Pregel shape, guide §3.1)
    * is a measured LOSS for both algorithms at fixture scale. Min-label
    * (q62): −7% in a 5-rep idle A/B — the near-dup pair graph is tiny,
    * per-round broadcast builds cost more than the saved
    * micro-shuffles. Star contraction (q284): a focused 7-rep cold A/B
    * read +1.24×, but the FULL-bench warm context — the driver's
    * actual measurement — read the opposite both ways it was probed:
    * q284 stepped 2.57 → 3.58 s the commit the broadcasts landed, and
    * a constant-context env A/B (SPARK_GRAFT_BCAST_MAX_ROWS=0 vs
    * default, full suite back-to-back) read 3.36 s un-hinted vs 4.04 s
    * hinted (0.83×). Mechanism: the loop is AQE-stage-bound (one job
    * per exchange), and 12 per-round broadcast BUILDS add more
    * driver-gap jobs than the 12 saved edge re-shuffles cost — both
    * sides of every star join are small here, so the shuffle is the
    * cheaper exchange. At a scale where the edge stream dwarfs the
    * vertex tables the broadcast becomes right again; it must return
    * behind the two-tier [[Rounds.gate]], not unconditionally.
    */

  /** Min-label propagation. Each round: push every node's label across
    * its edges, keep the per-node min; converged when no label changes.
    *
    * @param pairs undirected edges as two columns `d1`, `d2`
    * @return (node, label) — label = min node id of the component
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val edges = Rounds.symmetric(pairs.select(col("d1"), col("d2")), "d1", "d2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val init = edges.select(col("d1").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .localCheckpoint(true)
      // Round-15 note (measured, kept as-is): broadcasting the
      // vertex-sized label table here LOST ~7% on q62 in a 5-rep idle
      // A/B — see the object-level revert note.
      Rounds.converge(init, maxRounds, "label propagation") { (labels, _) =>
        val viaEdge = edges.as("e")
          .join(labels.as("l"), col("e.d2") === col("l.node"))
          .select(col("e.d1").as("node"), col("l.lbl"))
        labels.unionByName(viaEdge)
          .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      } { (labels, next) =>
        next.as("n")
          .join(labels.as("o"), col("n.node") === col("o.node"))
          .filter(col("n.lbl") =!= col("o.lbl")).count() == 0
      }._1
    } finally edges.unpersist()
  }

  /** Large-star/small-star alternation. Edges are kept canonically
    * oriented (u > v). Per round:
    *
    *  - large-star: for every node u, connect each strictly LARGER
    *    neighbor to m(u) = min(Γ(u) ∪ {u}) — works on the symmetrized
    *    neighborhood;
    *  - small-star: for every node u over its smaller neighbors,
    *    connect each of them (and u) to the minimum.
    *
    * Both halves are one groupBy + one join on the same key — the same
    * shuffle shape as a propagation round — but the edge set contracts
    * toward stars, so convergence takes O(log d) rounds instead of d.
    * Fixed point: every edge connects a node directly to its component
    * minimum.
    *
    * @param pairs undirected edges as two columns `d1`, `d2`
    * @return ((node, lbl) labels — identical to [[connectedComponents]]
    *         on the same input — and the number of rounds taken)
    */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 30)
      : (DataFrame, Int) = {
    // canonical orientation u > v, self-loops dropped
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()

    // Per-node minimum joins stay SHUFFLE joins — the per-round
    // broadcast variant was measured and reverted, see the
    // object-level round-15 note.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = Rounds.symmetric(e, "u", "v")
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m: canonical
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonically oriented: every neighbor v of u satisfies v < u
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val joined = e.join(m, "u")
      joined.select(col("v").as("u"), col("m").as("v")) // {v, m}
        .unionByName(joined.select(col("u"), col("m").as("v")).distinct()) // {u, m}
    }

    val init = canon(pairs.select(col("d1").as("u"), col("d2").as("v")))
      .localCheckpoint(true)
    // Round-14 (guide §1/§7): the loop is driver-gap-bound at bench
    // scale — q284 profiled as 135 jobs of ~30 ms each — so the
    // convergence protocol is trimmed from three jobs a round
    // (next.count, edges.count, exceptAll.isEmpty) to one in every
    // non-final round: the previous round's |next| IS this round's
    // |edges| (carried in prevCount, one count job on the fresh
    // checkpoint), and the full set compare runs only when the counts
    // match — then as ONE symmetric-difference aggregation
    // (union → groupBy(u,v) → any count≠2 ⇒ not equal; both inputs are
    // DISTINCT canonical sets, so multiset arithmetic is exact) instead
    // of exceptAll's two-sided except plan.
    var prevCount = init.count()
    val (edges, rounds) = Rounds.converge(init, maxRounds, "star contraction") {
      (e, stage) => canon(smallStar(stage(canon(largeStar(e)))))
    } { (e, next) =>
      val nextCount = next.count()
      // fixed point = identical canonical edge sets (both are distinct)
      val same = nextCount == prevCount &&
        next.unionByName(e).groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).isEmpty
      prevCount = nextCount
      same
    }
    // at the fixed point every edge is (node → component min); roots
    // appear only on the v side and label themselves
    val labels = edges.select(col("u").as("node"), col("v").as("lbl"))
      .unionByName(edges.select(col("v").as("node"), col("v").as("lbl")))
      .distinct()
    (labels, rounds)
  }
}
