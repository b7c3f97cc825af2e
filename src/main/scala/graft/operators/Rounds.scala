package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** The round mechanics shared by the iterative graph loops (the
  * catalog's Pregel-style kernels and [[Components]]). A bounded-round
  * loop costs rounds × per-round fixed cost, so that fixed cost is
  * defined here, once:
  *
  *  - [[gate]]: the size-gated broadcast hint for a loop's vertex-sized
  *    per-round tables;
  *  - [[symmetric]]: an undirected edge list in both directions;
  *  - [[converge]]: a loop to a fixed point, one local checkpoint per
  *    round, each superseded round freed eagerly.
  */
object Rounds {

  /** The size-gated broadcast hint for the vertex-sized tables of an
    * iterative graph kernel (q85 ranks, q95 part counts, q201 hub and
    * authority scores, q290 proposals/gone, q294 walk counts, q300
    * frontiers, the q164/q252 label table) — the
    * Pregel-style hinted shape: the loop-invariant adjacency streams
    * from its checkpoint and never re-shuffles while the |V|-sized side
    * broadcasts (guide §3.1). Round 14 shipped the hints
    * UNCONDITIONALLY with a comment saying to drop them "once |V|
    * outgrows the driver" (VERDICT r14 #4) — this gate automates that:
    * `rows` is the row count of the kernel's materialized edge/vertex
    * table (an upper bound on every per-round broadcast side), and the
    * returned hint broadcasts only under SPARK_GRAFT_BCAST_MAX_ROWS
    * (default 8M rows ≈ low hundreds of MB as a built relation — inside
    * Spark's 8 GB / 512M-row broadcast cap with an order of magnitude
    * of headroom). Past the limit the plan degrades to the
    * key-partitioned join with no code edit — the shape these queries
    * had before round 14. The gate stays wide open at every fixture SF
    * (|E_sym| ≤ ~600k at sf0.1), so bench/oracle plans keep the hinted
    * shape deterministically.
    *
    * TWO TIERS so the gate is free where it cannot bind: a fixture
    * whose total input bytes sit under [[VertexBcastInputBytes]] (8 GB
    * — vertex tables of an 8 GB input are at most tens of MB)
    * broadcasts on the metadata check alone; only past that does the
    * precise row count run. `rows` is by-name and runs at most once per
    * gate, on the first hint that needs it, so the count job exists
    * only at the scale where it is noise (the first A/B showed an
    * unconditional count costing 0.1-0.26 s on 1.5-3 s queries at
    * sf0.1). An unwalkable path (object store at cluster scale) counts
    * as NOT small, falling through to the precise gate — never the
    * other way.
    *
    * An EXPLICITLY set SPARK_GRAFT_BCAST_MAX_ROWS skips the byte tier,
    * and 0 never broadcasts: the variable is the kill switch for A/Bs,
    * and at fixture scale the byte tier would otherwise always answer.
    *
    * @param dir the fixture directory the kernel reads
    * @return the hint: `broadcast(df)` when the gate is open, else `df`
    */
  def gate(dir: String, rows: => Long): DataFrame => DataFrame = {
    lazy val open = vertexBcast(vertexBcastMaxRows, fixtureBytes(dir), rows)
    df => if (open) broadcast(df) else df
  }

  private val vertexBcastMaxRows: Option[Long] =
    sys.env.get("SPARK_GRAFT_BCAST_MAX_ROWS").map(_.toLong)

  private val VertexBcastInputBytes: Long = 8L << 30
  private val VertexBcastDefaultMaxRows: Long = 8000000L

  private val fixtureBytesCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def fixtureBytes(dir: String): Long =
    fixtureBytesCache.getOrElseUpdate(dir, {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length
      val root = new java.io.File(dir)
      if (root.exists) walk(root) else Long.MaxValue
    })

  /** The [[gate]] decision. `maxRows` is the explicitly set row limit,
    * if any; both thunks run only when the decision needs them.
    */
  private[graft] def vertexBcast(maxRows: Option[Long], inputBytes: => Long,
      rows: => Long): Boolean = maxRows match {
    case Some(max) => max > 0 && rows <= max
    case None => inputBytes <= VertexBcastInputBytes ||
      rows <= VertexBcastDefaultMaxRows
  }

  /** An undirected edge list in both directions: `df` ∪ `df` with
    * columns `a` and `b` swapped; every other column is carried through
    * unchanged, and the output keeps `df`'s column order.
    */
  def symmetric(df: DataFrame, a: String, b: String): DataFrame =
    df.union(df.select(df.columns.toSeq.map {
      case `a` => col(b).as(a)
      case `b` => col(a).as(b)
      case c => col(c)
    }: _*))

  /** Iterate `step` from `init` to a fixed point.
    *
    * Each round's result is `localCheckpoint(true)`ed (not persisted):
    * an iterative DataFrame loop grows the LOGICAL plan every round even
    * when the physical result is cached, and analysis of the
    * compounding self-referencing tree OOMs the driver after a few
    * rounds; the checkpoint truncates lineage to the materialized
    * blocks, so round k's plan is one step deep whatever k is. `step`
    * gets the previous round and a `stage` function that checkpoints an
    * intermediate table of the round; staged tables are freed once the
    * round's result is materialized. `fixed(prev, next)` then decides
    * convergence, and the previous round — `init` first, which should be
    * a materialized checkpoint itself — is freed.
    *
    * @return the fixed point and the number of rounds taken
    * @throws IllegalArgumentException when `maxRounds` rounds do not
    *   reach a fixed point
    */
  def converge(init: DataFrame, maxRounds: Int, what: String)(
      step: (DataFrame, DataFrame => DataFrame) => DataFrame)(
      fixed: (DataFrame, DataFrame) => Boolean): (DataFrame, Int) = {
    var cur = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val staged = mutable.ArrayBuffer.empty[DataFrame]
      val next = step(cur, df => { val c = df.localCheckpoint(true); staged += c; c })
        .localCheckpoint(true)
      staged.foreach(free)
      converged = fixed(cur, next)
      free(cur)
      cur = next
      round += 1
    }
    require(converged, s"$what did not converge in $round rounds")
    (cur, round)
  }

  /** Eagerly free a `localCheckpoint(true)`d table: `Dataset.unpersist`
    * does NOT reach checkpoint blocks (they bypass the CacheManager), so
    * unpersist the materialized RDD itself; otherwise every round's
    * blocks linger until the ContextCleaner GCs the old reference.
    */
  private def free(df: DataFrame): Unit =
    org.apache.spark.sql.graft.shims.checkpointedRdd(df)
      .foreach(_.unpersist(blocking = false))
}
