package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Plan-audit main: dumps the formatted physical plan of every catalog
  * query to `outDir/<name>.txt` plus a one-line-per-query smell report
  * (cartesian joins, full sorts without limits, unpushed scans) to
  * stdout. Review artifact for the 100 TB design loop — run after any
  * catalog change.
  */
object Explain {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Generate, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Sort, Union, Window}
  import org.apache.spark.sql.catalyst.plans.logical.LeafNode

  /** A partitionless Window moves ALL rows to one task — fatal at scale
    * unless its input is provably bounded. This walk proves boundedness
    * structurally: limits bound; a scalar rollup (no grouping) is one
    * row; a grouped aggregate stays bounded only over bounded input;
    * joins/unions of bounded inputs are bounded; a Generate (explode)
    * multiplies by an unknowable array size, so it never proves; leaf
    * scans are unbounded (LocalRelation literal data excepted). Grouped
    * rollups whose KEY DOMAIN is bounded (a log2 bucket, an ROC
    * threshold grid) are real but unprovable here — those queries sit
    * in ExplainSpec's justified allowlist, and any NEW partitionless
    * window outside it fails the suite instead of shipping silently
    * (round-5 verdict #4: 13 audited-benign instances, zero enforced).
    */
  private[graft] def unboundedGlobalWindow(optimized: LogicalPlan): Boolean = {
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true // 1 row
      case a: Aggregate => bounded(a.child)
      case j: Join => bounded(j.left) && bounded(j.right)
      case u: Union => u.children.forall(bounded)
      case _: LocalRelation => true
      case _: Generate => false
      case _: LeafNode => false
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    optimized.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }.exists(w => !bounded(w.child))
  }

  /** Nested-loop classification (VERDICT r11 #2). A raw
    * "BroadcastNestedLoopJoin appears in the plan" smell flagged ~45
    * catalog entries, and every sampled one was an INTENDED 1-row
    * scalar-aggregate broadcast (`crossJoin(broadcast(totals))`) — so a
    * genuinely dangerous non-scalar nested loop added tomorrow would be
    * invisible in the noise. This classifies at the LOGICAL level: a
    * Join with NO extractable equi-key (Spark must plan it as
    * BNLJ/Cartesian) is benign when either side is provably ≤1 row
    * (`maxRows`, the planner's own bound: scalar aggregates, limits) —
    * per-row work is O(1), the broadcast is constant-size at any SF.
    * It is a SMELL when both sides are unbounded: candidate volume is
    * |L|·|R|, the one shape that can never survive a 100× scale-up.
    * Real small-domain theta joins (a k×k type-index build, a
    * calendar-grid band join) sit in ExplainSpec's justified allowlist,
    * and any NEW non-scalar nested loop fails the suite instead of
    * shipping silently — the same enforcement the window lint got in
    * round 5.
    */
  private[graft] def nonScalarNestedLoopJoin(optimized: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    def conj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conj(a) ++ conj(b)
      case x => Seq(x)
    }
    def splitsSides(j: Join, a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(j.left.outputSet) &&
          b.references.subsetOf(j.right.outputSet)) ||
         (b.references.subsetOf(j.left.outputSet) &&
          a.references.subsetOf(j.right.outputSet)))
    def hasEquiKey(j: Join): Boolean = j.condition.exists(c => conj(c).exists {
      case EqualTo(a, b) => splitsSides(j, a, b)
      case EqualNullSafe(a, b) => splitsSides(j, a, b)
      case _ => false
    })
    def scalar(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1L)
    optimized.collect { case j: Join => j }
      .exists(j => !hasEquiKey(j) && !scalar(j.left) && !scalar(j.right))
  }

  /** Physical exchange fingerprint: (shuffle exchanges, broadcast
    * exchanges) in a compiled plan, traversing subqueries AND the
    * cached plans behind InMemoryTableScan leaves (a shuffle added
    * inside a shared kernel must not hide behind its cache wrapper).
    * Each plan branch that reads a cache gets its own InMemoryRelation,
    * so relations are deduped by their shared `cacheBuilder`: a cache
    * read through two branches counts its exchanges once. Exchange
    * counts are the DETERMINISTIC complement to the wall-time
    * envelopes: container load moves seconds (the r11→r12 ratchet
    * saga), but a dropped broadcast hint or a new shuffle moves these
    * integers on every machine, identically. PlanBudgetSpec pins them
    * per headline with AQE off and stat-based broadcast disabled, so
    * the counts reflect the HINTED plan shape — what the query would do
    * at 100 TB where no side fits the autoBroadcast threshold by
    * accident.
    */
  private[graft] def exchangeCounts(
      plan: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val seenCaches =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): (Int, Int) = {
      val sh = p.collectWithSubqueries { case e: ShuffleExchangeLike => e }.size
      val bc = p.collectWithSubqueries { case e: BroadcastExchangeLike => e }.size
      val nested = p
        .collectWithSubqueries { case s: InMemoryTableScanExec => s.relation }
        .filter(r => seenCaches.add(r.cacheBuilder))
        .map(r => walk(r.cachedPlan))
      (sh + nested.map(_._1).sum, bc + nested.map(_._2).sum)
    }
    walk(plan)
  }

  /** NOTE: every catalog query deliberately ENDS in a total ORDER BY —
    * the oracle hash-compare requires a deterministic row order — so an
    * un-limited range-partitioned sort at the plan ROOT (possibly under
    * a Limit/Project presentation chain) is the expected presentation
    * layer, not a smell. Likewise a global Sort DIRECTLY under a
    * LocalLimit — anywhere in the plan — is a top-k SELECTION, not a
    * wasted reorder: Spark plans `Limit(Sort)` as TakeOrderedAndProject
    * (per-partition top-k + bounded merge, no range-partitioned
    * exchange), so a mid-plan sorted-limit feeding further operators
    * (e.g. a top-K vocab cut feeding a broadcast join) is scale-safe.
    *
    * The flag fires only on a BARE global sort feeding further
    * operators: re-ordered data a downstream shuffle will destroy —
    * pure wasted exchange at scale.
    *
    * The root sort is identified structurally — root node a Sort, or a
    * Sort reached through only Limit/Project wrappers — NOT by "a
    * GlobalLimit exists somewhere in the plan" (a query with a mid-plan
    * global sort AND an unrelated limit would previously be
    * under-counted).
    */
  private[graft] def midPlanGlobalSort(optimized: LogicalPlan): Boolean = {
    @annotation.tailrec
    def rootSort(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global => Some(s)
      case g: GlobalLimit => rootSort(g.child)
      case l: LocalLimit => rootSort(l.child)
      case pr: Project => rootSort(pr.child)
      case _ => None
    }
    // Reference-identity exemption set: structural equality would let one
    // exempt sort mask a second, structurally identical, bare one.
    // Limit over a (possibly Project-wrapped) global sort — the exact
    // shapes SpecialLimits plans as TakeOrderedAndProject.
    @annotation.tailrec
    def sortUnderProjects(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global => Some(s)
      case pr: Project => sortUnderProjects(pr.child)
      case _ => None
    }
    val exempt = scala.collection.mutable.ArrayBuffer.empty[Sort]
    optimized.foreach {
      case LocalLimit(_, child) => sortUnderProjects(child).foreach(exempt += _)
      case _ => ()
    }
    rootSort(optimized).foreach(exempt += _)
    optimized
      .collect { case s: Sort if s.global => s }
      .exists(s => !exempt.exists(_ eq s))
  }

  /** Runs `body` and returns the query executions it completed — the
    * eager-barrier coverage every plan audit needs: a
    * `localCheckpoint(true)` subtree executes at CONSTRUCTION time and
    * is replaced by a leaf, so its plan never reaches the final
    * optimizedPlan. The listener bus is drained before and after, so
    * executions still in flight from earlier work (a failed previous
    * query's barriers) are not attributed to `body`.
    */
  def eagerExecutions[A](spark: SparkSession)(body: => A): (A, Vector[QueryExecution]) = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.graft.SparkShims.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      org.apache.spark.graft.SparkShims.drainListenerBus(spark.sparkContext)
      (result, captured.asScala.toVector)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    // audit-mode planning, matching PlanBudgetSpec; fixed at 4 cores so
    // the fingerprints do not depend on SPARK_GRAFT_CPUS
    val spark = Harness.session("4", confs = Harness.auditConfs, logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    queries.Catalog.all.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      try {
        val (df, eagerQs) = eagerExecutions(spark) {
          val df = spec.fn(spark, sfDir)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), df.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          df
        }
        val plans = df.queryExecution.optimizedPlan +: eagerQs.map(_.optimizedPlan)
        // scalar-broadcast BNLJ (crossJoin(broadcast(1-row agg))) is an
        // intended plan shape, not a smell — only the non-scalar class
        // (candidate volume |L|*|R|) is reported (VERDICT r11 #2)
        val smells = Seq(
          "NonScalarNestedLoopJoin" -> plans.exists(nonScalarNestedLoopJoin),
          "MidPlanGlobalSort" -> plans.exists(midPlanGlobalSort),
          "UnboundedGlobalWindow" -> plans.exists(unboundedGlobalWindow),
        ).collect { case (s, true) => s }
        // Exchange fingerprint per entry (shuffles, broadcasts) — the
        // same counts PlanBudgetSpec GATES for headlines, printed
        // catalog-wide here so a round-over-round diff of the audit
        // log surfaces shape drift in the long tail too. Main plan +
        // eager construction barriers, kernels counted via their
        // cached plans.
        val fps = (df.queryExecution +: eagerQs)
          .map(qe => exchangeCounts(qe.executedPlan))
        val (sh, bc) = (fps.map(_._1).sum, fps.map(_._2).sum)
        println(s"[plan] $name sh=$sh bc=$bc " +
          s"${if (smells.isEmpty) "ok" else smells.mkString(",")}")
      } catch {
        // String.valueOf: a null-message throwable must not NPE the
        // audit loop — a prefix-only audit log would make every
        // missing entry read as 'gone (informational)' in check_plans
        case e: Throwable =>
          println(s"[plan] $name ERROR ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
