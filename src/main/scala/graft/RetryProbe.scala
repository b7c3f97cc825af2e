package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Passthrough expression that THROWS on the first attempt of
  * partition 0 of every stage that evaluates it — the fault injector
  * behind [[RetryProbe]]. Marked nondeterministic so the optimizer
  * neither folds it nor floats it out of the projection it was placed
  * in (the injection point must stay inside the stage under test).
  * CodegenFallback: the probe measures recompute semantics, not
  * codegen.
  */
private[graft] case class FailOnce(child: Expression)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def dataType = child.dataType
  override def nullable: Boolean = child.nullable
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0)
      throw new RuntimeException(RetryProbe.Marker)
    child.eval(input)
  }
  override protected def withNewChildInternal(newChild: Expression): FailOnce =
    copy(child = newChild)
}

/** ON-DEMAND task-retry determinism probe (VERDICT r13 #5 — the
  * recompute-nondeterminism class that bit several real engines: a
  * retried task recomputes its upstream with fresh samples/layout and
  * produces a block of silently different rows).
  *
  * Task retries need `local[N, maxFailures]` — a CONSTRUCTION-time
  * master setting, which is why this is a standalone main and not a
  * suite in the shared-session test JVM (same reason the off-heap and
  * static-spill regimes live in Verify's own session).
  *
  * Each probe builds a representative layout-sensitive shape from
  * DeterminismSpec's families twice — clean, and with a [[FailOnce]]
  * injected into the map side of the shape's first exchange (so the
  * sample job of a range partitioner, the shuffle-write stage, and the
  * eager localCheckpoint materialization all hit it on their first
  * partition-0 attempt) — and requires (a) at least one REAL task
  * failure was observed via the listener, and (b) the two outputs are
  * bit-identical. Probes target the kernels themselves rather than
  * whole catalog entries: retry semantics are a property of the
  * exchange shape, and the kernel call is where the shape lives.
  *
  * Run: `sbt -batch "runMain graft.RetryProbe [sfDir]"` (exit nonzero
  * on any divergence or on zero observed failures).
  */
object RetryProbe {
  final val Marker = "graft-retry-probe-injected-failure"

  private def fo(c: Column, on: Boolean): Column =
    if (on) shims.column(FailOnce(shims.expression(c))) else c

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = Harness.cpus("8")
    val spark = Harness.session(cpus,
      master = Some(s"local[$cpus, 3]"), // 3 task attempts — the probe's point
      confs = Seq("spark.app.name" -> "graft-retry-probe"), logLevel = "ERROR")

    val observedFailures = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.reason != org.apache.spark.Success
              && String.valueOf(e.reason).contains(Marker))
            observedFailures.incrementAndGet()
      })

    // Probe 1 — the distributed prefix-scan kernel
    // (operators.PrefixScan, the q166/q184/q185 family): range exchange
    // + pid-keyed local cumsum + eagerly materialized multi-consumer
    // barrier + broadcast offsets join.
    // The injection sits between the rollup aggregate and
    // repartitionByRange, so the range partitioner's SAMPLE job and
    // the localCheckpoint materialization both retry through it.
    def prefixSum(on: Boolean): DataFrame = {
      val rollup = Tables.orders(spark, sfDir)
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("d1"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("d2"))
        .select(fo(col("cents"), on).as("cents"), col("d1"), col("d2"))
      operators.PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"),
          "c2" -> col("d2"))
        .select(col("cents"), col("c1"), col("c2"))
        .orderBy(col("cents"))
    }

    // Probe 2 — the sketch-fold family (q315/q317 class): bit_or of
    // routed bits under a hash aggregate; partial aggregation means a
    // retried map task re-folds its partition from scratch.
    def sketchFold(on: Boolean): DataFrame =
      Tables.events(spark, sfDir)
        .select(
          fo(pmod(col("user_id"), lit(64L)), on).as("k"),
          expr("shiftleft(1L, CAST(pmod(hash(event_id), 60) AS INT))")
            .as("bits"))
        .groupBy(col("k"))
        .agg(expr("bit_or(bits)").as("sketch"))
        .orderBy(col("k"))

    // Probe 3 — global-order extraction (rank/top-N family): a window
    // sort stage whose map side recomputes the projected input on
    // retry; explicit tiebreaks make the contract total.
    def topPerSupplier(on: Boolean): DataFrame = {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(spark, sfDir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          fo(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"), on)
            .as("price"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("l_suppkey"), col("rn"))
    }

    val probes: Seq[(String, Boolean => DataFrame)] = Seq(
      "prefix_sum_kernel" -> prefixSum,
      "sketch_fold" -> sketchFold,
      "window_top_n" -> topPerSupplier)

    var bad = List.empty[String]
    probes.foreach { case (name, build) =>
      val clean = build(false).collect().map(_.toString).toSeq
      val before = observedFailures.get()
      val probed = build(true).collect().map(_.toString).toSeq
      org.apache.spark.graft.SparkShims.drainListenerBus(spark.sparkContext)
      val injected = observedFailures.get() - before
      if (injected == 0L)
        bad ::= s"$name: no injected task failure observed — the probe " +
          "degraded to an A/A run (FailOnce never evaluated on " +
          "partition 0, or retries are off)"
      if (clean != probed) {
        val first = clean.zip(probed).find { case (a, b) => a != b }
          .orElse(Some((s"${clean.size} rows", s"${probed.size} rows")))
        bad ::= s"$name: retry divergence at $first"
      }
      System.err.println(
        s"[retry-probe] $name: ${clean.size} rows, $injected injected " +
          s"task failures, identical=${clean == probed}")
    }
    spark.stop()
    if (bad.nonEmpty) {
      bad.foreach(m => System.err.println(s"[retry-probe] FAIL $m"))
      sys.exit(1)
    }
    System.err.println("[retry-probe] all probes retry-deterministic")
  }
}
