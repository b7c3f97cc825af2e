package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The distributed prefix scan: a running aggregate in a global order
  * with no global-sort window. It is the one building block behind the
  * exact CDF, rank and AUC family (q166/q167/q184/q185/q188/q189/q219/
  * q277, q307's ranks, `MlCatalog.classifierMetrics`) and the running
  * high-water marks of q162 and q246. A partitionless window would sort
  * all rows on one task (the q162 O(n²)/single-task class); this is one
  * range exchange and linear work at any parallelism:
  *
  *  1. range-partition on the order key (equal keys never split across
  *     range partitions) and tag each row with `spark_partition_id()`;
  *  1. fold each partition locally under a window keyed by that id;
  *  1. fold the per-partition totals — one row per partition — in
  *     partition order, and add each partition's offset (the fold of all
  *     earlier partitions) through a broadcast join.
  *
  * The locally folded stage feeds two consumers, the offsets aggregate
  * and the final join, so it is materialized EAGERLY
  * (`localCheckpoint(true)`). This is load-bearing for correctness:
  * without it the broadcast subtree can recompute the range exchange
  * with freshly sampled boundaries, partition ids then disagree between
  * the two consumers, and every partition past the first gets a wrong
  * offset (block-constant errors, found via q185's open-order counts).
  * The checkpoint pins one boundary sample. Callers pass value-domain
  * rollups or ranked keys, so the materialization is cheap.
  *
  * Both entry points return `df`'s columns followed by one output
  * column per (name, value) pair; an empty `df` yields an empty frame
  * with that schema.
  */
object PrefixScan {

  /** INCLUSIVE running sums of integral `sums` values in `order` order
    * (a ROWS frame: rows with equal order keys are summed in an
    * unspecified order, so callers pass a unique key). The inclusive sum
    * of a constant 1 is the row's 1-based rank.
    */
  def runningSums(df: DataFrame, order: Seq[String], sums: (String, Column)*): DataFrame =
    scan(df, order, sums, sum(_), _.rowsBetween(Window.unboundedPreceding, Window.currentRow),
      (local, offset) => local + coalesce(offset, lit(0L)))

  /** Running max of the (name, value) pair's value over all rows with a
    * STRICTLY smaller integral `order` key (a RANGE frame: rows with
    * equal keys see the same predecessor set, so duplicate keys stay
    * deterministic). NULL where no earlier row exists — SQL's
    * `max(v) OVER (ORDER BY order RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`.
    */
  def earlierMax(df: DataFrame, order: String, out: (String, Column)): DataFrame =
    scan(df, Seq(order), Seq(out), max(_), _.rangeBetween(Window.unboundedPreceding, -1),
      greatest(_, _))

  /** The skeleton. `agg` folds a value, `frame` bounds the local window,
    * and `combine` merges a row's local fold with its partition offset,
    * which is NULL in the first partition.
    */
  private def scan(df: DataFrame, order: Seq[String], outs: Seq[(String, Column)],
      agg: Column => Column, frame: WindowSpec => WindowSpec,
      combine: (Column, Column) => Column): DataFrame = {
    require(outs.nonEmpty, "a prefix scan needs at least one output column")
    val pid = "__scan_pid"
    val locals = outs.indices.map(i => s"__scan_local$i")
    val offsets = outs.indices.map(i => s"__scan_offset$i")
    val p = df.sparkSession.sparkContext.defaultParallelism
    val local = frame(Window.partitionBy(col(pid)).orderBy(order.map(col): _*))
    val cum = df.repartitionByRange(p, order.map(col): _*)
      .withColumn(pid, spark_partition_id())
      .select(col("*") +: outs.zip(locals).map { case ((_, v), l) =>
        agg(v).over(local).as(l) }: _*)
      .localCheckpoint(true)
    val earlier = Window.orderBy(col(pid)).rowsBetween(Window.unboundedPreceding, -1)
    val totals = outs.zip(offsets).map { case ((_, v), o) => agg(v).as(o) }
    val offsetRows = cum.groupBy(col(pid)).agg(totals.head, totals.tail: _*)
      .select(col(pid) +: offsets.map(o => agg(col(o)).over(earlier).as(o)): _*)
    outs.indices.foldLeft(cum.join(broadcast(offsetRows), pid)) { (acc, i) =>
      acc.withColumn(outs(i)._1, combine(col(locals(i)), col(offsets(i))))
    }.drop(pid +: (locals ++ offsets): _*)
  }
}
