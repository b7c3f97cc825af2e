package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{LinearModel, ModelRegistry, ModelWatcher, Recommender,
  ScoringProcessor, ScoringStream}
import graft.streaming.ScoringStream.{EventState, RawEvent, Scored}

/** `score_stream`: the consumer loop over a replayed event stream.
  *
  * The stream is a text file source (one JSON event per line, one file
  * per micro-batch, `maxFilesPerTrigger=1`) under `Trigger.AvailableNow`,
  * parsed by `ScoringStream.parseEvents`, scored by
  * `ScoringStream.scoredStream` (flatMapGroupsWithState, empty initial
  * state), then `foreachBatch { ModelWatcher.poll; Recommender.recommend
  * over the batch's distinct (user, course); JSON snapshot }`. A pass is
  * one full replay with a fresh checkpoint. In set-up the knowledge base
  * (history, co-occurrence pairs, popular courses, success profile, which
  * gen.py derives from the relabelled events with course = `props.k`) is
  * loaded and cached, and the scorer the consumer boots with
  * (`LinearModel.default`) is published to the registry the watcher polls.
  * Building the knowledge base with the engine's operators and training a
  * scorer (`ModelRegistry.trainFromEvents`) are left out: together they
  * would add about 20 s of cold Spark jobs (on 4 cores) to every run's
  * set-up.
  *
  * Checks (after each measured replay): every batch's scored rows equal
  * its input events; the final per-(user, course) counters read back from
  * the state store equal a batch groupBy over the replayed events; every
  * (user, cur) in the final snapshot has at most 5 recommendations ranked
  * 1..k.
  *
  * With tracing, the same stream is also replayed once through
  * `ScoringProcessor.scoredStreamTws` (transformWithState on RocksDB), and
  * the dashboard is refreshed once.
  */
object ScoreStream {

  private val actions = Seq("click" -> "nClick", "view" -> "nView",
    "purchase" -> "nPurchase", "signup" -> "nSignup", "error" -> "nError")

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val streamDir = s"${c.data}/stream"

    // knowledge base (generated beside the events) + scorer, in set-up
    def kbTable(name: String): DataFrame = {
      val t = spark.read.parquet(s"${c.data}/$name.parquet").cache()
      t.count()
      t
    }
    val kb = Recommender.Kb(kbTable("kb_history"), kbTable("kb_pairs"),
      kbTable("kb_popular"), kbTable("kb_profile"))
    val registry = s"${c.work}/registry/scorer"
    ModelRegistry.write(spark, registry, LinearModel.default)
    val watcher = new ModelWatcher(spark, registry)

    // the replayed events, and the counters a batch fold over them gives
    def source(): Dataset[RawEvent] = ScoringStream.parseEvents(spark,
      spark.readStream.option("maxFilesPerTrigger", 1).text(streamDir))
    val replayed = ScoringStream.parseEvents(spark, spark.read.text(streamDir))
    val nEvents = replayed.count()
    val expected = counters(replayed.toDF(), "action").cache()
    expected.count()
    val empty = spark.emptyDataset[((Long, String), EventState)]

    /** One closed-loop replay; returns its progress reports and dirs. */
    def replay(tag: String, scored: Dataset[RawEvent] => Dataset[Scored])
        : (Seq[StreamingQueryProgress], String, String) = {
      val ckpt = s"${c.work}/$tag/checkpoint"
      val snap = s"${c.work}/$tag/snapshot"
      Seq(ckpt, snap).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      val q = scored(source())
        .observe("scored", count(lit(1)).as("n"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Scored], _: Long) =>
          c.tr.span("registry.poll")(watcher.poll())
          c.tr.span("recommender.batch") {
            Recommender.recommend(batch.select(col("user"), col("item")).distinct(),
              kb, watcher.current)
              .write.mode("overwrite").json(s"$snap/latest")
          }
          ()
        }
        .start()
      q.awaitTermination()
      (q.recentProgress.toSeq.filter(_.numInputRows > 0), ckpt, snap)
    }

    def fmgws(in: Dataset[RawEvent]): Dataset[Scored] =
      ScoringStream.scoredStream(spark, in, empty)

    def batchOps(progress: Seq[StreamingQueryProgress]): mutable.Buffer[Op] =
      progress.map { p =>
        val n = Option(p.observedMetrics.get("scored")).map(_.getLong(0)).getOrElse(-1L)
        Op(s"batch.${p.batchId}", p.durationMs.get("triggerExecution").toDouble,
          ok = n == p.numInputRows, if (n == p.numInputRows) "" else
            s"scored $n rows for ${p.numInputRows} events")
      }.toBuffer

    def checkReplay(ops: mutable.Buffer[Op], ckpt: String, snap: String,
        progress: Seq[StreamingQueryProgress]): Unit = {
      val last = ops.lastOption.map(_.name).getOrElse("")
      c.check(ops, last, progress.map(_.numInputRows).sum == nEvents,
        s"replayed ${progress.map(_.numInputRows).sum} of $nEvents events")
      val st = stateCounters(spark.read.format("statestore").load(ckpt))
      c.check(ops, last,
        st.exceptAll(expected).isEmpty && expected.exceptAll(st).isEmpty,
        "final state counters differ from the batch groupBy")
      val recs = spark.read.json(s"$snap/latest")
        .groupBy(col("user"), col("cur"))
        .agg(count(lit(1)).as("n"), min(col("rank")).as("lo"),
          max(col("rank")).as("hi"), countDistinct(col("rank")).as("d"))
      c.check(ops, last,
        recs.filter(col("n") > 5 || col("lo") =!= 1 || col("hi") =!= col("n") ||
          col("d") =!= col("n")).isEmpty && !recs.isEmpty,
        "snapshot ranks are not 1..k with k <= 5")
    }

    def pass(i: Int, traced: Boolean, check: Boolean = true): Pass = {
      val (progress, ckpt, snap) = c.tr.span("pass")(replay("replay", fmgws))
      val ops = batchOps(progress)
      if (check) checkReplay(ops, ckpt, snap, progress)
      Pass(i, traced, wallS(progress), ops.toSeq, streamFigures(progress))
    }

    // untraced runs measure the first replay, cold: a warm-up replay would
    // not fit the run budget, and cold replays already vary little
    val setupS = c.elapsedS
    val warm = c.warmUp(0, 1)(pass(_, traced = false, check = false))
    // the traced run refreshes the dashboard (see [[Analytics]]) before its
    // measured replays, which gives the per-layer query metrics
    val checkDir = s"${c.work}/check"
    val dashboard = if (c.trace) Map("dashboard" -> c.side(warm.values.toSeq)(
      Analytics.refresh(c, _, _, checkDir))) else Map.empty
    val passes = c.measure(warm.size + dashboard.size)(pass(_, _))
    if (!c.trace) Outcome(setupS, passes, extra = Map("events_per_replay" -> nEvents))
    else {
      // transformWithState on RocksDB over the same stream, same loop
      ScoringProcessor.configureRocksDb(spark)
      val tws = try c.side(passes) { (i, traced) =>
        val (progress, _, _) = c.tr.span("pass")(replay("tws", in =>
          ScoringProcessor.scoredStreamTws(spark, in, empty)))
        Pass(i, traced, wallS(progress), batchOps(progress).toSeq, streamFigures(progress))
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      Outcome(setupS, passes, warm ++ dashboard + ("tws" -> tws),
        Map("events_per_replay" -> nEvents, "check_dir" -> checkDir) ++
          recommenderYield(c, kb, watcher, streamDir))
    }
  }

  /** Per-(user, item) action counters and their total. */
  private def counters(df: DataFrame, actionCol: String): DataFrame = {
    val aggs = actions.map { case (a, n) =>
      sum(when(col(actionCol) === a, 1L).otherwise(0L)).as(n)
    }
    df.groupBy(col("user"), col("item")).agg(aggs.head, aggs.tail: _*)
      .withColumn("total", actions.map(a => col(a._2)).reduce(_ + _))
  }

  /** The state store's (key, value) rows as (user, item, counters...);
    * the (Long, String) grouping key reads back as a `_1`/`_2` struct and
    * the value may be wrapped in a one-field struct.
    */
  private def stateCounters(state: DataFrame): DataFrame = {
    def fields(c: String): String = state.schema(c).dataType match {
      case s: org.apache.spark.sql.types.StructType if s.fields.length == 1 &&
          s.fields.head.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        s"$c.${s.fields.head.name}.*"
      case _ => s"$c.*"
    }
    state.selectExpr(fields("key"), fields("value"))
      .select(col("_1").as("user"), col("_2").as("item"), col("nClick"), col("nView"),
        col("nPurchase"), col("nSignup"), col("nError"), col("total"))
  }

  /** From the first batch's start to the last batch's commit. */
  private def wallS(progress: Seq[StreamingQueryProgress]): Double =
    if (progress.isEmpty) 0.0
    else {
      val start = Instant.parse(progress.head.timestamp).toEpochMilli
      val end = Instant.parse(progress.last.timestamp).toEpochMilli +
        progress.last.durationMs.get("triggerExecution")
      (end - start) / 1e3
    }

  /** Per-replay figures from StreamingQueryProgress. */
  private def streamFigures(progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String): Seq[Double] =
      progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val ops = progress.map(_.stateOperators.head)
    Map(
      "events" -> progress.map(_.numInputRows).sum.toDouble,
      "overhead_ms_p50" -> median(dur("triggerExecution").zip(dur("addBatch")).map {
        case (t, a) => t - a }),
      "planning_ms_p50" -> median(dur("queryPlanning")),
      "state_update_ms_p50" -> median(ops.map(_.allUpdatesTimeMs.toDouble)),
      "state_commit_ms_p50" -> median(ops.map(_.commitTimeMs.toDouble)),
      "state_rows_total" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_mb" -> ops.lastOption.map(_.memoryUsedBytes / (1024.0 * 1024.0)).getOrElse(0.0))
  }

  /** Candidate rows per (user, cur) key and ranked rows per candidate,
    * recomputed outside the loop for the first and last batch files
    * (each batch's recommendations depend only on its keys, the KB and
    * the scorer).
    */
  private def recommenderYield(c: Ctx, kb: Recommender.Kb, watcher: ModelWatcher,
      streamDir: String): Map[String, Any] = {
    val spark = c.spark
    val files = new java.io.File(streamDir).listFiles().map(_.getPath).sorted.toSeq
    val sample = Seq(files.head, files.last).distinct
    var keys, cands, ranked = 0L
    sample.foreach { f =>
      val k = ScoringStream.parseEvents(spark, spark.read.text(f))
        .select(col("user"), col("item")).distinct().cache()
      keys += k.count()
      cands += Recommender.candidates(k, kb).count()
      ranked += Recommender.recommend(k, kb, watcher.current).count()
      k.unpersist()
    }
    Map("candidates_per_key" -> (if (keys > 0) cands.toDouble / keys else 0.0),
      "useful_ratio" -> (if (cands > 0) ranked.toDouble / cands else 0.0))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
