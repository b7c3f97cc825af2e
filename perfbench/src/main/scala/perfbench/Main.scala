package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a DAG stage, a micro-batch or a query. */
final case class Op(name: String, ms: Double, ok: Boolean, detail: String = "")

/** One pass of a workload (a DAG pass, a stream replay, a dashboard
  * refresh) with its ops and workload-specific figures.
  */
final case class Pass(index: Int, traced: Boolean, wallS: Double, ops: Seq[Op],
    extra: Map[String, Double] = Map.empty) {
  def toJson: Map[String, Any] = Map(
    "index" -> index, "traced" -> traced, "wall_s" -> wallS, "extra" -> extra,
    "ops" -> ops.map(o => Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok,
      "detail" -> o.detail)))
}

/** What a workload hands back: its set-up time, its measured passes,
  * the traced run's side passes by name (their ops count as attempted
  * ops, their times feed only per-layer metrics) and any extra figures.
  */
final case class Outcome(setupS: Double, passes: Seq[Pass],
    side: Map[String, Pass] = Map.empty, extra: Map[String, Any] = Map.empty)

/** Benchmark harness entry point. run.py generates the inputs, then
  * launches this with
  * `--workload <retrain|score_stream> --data <inputs dir>
  *  --work <scratch dir> --seconds <s> --trace <0|1> --cores <n>
  *  --out <result.json>`.
  * The harness sets up, measures passes until `--seconds` have elapsed
  * (at least one; with tracing, untraced and traced passes alternate and
  * at least one of each runs), checks outputs between passes, and writes
  * the raw passes and spans as JSON for run.py to reduce.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-${opt("seed")}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark, runId)
    val ctx = Ctx(spark, tr, opt("data"), work, opt("seconds").toDouble, trace,
      cores, t0)
    val outcome = try workload match {
      case "retrain" => Retrain.run(ctx)
      case "score_stream" => ScoreStream.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally tr.on = false
    val rt = Runtime.getRuntime
    val result = Map[String, Any](
      "run_id" -> runId, "workload" -> workload, "setup_s" -> outcome.setupS,
      "session_s" -> sessionS,
      "cores" -> cores, "heap_max_mb" -> rt.maxMemory / (1024 * 1024),
      "passes" -> outcome.passes.map(_.toJson),
      "side" -> outcome.side.map { case (k, p) => k -> p.toJson },
      "spans" -> (if (trace) tr.dump(cores) else Nil),
      "extra" -> outcome.extra)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.render(result))
  }
}

/** What every workload needs from the entry point. */
final case class Ctx(spark: SparkSession, tr: Tracer, data: String, work: String,
    seconds: Double, trace: Boolean, cores: Int, startNs: Long) {

  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9

  /** Run passes until `seconds` have elapsed since the call (at least one).
    * With tracing on, passes run in (traced, untraced) pairs: a traced pass
    * is compared with the untraced pass after it, which is at least as
    * warm, so the overhead is not understated.
    * `first` is the index of the first measured pass.
    */
  def measure(first: Int)(pass: (Int, Boolean) => Pass): Seq[Pass] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Pass]
    def done = out.nonEmpty && System.nanoTime() >= deadline &&
      (!trace || out.size % 2 == 0)
    while (!done) {
      val i = first + out.size
      val traced = trace && out.size % 2 == 0
      tr.beginPass(i)
      tr.on = traced
      try out += pass(i, traced)
      finally tr.on = false
    }
    out.toSeq
  }

  /** Untimed warm-up passes: `untraced` of them in an untraced run,
    * `traced` in a traced run. A JVM's second pass is still much faster
    * than its first, so traced runs warm up further before they compare.
    */
  def warmUp(untraced: Int, traced: Int)(pass: Int => Pass): Map[String, Pass] =
    (0 until (if (trace) traced else untraced)).map(i => s"warmup$i" -> pass(i)).toMap

  /** A traced side pass, numbered after the measured ones. */
  def side(passes: Seq[Pass])(pass: (Int, Boolean) => Pass): Pass = {
    val i = passes.map(_.index).max + 1
    tr.beginPass(i)
    tr.on = true
    try pass(i, true)
    finally tr.on = false
  }

  /** Time `body` as an op; an exception fails the op instead of the run. */
  def op[T](ops: mutable.Buffer[Op], name: String)(body: => T): Option[T] = {
    val t = System.nanoTime()
    val r = try Right(tr.span(name)(body))
    catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    r match {
      case Right(v) => ops += Op(name, ms, ok = true); Some(v)
      case Left(e) =>
        ops += Op(name, ms, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** Mark op `name` failed with `detail` unless `ok`. */
  def check(ops: mutable.Buffer[Op], name: String, ok: => Boolean, detail: => String): Unit = {
    val i = ops.indexWhere(_.name == name)
    val passed = try ok catch { case scala.util.control.NonFatal(_) => false }
    if (i >= 0 && !passed && ops(i).ok) ops(i) = ops(i).copy(ok = false, detail = detail.take(300))
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
