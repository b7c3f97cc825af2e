package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around layer calls, with Spark-listener counters attributed to
  * the span that submitted each job.
  *
  * A span sets the `perfbench.span` local property on the calling thread;
  * every job submitted inside it carries that property, so the listener
  * maps job → stages → tasks to the innermost open span. Threads started
  * inside a span (a streaming query's execution thread) inherit the
  * property, and spans opened on them (inside foreachBatch) nest under it.
  * When tracing is off, `span` runs the body and records nothing, and the
  * listener is detached.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  @volatile private var enabled: Boolean = false

  def on: Boolean = enabled

  def on_=(b: Boolean): Unit = if (b != enabled) {
    val sc = spark.sparkContext
    if (b) sc.addSparkListener(listener)
    else {
      org.apache.spark.graft.SparkShims.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    enabled = b
  }

  final class Span(val id: Int, val name: String, val parent: Int,
      val pass: Int, val startMs: Long, val startNs: Long,
      val gc0: Long, val cg0: Long) {
    @volatile var endMs: Long = startMs
    @volatile var wallMs: Double = 0.0
    @volatile var gcMs: Long = 0L
    @volatile var compiles: Long = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var pass = -1
  private val listener = new Listener

  def beginPass(i: Int): Unit = pass = i

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty(Key)
      val parent = Option(prior).map(_.toInt).getOrElse(-1)
      val s = spans.synchronized {
        val s = new Span(spans.size, name, parent, pass,
          System.currentTimeMillis(), System.nanoTime(), gcMillis(), codegenCompiles())
        spans += s
        s
      }
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.wallMs = (System.nanoTime() - s.startNs) / 1e6
        s.endMs = System.currentTimeMillis()
        s.gcMs = gcMillis() - s.gc0
        s.compiles = codegenCompiles() - s.cg0
        sc.setLocalProperty(Key, prior)
      }
    }

  /** Every span with its inclusive (own + descendants) counters: jobs,
    * stages, tasks, executor run time, empty tasks, shuffle bytes, spill,
    * records written, and the driver gap — span wall time minus the union
    * of its stages' active intervals; plus its self time (wall time minus
    * its direct children's).
    */
  def dump(cores: Int): Seq[Map[String, Any]] = {
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Int] =
      s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    all.map { s =>
      val ids = subtree(s)
      val c = ids.flatMap(listener.counters.get)
      def sum(f: Counters => Long): Long = c.map(f).sum
      val intervals = c.flatMap(_.intervals)
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      intervals.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) covered += b - lo
        reach = math.max(reach, b)
      }
      val tasks = sum(_.tasks)
      val runMs = sum(_.runMs)
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "run_id" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_ms" -> s.wallMs,
        "self_ms" -> (s.wallMs - children.getOrElse(s.id, Nil).map(_.wallMs).sum),
        "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> tasks,
        "executor_run_ms" -> runMs,
        "task_busy_share" -> (if (s.wallMs > 0) runMs / (s.wallMs * cores) else 0.0),
        "empty_task_ratio" -> (if (tasks > 0) sum(_.emptyTasks).toDouble / tasks else 0.0),
        "shuffle_read_mb" -> sum(_.shuffleRead) / MB,
        "shuffle_write_mb" -> sum(_.shuffleWrite) / MB,
        "spill_mb" -> sum(_.spill) / MB,
        "records_written" -> sum(_.recordsWritten),
        "driver_gap_ms" -> math.max(0.0, s.wallMs - covered),
        "gc_ms" -> s.gcMs, "codegen_compiles" -> s.compiles)
    }
  }

  private final class Listener extends SparkListener {
    val counters = new java.util.concurrent.ConcurrentHashMap[Int, Counters]().asScala
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]().asScala

    private def of(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { sp =>
        val span = sp.toInt
        e.stageIds.foreach(stageSpan.put(_, span))
        of(span).synchronized(of(span).jobs += 1)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (span <- stageSpan.get(info.stageId); a <- info.submissionTime;
           b <- info.completionTime) {
        val c = of(span)
        c.synchronized { c.stages += 1; c.intervals += ((a, b)) }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = of(span)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
            c.emptyTasks += 1
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
  }
}

object Tracer {
  val Key = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var emptyTasks = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsWritten = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
