package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness every graft main (and the test session) shares: one
  * session factory, one metrics listener, one timed noop-sink step, and
  * locale-fixed number formatting for the JSON lines the mains print.
  */
object Harness {

  /** Audit-mode planning, the one definition shared by `graft.Explain`
    * and every spec that fingerprints plans: AQE off so executedPlan is
    * statically walkable (AdaptiveSparkPlanExec is a LEAF — collecting
    * through it sees nothing), stat-based broadcast off so exchange
    * counts reflect the HINTED shape — the one a 100 TB input gets,
    * where nothing fits the threshold by accident.
    */
  val auditConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** SPARK_GRAFT_CPUS, else the calling main's own default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** `local[cpus]` with shuffle partitions = cpus, session time zone
    * UTC and the UI off. `master` overrides the master URL (task
    * retries need `local[N, maxFailures]`); `confs` are applied after
    * the defaults, so they may also carry static confs that only bite
    * at context construction (spill thresholds, off-heap sizing).
    */
  def session(cpus: String, master: Option[String] = None,
      confs: Seq[(String, String)] = Nil, logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** An ended Spark job: wall ms, task count over its stages, description. */
  final case class Job(id: Int, ms: Long, tasks: Int, description: String)

  /** Cumulative shuffle-write and spill bytes, and the jobs ended since
    * the previous [[Metrics.take]].
    */
  final case class Sample(shuffleWriteBytes: Long, spillBytes: Long, jobs: Vector[Job])

  /** Stage and job accounting for a run. Shuffle-write and spill bytes
    * attribute plan cost (compute-bound vs re-partitioning too much; any
    * spill at fixture scale flags a memory cliff long before 100 TB
    * would); per-job rows say which jobs carry an iterative kernel's
    * time, and at what task count.
    */
  final class Metrics extends SparkListener {
    private val shuffleWrite = new AtomicLong
    private val spill = new AtomicLong
    private val started = new ConcurrentHashMap[Int, (Long, Int, String)]
    private val ended = new ConcurrentLinkedQueue[Job]

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      started.put(j.jobId, (j.time, j.stageInfos.map(_.numTasks).sum,
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (t0, tasks, desc) =>
        ended.add(Job(j.jobId, j.time - t0, tasks, desc))
      }

    /** Drains the listener bus (events are async), then reads the
      * counters and hands over the jobs ended since the last call.
      */
    def take(sc: SparkContext): Sample = {
      org.apache.spark.graft.SparkShims.drainListenerBus(sc)
      val jobs = Iterator.continually(ended.poll()).takeWhile(_ != null).toVector
      Sample(shuffleWrite.get(), spill.get(), jobs.sortBy(_.id))
    }
  }

  /** A [[Metrics]] listener registered on `spark`'s context. */
  def metrics(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Builds `df` and materializes it through the noop sink — `count()`
    * would let Catalyst prune every column the count doesn't need and
    * undermeasure projection-heavy queries. The clock covers
    * construction too, so a query's eager barriers are timed. Returns
    * the failure or the wall seconds.
    */
  def timed(df: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
  }

  /** A JSON-bound double: the `f` interpolator honors the default
    * locale, so a comma-decimal locale would emit `0,27` and corrupt
    * the machine-parsed lines.
    */
  def num(d: Double, prec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))
}
