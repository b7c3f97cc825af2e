package graft

import java.util.Locale

/** The shared run harness: locale-fixed JSON numbers, the metrics
  * listener's per-job rows, and the timed step's failure channel.
  */
class HarnessSpec extends SparkSpec {

  test("num keeps a decimal point under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try assert(Harness.num(0.27, 3) == "0.270")
    finally Locale.setDefault(saved)
  }

  test("metrics hand over each ended job once, with its task count") {
    val metrics = Harness.metrics(spark)
    try {
      metrics.take(spark.sparkContext)
      assert(Harness.timed(spark.range(0, 100, 1, 3).toDF()).isRight)
      val jobs = metrics.take(spark.sparkContext).jobs
      assert(jobs.nonEmpty)
      assert(jobs.forall(j => j.tasks > 0 && j.ms >= 0))
      assert(metrics.take(spark.sparkContext).jobs.isEmpty)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("timed reports a failing query as Left") {
    val run = Harness.timed(sys.error("boom"))
    assert(run.left.toOption.map(_.getMessage).contains("boom"))
  }
}
