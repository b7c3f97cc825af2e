package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{MetricEvent, TopKStream}

/** Streaming windowed top-k on the bounded-state TopKAggregator:
  * finalized windows must equal the batch window aggregation over the
  * same disordered tape, and a hot key's output stays k values.
  */
class TopKStreamSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // two 60 s windows; key "a" is hot (7 events in window 1), "b" sparse
  private val tape = Seq(
    MetricEvent("a", 5.0, ts(10), 1), MetricEvent("a", 9.0, ts(11), 2),
    MetricEvent("a", 1.0, ts(12), 3), MetricEvent("a", 7.5, ts(20), 4),
    MetricEvent("a", 7.5, ts(21), 5), MetricEvent("a", 3.0, ts(30), 6),
    MetricEvent("a", 8.0, ts(50), 7), MetricEvent("b", 2.0, ts(15), 8),
    MetricEvent("a", 4.0, ts(70), 9), MetricEvent("b", 6.0, ts(80), 10))

  test("finalized windows equal the batch replay; hot-key output is k values") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricEvent]
    val out = TopKStream.windowedTopValues(input.toDS(), k = 3,
      windowLen = "60 seconds", watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("topk")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = tape.partition(_.ts.getTime <= 30000L)
      input.addData(b1.reverse) // intra-batch disorder
      q.processAllAvailable()
      input.addData(b2.reverse)
      q.processAllAvailable()
      // advance the watermark far enough to finalize both windows
      input.addData(Seq(MetricEvent("a", 0.0, ts(500), 99)))
      q.processAllAvailable()
      val got = spark.table("topk")
        .select(col("win_start").cast("long"), col("key"), col("top_micros"))
        .as[(Long, String, String)].collect().sortBy(r => (r._1, r._2))
      val expected = TopKStream.windowedTopValues(
          tape.toDS(), k = 3, windowLen = "60 seconds",
          watermark = "10 seconds")
        .select(col("win_start").cast("long"), col("key"), col("top_micros"))
        .as[(Long, String, String)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq === expected.toSeq)
      // hot key "a", window [0, 60): 7 events but exactly k=3 values,
      // sorted desc, ties preserved as values (9.0, 8.0, 7.5)
      val hot = got.find(r => r._1 == 0L && r._2 == "a").get._3
      assert(hot === "9000000,8000000,7500000")
    } finally q.stop()
  }
}
