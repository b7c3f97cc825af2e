package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{DriftStream, MetricEvent, ThrottleStream, TopKStream}
import graft.streaming.ScoringStream.{EventState, RawEvent}

/** CRASH-RECOVERY parity for every stateful stream family: the
  * replay-parity specs (DriftStreamSpec etc.) prove disorder
  * invariance, this one proves RESTART invariance — a query killed
  * mid-tape (with a batch in flight: data added but never awaited
  * before stop) and restarted from its checkpoint must produce exactly
  * the rows of an uninterrupted run. State reloads from the RocksDB
  * provider (the production store, as the day-sketch spec uses),
  * offsets resume from the commit log, and the in-flight batch is
  * re-planned from its offsets — deterministic operators then re-emit
  * identical rows, which the idempotent collecting sink (a set; the
  * at-least-once half of foreachBatch's contract) absorbs.
  */
class RestartSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def withRocksDb[A](body: => A): A = {
    graft.streaming.ScoringProcessor.configureRocksDb(spark)
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** RocksDB with changelog checkpointing — the restart is where the
    * format actually differs: a resumed query reconstructs state by
    * REPLAYING per-batch changelog files over the last snapshot
    * instead of downloading a full snapshot per version, so the
    * kill+restart parity below exercises the production replay path
    * end-to-end (StateStoreAuditSpec covers the out-of-band reader's
    * half; this covers the engine's own recovery).
    */
  private def withChangelogRocksDb[A](body: => A): A = {
    val key =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    graft.streaming.ScoringProcessor.configureRocksDb(spark)
    spark.conf.set(key, "true")
    try body
    finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Feed `processedBeforeStop` batches fully, add the next batch
    * WITHOUT awaiting it (in flight at the kill), stop, start a NEW
    * query on the same checkpoint + source, feed the rest. Rows
    * collected as a set — replays re-add identical rows.
    */
  private def withRestart[T](in: MemoryStream[T], mk: () => DataFrame,
      batches: Seq[Seq[T]], processedBeforeStop: Int): Set[String] = {
    val dir = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def start() = mk().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.toString)); ()
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", dir).start()
    val q1 = start()
    try {
      batches.take(processedBeforeStop).foreach { b =>
        in.addData(b); q1.processAllAvailable()
      }
      if (batches.size > processedBeforeStop)
        in.addData(batches(processedBeforeStop))
    } finally q1.stop()
    val q2 = start()
    try {
      batches.drop(processedBeforeStop + 1).foreach { b =>
        in.addData(b); q2.processAllAvailable()
      }
      q2.processAllAvailable()
    } finally q2.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toSet
  }

  /** The uninterrupted reference: one query, same sink discipline. */
  private def straight[T](in: MemoryStream[T], mk: () => DataFrame,
      batches: Seq[Seq[T]]): Set[String] = {
    val dir = java.nio.file.Files.createTempDirectory("straight_ckpt").toString
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q = mk().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.toString)); ()
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", dir).start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toSet
  }

  test("ScoringProcessor (transformWithState) survives a mid-tape kill+restart") {
    twsRestartParity(body => withRocksDb(body))
  }

  test("transformWithState kill+restart parity holds under changelog checkpointing") {
    twsRestartParity(body => withChangelogRocksDb(body))
  }

  private def twsRestartParity(withStore: (=> Unit) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val actions = Vector("click", "view", "purchase", "signup", "error")
    val tape = (1 to 60).map { i =>
      RawEvent(i % 5L, s"item${i % 3}", actions((i * 2654435761L % 5).toInt), ts(i))
    }
    val batches = tape.grouped(15).toSeq
    withStore {
      def mk(in: MemoryStream[RawEvent]) = () =>
        graft.streaming.ScoringProcessor.scoredStreamTws(spark, in.toDS(),
          spark.emptyDataset[((Long, String), EventState)]).toDF()
      val inR = MemoryStream[RawEvent]
      val restarted = withRestart(inR, mk(inR), batches, 2)
      val inS = MemoryStream[RawEvent]
      val ref = straight(inS, mk(inS), batches)
      assert(ref.size == tape.size, s"reference lost rows: ${ref.size}")
      assert(restarted == ref,
        s"missing=${ref -- restarted} extra=${restarted -- ref}")
    }
  }

  test("TopKStream finalized windows survive a mid-tape kill+restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tape = Seq(
      MetricEvent("a", 5.0, ts(10), 1), MetricEvent("a", 9.0, ts(11), 2),
      MetricEvent("a", 1.0, ts(12), 3), MetricEvent("a", 7.5, ts(20), 4),
      MetricEvent("b", 2.0, ts(15), 5), MetricEvent("a", 8.0, ts(50), 6),
      MetricEvent("a", 4.0, ts(70), 7), MetricEvent("b", 6.0, ts(80), 8))
    // last batch advances the watermark far enough to finalize all
    val batches = Seq(tape.take(4), tape.slice(4, 6), tape.drop(6),
      Seq(MetricEvent("a", 0.0, ts(500), 99)))
    withRocksDb {
      def mk(in: MemoryStream[MetricEvent]) = () =>
        TopKStream.windowedTopValues(in.toDS(), k = 3,
          windowLen = "60 seconds", watermark = "10 seconds").toDF()
      val inR = MemoryStream[MetricEvent]
      val restarted = withRestart(inR, mk(inR), batches, 1)
      val inS = MemoryStream[MetricEvent]
      val ref = straight(inS, mk(inS), batches)
      assert(ref.nonEmpty)
      assert(restarted == ref,
        s"missing=${ref -- restarted} extra=${restarted -- ref}")
    }
  }

  test("DriftStream CUSUM alarms survive a mid-tape kill+restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tape = Seq(
      MetricEvent("m", 1.0, ts(10), 1), MetricEvent("m", 1.1, ts(11), 2),
      MetricEvent("m", 0.9, ts(12), 3), MetricEvent("m", 1.0, ts(13), 4),
      MetricEvent("m", 3.0, ts(16), 5), MetricEvent("m", 3.0, ts(17), 6),
      MetricEvent("m", 3.0, ts(18), 7), MetricEvent("m", 3.0, ts(19), 8))
    val batches = tape.grouped(2).toSeq
    withRocksDb {
      def mk(in: MemoryStream[MetricEvent]) = () =>
        DriftStream.alarms(in.toDS(), 1000000L, 500000L, 3000000L,
          watermark = "10 seconds", retentionMs = 3600 * 1000L).toDF()
      val inR = MemoryStream[MetricEvent]
      val restarted = withRestart(inR, mk(inR), batches, 2)
      val inS = MemoryStream[MetricEvent]
      val ref = straight(inS, mk(inS), batches)
      assert(ref.nonEmpty, "tape should alarm at least once")
      assert(restarted == ref,
        s"missing=${ref -- restarted} extra=${restarted -- ref}")
    }
  }

  test("ThrottleStream token buckets survive a mid-tape kill+restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tsMs(ms: Long) = new Timestamp(ms)
    val tape = Seq(
      MetricEvent("a", 0, tsMs(1000), 1), MetricEvent("a", 0, tsMs(1010), 2),
      MetricEvent("a", 0, tsMs(1020), 3), MetricEvent("a", 0, tsMs(1150), 4),
      MetricEvent("b", 0, tsMs(1000), 5), MetricEvent("a", 0, tsMs(1160), 6),
      MetricEvent("b", 0, tsMs(1200), 7), MetricEvent("a", 0, tsMs(1400), 8))
    val batches = tape.grouped(2).toSeq
    withRocksDb {
      def mk(in: MemoryStream[MetricEvent]) = () =>
        ThrottleStream.admissions(in.toDS(), 10000L, 2000000L, 1000000L,
          watermark = "10 seconds", retentionMs = 3600 * 1000L).toDF()
      val inR = MemoryStream[MetricEvent]
      val restarted = withRestart(inR, mk(inR), batches, 1)
      val inS = MemoryStream[MetricEvent]
      val ref = straight(inS, mk(inS), batches)
      assert(ref.size == tape.size, s"reference lost rows: ${ref.size}")
      assert(restarted == ref,
        s"missing=${ref -- restarted} extra=${restarted -- ref}")
    }
  }
}
