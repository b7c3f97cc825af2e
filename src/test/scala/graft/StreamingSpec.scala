package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.ScoringStream
import graft.streaming.ScoringStream.{EventState, RawEvent}

/** MemoryStream replay of the reference's consumer loop (SURVEY.md §5
  * strategy (d)): state bootstrap (ST3), counter updates + the
  * total-in-avg-field quirk (ST2), per-event scoring (ST4), and
  * candidate top-5 ranking (ST6).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("stateful scoring updates counters across microbatches with bootstrap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[RawEvent]
    val initial = Seq(
      ((7L, "c1"), EventState(2L, 0L, 0L, 0L, 0L, 2L))  // snapshot: 2 prior clicks
    ).toDS()

    val out = ScoringStream.scoredStream(spark, input.toDS(), initial)
    val q = out.writeStream.format("memory").queryName("scored")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(RawEvent(7L, "c1", "click", ts(10)),
        RawEvent(7L, "c1", "view", ts(11)),
        RawEvent(8L, "c2", "purchase", ts(12)))
      q.processAllAvailable()
      input.addData(RawEvent(7L, "c1", "error", ts(20)))
      q.processAllAvailable()

      val rows = spark.table("scored")
        .orderBy("user", "total").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(8)))
      // user 7 bootstrapped at total=2: click→3, view→4, error→5
      assert(rows.toSeq == Seq(
        (7L, "c1", "click", 3L),
        (7L, "c1", "view", 4L),
        (7L, "c1", "error", 5L),
        (8L, "c2", "purchase", 1L)))

      // ST2 quirk: 'total' equals the sum of counters, not an average
      val last = spark.table("scored")
        .filter("user = 7 and action = 'error'").head()
      assert(last.getLong(3) == 3L)  // nClick (2 bootstrap + 1)
      assert(last.getLong(4) == 1L)  // nView
      assert(last.getLong(7) == 1L)  // nError
      // ST4: logistic score in (0,1), matches the shared scorer
      val expected = ScoringStream.score(EventState(3L, 1L, 0L, 0L, 1L, 5L))
      assert(math.abs(last.getDouble(9) - expected) < 1e-12)
    } finally q.stop()
  }

  test("unknown actions are skipped, not failed (ST8 dead-letter)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val out = ScoringStream.scoredStream(spark, input.toDS(),
      spark.emptyDataset[((Long, String), EventState)])
    val q = out.writeStream.format("memory").queryName("scored2")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(RawEvent(1L, "c", "bogus", ts(1)), RawEvent(1L, "c", "click", ts(2)))
      q.processAllAvailable()
      val rows = spark.table("scored2").orderBy("total").collect()
      assert(rows.length == 2)
      // the bogus event still scores (reference logs & continues) but
      // moves no counter: total stays 0; the click then brings it to 1
      assert(rows.map(_.getLong(8)).toSeq == Seq(0L, 1L))
    } finally q.stop()
  }

  test("transformWithState processor matches flatMapGroupsWithState outputs (ST2, Spark-4 path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.ScoringProcessor.configureRocksDb(spark)
    try {
      val input = MemoryStream[RawEvent]
      val initial = Seq(
        ((7L, "c1"), EventState(2L, 0L, 0L, 0L, 0L, 2L))).toDS()
      val out = graft.streaming.ScoringProcessor.scoredStreamTws(spark, input.toDS(), initial)
      val q = out.writeStream.format("memory").queryName("scored_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(RawEvent(7L, "c1", "click", ts(10)),
          RawEvent(7L, "c1", "view", ts(11)),
          RawEvent(8L, "c2", "purchase", ts(12)))
        q.processAllAvailable()
        val rows = spark.table("scored_tws")
          .orderBy("user", "total").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(8)))
        // identical expectations to the flatMapGroupsWithState spec
        assert(rows.toSeq == Seq(
          (7L, "c1", "click", 3L),
          (7L, "c1", "view", 4L),
          (8L, "c2", "purchase", 1L)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("both stateful APIs produce identical outputs over a multi-batch sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic pseudo-random event tape across 3 microbatches
    val actions = Vector("click", "view", "purchase", "signup", "error", "bogus")
    val tape = (1 to 120).map { i =>
      RawEvent(i % 7L, s"item${i % 5}", actions((i * 2654435761L % 6).toInt), ts(i))
    }
    val batches = tape.grouped(40).toSeq
    def runWith(name: String,
        f: (org.apache.spark.sql.Dataset[RawEvent]) => org.apache.spark.sql.Dataset[ScoringStream.Scored]) = {
      val in = MemoryStream[RawEvent]
      val q = f(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
        spark.table(name).orderBy("user", "item", "total", "action").collect()
          .map(_.toString).toSeq
      } finally q.stop()
    }
    val viaFmgws = runWith("par_fmgws", ds =>
      ScoringStream.scoredStream(spark, ds,
        spark.emptyDataset[((Long, String), EventState)]))
    graft.streaming.ScoringProcessor.configureRocksDb(spark)
    try {
      val viaTws = runWith("par_tws", ds =>
        graft.streaming.ScoringProcessor.scoredStreamTws(spark, ds,
          spark.emptyDataset[((Long, String), EventState)]))
      assert(viaFmgws.size == tape.size)
      assert(viaFmgws == viaTws)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("snapshot sink invokes the hot-reload hook per microbatch (ST7/S13)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val out = ScoringStream.scoredStream(spark, input.toDS(),
      spark.emptyDataset[((Long, String), EventState)])
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val reloads = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = ScoringStream.snapshotSink(out.toDF(), s"$dir/out", s"$dir/ckpt",
      () => { reloads.incrementAndGet(); () }).start()
    try {
      input.addData(RawEvent(1L, "c", "click", ts(1)))
      q.processAllAvailable()
      input.addData(RawEvent(1L, "c", "view", ts(2)))
      q.processAllAvailable()
      assert(reloads.get() >= 2, s"reload hook ran ${reloads.get()} times")
      val snap = spark.read.json(s"$dir/out/latest")
      assert(snap.count() == 1) // overwrite semantics: only the last batch
    } finally q.stop()
  }

  test("event-log sink appends CSV per microbatch (S12)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val dir = java.nio.file.Files.createTempDirectory("graft_log").toString
    val q = ScoringStream.eventLogSink(input.toDS(), s"$dir/log", s"$dir/ckpt").start()
    try {
      input.addData(RawEvent(1L, "c", "click", ts(1)))
      q.processAllAvailable()
      input.addData(RawEvent(2L, "c", "view", ts(2)))
      q.processAllAvailable()
      val back = spark.read.schema("user LONG, item STRING, action STRING, ts TIMESTAMP")
        .csv(s"$dir/log")
      assert(back.count() == 2) // both batches appended, none overwritten
    } finally q.stop()
  }

  test("event parsing dead-letters malformed and partial JSON instead of failing (ST8/S9)") {
    import spark.implicits._
    val raw = Seq(
      """{"user": 7, "item": "c1", "action": "click", "ts": "2024-01-01T00:00:01Z"}""",
      """not json at all""",
      """{"user": 8, "action": "view"}""", // missing item/ts
      """{"user": null, "item": "c2", "action": "view", "ts": "2024-01-01T00:00:02Z"}"""
    ).toDF("value")
    val parsed = ScoringStream.parseEvents(spark, raw).collect()
    // only the complete event survives; nothing throws
    assert(parsed.length == 1)
    assert(parsed.head.user == 7L && parsed.head.item == "c1")
  }

  test("streaming dedup drops cross-batch redeliveries within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.dedupStream(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      val e = RawEvent(1L, "c", "click", ts(100))
      input.addData(e, e) // duplicate within a batch
      q.processAllAvailable()
      input.addData(e, RawEvent(1L, "c", "view", ts(101))) // redelivery across batches
      q.processAllAvailable()
      val rows = spark.table("deduped").collect()
      assert(rows.length == 2) // one click, one view — redeliveries gone
      assert(rows.map(_.getString(2)).sorted.toSeq == Seq("click", "view"))
    } finally q.stop()
  }

  test("watermark-scoped retry dedup drops re-stamped duplicates, re-admits after expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.dedupRetriesStream(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("retry_deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      // producer retry re-stamps ts: same logical event, ts 100 then 103
      input.addData(RawEvent(1L, "c", "click", ts(100)),
        RawEvent(1L, "c", "click", ts(103)))
      q.processAllAvailable()
      // cross-batch retry still inside the watermark horizon
      input.addData(RawEvent(1L, "c", "click", ts(105)))
      q.processAllAvailable()
      assert(spark.table("retry_deduped").count() == 1)
      // advance the watermark far past expiry with an unrelated key...
      input.addData(RawEvent(9L, "z", "view", ts(1000)))
      q.processAllAvailable()
      // ...then the SAME key again: legitimately new, must emit again
      input.addData(RawEvent(1L, "c", "click", ts(1001)))
      q.processAllAvailable()
      val rows = spark.table("retry_deduped").collect()
      assert(rows.length == 3) // first click, unrelated view, re-admitted click
      assert(rows.count(r => r.getLong(0) == 1L) == 2)
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim into each microbatch (left join keeps unknowns)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("cA", "maths"), ("cB", "physics")).toDF("item", "category")
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.enrichWithDim(input.toDS(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RawEvent(1L, "cA", "click", ts(10)),
        RawEvent(2L, "cZ", "view", ts(11))) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getString(0), Option(r.getString(4)))).toMap
      assert(rows("cA").contains("maths"))
      assert(rows("cZ").isEmpty)
    } finally q.stop()
  }

  test("stream-stream attribution join matches purchases to in-horizon clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.attributionJoin(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RawEvent(1L, "cA", "click", ts(100)),
        RawEvent(2L, "cB", "click", ts(100)))
      q.processAllAvailable()
      input.addData(
        RawEvent(1L, "cA", "purchase", ts(400)),   // in horizon → match
        RawEvent(2L, "cB", "purchase", ts(100 + 601)), // past 10 min → no match
        RawEvent(3L, "cC", "purchase", ts(450)))   // no prior click → no match
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "cA")))
    } finally q.stop()
  }

  test("left-outer stream-stream attribution emits null-matches only after the watermark proves them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.attributionJoinOuter(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("attrib_outer").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getTimestamp(3))))
      .toSeq
    try {
      input.addData(
        RawEvent(1L, "cA", "click", ts(100)),  // will convert
        RawEvent(2L, "cB", "click", ts(100)))  // never converts
      q.processAllAvailable()
      input.addData(RawEvent(1L, "cA", "purchase", ts(400)))
      q.processAllAvailable()
      // the match emits as soon as both rows met; cB's fate is still
      // open (its join window has not closed), so NO null-match yet
      assert(rows().map(t => (t._1, t._2, t._3.isDefined)).sorted ==
        Seq((1L, "cA", true)))
      // advance the watermark far past cB's window (click+horizon+delay)
      input.addData(RawEvent(9L, "zz", "click", ts(5000)))
      q.processAllAvailable()
      input.addData(RawEvent(9L, "zz", "purchase", ts(5001)))
      q.processAllAvailable()
      val got = rows()
      // exactly one delayed null-match for cB, exactly once
      assert(got.count(t => t._1 == 2L && t._2 == "cB" && t._3.isEmpty) == 1,
        s"got $got")
      assert(got.count(t => t._1 == 1L && t._2 == "cA") == 1)
    } finally q.stop()
  }

  test("native session windows merge gap-bounded events and close at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.sessionCounts(input.toDS(), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RawEvent(1L, "c", "click", ts(0)), RawEvent(1L, "c", "view", ts(60)),
        RawEvent(1L, "c", "click", ts(60 + 1900)), // > 30 min gap → new session
        RawEvent(2L, "c", "click", ts(30)))
      q.processAllAvailable()
      // far-future event advances the watermark past every open session
      input.addData(RawEvent(9L, "c", "click", ts(100000)))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(rows(1L) == Seq(1L, 2L)) // two sessions: 2 events, then 1
      assert(rows(2L) == Seq(1L))
    } finally q.stop()
  }

  test("sliding-window distinct users dedups within each window (q133 streaming twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.rollingDistinctUsers(input.toDS())
      .writeStream.format("memory").queryName("wau")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RawEvent(1L, "c", "click", ts(0)),
        RawEvent(1L, "c", "view", ts(10)),   // same user, same windows → dedup
        RawEvent(2L, "c", "click", ts(60)),
        RawEvent(1L, "c", "click", ts(30)))  // still a dup within its windows
      q.processAllAvailable()
      // far-future event advances the watermark past the early windows
      input.addData(RawEvent(9L, "c", "click", ts(100000)))
      q.processAllAvailable()
      val rows = spark.table("wau").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(1)).toMap
      // 10-min windows sliding 5: events at t=0..60 land in the windows
      // starting at -300 and 0; both must count users {1, 2} once each
      assert(rows(-300L) == 2L, s"window -300 got $rows")
      assert(rows(0L) == 2L, s"window 0 got $rows")
    } finally q.stop()
  }

  test("windowed event rate respects the 1-minute tumbling window (ST9/W4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.eventsPerMinute(spark, input.toDS())
      .writeStream.format("memory").queryName("rates")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        RawEvent(1L, "c", "click", ts(0)), RawEvent(1L, "c", "view", ts(30)),
        RawEvent(2L, "c", "click", ts(65)),
        // advance watermark far enough to close both windows
        RawEvent(9L, "c", "click", ts(5000)))
      q.processAllAvailable()
      input.addData(RawEvent(9L, "c", "click", ts(10000)))
      q.processAllAvailable()
      val rows = spark.table("rates").orderBy("minute").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
      assert(rows.take(2).toSeq == Seq((0L, 2L), (60L, 1L)))
    } finally q.stop()
  }

  test("hopping windows count every event in exactly two windows (q106 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawEvent]
    val q = ScoringStream.eventsPerHop(spark, input.toDS())
      .writeStream.format("memory").queryName("hops")
      .outputMode(OutputMode.Append()).start()
    try {
      // t=360s: inside [0,600) and [300,900); t=660s: [300,900)+[600,1200)
      input.addData(
        RawEvent(1L, "c", "click", ts(360)), RawEvent(2L, "c", "view", ts(660)),
        // watermark driver: closes everything before 9400-600
        RawEvent(9L, "c", "click", ts(10000)))
      q.processAllAvailable()
      input.addData(RawEvent(9L, "c", "click", ts(20000)))
      q.processAllAvailable()
      val rows = spark.table("hops").orderBy("win_start").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
        .filter(_._1 < 1200)
      assert(rows.toSeq == Seq((0L, 1L), (300L, 2L), (600L, 1L)))
    } finally q.stop()
  }
}
