package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's real-time scoring loop (`core-logic/run_consumer.py`)
  * as a Structured Streaming pipeline:
  *
  *  - ST1 source: Kafka JSON events (`run_consumer.py:159-192`); here the
  *    source is any streaming Dataset[RawEvent] — [[fromKafka]] wires the
  *    real broker, tests use MemoryStream. Checkpointing upgrades the
  *    reference's at-most-once to exactly-once state.
  *  - ST2 keyed running state per (user, item): increment the matched
  *    action counter, recompute the derived total. The reference stores
  *    the raw TOTAL in `avg_nActions_per_session` (`run_consumer.py:
  *    207-211`) — we preserve that exact quirk in [[EventState.total]].
  *  - ST3 bootstrap: an initial-state Dataset (the batch snapshot,
  *    `run_consumer.py:126-154`) seeds the state store.
  *  - ST4 scoring: a broadcastable linear model (stand-in for the
  *    LightGBM binary) scores the updated feature vector per event.
  *  - ST9 watermark: event-time watermark for the windowed rate metric
  *    (the reference carries `timestamp` but never windows on it).
  *
  * Scale: state is hash-partitioned by key across executors (RocksDB
  * state store at production scale); each microbatch shuffles only its
  * events. No driver-side loops — the reference's single-process dict
  * becomes a distributed state store.
  */
object ScoringStream {

  /** Kafka event shape (`run_producer.py:99-104`). */
  case class RawEvent(user: Long, item: String, action: String, ts: java.sql.Timestamp)

  /** Per-(user,item) accumulator — the reference's 24-feature vector
    * collapsed to the fixture's 5 action types + derived total
    * (`run_consumer.py:116-117, 201-211`).
    */
  case class EventState(
      nClick: Long, nView: Long, nPurchase: Long, nSignup: Long, nError: Long,
      total: Long)

  object EventState { val zero: EventState = EventState(0L, 0L, 0L, 0L, 0L, 0L) }

  /** One scored output row per event (ST4: the consumer's per-event
    * prediction emit, `run_consumer.py:216-232`).
    */
  case class Scored(user: Long, item: String, action: String,
      nClick: Long, nView: Long, nPurchase: Long, nSignup: Long, nError: Long,
      total: Long, failProb: Double)

  /** The in-stream scorer: [[LinearModel.default]] over the counter
    * vector (ST4). The trained/hot-swapped path lives in
    * [[Recommender.recommendSink]], which re-scores each microbatch
    * with the [[ModelWatcher]]'s current weights, captured in that
    * batch's plan.
    */
  def score(s: EventState): Double = LinearModel.default.score(s)

  private[streaming] def applyEvent(st: EventState, action: String): EventState = {
    val next = action match {
      case "click" => st.copy(nClick = st.nClick + 1)
      case "view" => st.copy(nView = st.nView + 1)
      case "purchase" => st.copy(nPurchase = st.nPurchase + 1)
      case "signup" => st.copy(nSignup = st.nSignup + 1)
      case "error" => st.copy(nError = st.nError + 1)
      case _ => st // unknown action: dead-letter semantics = skip (ST8)
    }
    // reference quirk preserved: the "avg per session" field holds the
    // raw running total (run_consumer.py:207-211)
    next.copy(total = next.nClick + next.nView + next.nPurchase +
      next.nSignup + next.nError)
  }

  /** The per-group event fold shared by BOTH stateful APIs (ts-sorted,
    * counter update, score emit) — one definition so the
    * flatMapGroupsWithState and transformWithState paths can never
    * drift.
    */
  private[streaming] def processGroup(st0: EventState,
      rows: Iterator[RawEvent]): (Vector[Scored], EventState) =
    rows.toSeq.sortBy(_.ts.getTime)
      .foldLeft((Vector.empty[Scored], st0)) { case ((acc, st), ev) =>
        val st2 = applyEvent(st, ev.action)
        (acc :+ Scored(ev.user, ev.item, ev.action,
          st2.nClick, st2.nView, st2.nPurchase, st2.nSignup, st2.nError,
          st2.total, score(st2)), st2)
      }

  /** ST2+ST3+ST4: the stateful operator. Events grouped by (user,item);
    * state seeded from `initialState`; one scored row emitted per event
    * in ts order within the microbatch.
    */
  def scoredStream(
      spark: SparkSession,
      events: Dataset[RawEvent],
      initialState: Dataset[((Long, String), EventState)]): Dataset[Scored] = {
    import spark.implicits._
    val func = (key: (Long, String), rows: Iterator[RawEvent],
        state: GroupState[EventState]) => {
      val (outs, stN) = processGroup(state.getOption.getOrElse(EventState.zero), rows)
      state.update(stN)
      outs.iterator
    }
    events.groupByKey(e => (e.user, e.item))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout(),
        initialState.groupByKey(_._1).mapValues(_._2))(func)
  }

  /** ST1 Kafka wiring (not exercised in tests — no broker in the test
    * env): subscribe + JSON parse, the reference's consumer config
    * (`run_consumer.py:159-165`) with startingOffsets=latest.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): Dataset[RawEvent] =
    parseEvents(spark,
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load())

  /** JSON value → typed events, with ST8 dead-letter at the parse
    * boundary: malformed JSON (or missing fields) yields nulls, and a
    * null into the case class's primitive Long would fail the encoder
    * and kill the query — drop the row instead, the reference's
    * log-and-continue semantics (`run_consumer.py:369-375`). Works on
    * any frame with a `value` column (Kafka stream or batch).
    */
  def parseEvents(spark: SparkSession, raw: DataFrame): Dataset[RawEvent] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("user BIGINT, item STRING, action STRING, ts TIMESTAMP")
    raw
      .select(from_json(col("value").cast("string"), schema).as("e"))
      .filter(col("e.user").isNotNull && col("e.item").isNotNull &&
        col("e.action").isNotNull && col("e.ts").isNotNull)
      .select(col("e.user"), col("e.item"), col("e.action"), col("e.ts"))
      .as[RawEvent]
  }

  /** ST10 producer simulator: the rate source shaped like the reference
    * producer (`run_producer.py:94-118`) — deterministic pseudo-random
    * user/item/action from the tick value.
    */
  def simulatedEvents(spark: SparkSession, rowsPerSecond: Int = 10): Dataset[RawEvent] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        (col("value") % 10).as("user"),
        concat(lit("item"), (col("value") % 7).cast("string")).as("item"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase"), lit("signup"), lit("error")),
          ((col("value") % 5) + 1).cast("int")).as("action"),
        col("timestamp").as("ts"))
      .as[RawEvent]
  }

  /** Streaming exact dedup: watermarked `dropDuplicates` over the
    * event identity — the stream-side twin of q34 and the ingest guard
    * a training-data pipeline puts in front of its event log (at-least-
    * once sources re-deliver). State is keyed by the id columns and
    * EXPIRES at the watermark, so state size is bounded by the
    * out-of-orderness window, not the stream length — the only
    * formulation that survives an unbounded 100 TB/day stream.
    */
  def dedupStream(events: Dataset[RawEvent], watermark: String): Dataset[RawEvent] =
    events.withWatermark("ts", watermark)
      .dropDuplicates("user", "item", "action", "ts")

  /** RETRY dedup — `dropDuplicatesWithinWatermark` (Spark 3.5+), the
    * native operator for the case [[dedupStream]] cannot express: an
    * at-least-once producer RE-STAMPS the timestamp on redelivery
    * (reference `run_producer.py` regenerates `created_at` per send
    * attempt), so the duplicate rows differ on `ts` and a
    * ts-inclusive `dropDuplicates` key passes both. Here the dedup key
    * EXCLUDES the event time; the engine keeps per-key state until the
    * watermark passes the FIRST-SEEN event time + delay, dropping any
    * re-stamped retry landing inside that horizon. State is bounded by
    * the live keys inside one watermark window (vs `dropDuplicates`
    * without ts in the key, which keeps every key forever); a key
    * recurring AFTER expiry is a legitimately new event and emits
    * again — both behaviors pinned in StreamingSpec.
    */
  def dedupRetriesStream(events: Dataset[RawEvent], watermark: String): Dataset[RawEvent] =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user", "item", "action")

  /** Streaming → JDBC upsert sink: the "at-least-once source +
    * idempotent keyed sink = effectively exactly-once" production
    * pattern (the reference pairs its consumer loop with keyed
    * Postgres writes — run_consumer.py:159-192 +
    * etl/load_users_from_minio.py:93-97). foreachBatch hands every
    * micro-batch to [[graft.io.Writers.upsertJdbc]] (set-based MERGE,
    * insert-if-absent): a batch REPLAYED after a crash-restart — the
    * exact duplication foreachBatch's at-least-once contract permits —
    * matches every key and inserts nothing, so the table converges to
    * the same rows as an uninterrupted run. Scale: per batch one
    * window dedup + partitioned batched INSERTs into a staging table
    * and ONE set-based MERGE — no per-row round-trips.
    */
  def upsertSink(events: Dataset[RawEvent], url: String, driver: String,
      table: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RawEvent], _: Long) =>
        graft.io.Writers.upsertJdbc(batch.toDF(), url, driver, table,
          keys = Seq("user", "item", "action", "ts"),
          orderCols = Seq("user", "item", "action", "ts"))
      }
      .start()

  /** Stream-static enrichment — the third streaming join shape beside
    * stream-stream (attributionJoin) and keyed-state lookup (ST2): each
    * microbatch left-joins a STATIC dimension table. No streaming state
    * at all; the dim broadcasts into every microbatch plan, and a
    * file-backed dim picks up new files on re-read. Left join keeps
    * events whose item has no dim row (null attributes downstream).
    */
  def enrichWithDim(events: Dataset[RawEvent], dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("item"), "left")

  /** Stream-stream conversion attribution: each purchase joined to the
    * clicks on the same (user, item) in the preceding `horizon`. Both
    * sides carry watermarks and the join predicate time-bounds the
    * match, so Spark expires click state at watermark+horizon and
    * purchase state at the watermark — the ONLY stream-stream join
    * shape whose buffered state stays bounded on an unbounded stream
    * (an unconstrained join would buffer both streams forever). Inner
    * join: matches emit as soon as both rows arrive, no window-close
    * wait. Scale: state is keyed on (user, item) — the same hash
    * partitioning both inputs shuffle on once.
    */
  def attributionJoin(events: Dataset[RawEvent],
      horizon: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("action") === "click")
      .select(col("user").as("c_user"), col("item").as("c_item"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val buys = events.filter(col("action") === "purchase")
      .select(col("user").as("p_user"), col("item").as("p_item"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    clicks.join(buys,
      col("c_user") === col("p_user") && col("c_item") === col("p_item") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("c_user").as("user"), col("c_item").as("item"),
        col("click_ts"), col("purchase_ts"))
  }

  /** LEFT-OUTER stream-stream attribution — [[attributionJoin]]'s
    * inner form can only report conversions; the marketing question is
    * usually the complement (which clicks did NOT convert?). The outer
    * side has a semantics corner the inner join lacks: a null-matched
    * click row can only emit once the engine PROVES no purchase will
    * ever arrive — i.e. when the watermark passes the click's join
    * window — so unmatched results are delayed by exactly the state
    *-retention bound, while matches still emit as soon as both rows
    * meet. Both behaviors (delayed null-match emission + its
    * exactly-once guarantee) are pinned in StreamingSpec by advancing
    * the watermark across batches. Same bounded state as the inner
    * form: the time-bounded predicate + both-sided watermarks.
    */
  def attributionJoinOuter(events: Dataset[RawEvent],
      horizon: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("action") === "click")
      .select(col("user").as("c_user"), col("item").as("c_item"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val buys = events.filter(col("action") === "purchase")
      .select(col("user").as("p_user"), col("item").as("p_item"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    clicks.join(buys,
      col("c_user") === col("p_user") && col("c_item") === col("p_item") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .select(col("c_user").as("user"), col("c_item").as("item"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Native session windows — the streaming twin of q47's 30-minute-gap
    * sessions using the built-in `session_window` (gap-merged, grows
    * while events keep arriving, finalized once the watermark passes
    * the gap). Append mode emits only CLOSED sessions, so downstream
    * consumers never see a session twice. Scale: state is one window
    * per live (user, session); the watermark bounds it by recency, not
    * stream length.
    */
  def sessionCounts(events: Dataset[RawEvent], gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** ST9/W4 windowed event-rate metric with watermark + 1-minute
    * tumbling window (the streaming version of q10).
    */
  def eventsPerMinute(spark: SparkSession, events: Dataset[RawEvent]): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("minute"), col("n"))

  /** Hopping-window rate — the streaming twin of batch q106: 10-minute
    * windows sliding every 5, so every event feeds exactly
    * length/slide = 2 epoch-aligned windows. Append mode + watermark
    * means a window row is emitted exactly once, when the watermark
    * passes its end — overlapping windows don't multiply state beyond
    * the factor-of-2 window count, and expiry is still watermark-driven.
    */
  def eventsPerHop(spark: SparkSession, events: Dataset[RawEvent]): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Sliding-window DISTINCT users — the streaming twin of batch q133
    * (rolling WAU), via the chained-stateful dedup-then-aggregate
    * recipe: streaming aggregation cannot COUNT DISTINCT, so each
    * event first expands into its sliding windows, a per-(user,
    * window) dropDuplicates keeps one row per user per window (the
    * window struct carries the event-time attribute, so dedup state
    * expires at the watermark like the aggregation's), and a plain
    * count per window is then exactly the distinct-user count. State
    * contract: dedup state is one row per ACTIVE (user, window) —
    * bounded by users × (length/slide) within the horizon, never by
    * event volume; a window row is emitted once, when the watermark
    * passes its end. At 100 TB the same pipeline swaps exact dedup
    * for per-window HLL partials exactly as batch q133 documents.
    */
  def rollingDistinctUsers(events: Dataset[RawEvent],
      length: String = "10 minutes", slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .select(col("user"), window(col("ts"), length, slide).as("w"))
      .dropDuplicates("user", "w")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("distinct_users"))
      .select(col("w.start").as("win_start"), col("distinct_users"))

  /** S8 Kafka producer sink (`run_producer.py:79-106`): JSON-encode the
    * whole row into `value`. Wiring-only here (no broker in the test
    * env); exactly-once via the checkpoint.
    */
  def toKafka(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.selectExpr("to_json(struct(*)) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S12 append-only event log (`run_consumer.py:195-196`): one CSV
    * append sink per microbatch.
    */
  def eventLogSink(events: Dataset[RawEvent], path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[RawEvent] =
    events.writeStream.format("csv")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** S13 last-recommendation JSON snapshot (`run_consumer.py:348-360`)
    * + ST7 hot model reload (`run_consumer.py:40-76`): foreachBatch
    * gives a per-microbatch driver hook — `reload` polls the model
    * registry/artifact mtime (the reference's 10 s CHECK_INTERVAL is
    * the trigger interval here) and swaps the broadcast scorer before
    * the batch writes its snapshot. Zero-downtime: in-flight batches
    * finish on the old model.
    */
  def snapshotSink(scored: DataFrame, outDir: String, checkpoint: String,
      reload: () => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        reload()
        batch.write.mode("overwrite").json(s"$outDir/latest")
      }

  /** ST11 bounded run (`recsys_pipeline.py:24`: `timeout 600 ...`):
    * run the query for at most `millis`, then stop cleanly.
    */
  def runFor(q: org.apache.spark.sql.streaming.StreamingQuery, millis: Long): Unit = {
    q.awaitTermination(millis)
    if (q.isActive) q.stop()
  }
}
