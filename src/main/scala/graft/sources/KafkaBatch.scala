package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S10: bounded Kafka BATCH read — the dashboard's "last N events"
  * tail query (`dashboard/app.py:980-1014`: seek_to_end, rewind N,
  * poll) as a Spark batch source with explicit per-partition offset
  * ranges. Batch (`spark.read`), not a stream: the read has fixed
  * bounds, runs inside a dashboard refresh, and needs no checkpoint.
  *
  * No broker exists in the test environment, so [[boundedRead]] is
  * wiring (same status as the S8/S9 producer/consumer); the offset
  * arithmetic — the part the reference implements by seeking — is the
  * pure function [[tailOffsetsJson]], spec-tested.
  *
  * Round-5 spike, recorded for the record: an in-JVM fake-broker spec
  * (embedded KafkaServer / MockProducer, or even instantiating
  * `format("kafka")` against a stub) is IMPOSSIBLE in this sandbox —
  * zero `org.apache.kafka.*` classes exist in any of the 287 jars on
  * the unmanaged classpath (the spark-sql-kafka connector and
  * kafka-clients are separate artifacts Spark does not bundle), and
  * dependency resolution is offline/zero-egress. The compile-time
  * surface above therefore cannot even link a broker stub; coverage
  * stays at wiring + pure offset arithmetic until a real environment
  * supplies the connector jars.
  */
object KafkaBatch {

  /** Per-partition offset-range JSON for a tail-N read. `endOffsets`
    * comes from broker introspection (the reference's seek_to_end);
    * each partition starts at end − lastN, clamped to the partition's
    * EARLIEST retained offset — clamping only at 0 would hand Spark an
    * out-of-range start on any retention-trimmed topic and the batch
    * read would abort with a data-loss error (the reference's seek
    * degrades gracefully; so must we). Returns (startingOffsets,
    * endingOffsets) option values.
    */
  def tailOffsetsJson(topic: String, endOffsets: Map[Int, Long],
      lastN: Long, earliestOffsets: Map[Int, Long] = Map.empty): (String, String) = {
    def json(f: (Int, Long) => Long) = endOffsets.toSeq.sortBy(_._1)
      .map { case (p, end) => s""""$p":${f(p, end)}""" }
      .mkString(s"""{"$topic":{""", ",", "}}")
    (json((p, end) => math.max(earliestOffsets.getOrElse(p, 0L), end - lastN)),
      json((_, end) => end))
  }

  /** A12: total message count across a topic's partitions — the
    * dashboard's "events in topic" stat (`dashboard/app.py:380-411`,
    * Σ latest − earliest per partition). Pure offset arithmetic;
    * introspection supplies the maps.
    */
  def offsetSpan(earliest: Map[Int, Long], latest: Map[Int, Long]): Long =
    latest.map { case (p, end) =>
      math.max(0L, end - earliest.getOrElse(p, 0L))
    }.sum

  /** Bounded batch read over an explicit offset window; parsing (and
    * its ST8 dead-letter null-filter) is shared with the streaming
    * consumer via [[graft.streaming.ScoringStream.parseEvents]] — one
    * schema, one drop rule, no drift between the two read paths.
    */
  def boundedRead(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String, endingOffsets: String): DataFrame =
    graft.streaming.ScoringStream.parseEvents(spark,
      spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .option("endingOffsets", endingOffsets)
        .load()).toDF()

  /** The dashboard's tail-N: offsets math + bounded read. */
  def tailRead(spark: SparkSession, bootstrap: String, topic: String,
      endOffsets: Map[Int, Long], lastN: Long,
      earliestOffsets: Map[Int, Long] = Map.empty): DataFrame = {
    val (start, end) = tailOffsetsJson(topic, endOffsets, lastN, earliestOffsets)
    boundedRead(spark, bootstrap, topic, start, end)
  }
}
