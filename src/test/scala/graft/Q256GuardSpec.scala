package graft

import java.sql.Timestamp

/** q256's absorbing-chain solve collects the transition matrix to the
  * driver — legal ONLY under the documented |states|² contract
  * (event_type is a small categorical domain). VERDICT r11 #4: the
  * contract must be enforced, not assumed. This spec builds a synthetic
  * events fixture whose event_type domain is WIDE (101 types, one
  * journey per ordered pair → >10000 observed transitions) and asserts
  * the require trips with the contract message instead of running an
  * unbounded driver-side solve.
  */
class Q256GuardSpec extends SparkSpec {

  test("q256 refuses a wide event_type domain before the driver solve") {
    import spark.implicits._
    val n = 101
    // one 2-event journey per ordered type pair (i, j), i != j: the
    // observed edge set is all n*(n-1) pairs plus START->i and
    // j->NOCONV — comfortably past the 10000-transition contract
    val rows = for {
      i <- 0 until n; j <- 0 until n if i != j
      u = (i * n + j).toLong
      (k, t, sec) <- Seq((0L, s"t$i", 1L), (1L, s"t$j", 2L))
    } yield (u * 2 + k, new Timestamp(sec * 1000L), u, t, 1.0, "{}")
    val dir = java.nio.file.Files.createTempDirectory("q256guard").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val e = intercept[IllegalArgumentException] {
      queries.Catalog.all("q256_markov_attribution").fn(spark, dir)
    }
    assert(e.getMessage.contains("q256") &&
      e.getMessage.contains("observed transitions"),
      s"wrong failure: ${e.getMessage}")

    // sanity: the same shape under the contract bound still solves
    val okRows = for {
      i <- 0 until 4; j <- 0 until 4 if i != j
      u = (i * 4 + j).toLong
      (k, t, sec) <- Seq((0L, s"t$i", 1L), (1L, s"t$j", 2L))
    } yield (u * 2 + k, new Timestamp(sec * 1000L), u, t, 1.0, "{}")
    val okDir = java.nio.file.Files.createTempDirectory("q256ok").toString
    okRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$okDir/events.parquet")
    val out = queries.Catalog.all("q256_markov_attribution").fn(spark, okDir)
    assert(out.collect().length === 5) // full + 4 removal scenarios
  }
}
