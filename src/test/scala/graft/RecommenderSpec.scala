package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{LinearModel, ModelRegistry, ModelWatcher, Recommender}
import graft.streaming.Recommender.Kb
import graft.streaming.ScoringStream.RawEvent

/** ST5/ST6/ST7/ST4-M9: the reference consumer's candidate generation,
  * 30/70 profile blending, top-5 ranking (`run_consumer.py:235-303`),
  * hot model reload (`run_consumer.py:40-76`), and trained-weights
  * export — all against hand-computed expectations.
  */
class RecommenderSpec extends SparkSpec {

  private def histRow(u: Long, i: String, c: (Long, Long, Long, Long, Long),
      truth: java.lang.Integer) =
    (u, i, c._1, c._2, c._3, c._4, c._5, c._1 + c._2 + c._3 + c._4 + c._5, truth)

  private def kb(
      hist: Seq[(Long, String, Long, Long, Long, Long, Long, Long, java.lang.Integer)],
      pairs: Seq[(String, String, Long)],
      popular: Seq[String]): Kb = {
    import spark.implicits._
    Kb(
      history = hist.toDF("user", "item", "nClick", "nView", "nPurchase",
        "nSignup", "nError", "total", "truth"),
      pairCounts = pairs.toDF("i1", "i2", "cnt"),
      popular = popular.zipWithIndex.map { case (i, r) => (i, r + 1) }
        .toDF("item", "popRank"),
      avgProfile = Seq((10.0, 8.0, 2.0, 1.0, 0.5, 21.5))
        .toDF("nClick", "nView", "nPurchase", "nSignup", "nError", "total"))
  }

  test("candidate generation: failed-retry ∪ co-occurrence ∪ popular fill to 10 (ST5)") {
    import spark.implicits._
    val k = kb(
      hist = Seq(
        histRow(7L, "cF1", (1, 0, 0, 0, 2), 1), // failed → retry candidate
        histRow(7L, "cF2", (0, 1, 0, 0, 1), 1), // failed → retry candidate
        histRow(7L, "cP1", (5, 5, 1, 0, 0), 0), // passed → never recommended
        histRow(7L, "cR", (2, 0, 0, 0, 0), null)), // open history (blending)
      pairs = Seq(("cur", "cooc1", 10L), ("cooc2", "cur", 8L),
        ("cur", "cP1", 7L), ("x", "y", 5L)),
      popular = Seq("cR", "p2", "p3", "p4", "p5", "p6", "p7", "p8"))
    val ev = Seq((7L, "cur")).toDF("user", "item")
    val got = Recommender.candidates(ev, k)
      .orderBy("pri", "cand")
      .collect().map(r => (r.getString(2), r.getInt(3)))
    // failed: cF1 cF2 (pri 0); cooc: cooc1 cooc2 (pri 1), cP1 dropped
    // (passed), (x,y) ignored (doesn't touch cur); base n=4 < 5 →
    // popular fill admits the first 10-4=6 new eligible populars
    assert(got.toSeq == Seq(
      ("cF1", 0), ("cF2", 0),
      ("cooc1", 1), ("cooc2", 1),
      ("cR", 2), ("p2", 2), ("p3", 2), ("p4", 2), ("p5", 2), ("p6", 2)))
  }

  test("candidate generation: no popular fill at ≥5 base candidates; cap at 15 (ST5)") {
    import spark.implicits._
    val manyFailed = (1 to 20).map(i => histRow(9L, f"f$i%02d", (1, 0, 0, 0, 1), 1))
    val k = kb(
      hist = (1 to 5).map(i => histRow(8L, s"g$i", (1, 0, 0, 0, 1), 1)) ++ manyFailed,
      pairs = Seq.empty,
      popular = Seq("p1", "p2", "p3"))
    val ev = Seq((8L, "cur"), (9L, "cur")).toDF("user", "item")
    val byUser = Recommender.candidates(ev, k).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).sorted.toSeq).toMap
    // user 8: exactly the 5 failed items, NO popular fill (n=5 ⇒ no fill)
    assert(byUser(8L) == (1 to 5).map(s => s"g$s"))
    // user 9: 20 failed candidates capped at the 15 smallest item ids
    assert(byUser(9L) == (1 to 15).map(i => f"f$i%02d"))
  }

  test("candidate co-occurrence join stays hash-joinable (no BroadcastNestedLoopJoin)") {
    import spark.implicits._
    // the OR-predicate form (cur === i1 || cur === i2) had no equi-key
    // and planned BNLJ; the symmetrized union form must hash-join so the
    // plan survives a pair table of any size (VERDICT r3 #6)
    val k = kb(
      hist = Seq(histRow(7L, "cF1", (1, 0, 0, 0, 2), 1)),
      pairs = Seq(("cur", "cooc1", 10L), ("cooc2", "cur", 8L)),
      popular = Seq("p1", "p2"))
    val ev = Seq((7L, "cur")).toDF("user", "item")
    val plan = Recommender.candidates(ev, k).queryExecution.executedPlan.toString
    // the co-occurrence lookup must be an equi-join on `cur`
    assert(plan.contains("BroadcastHashJoin [cur"), s"no hash join on cur:\n$plan")
    // the only nested-loop join left is the popular-fallback fan-out
    // (needFill × top-k populars) — a deliberate bounded broadcast with
    // no equi-key; its condition references `item`, never the pair table
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("item")), s"unexpected BNLJ:\n${bnlj.mkString("\n")}")
  }

  test("30/70 blending for retake candidates, pure profile for cold ones (ST6)") {
    import spark.implicits._
    val k = kb(
      hist = Seq(
        histRow(7L, "cF1", (1, 0, 0, 0, 2), 1),
        histRow(7L, "cR", (2, 0, 0, 0, 0), null)),
      pairs = Seq(("cur", "cR", 9L), ("cur", "cold", 5L)),
      popular = Seq.empty)
    val ev = Seq((7L, "cur")).toDF("user", "item")
    val m = LinearModel.default
    val got = Recommender.scoreCandidates(Recommender.candidates(ev, k), k, m)
      .select("cand", "isRetake", "failProb").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getDouble(2))).toMap

    def sig(cl: Double, v: Double, p: Double, sg: Double, er: Double, t: Double) = {
      val z = m.wClick * cl + m.wView * v + m.wPurchase * p +
        m.wSignup * sg + m.wError * er + m.wTotal * t + m.bias
      1.0 / (1.0 + math.exp(-z))
    }
    // cold candidate scores the pure average-success profile
    val cold = sig(10.0, 8.0, 2.0, 1.0, 0.5, 21.5)
    // retake cR: 0.3·(2,0,0,0,0 | total 2) + 0.7·profile
    val rR = sig(0.3 * 2 + 0.7 * 10, 0.7 * 8, 0.7 * 2, 0.7 * 1, 0.7 * 0.5,
      0.3 * 2 + 0.7 * 21.5)
    // retake cF1 (failed history IS history): 0.3·(1,0,0,0,2 | 3) + 0.7·profile
    val rF = sig(0.3 * 1 + 0.7 * 10, 0.7 * 8, 0.7 * 2, 0.7 * 1,
      0.3 * 2 + 0.7 * 0.5, 0.3 * 3 + 0.7 * 21.5)
    assert(got("cold") == ((false, cold)))
    assert(math.abs(got("cR")._2 - rR) < 1e-12 && got("cR")._1)
    assert(math.abs(got("cF1")._2 - rF) < 1e-12 && got("cF1")._1)
  }

  test("recommend ranks top-5 by lowest fail probability (ST6)") {
    import spark.implicits._
    // 6 failed candidates with distinct error counts → distinct blended
    // failProbs; larger error history ⇒ higher failProb (wError > 0)
    val k = kb(
      hist = (1 to 6).map(i => histRow(7L, s"c$i", (0, 0, 0, 0, i.toLong), 1)),
      pairs = Seq.empty, popular = Seq.empty)
    val ev = Seq((7L, "cur")).toDF("user", "item")
    val recs = Recommender.recommend(ev, k, LinearModel.default)
      .orderBy("rank").collect().map(r => (r.getInt(2), r.getString(3)))
    assert(recs.toSeq == Seq((1, "c1"), (2, "c2"), (3, "c3"), (4, "c4"), (5, "c5")))
  }

  test("hot reload swaps the scoring model between microbatches (ST7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_reload").toString
    val registry = s"$dir/model"
    val modelA = LinearModel(0, 0, 0, 0, 0, 0, bias = -1.0)
    val modelB = LinearModel(0, 0, 0, 0, 0, 0, bias = 1.0)
    ModelRegistry.write(spark, registry, modelA)
    val watcher = new ModelWatcher(spark, registry)
    val k = kb(hist = Seq(histRow(7L, "cF1", (1, 0, 0, 0, 0), 1)),
      pairs = Seq.empty, popular = Seq.empty)

    val input = MemoryStream[RawEvent]
    val q = Recommender.recommendSink(input.toDF(), k, watcher,
      s"$dir/out", s"$dir/ckpt").start()
    try {
      input.addData(RawEvent(7L, "cur", "click", new Timestamp(1000L)))
      q.processAllAvailable()
      val pA = spark.read.json(s"$dir/out/latest").select("failProb").head().getDouble(0)

      ModelRegistry.write(spark, registry, modelB)
      // force the mtime past filesystem timestamp granularity
      val p = java.nio.file.Paths.get(registry)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))

      input.addData(RawEvent(7L, "cur", "view", new Timestamp(2000L)))
      q.processAllAvailable()
      val pB = spark.read.json(s"$dir/out/latest").select("failProb").head().getDouble(0)

      // batch 1 scored under A (σ(-1)), batch 2 under B (σ(1))
      assert(math.abs(pA - 1.0 / (1.0 + math.exp(1.0))) < 1e-12)
      assert(math.abs(pB - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
      assert(watcher.reloads >= 2)
    } finally q.stop()
  }

  test("consumer loop end-to-end: bootstrap + event tape → counters → ranked snapshot (ST2-ST7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ScoringStream
    import graft.streaming.ScoringStream.EventState
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    // KB: user 7 failed cF (retake candidate with history), passed cP
    // (never recommended), cold item via co-occurrence with "cur"
    val k = kb(
      hist = Seq(
        histRow(7L, "cF", (1, 0, 0, 0, 2), 1),
        histRow(7L, "cP", (9, 9, 1, 0, 0), 0)),
      pairs = Seq(("cur", "cNew", 10L), ("cur", "cP", 8L)),
      popular = Seq.empty)
    // stateful scoring stream bootstrapped from a snapshot (ST3), its
    // scored output feeding the recommender sink (ST5/ST6/S13)
    val input = MemoryStream[RawEvent]
    val scored = ScoringStream.scoredStream(spark, input.toDS(),
      Seq(((7L, "cur"), EventState(1L, 0L, 0L, 0L, 0L, 1L))).toDS())
    val watcher = new ModelWatcher(spark, s"$dir/no_model") // stays on default
    val q = Recommender.recommendSink(scored.toDF(), k, watcher,
      s"$dir/out", s"$dir/ckpt").start()
    try {
      input.addData(
        RawEvent(7L, "cur", "click", new Timestamp(1000L)),
        RawEvent(7L, "cur", "error", new Timestamp(2000L)))
      q.processAllAvailable()
      val snap = spark.read.json(s"$dir/out/latest")
        .orderBy("rank").collect()
        .map(r => (r.getLong(r.fieldIndex("rank")), r.getString(r.fieldIndex("cand")),
          r.getDouble(r.fieldIndex("failProb")), r.getBoolean(r.fieldIndex("isRetake"))))
      val m = LinearModel.default
      def sig(cl: Double, v: Double, p: Double, sg: Double, er: Double, t: Double) = {
        val z = m.wClick * cl + m.wView * v + m.wPurchase * p +
          m.wSignup * sg + m.wError * er + m.wTotal * t + m.bias
        1.0 / (1.0 + math.exp(-z))
      }
      // candidates: cF (failed retry, has history → 30/70 blend) and
      // cNew (co-occurring, cold → pure profile); cP passed → excluded
      val pF = sig(0.3 * 1 + 0.7 * 10, 0.7 * 8, 0.7 * 2, 0.7 * 1,
        0.3 * 2 + 0.7 * 0.5, 0.3 * 3 + 0.7 * 21.5)
      val pNew = sig(10.0, 8.0, 2.0, 1.0, 0.5, 21.5)
      val expected = Seq(("cF", pF, true), ("cNew", pNew, false))
        .sortBy(x => (x._2, x._1)).zipWithIndex
        .map { case ((c, p, rt), i) => (i + 1L, c, p, rt) }
      assert(snap.length == 2)
      snap.zip(expected).foreach { case ((r1, c1, p1, t1), (r2, c2, p2, t2)) =>
        assert(r1 == r2 && c1 == c2 && t1 == t2 && math.abs(p1 - p2) < 1e-9)
      }
    } finally q.stop()
  }

  test("trained weights round-trip the registry and score the stream (ST4/M9)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_train").toString
    val m = ModelRegistry.trainFromEvents(spark, "/root/testdata/sf0.001")
    // a real fit: finite weights, purchase excluded by construction
    assert(m.wPurchase == 0.0)
    assert(Seq(m.wClick, m.wView, m.wSignup, m.wError, m.wTotal, m.bias)
      .forall(w => !w.isNaN && !w.isInfinite))
    ModelRegistry.write(spark, s"$dir/model", m)
    assert(ModelRegistry.read(spark, s"$dir/model") == m)
    // scoreCol arithmetic matches the scalar path bit-for-bit
    import spark.implicits._
    val st = graft.streaming.ScoringStream.EventState(3, 1, 0, 2, 1, 7)
    val viaCol = Seq((3L, 1L, 0L, 2L, 1L, 7L))
      .toDF("c", "v", "p", "s", "e", "t")
      .select(m.scoreCol(org.apache.spark.sql.functions.col("c"),
        org.apache.spark.sql.functions.col("v"), org.apache.spark.sql.functions.col("p"),
        org.apache.spark.sql.functions.col("s"), org.apache.spark.sql.functions.col("e"),
        org.apache.spark.sql.functions.col("t")).as("p"))
      .head().getDouble(0)
    assert(math.abs(viaCol - m.score(st)) < 1e-15)
  }
}
