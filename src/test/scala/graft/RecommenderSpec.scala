package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

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
      popular: Seq[String],
      profile: (Double, Double, Double, Double, Double, Double) =
        (10.0, 8.0, 2.0, 1.0, 0.5, 21.5)): Kb = {
    import spark.implicits._
    Kb(
      history = hist.toDF("user", "item", "nClick", "nView", "nPurchase",
        "nSignup", "nError", "total", "truth"),
      pairCounts = pairs.toDF("i1", "i2", "cnt"),
      popular = popular.zipWithIndex.map { case (i, r) => (i, r + 1) }
        .toDF("item", "popRank"),
      avgProfile = Seq(profile)
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

  test("batch plan: no nested-loop join; history streamed against broadcast keys") {
    import spark.implicits._
    // history is the one unbounded KB table: it must reach its join with
    // the micro-batch's keys unshuffled and unbroadcast, as the streamed
    // side of an equi-join on `user`; the pair, popular and profile cuts
    // never enter the plan
    val histDir = java.nio.file.Files.createTempDirectory("graft_hist").toString + "/h"
    val k0 = kb(
      hist = Seq(histRow(7L, "cF1", (1, 0, 0, 0, 2), 1)),
      pairs = Seq(("cur", "cooc1", 10L), ("cooc2", "cur", 8L)),
      popular = Seq("p1", "p2"))
    k0.history.write.parquet(histDir)
    val k = k0.copy(history = spark.read.parquet(histDir))
    val ev = Seq((7L, "cur"), (8L, "cur")).toDF("user", "item")
    def isHistory(p: SparkPlan) = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(histDir))
      case _ => false
    }
    // the history table below `p`, not counting what comes out of its join
    def reachesHistory(p: SparkPlan): Boolean = p match {
      case _: BroadcastHashJoinExec => false
      case _ => isHistory(p) || p.children.exists(reachesHistory)
    }
    withAuditConf {
      Seq(Recommender.recommend(ev, k, LinearModel.default),
        Recommender.candidates(ev, k)).foreach { df =>
        val plan = df.queryExecution.executedPlan
        assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
          s"nested-loop join:\n$plan")
        val joins = plan.collect { case j: BroadcastHashJoinExec => j }
        assert(joins.size == 1, s"expected one hash join:\n$plan")
        val j = joins.head
        assert(j.buildSide == BuildRight && j.joinType == Inner, s"$j")
        assert(j.leftKeys.flatMap(_.references.map(_.name)) == Seq("user") &&
          j.rightKeys.flatMap(_.references.map(_.name)) == Seq("user"), s"$j")
        // build side = the batch keys; streamed side = history, unexchanged
        assert(j.right.output.map(_.name).toSet == Set("user", "cur"), s"$j")
        assert(reachesHistory(j.left), s"history is not the streamed side:\n$plan")
        val exchanges = plan.collect { case e: Exchange => e }
        assert(exchanges.forall(e => !e.children.exists(reachesHistory)),
          s"history under an Exchange:\n$plan")
      }
    }
  }

  test("recommend and candidates equal the DataFrame reference on random KBs (bit-equal failProb)") {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(16).withWorkers(1),
      Prop.forAllNoShrink(RecommenderSpec.genCase)(matchesReference))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def matchesReference(c: RecommenderSpec.Case): Prop = {
    import spark.implicits._
    val k = kb(c.hist, c.pairs, c.popular, c.profile)
    val ev = c.keys.toDF("user", "item")
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString("\u0000"))
    val ref = RecommenderSpec.Reference
    Prop.all(
      (rows(Recommender.candidates(ev, k)) == rows(ref.candidates(ev, k))) :| "candidates",
      (rows(Recommender.recommend(ev, k, c.model)) ==
        rows(ref.recommend(ev, k, c.model))) :| "recommend")
  }

  test("a micro-batch runs at most 5 Spark jobs; the KB cuts are read once per Kb") {
    import spark.implicits._
    val sc = spark.sparkContext
    // every row read from the pair, popular or profile table counts here
    val cutReads = sc.longAccumulator("cut reads")
    val touch = udf { (x: Double) => cutReads.add(1); x }
    val k0 = kb(
      hist = Seq(histRow(7L, "cF1", (1, 0, 0, 0, 2), 1), histRow(7L, "cP", (2, 1, 1, 0, 0), 0)),
      pairs = Seq(("cur", "cooc1", 10L), ("cooc2", "cur", 8L)),
      popular = Seq("p1", "p2", "cP"))
    val k = k0.copy(
      pairCounts = k0.pairCounts.withColumn("cnt", touch(col("cnt"))),
      popular = k0.popular.withColumn("popRank", touch(col("popRank"))),
      avgProfile = k0.avgProfile.withColumn("total", touch(col("total"))))
    val ev = Seq((7L, "cur"), (8L, "cur"), (7L, "cur")).toDF("user", "item")
    val out = java.nio.file.Files.createTempDirectory("graft_floor").toString
    val tag = "recommender-job-floor"
    val metrics = Harness.metrics(spark)
    def batch(): Int = {
      metrics.take(sc)
      sc.setJobDescription(tag)
      try Recommender.recommend(ev, k, LinearModel.default)
        .write.mode("overwrite").json(out)
      finally sc.setJobDescription(null)
      metrics.take(sc).jobs.count(_.description == tag)
    }
    try {
      batch()
      val read = cutReads.sum
      assert(read > 0, "the first batch did not read the KB cuts")
      val jobs = batch()
      assert(jobs <= 5, s"$jobs jobs per batch")
      assert(cutReads.sum == read, "the second batch read the KB cuts again")
    } finally sc.removeSparkListener(metrics)
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
    // three candidates, so the top 5 holds every one of them
    val got = Recommender.recommend(ev, k, m)
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
    // scoreCol arithmetic matches the scalar path bit for bit
    import spark.implicits._
    val st = graft.streaming.ScoringStream.EventState(3, 1, 0, 2, 1, 7)
    val viaCol = Seq((3L, 1L, 0L, 2L, 1L, 7L))
      .toDF("c", "v", "p", "s", "e", "t")
      .select(m.scoreCol(org.apache.spark.sql.functions.col("c"),
        org.apache.spark.sql.functions.col("v"), org.apache.spark.sql.functions.col("p"),
        org.apache.spark.sql.functions.col("s"), org.apache.spark.sql.functions.col("e"),
        org.apache.spark.sql.functions.col("t")).as("p"))
      .head().getDouble(0)
    assert(viaCol == m.score(st))
  }
}

object RecommenderSpec {

  type HistRow = (Long, String, Long, Long, Long, Long, Long, Long, java.lang.Integer)

  /** A small random KB, a batch of (user, item) events and scorer weights. */
  final case class Case(hist: Seq[HistRow], pairs: Seq[(String, String, Long)],
      popular: Seq[String], profile: (Double, Double, Double, Double, Double, Double),
      keys: Seq[(Long, String)], model: LinearModel)

  private val items = (0 until 12).map(i => s"c$i")
  private val counter = Gen.choose(0L, 3L)

  /** Users 1-4 may have history, user 5 never does; truth is 0, 1 or
    * null; pairs include self-pairs, both orientations of one pair, and
    * sometimes more than the 50 the cut keeps; populars overlap history
    * items and the current items.
    */
  val genCase: Gen[Case] = for {
    histKeys <- Gen.someOf(for (u <- 1L to 4L; i <- items) yield (u, i))
    hist <- Gen.sequence[Seq[HistRow], HistRow](histKeys.toSeq.map { case (u, i) =>
      for {
        c <- Gen.listOfN(5, counter)
        truth <- Gen.oneOf[java.lang.Integer](0, 1, null)
      } yield (u, i, c(0), c(1), c(2), c(3), c(4), c.sum, truth)
    })
    nPairs <- Gen.frequency(4 -> Gen.choose(0, 20), 1 -> Gen.choose(45, 70))
    pairs <- Gen.listOfN(nPairs, for {
      a <- Gen.oneOf(items)
      b <- Gen.frequency(1 -> Gen.const(a), 6 -> Gen.oneOf(items))
      cnt <- Gen.choose(1L, 6L)
    } yield (a, b, cnt))
    rank <- Gen.listOfN(items.size, Gen.choose(0, 1000))
    nPopular <- Gen.choose(0, 10)
    profile <- Gen.listOfN(6, Gen.choose(0.0, 20.0))
    keys <- Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 5L)
      i <- Gen.oneOf(items)
    } yield (u, i)).map(_.take(12))
    w <- Gen.listOfN(7, Gen.choose(-1.0, 1.0))
  } yield Case(hist, pairs, items.zip(rank).sortBy(_._2).map(_._1).take(nPopular),
    (profile(0), profile(1), profile(2), profile(3), profile(4), profile(5)),
    keys, LinearModel(w(0), w(1), w(2), w(3), w(4), w(5), w(6)))

  /** The DataFrame formulation `Recommender` had before the grouped
    * kernel, kept verbatim as the reference the kernel must equal.
    */
  object Reference {
    private val counterCols =
      Seq("nClick", "nView", "nPurchase", "nSignup", "nError", "total")

    def candidates(events: DataFrame, kb: Kb): DataFrame = {
      val ev = broadcast(
        events.select(col("user"), col("item").as("cur")).distinct())
      val failed = kb.history.filter(col("truth") === 1)
        .select(col("user"), col("item"))
      val passed = kb.history.filter(col("truth") === 0)
        .select(col("user"), col("item").as("cand"))

      // 1. failed-history retry (run_consumer.py:239-242)
      val fromFailed = failed.join(ev, "user")
        .filter(col("item") =!= col("cur"))
        .select(col("user"), col("cur"), col("item").as("cand"),
          lit(0).as("pri"))

      // 2. co-occurrence: top-50 pairs involving the current item, both
      // directions, minus already-passed (run_consumer.py:245-250).
      // Symmetrize the pair table FIRST and equi-join on `cur`: the
      // OR-predicate formulation (cur === i1 || cur === i2) has no
      // single equi-key, so Catalyst plans BroadcastNestedLoopJoin —
      // bounded here by the top-50 cut, but the union-of-directions
      // form stays hash-joinable for a pair table of any size.
      val top50 = kb.pairCounts
        .orderBy(col("cnt").desc, col("i1"), col("i2")).limit(50)
      val bothDirs = broadcast(
        top50.select(col("i1").as("cur"), col("i2").as("cand"))
          .unionByName(top50.select(col("i2").as("cur"), col("i1").as("cand"))))
      val cooc = ev.join(bothDirs, "cur")
        .filter(col("cand") =!= col("cur"))
        .join(passed, Seq("user", "cand"), "left_anti")
        .select(col("user"), col("cur"), col("cand"), lit(1).as("pri"))

      // distinct candidates so far, keeping the strongest source
      val base = fromFailed.unionByName(cooc)
        .groupBy(col("user"), col("cur"), col("cand"))
        .agg(min(col("pri")).as("pri"))

      // 3. popular fallback (run_consumer.py:253-258): only for keys with
      // < 5 candidates; walk populars in rank order, adding NEW un-passed
      // items until the set holds 10 — i.e. admit the first (10 - n) new
      // eligible populars.
      val baseCnt = base.groupBy(col("user"), col("cur"))
        .agg(count(lit(1)).as("n"))
      val needFill = ev.join(baseCnt, Seq("user", "cur"), "left")
        .na.fill(0L, Seq("n")).filter(col("n") < 5)
      val popW = Window.partitionBy(col("user"), col("cur")).orderBy(col("popRank"))
      // deliberate BroadcastNestedLoopJoin: a fan-out of the top-k popular
      // cut against every under-filled key has no equi-key by nature; the
      // broadcast side is a bounded top-k, so the plan stays safe at scale
      val fromPopular = needFill.join(broadcast(kb.popular))
        .filter(col("item") =!= col("cur"))
        .select(col("user"), col("cur"), col("item").as("cand"),
          col("popRank"), col("n"))
        .join(passed, Seq("user", "cand"), "left_anti")
        .join(base.select(col("user"), col("cur"), col("cand")),
          Seq("user", "cur", "cand"), "left_anti")
        .withColumn("fillRank", row_number().over(popW))
        .filter(col("fillRank") <= lit(10) - col("n"))
        .select(col("user"), col("cur"), col("cand"), lit(2).as("pri"))

      // deterministic cap at 15 (the reference's [:15], de-hash-ordered)
      val capW = Window.partitionBy(col("user"), col("cur"))
        .orderBy(col("pri"), col("cand"))
      base.unionByName(fromPopular)
        .withColumn("capRank", row_number().over(capW))
        .filter(col("capRank") <= 15)
        .drop("capRank")
    }

    /** B2 scoring with 30/70 blending (`run_consumer.py:261-295`): a
      * candidate the user has prior behavior on (total > 0) scores the
      * vector 0.3·history + 0.7·avgProfile; a cold candidate scores the
      * pure average-success profile. Output adds (isRetake, failProb).
      */
    def scoreCandidates(cands: DataFrame, kb: Kb, model: LinearModel): DataFrame = {
      val hist = kb.history.select(
        col("user") +: col("item").as("cand") +:
          counterCols.map(c => col(c).as(s"h_$c")): _*)
      val prof = broadcast(kb.avgProfile.select(
        counterCols.map(c => col(c).as(s"p_$c")): _*))
      val blended = cands
        .join(hist, Seq("user", "cand"), "left")
        .crossJoin(prof)
        .withColumn("isRetake", coalesce(col("h_total"), lit(0L)) > 0)
      val feat = counterCols.map { c =>
        when(col("isRetake"), lit(0.3) * col(s"h_$c") + lit(0.7) * col(s"p_$c"))
          .otherwise(col(s"p_$c")).as(s"f_$c")
      }
      val withFeat = blended.select(
        (Seq(col("user"), col("cur"), col("cand"), col("pri"), col("isRetake")) ++ feat): _*)
      withFeat.withColumn("failProb",
        model.scoreCol(col("f_nClick"), col("f_nView"), col("f_nPurchase"),
          col("f_nSignup"), col("f_nError"), col("f_total")))
    }

    /** The full B1+B2 pass: top-`k` lowest-fail-probability candidates
      * per (user, current item), rank 1 = safest bet
      * (`run_consumer.py:297-303`).
      */
    def recommend(events: DataFrame, kb: Kb, model: LinearModel,
        k: Int = 5): DataFrame = {
      val w = Window.partitionBy(col("user"), col("cur"))
        .orderBy(col("failProb"), col("cand"))
      scoreCandidates(candidates(events, kb), kb, model)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("user"), col("cur"), col("rank"), col("cand"),
          col("failProb"), col("isRetake"))
    }
  }
}
