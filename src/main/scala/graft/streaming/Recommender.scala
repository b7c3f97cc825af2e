package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ST5/ST6: the reference consumer's full recommendation semantics
  * (`core-logic/run_consumer.py:235-303`), one grouped pass per
  * micro-batch.
  *
  * Per (user, current item) event:
  *  1. candidate generation (B1):
  *     failed-history retry (truth=1 items, minus the current one)
  *     ∪ top-50 co-occurring items not yet passed
  *     ∪ popular fallback — only when the first two yield < 5
  *       candidates, filling with un-passed populars until the set
  *       reaches 10 — then cap at 15;
  *  2. scoring (B2): candidates the user has history with blend
  *     0.3·history + 0.7·average-success-profile per feature; cold
  *     candidates score on the pure average profile; the model scores
  *     the blended vector;
  *  3. rank by lowest fail probability, keep the top 5.
  *
  * Determinism note: the reference truncates `list(candidates)[:15]`
  * on a Python set, i.e. HASH order — unreproducible even across its
  * own runs. We determinize: candidates order by (source priority:
  * failed < co-occurrence < popular, then item id) before the cap, so
  * reruns and retries agree bit-for-bit.
  *
  * Scale: three KB inputs are bounded by construction — the top-50
  * pair cut, the top-k popular list and the one-row success profile —
  * and are read on the driver once per [[Kb]] (see [[Kb.cuts]]), then
  * travel inside the kernel's closure. The only unbounded input is
  * history, keyed (user, item): it is STREAMED through a hash join on
  * `user` against the micro-batch's broadcast keys, never shuffled or
  * broadcast itself. One shuffle then groups the matched history rows
  * by (user, cur) for the per-key kernel, so a batch costs one
  * broadcast and one exchange whatever the history's size.
  */
object Recommender {

  /** The consumer's knowledge base (`run_consumer.py:28-37, 126-154`),
    * parquet tables instead of pickles:
    *  - history: (user, item, nClick, nView, nPurchase, nSignup,
    *    nError, total, truth) — one row per (user, item), non-null
    *    counters; truth: 0 = passed, 1 = failed, null = unresolved (the
    *    snapshot's NaN);
    *  - pairCounts: (i1, i2, cnt) co-occurrence counts
    *    ([[graft.operators.CoOccurrence.topPairs]] output);
    *  - popular: (item, popRank) — popularity-ordered top-k, one row
    *    per item;
    *  - avgProfile: ONE row (nClick..nError, total as doubles) — the
    *    average success profile (`knowledge_base['avg_features']`).
    */
  case class Kb(history: DataFrame, pairCounts: DataFrame,
      popular: DataFrame, avgProfile: DataFrame) {

    /** The three bounded tables as driver-side values, read on first
      * use (a top-50 job and two collects, once per Kb — not at
      * construction, so no work moves into set-up). The popular list is
      * ordered on the driver by (popRank, item), nulls first as Spark
      * sorts them.
      */
    private[streaming] lazy val cuts: Cuts = {
      val top50 = pairCounts
        .orderBy(col("cnt").desc, col("i1"), col("i2")).limit(50)
        .select(col("i1"), col("i2")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val cooc = (top50 ++ top50.map(_.swap)).groupBy(_._1)
        .map { case (i, ps) => i -> ps.map(_._2).toSeq }
      val pop = popular.select(col("item"), col("popRank").cast("long")).collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .sortBy(_.swap)(Ordering.Tuple2(Ordering.Option[Long], byString))
        .map(_._1).toSeq
      val prof = avgProfile.select(counterCols.map(c => col(c).cast("double")): _*)
        .collect()
      require(prof.length == 1 && !prof.head.anyNull,
        s"avgProfile must be one row of non-null counters, got ${prof.length} rows")
      Cuts(cooc, pop, counterCols.indices.map(prof.head.getDouble))
    }
  }

  /** A [[Kb]]'s bounded parts: `cooc` maps an item to its partners in
    * the top-50 pairs (both directions), `popular` is the popular list
    * in rank order, `profile` the success profile's six counters.
    */
  private[streaming] final case class Cuts(cooc: Map[String, Seq[String]],
      popular: Seq[String], profile: IndexedSeq[Double])

  private val counterCols =
    Seq("nClick", "nView", "nPurchase", "nSignup", "nError", "total")

  /** A candidate item and its source: 0 = failed-retry,
    * 1 = co-occurrence, 2 = popular-fallback.
    */
  private[streaming] final case class Pick(cand: String, pri: Int)

  /** One kernel input row of a batch key: a history entry of the key's
    * user (`h` = its six counters as doubles, the flags are Catalyst's
    * `truth === 1`, `truth === 0` and `total > 0` with null as false),
    * or the key itself (`h` null), which always exists so that keys
    * without history still form a group.
    */
  private[streaming] final case class KeyRow(user: Long, cur: String,
      item: String, failed: Boolean, passed: Boolean, retake: Boolean,
      h: Seq[Double])

  private[streaming] final case class Candidate(user: Long, cur: String,
      cand: String, pri: Int)

  private final case class ScoredCandidate(cand: String, failProb: Double,
      isRetake: Boolean)

  private[streaming] final case class Recommendation(user: Long, cur: String, rank: Int,
      cand: String, failProb: Double, isRetake: Boolean)

  /** Catalyst's orders: strings by UTF-8 bytes, doubles with NaN last. */
  private val byString: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }
  private val byPri: Ordering[Pick] =
    Ordering.by[Pick, Int](_.pri).orElse(Ordering.by[Pick, String](_.cand)(byString))
  private val byFailProb: Ordering[ScoredCandidate] = new Ordering[ScoredCandidate] {
    def compare(a: ScoredCandidate, b: ScoredCandidate): Int = {
      val c = SQLOrderingUtil.compareDoubles(a.failProb, b.failProb)
      if (c != 0) c else byString.compare(a.cand, b.cand)
    }
  }

  /** B1 for one key (`run_consumer.py:235-259`): at most 15 picks in
    * (pri, cand) order.
    */
  private def pick(cuts: Cuts, cur: String, hist: Map[String, KeyRow]): Seq[Pick] =
    if (cur == null) Nil
    else {
      def fresh(c: String) = c != null && c != cur
      def passed(c: String) = hist.get(c).exists(_.passed)
      val pri = mutable.HashMap.empty[String, Int]
      // 1. failed-history retry (run_consumer.py:239-242)
      hist.valuesIterator.filter(r => r.failed && fresh(r.item)).foreach(r => pri(r.item) = 0)
      // 2. co-occurrence: top-50 pairs touching cur, both directions,
      // minus already-passed (run_consumer.py:245-250)
      cuts.cooc.getOrElse(cur, Nil)
        .filter(c => fresh(c) && !passed(c) && !pri.contains(c))
        .foreach(c => pri(c) = 1)
      // 3. popular fallback (run_consumer.py:253-258): only under 5
      // candidates; the first new un-passed populars until the set holds 10
      val n = pri.size
      if (n < 5) cuts.popular.iterator
        .filter(c => fresh(c) && !passed(c) && !pri.contains(c))
        .take(10 - n).foreach(c => pri(c) = 2)
      // deterministic cap at 15 (the reference's [:15], de-hash-ordered)
      pri.iterator.map { case (c, p) => Pick(c, p) }.toSeq.sorted(byPri).take(15)
    }

  /** B2 for one candidate (`run_consumer.py:261-295`). */
  private def score(cuts: Cuts, model: LinearModel, cand: String,
      hist: Map[String, KeyRow]): ScoredCandidate = {
    val h = hist.get(cand).filter(_.retake)
    val f = h.fold(cuts.profile)(r =>
      counterCols.indices.map(i => 0.3 * r.h(i) + 0.7 * cuts.profile(i)))
    ScoredCandidate(cand, model.score(f(0), f(1), f(2), f(3), f(4), f(5)),
      h.isDefined)
  }

  /** The grouped pass over the micro-batch's distinct (user, cur)
    * keys: history streams through a hash join on `user` with the keys
    * as the broadcast build side, the key rows are unioned in, and one
    * groupByKey hands `kernel` each key with its user's history as an
    * item-keyed map.
    */
  private def byKey[T <: Product : TypeTag](events: DataFrame, kb: Kb)(
      kernel: (Cuts, KeyRow, Map[String, KeyRow]) => Seq[T]): Dataset[T] = {
    val cuts = kb.cuts
    val keys = events.select(col("user"), col("item").as("cur")).distinct()
    val matched = kb.history.select(col("user"), col("item"),
        coalesce(col("truth") === 1, lit(false)).as("failed"),
        coalesce(col("truth") === 0, lit(false)).as("passed"),
        coalesce(col("total") > 0, lit(false)).as("retake"),
        array(counterCols.map(c => col(c).cast("double")): _*).as("h"))
      .join(broadcast(keys), "user")
    val self = keys.select(col("user"), col("cur"), lit(null).cast(StringType).as("item"),
      lit(false).as("failed"), lit(false).as("passed"), lit(false).as("retake"),
      lit(null).cast(ArrayType(DoubleType)).as("h"))
    matched.unionByName(self).as(Encoders.product[KeyRow])
      .groupByKey(r => (r.user, r.cur))(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMapGroups { (_, rows) =>
        var key: KeyRow = null
        val byItem = Map.newBuilder[String, KeyRow]
        rows.foreach { r =>
          if (r.h == null) key = r
          else if (r.item != null) byItem += r.item -> r
        }
        kernel(cuts, key, byItem.result())
      }(Encoders.product[T])
  }

  /** B1 candidate generation. `events`: (user LONG, item STRING) — the
    * microbatch's (user, current-item) keys. Output: (user, cur, cand,
    * pri) with pri 0=failed-retry, 1=co-occurrence, 2=popular-fallback,
    * ≤ 15 rows per key.
    */
  def candidates(events: DataFrame, kb: Kb): DataFrame =
    byKey(events, kb) { (cuts, key, hist) =>
      pick(cuts, key.cur, hist).map(p => Candidate(key.user, key.cur, p.cand, p.pri))
    }.toDF()

  /** The full B1+B2 pass: top-`k` lowest-fail-probability candidates
    * per (user, current item), rank 1 = safest bet
    * (`run_consumer.py:297-303`). `model` is captured in this call's
    * plan, so a batch scores with the weights it planned with.
    */
  def recommend(events: DataFrame, kb: Kb, model: LinearModel,
      k: Int = 5): DataFrame =
    byKey(events, kb) { (cuts, key, hist) =>
      pick(cuts, key.cur, hist)
        .map(p => score(cuts, model, p.cand, hist))
        .sorted(byFailProb).take(k).zipWithIndex
        .map { case (s, i) =>
          Recommendation(key.user, key.cur, i + 1, s.cand, s.failProb, s.isRetake)
        }
    }.toDF()

  /** ST7 wiring: per-microbatch hot reload + recommend + JSON snapshot
    * (`run_consumer.py:40-76, 348-360`). The watcher polls the registry
    * artifact's mtime on the DRIVER each batch; a swap takes effect in
    * the next batch's plan — executors can't go stale. Snapshot is an
    * idempotent overwrite (last batch wins), matching the reference's
    * realtime_recommendations.json.
    */
  def recommendSink(events: DataFrame, kb: Kb, watcher: ModelWatcher,
      outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        watcher.poll()
        recommend(batch, kb, watcher.current)
          .write.mode("overwrite").json(s"$outDir/latest")
      }
}
