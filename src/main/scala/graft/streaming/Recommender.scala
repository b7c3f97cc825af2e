package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ST5/ST6: the reference consumer's full recommendation semantics
  * (`core-logic/run_consumer.py:235-303`) as pure DataFrame ops over
  * broadcastable knowledge-base tables.
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
  * Scale: every KB table here is a top-k cut or a one-row profile —
  * broadcast by construction. The only potentially-large join is
  * history, keyed (user, item): at 100 TB it arrives hash-partitioned
  * on the same key the stateful operator already uses, so the
  * candidate-scoring join co-partitions with no extra shuffle; the
  * microbatch side is small and broadcastable.
  */
object Recommender {

  /** The consumer's knowledge base (`run_consumer.py:28-37, 126-154`),
    * parquet tables instead of pickles:
    *  - history: (user, item, nClick, nView, nPurchase, nSignup,
    *    nError, total, truth) — truth: 0 = passed, 1 = failed,
    *    null = unresolved (the snapshot's NaN);
    *  - pairCounts: (i1, i2, cnt) co-occurrence counts
    *    ([[graft.operators.CoOccurrence.topPairs]] output);
    *  - popular: (item, popRank) — popularity-ordered top-k;
    *  - avgProfile: ONE row (nClick..nError, total as doubles) — the
    *    average success profile (`knowledge_base['avg_features']`).
    */
  case class Kb(history: DataFrame, pairCounts: DataFrame,
      popular: DataFrame, avgProfile: DataFrame)

  private val counterCols =
    Seq("nClick", "nView", "nPurchase", "nSignup", "nError", "total")

  /** B1 candidate generation. `events`: (user LONG, item STRING) — the
    * microbatch's distinct (user, current-item) keys. Output: (user,
    * cur, cand, pri) with pri 0=failed-retry, 1=co-occurrence,
    * 2=popular-fallback, ≤ 15 rows per key.
    */
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

  /** ST7 wiring: per-microbatch hot reload + recommend + JSON snapshot
    * (`run_consumer.py:40-76, 348-360`). The watcher polls the registry
    * artifact's mtime on the DRIVER each batch; a swap takes effect in
    * the next batch's plan as fresh literals — executors can't go
    * stale. Snapshot is an idempotent overwrite (last batch wins),
    * matching the reference's realtime_recommendations.json.
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
