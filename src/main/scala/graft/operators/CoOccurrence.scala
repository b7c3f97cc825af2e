package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J4 co-occurrence mining (the reference's course-pair knowledge base,
  * `train_module.py:397-405`) as the one keyed pair operator, with the
  * skew control SURVEY.md §7.4 risk 5 calls for. Like the reference's
  * per-learner course lists, each key's distinct items are gathered into
  * one sorted set: the grouping by key is the ONE exchange of the (key,
  * item) projection, and its map-side partial aggregate drops repeated
  * rows before they shuffle. Pairs are generated from each set, so there
  * is no self-join for the planner to shuffle, re-shuffle or broadcast.
  *
  * The fan-out of a key with k items is k² pairs — one power user (a
  * crawler, a bot) with 10⁵ items would emit 10¹⁰ rows at 100 TB, all
  * from the one task that holds its set. `maxItemsPerKey` is the skew
  * bound: each key contributes at most its k smallest items
  * (deterministic, so reruns agree). Keys under the cap are EXACT;
  * capped keys degrade gracefully (their rarest pairs drop first).
  */
object CoOccurrence {

  /** Distinct co-occurring item pairs (i1 < i2) per key with counts
    * (`cnt` = the number of keys holding both items).
    *
    * @param maxItemsPerKey None = exact (q14 semantics); Some(k) =
    *   cap each key's contribution at its k smallest items.
    */
  def pairs(df: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Option[Int] = None): DataFrame = {
    val sets = itemSets(df, keyCol, itemCol)
    val items = maxItemsPerKey.fold(col("items"))(cap => slice(col("items"), 1, cap))
    // the set is sorted and distinct, so every item after position p
    // is greater than the one at p
    sets.select(items.as("items"))
      .select(col("items"), posexplode(col("items")).as(Seq("p", "i1")))
      .select(col("i1"), explode(slice(col("items"), col("p") + 2,
        size(col("items")) - col("p") - 1)).as("i2"))
      .groupBy(col("i1"), col("i2"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The distinct (k, item) rows [[pairs]] counts, hash-partitioned by
    * k. A caller that also reads them builds them here, so ReuseExchange
    * serves both from the one exchange. */
  def keyedItems(df: DataFrame, keyCol: String, itemCol: String): DataFrame =
    itemSets(df, keyCol, itemCol).select(col("k"), explode(col("items")).as("item"))

  /** Each non-null key's distinct non-null items, sorted ascending. The
    * item filter changes no set (collect_set skips nulls); it is pushed
    * into the scan, where a sibling branch's join infers the same one,
    * so the two scans' exchanges stay reusable. */
  private def itemSets(df: DataFrame, keyCol: String, itemCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(array_sort(collect_set(col(itemCol))).as("items"))

  /** Top-N pairs by frequency — the knowledge-base cut the reference
    * keeps (`Counter.most_common(50)`, `run_consumer.py:247`).
    */
  def topPairs(df: DataFrame, keyCol: String, itemCol: String, n: Int,
      maxItemsPerKey: Option[Int] = None): DataFrame =
    pairs(df, keyCol, itemCol, maxItemsPerKey)
      .orderBy(col("cnt").desc, col("i1"), col("i2"))
      .limit(n)
}
