package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CoOccurrence, PrefixScan, Rounds}

/** One named query: the Spark-side plan builder plus (when the semantics are
  * ANSI-SQL-expressible) an equivalent DuckDB SQL string for the driver's
  * oracle compare. `headline` marks the queries the bench harness times.
  */
final case class QuerySpec(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** The engine's query surface: every operator family from SURVEY.md §2
  * (reference: hoigreen/project-bigdata-recsys) re-expressed as a named,
  * deterministic DataFrame query over the driver fixture tables.
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *  - every query ends in a total ORDER BY (all tie-break keys included);
  *  - every floating aggregate is `round`-ed the same way on both sides;
  *  - integer sums are cast to BIGINT on the DuckDB side (DuckDB widens
  *    BIGINT sums to HUGEINT, Spark keeps LongType);
  *  - column aliases match the SQL exactly (driver sorts columns by name).
  *
  * Scale notes are inline per query — each one must survive 100 TB, so
  * joins annotate their expected physical strategy and shuffles.
  */
object Catalog {

  // ---------------------------------------------------------------------
  // §2.4 Aggregations
  // ---------------------------------------------------------------------

  /** A4/A5 flagship "pricing summary" (reference per-course stats shape,
    * dashboard/app.py:301-321): grouped conditional aggregation + derived
    * columns. Scale: single hash-agg shuffle on a tiny (flag,status) key
    * domain; partial aggregation makes the shuffle a few rows per task.
    */
  val q01PricingSummary: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4)                            AS sum_qty,
             round(sum(l_extendedprice), 4)                       AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4)  AS sum_disc_price,
             round(avg(l_quantity), 6)                            AS avg_qty,
             round(avg(l_extendedprice), 6)                       AS avg_price,
             round(avg(l_discount), 6)                            AS avg_disc,
             count(*)                                             AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** A1+A2 global count + distinct count in one pass. Scale: count-distinct
    * is a two-phase hash agg; for 100 TB interactive use `q41` (HLL).
    */
  val q02GlobalCounts: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts")),
    oracle = Some("""
      SELECT count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS n_orders,
             count(DISTINCT l_partkey)  AS n_parts
      FROM lineitem"""))

  /** A3 group-count (reference truth distribution, dashboard/app.py:228-241). */
  val q03EventTypeCounts: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type, count(*) AS n FROM events
      GROUP BY event_type ORDER BY event_type"""))

  /** A4+A5+O2: per-part enrollment/return-rate top-k — the reference's
    * course-stats query (dashboard/app.py:301-321) on fixture columns.
    * Scale: hash agg on l_partkey (high cardinality — shuffles once), then
    * TakeOrderedAndProject keeps only 50 rows per partition before the
    * driver merge; no global sort materialized.
    */
  val q04PartStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy(col("l_partkey"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returns_cnt"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .withColumn("return_rate",
          round(col("returns_cnt") * 100.0 / col("total"), 6))
        .orderBy(col("total").desc, col("l_partkey"))
        .limit(50)
    },
    oracle = Some("""
      SELECT l_partkey,
             count(*) AS total,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns_cnt,
             round(avg(l_quantity), 6) AS avg_qty,
             round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) * 100.0 / count(*), 6) AS return_rate
      FROM lineitem
      GROUP BY l_partkey
      ORDER BY total DESC, l_partkey
      LIMIT 50"""),
    headline = true)

  /** J2+A6: left join then group (reference per-user stats,
    * dashboard/app.py:337-351). Scale: orders side shuffles on o_custkey;
    * customer is the small build side → broadcast hash join, zero extra
    * shuffle for the join itself.
    */
  val q05CustomerOrderStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 4).as("total_spent"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_mktsegment,
             count(o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0), 4) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
      ORDER BY c_custkey"""),
    headline = true)

  /** A7 multi-agg snapshot (reference history snapshot,
    * train_module.py:383-389): per-user sums + min/max timestamps.
    */
  val q06UserActivity: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** A8 group-collect (reference per-user course list, train_module.py:399)
    * rendered as a sorted joined string so the hash compare is stable.
    */
  val q07UserEventTypes: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** A9 success-profile column means (train_module.py:408-409): global avgs
    * over a filtered slice. Scale: filter is pushed to the parquet scan
    * (`PushedFilters: [EqualTo(l_returnflag,N)]`), then a single partial+
    * final agg — bytes shuffled are O(#partitions).
    */
  val q08SuccessProfile: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "N")
        .agg(
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n")),
    oracle = Some("""
      SELECT round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_extendedprice), 6) AS avg_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS n
      FROM lineitem WHERE l_returnflag = 'N'"""))

  /** A10 top-k by frequency (popular courses, train_module.py:412-413).
    * Catalyst plans TakeOrderedAndProject — no full sort at scale.
    */
  val q09TopUsers: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(20),
    oracle = Some("""
      SELECT user_id, count(*) AS n FROM events
      GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20"""))

  /** W4 events/minute over the observed span (dashboard/app.py:1060-1070). */
  val q10EventsPerMin: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).agg(
        count(lit(1)).as("n"),
        round(count(lit(1)) /
          ((max(col("ts")).cast("double") - min(col("ts")).cast("double")) / 60.0), 6)
          .as("events_per_min")),
    oracle = Some("""
      SELECT count(*) AS n,
             round(count(*) / ((epoch(max(ts)) - epoch(min(ts))) / 60.0), 6) AS events_per_min
      FROM events"""))

  /** A2 per-group distinct counts. */
  val q11DistinctUsersByType: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------------
  // §2.3 Joins
  // ---------------------------------------------------------------------

  /** J1 equi inner join + agg (factors↔id-map shape,
    * batch_als_train.py:217-234). Scale: part is a dimension → Catalyst
    * broadcasts it; lineitem never shuffles for the join, only for the
    * final small-key agg.
    */
  val q12BrandRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = broadcast(Tables.part(s, dir))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      SELECT p_brand,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""),
    headline = true)

  /** J2 left join chain across two dimensions (demographics enrich,
    * train_module.py:277). Both dims broadcast; no shuffle at all.
    */
  val q13CustomerGeo: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
        .join(r, n("n_regionkey") === r("r_regionkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name, n_name, r_name
      FROM customer
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      ORDER BY c_custkey"""))

  /** (p1 < p2, co): part co-occurrence counts over distinct
    * (order, part) rows — the SHARED kernel of the whole graph/recsys
    * family: q14 (top pairs), q95 (Jaccard neighbors), q85 (PageRank
    * adjacency) and, via [[coEdges]], q94/q111. The self-join +
    * count aggregation ran identically inside each of those queries;
    * computing it once per (session, fixture) and persisting removes
    * the suite's largest duplicated stage. Bounded: one row per
    * observed pair (~85k at sf0.01). Bench reports its readers under
    * `shared_cache_groups.co_pairs`; [[clearCaches]] drops it.
    */
  private val coPairCache = KernelCache.frames("co_pairs")

  private def coPairCounts(s: SparkSession, dir: String): DataFrame =
    coPairCache(s, dir) {
      CoOccurrence.pairs(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
        .select(col("i1").as("p1"), col("i2").as("p2"), col("cnt").as("co"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** J4 self-join co-occurrence (course pairs, train_module.py:397-405):
    * each order's distinct parts → its (p1 < p2) pairs → pair counts →
    * top 50, served from the shared [[coPairCounts]] kernel. Scale:
    * the one genuinely skew-sensitive computation — a power order with
    * k parts makes k² pairs in the one task holding its part set; at
    * 100 TB cap it with `CoOccurrence.pairs`' `maxItemsPerKey` (the
    * retrain KB's 1000).
    */
  val q14PartPairs: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      coPairCounts(s, dir)
        .select(col("p1"), col("p2"), col("co").as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(50),
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cnt
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      ORDER BY cnt DESC, p1, p2
      LIMIT 50"""),
    headline = true)

  /** J5 anti join (not-passed candidate filter, run_consumer.py:248-257). */
  val q15CustomersWithoutOrders: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** Semi join (membership test — set semantics from §2.7). */
  val q16CustomersWithFinishedOrders: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------------
  // §2.5 Window functions
  // ---------------------------------------------------------------------

  /** W1 latest-row-per-key (active model view, train_module.py:110-117). */
  val q17LatestOrderPerCustomer: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, o_orderdate
      FROM (SELECT *, row_number() OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders) t
      WHERE rn = 1
      ORDER BY o_custkey"""))

  /** W2 lag-based drift (metric drift, dashboard/app.py:2476-2536). */
  val q18OrderValueDrift: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("prev_price").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          round((col("o_totalprice") - col("prev_price")) / col("prev_price") * 100.0, 4)
            .as("drift_pct"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey,
             round((o_totalprice - prev_price) / prev_price * 100.0, 4) AS drift_pct
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   lag(o_totalprice, 1) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
            FROM orders) t
      WHERE prev_price IS NOT NULL
      ORDER BY o_custkey, o_orderkey"""))

  /** W3 per-group top-k via row_number (rank badges, run_consumer.py:330-344). */
  val q19Top5OrdersPerStatus: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("o_orderstatus"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("rnk"))
    },
    oracle = Some("""
      SELECT o_orderstatus, rnk, o_orderkey, round(o_totalprice, 4) AS o_totalprice
      FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders) t
      WHERE rnk <= 5
      ORDER BY o_orderstatus, rnk"""))

  /** Running total with an explicit ROWS frame (cumulative spend). */
  val q20RunningSpend: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 4))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------------
  // §2.6 Sorts / limits / sampling
  // ---------------------------------------------------------------------

  /** O1 recent-N (dashboard/app.py:281-283) → TakeOrderedAndProject. */
  val q21RecentOrders: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1000),
    oracle = Some("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice, o_orderdate
      FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1000"""),
    headline = true)

  /** O6 deterministic arithmetic sample (the reference's ORDER BY RANDOM()
    * sample, made reproducible across engines via a modulus predicate).
    */
  val q22ArithSample: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 97 === 0)
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 4).as("sum_price")),
    oracle = Some("""
      SELECT count(*) AS n, round(sum(l_extendedprice), 4) AS sum_price
      FROM lineitem WHERE l_orderkey % 97 = 0"""))

  /** O7/O8 deterministic split + per-split label balance (A13). */
  val q23SplitBalance: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("split",
          when(col("l_orderkey") % 5 < 4, "train").otherwise("test"))
        .groupBy(col("split"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("l_returnflag")),
    oracle = Some("""
      SELECT CASE WHEN l_orderkey % 5 < 4 THEN 'train' ELSE 'test' END AS split,
             l_returnflag, count(*) AS n
      FROM lineitem GROUP BY 1, 2 ORDER BY split, l_returnflag"""))

  // ---------------------------------------------------------------------
  // §2.7 Set operations
  // ---------------------------------------------------------------------

  val q24StatusUnion: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.union(p).distinct().orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      UNION
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""))

  val q25StatusIntersect: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.intersect(p).orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""))

  val q26StatusExcept: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.except(p).orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""))

  // ---------------------------------------------------------------------
  // §2.8 Scalar functions
  // ---------------------------------------------------------------------

  /** F2/F3 JSON extraction (event payload parse, run_consumer.py:189-192). */
  val q27JsonExtract: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k")),
    oracle = Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
      FROM events GROUP BY 1 ORDER BY k"""))

  /** F5/F6 string ops (truncate+ellipsis, run_consumer.py:198-199). */
  val q28StringFuncs: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          concat(substring(col("c_name"), 1, 10), lit("...")).as("name_short"),
          upper(col("c_mktsegment")).as("seg_upper"),
          length(col("c_name")).cast("long").as("name_len"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey,
             substring(c_name, 1, 10) || '...' AS name_short,
             upper(c_mktsegment) AS seg_upper,
             length(c_name) AS name_len
      FROM customer ORDER BY c_custkey"""))

  /** F7/F8 date bucketing (strftime rollup, dashboard/app.py:920-921). */
  val q29MonthlyOrders: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
        .orderBy(col("ym")),
    oracle = Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             count(*) AS n, round(sum(o_totalprice), 4) AS total
      FROM orders GROUP BY 1 ORDER BY ym"""))

  /** P5/F10 relative time-range predicate (NOW() - INTERVAL, anchored to
    * max(ts) so it is reproducible): scalar-subquery filter.
    */
  val q30RecentWindow: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e = Tables.events(s, dir)
      val mx = e.agg(max(col("ts")).as("mx"))
      e.crossJoin(mx)
        .filter(col("ts") > col("mx") - expr("INTERVAL 1 DAY"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },
    oracle = Some("""
      SELECT count(*) AS n, count(DISTINCT user_id) AS n_users
      FROM events
      WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 1 DAY"""))

  /** F4 CASE WHEN tiering (dashboard/app.py:305-306). */
  val q31PriceTiers: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("tier",
          when(col("o_totalprice") < 1000, "low")
            .when(col("o_totalprice") < 10000, "mid")
            .otherwise("high"))
        .groupBy(col("tier")).agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 4).as("avg_price"))
        .orderBy(col("tier")),
    oracle = Some("""
      SELECT CASE WHEN o_totalprice < 1000 THEN 'low'
                  WHEN o_totalprice < 10000 THEN 'mid'
                  ELSE 'high' END AS tier,
             count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
      FROM orders GROUP BY 1 ORDER BY tier"""))

  /** F15 lenient numeric parse (int(float(x)) with bad→NULL,
    * etl/load_users_from_minio.py:43-49): regexp extract + try_cast.
    * Spark 4 runs ANSI mode by default, where plain cast THROWS on
    * malformed strings — try_cast is the null-on-failure contract.
    */
  val q32LenientParse: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          expr("try_cast(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)").as("name_num"),
          col("c_acctbal").cast("int").as("acctbal_int"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey,
             TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
             CAST(trunc(c_acctbal) AS INT) AS acctbal_int
      FROM customer ORDER BY c_custkey"""))

  /** M8 logloss of the prior-rate baseline predictor as a pure aggregation
    * (train_module.py:345-369 metric contract, no ML needed).
    */
  val q33LoglossBaseline: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
      val rate = li.agg(avg(col("y")).as("r"))
      li.crossJoin(rate)
        .agg(round(-avg(col("y") * log(col("r")) +
          (lit(1.0) - col("y")) * log(lit(1.0) - col("r"))), 6).as("logloss"),
          round(avg(col("y")), 6).as("base_rate"))
    },
    oracle = Some("""
      WITH l AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
                 FROM lineitem),
           r AS (SELECT avg(y) AS r FROM l)
      SELECT round(-avg(y * ln(r) + (1.0 - y) * ln(1.0 - r)), 6) AS logloss,
             round(avg(y), 6) AS base_rate
      FROM l, r"""))

  /** A2 scale path: HyperLogLog approximate distinct beside the exact
    * count (SURVEY.md §2.4 A2 — "at 100 TB offer approx_count_distinct
    * as the fast path"). No oracle: HLL sketch values are
    * engine-specific; the spec asserts the 2% rsd contract instead.
    */
  val q48ApproxDistinct: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts")),
    oracle = None)

  /** Hierarchical rollup totals (beyond the reference's flat GROUP BYs
    * — the multi-grain aggregation a reporting layer needs). Scale:
    * one Expand + hash-agg, grouping-id shuffles with the keys.
    */
  val q53Rollup: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        // decimal accumulation: the grand-total row sums the whole
        // table, where double addition order (Spark partials vs
        // DuckDB) could flip the rounded last digit; exact decimal
        // arithmetic is order-independent
        .withColumn("p", col("o_totalprice").cast("decimal(18,2)"))
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("p")).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    oracle = Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** Pivot: order counts per YEAR × status (the dashboard's matrix
    * view shape, at year grain so the matrix stays small — q29 holds
    * the month-grain rollup). Spark `.pivot` with explicit values
    * keeps the plan a single pass; the oracle spells the same CASE
    * columns.
    */
  val q54Pivot: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy").as("y"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy(col("y")),
    oracle = Some("""
      SELECT strftime(o_orderdate, '%Y') AS y,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
             CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      FROM orders GROUP BY 1 ORDER BY y"""))

  /** Lateral explode (generator/UDTF surface): global token frequency
    * top-20 over documents — one explode, one hash-agg, TakeOrdered.
    */
  val q55ExplodeTokens: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20),
    oracle = Some("""
      SELECT tok, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""))

  /** Exact percentiles per group (median/p90) — Spark `percentile` and
    * DuckDB `quantile_cont` share the continuous-interpolation
    * definition. Scale: exact percentile sorts within the aggregation
    * buffer; at 100 TB the interactive path is `approx_percentile`
    * (KLL/GK sketch) — same query shape, engine-specific values (like
    * q48's HLL).
    */
  val q56Percentiles: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
    oracle = Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             count(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** A2-scale companion to q56: APPROX percentiles via the GK/KLL-style
    * sketch (`approx_percentile`), the interactive path at 100 TB where
    * exact per-group sorts don't fit. Sketch values are
    * engine/partition-order specific → rows-only (like q48's HLL); the
    * CatalogSmokeSpec asserts the approx stays within the accuracy
    * contract of the exact q56 values.
    */
  val q61ApproxPercentiles: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(o_totalprice, 0.9, 10000)").as("ap90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
    oracle = None)

  /** O8 stratified split (reference `train_module.py:314-315`,
    * sklearn `stratify=y`): exact per-stratum 80/20 via
    * [[graft.operators.Sampling.stratifiedSplit]] — every 5th row by
    * key rank within each status stratum is "test". Emits per-(stratum,
    * half) counts so the oracle checks the ratio invariant exactly.
    * The Bernoulli-fractions variant (`df.stat.sampleBy`) is spec-only
    * (engine-specific RNG, no cross-engine oracle possible).
    */
  val q58StratifiedSplit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val (train, test) = graft.operators.Sampling.stratifiedSplit(
        Tables.orders(s, dir), "o_orderstatus", "o_orderkey", 5)
      train.withColumn("split", lit("train"))
        .unionByName(test.withColumn("split", lit("test")))
        .groupBy(col("o_orderstatus"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("split"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT o_orderstatus,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_orderkey) AS rn
        FROM orders)
      SELECT o_orderstatus,
             CASE WHEN rn % 5 = 0 THEN 'test' ELSE 'train' END AS split,
             count(*) AS n
      FROM t GROUP BY 1, 2 ORDER BY o_orderstatus, split"""))

  /** CUBE / grouping-sets: revenue at all four grains of
    * (status, year) in ONE pass — the multi-grain rollup a dashboard
    * materializes instead of issuing four separate aggregations.
    * Revenue is summed in integer CENTS so the cross-engine compare is
    * exact regardless of per-group addition order (a float sum over
    * 150k+ rows accumulates order-dependent ulps past any fixed
    * rounding). Scale: Spark expands CUBE into a 4× row replication
    * before ONE hash-agg shuffle on a tiny key domain; partial
    * aggregation collapses each grain map-side.
    */
  val q81CubeRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          year(col("o_orderdate")).cast("bigint").as("yr"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .cube(col("o_orderstatus"), col("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("yr"), lit(-1L)).as("yr"),
          col("n"), col("revenue_cents"))
        .orderBy(col("status"), col("yr")),
    oracle = Some("""
      WITH t AS (SELECT o_orderstatus,
                        CAST(year(o_orderdate) AS BIGINT) AS yr,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders)
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             CAST(coalesce(yr, -1) AS BIGINT) AS yr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM t GROUP BY CUBE (o_orderstatus, yr)
      ORDER BY status, yr"""))

  /** Integer-exact spike detection: per-minute event counts flagged
    * when more than two population standard deviations above the mean.
    * The z-score test is cross-multiplied into pure BIGINT arithmetic —
    * `c > S/n + 2·sqrt((nQ−S²)/n²)  ⟺  nc−S > 0 ∧ (nc−S)² > 4(nQ−S²)`
    * — so there is no sqrt, no float, and the oracle matches bit-for-
    * bit. Scale: the minute rollup is one map-side-combined shuffle on
    * a bounded key domain; the 1-row global stats broadcast back. At
    * 100 TB the BIGINT products bound the usable range (n·Q < 2^63);
    * swap to DECIMAL(38,0) past ~10^9 events/minute-grain.
    */
  val q82AnomalyMinutes: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val perMin = Tables.events(s, dir)
        .select(floor(col("ts").cast("double") / 60.0).cast("bigint").as("minute_id"))
        .groupBy(col("minute_id")).agg(count(lit(1)).as("c"))
      val stats = perMin.agg(
        count(lit(1)).as("n_minutes"),
        sum(col("c")).as("s_tot"),
        sum(col("c") * col("c")).as("q_tot"))
      val dev = col("n_minutes") * col("c") - col("s_tot")
      perMin.crossJoin(broadcast(stats))
        .select(col("minute_id"), col("c"), col("n_minutes"),
          (dev > 0 && dev * dev > lit(4L) * (col("n_minutes") * col("q_tot") - col("s_tot") * col("s_tot")))
            .cast("bigint").as("is_spike"))
        .orderBy(col("minute_id"))
    },
    oracle = Some("""
      WITH m AS (SELECT CAST(floor(epoch(ts) / 60.0) AS BIGINT) AS minute_id,
                        CAST(count(*) AS BIGINT) AS c
                 FROM events GROUP BY 1),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n_minutes,
                   CAST(sum(c) AS BIGINT) AS s_tot,
                   CAST(sum(c * c) AS BIGINT) AS q_tot
            FROM m)
      SELECT m.minute_id, m.c, g.n_minutes,
             CAST(CASE WHEN g.n_minutes * m.c - g.s_tot > 0
                        AND (g.n_minutes * m.c - g.s_tot) * (g.n_minutes * m.c - g.s_tot)
                            > 4 * (g.n_minutes * g.q_tot - g.s_tot * g.s_tot)
                       THEN 1 ELSE 0 END AS BIGINT) AS is_spike
      FROM m, g ORDER BY m.minute_id"""))

  /** Z-order (Morton) data layout — [[graft.operators.ZOrder]]: bucket
    * orders on (customer, price) and interleave the bucket bits so ONE
    * clustering key localizes BOTH dimensions (min/max file stats then
    * prune scans filtered on either column — the lakehouse data-skipping
    * layout a plain sort can't give). The query emits the per-row Morton
    * code; the oracle replays the identical unrolled shift/mask
    * arithmetic via [[graft.operators.ZOrder.zValueSql]]. The layout
    * half (range-shuffle + local sort → disjoint per-file z-ranges) is
    * `ZOrder.layoutByZ`, asserted by ZOrderSpec. Scale: codegen integer
    * projection, zero shuffles here; the rewrite job is one range
    * shuffle.
    */
  val q83ZOrderLayout: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).as("xb"),
          least(expr("CAST(floor(o_totalprice / 2500.0) AS BIGINT)"), lit(255L)).as("yb"))
        .withColumn("z_value",
          graft.operators.ZOrder.zValue(col("xb"), col("yb"), 8))
        .orderBy(col("z_value"), col("o_orderkey")),
    oracle = Some(s"""
      WITH t AS (SELECT o_orderkey,
                        o_custkey % 256 AS xb,
                        least(CAST(floor(o_totalprice / 2500.0) AS BIGINT), 255) AS yb
                 FROM orders)
      SELECT o_orderkey, xb, yb,
             ${graft.operators.ZOrder.zValueSql("xb", "yb", 8)} AS z_value
      FROM t ORDER BY z_value, o_orderkey"""),
    headline = true)

  /** Equi-width histogram of order totals: bucket id by floor division
    * (single IEEE divide + floor — bit-equal cross-engine by
    * construction), per-bucket count and raw min/max (untouched parquet
    * doubles, no arithmetic). The profiling primitive every optimizer /
    * data-quality layer runs first. Scale: map-side-combined hash agg
    * on a bounded bucket domain — the shuffle carries one row per
    * bucket per task.
    */
  val q84PriceHistogram: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .select(expr("CAST(floor(o_totalprice / 25000.0) AS BIGINT)").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket")),
    oracle = Some("""
      SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             min(o_totalprice) AS lo,
             max(o_totalprice) AS hi
      FROM orders GROUP BY 1 ORDER BY bucket"""))

  /** Log₂-bucketed histogram — the long-tail companion to q84's
    * equi-width buckets (latencies, prices, file sizes: anything
    * spanning decades needs log buckets or the tail collapses into
    * one bin). floor(log₂ x) is computed INTEGER-EXACTLY as
    * `length(bin(x)) − 1` (the binary-digit count, identical string
    * semantics in both engines) — no transcendental log in the
    * cross-engine contract, so exact powers of two can never straddle
    * a bucket boundary by one ulp (the q63 midpoint class a float
    * log2 would reintroduce). Prices ride as integer cents. Scale:
    * map-only bucketing + one ~32-bucket-bounded aggregation —
    * map-side combine flattens any volume.
    */
  val q131Log2Histogram: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .filter(col("cents") > 0)
        .withColumn("bucket", (length(expr("bin(cents)")) - 1).cast("bigint"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("bucket")),
    oracle = Some("""
      WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders)
      SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(cents) AS BIGINT) AS lo_cents,
             CAST(max(cents) AS BIGINT) AS hi_cents,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM c WHERE cents > 0 GROUP BY 1 ORDER BY bucket"""))

  /** Association rules over the co-purchase pairs — confidence and
    * lift for both directions of every observed pair (the
    * market-basket statistics the reference's raw co-occurrence
    * counts approximate, `train_module.py:397-413`), as EXACT
    * rationals: confidence(p1→p2) = co/n1 ships as (co, n1), lift =
    * co·N/(n1·n2) ships as the numerator pair plus the floor-scaled
    * integer ranking key (10⁶·co·N) div (n1·n2) — the q95 trick, so
    * the top-20 cut is engine-exact with no float compare. Rides the
    * shared [[coPairCounts]] kernel; the order count N is a one-row
    * broadcast (q30/q33 class). BIGINT headroom at target SF: the
    * key numerator 10⁶·co·N needs co·N < 9.2e12 — at 1e9 orders
    * co ≤ ~9e3 before DECIMAL(38,0), noted per the q109 rule. Scale:
    * only observed pairs are scored; the cut is TakeOrdered.
    */
  val q137AssociationRules: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val totals = op.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val cnt = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      val co = coPairCounts(s, dir)
      val sym = co.select(col("p1"), col("p2"), col("co"))
        .unionAll(co.select(col("p2").as("p1"), col("p1").as("p2"), col("co")))
      sym
        .join(cnt.select(col("l_partkey").as("p1"), col("n").as("n1")), "p1")
        .join(cnt.select(col("l_partkey").as("p2"), col("n").as("n2")), "p2")
        .crossJoin(broadcast(totals))
        .select(col("p1"), col("p2"), col("co"), col("n1"), col("n2"),
          col("n_orders"),
          expr("(1000000 * co * n_orders) div (n1 * n2)").as("lift_key"))
        .orderBy(col("lift_key").desc, col("p1"), col("p2"))
        .limit(20)
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM op),
      cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
              FROM op GROUP BY 1),
      co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                    CAST(count(*) AS BIGINT) AS co
             FROM op a JOIN op b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      sym AS (SELECT p1, p2, co FROM co
              UNION ALL SELECT p2, p1, co FROM co)
      SELECT s.p1, s.p2, s.co, c1.n AS n1, c2.n AS n2, tot.n_orders,
             CAST(1000000 * s.co * tot.n_orders // (c1.n * c2.n) AS BIGINT)
               AS lift_key
      FROM sym s
      JOIN cnt c1 ON c1.l_partkey = s.p1
      JOIN cnt c2 ON c2.l_partkey = s.p2
      CROSS JOIN tot
      ORDER BY lift_key DESC, p1, p2
      LIMIT 20"""))

  /** Profile drift audit — the monitoring op between two snapshots of
    * the same table (yesterday's load vs today's): per-column deltas
    * of row count, null count, exact NDV and min/max, the signals a
    * data-quality monitor alerts on (q90 checks one snapshot against
    * CONSTRAINTS; this checks one snapshot against ANOTHER). The "v2"
    * snapshot is derived identically on both engines (drop every
    * 10th order's lines, shift quantity by one) so the expected drift
    * is nonzero and fully determined. Profiles use q128's stack-melt
    * (one pass per version); quantities are integral-valued in this
    * schema, so the cast to BIGINT is exact. Scale: two table passes
    * + a ≤3-row join — the drift report is bounded by the profiled
    * column count, and in production v1's profile is read from the
    * stats store, not recomputed.
    */
  val q136ProfileDrift: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def profile(df: org.apache.spark.sql.DataFrame) =
        df.select(expr(
            """stack(3, 'l_orderkey', l_orderkey,
                        'l_partkey', l_partkey,
                        'l_quantity', CAST(l_quantity AS BIGINT)) AS (col_name, v)"""))
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col("v"))).as("n_nulls"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      val v1 = profile(Tables.lineitem(s, dir))
      val v2 = profile(Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 =!= 0)
        .withColumn("l_quantity", col("l_quantity") + 1))
      v1.as("a").join(v2.as("b"), Seq("col_name"))
        .select(col("col_name"),
          col("a.n_rows").as("rows_v1"), col("b.n_rows").as("rows_v2"),
          (col("b.n_rows") - col("a.n_rows")).as("rows_delta"),
          (col("b.n_nulls") - col("a.n_nulls")).as("nulls_delta"),
          col("a.n_distinct").as("ndv_v1"), col("b.n_distinct").as("ndv_v2"),
          (col("b.min_v") - col("a.min_v")).as("min_shift"),
          (col("b.max_v") - col("a.max_v")).as("max_shift"))
        .orderBy(col("col_name"))
    },
    oracle = Some("""
      WITH m1 AS (
        SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
        UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL SELECT 'l_quantity', CAST(l_quantity AS BIGINT) FROM lineitem),
      l2 AS (SELECT l_orderkey, l_partkey, l_quantity + 1 AS l_quantity
             FROM lineitem WHERE l_orderkey % 10 <> 0),
      m2 AS (
        SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM l2
        UNION ALL SELECT 'l_partkey', l_partkey FROM l2
        UNION ALL SELECT 'l_quantity', CAST(l_quantity AS BIGINT) FROM l2),
      p1 AS (SELECT col_name, count(*) AS n_rows,
                    count(*) - count(v) AS n_nulls,
                    count(DISTINCT v) AS n_distinct,
                    min(v) AS min_v, max(v) AS max_v
             FROM m1 GROUP BY 1),
      p2 AS (SELECT col_name, count(*) AS n_rows,
                    count(*) - count(v) AS n_nulls,
                    count(DISTINCT v) AS n_distinct,
                    min(v) AS min_v, max(v) AS max_v
             FROM m2 GROUP BY 1)
      SELECT p1.col_name,
             CAST(p1.n_rows AS BIGINT) AS rows_v1,
             CAST(p2.n_rows AS BIGINT) AS rows_v2,
             CAST(p2.n_rows - p1.n_rows AS BIGINT) AS rows_delta,
             CAST(p2.n_nulls - p1.n_nulls AS BIGINT) AS nulls_delta,
             CAST(p1.n_distinct AS BIGINT) AS ndv_v1,
             CAST(p2.n_distinct AS BIGINT) AS ndv_v2,
             CAST(p2.min_v - p1.min_v AS BIGINT) AS min_shift,
             CAST(p2.max_v - p1.max_v AS BIGINT) AS max_shift
      FROM p1 JOIN p2 USING (col_name)
      ORDER BY col_name"""))

  /** Rolling 7-day distinct users (exact WAU per day) — the windowed
    * COUNT DISTINCT no frame-based window can express (DISTINCT is
    * not an algebraic frame aggregate): the date-RANGE join is
    * rewritten as an EQUI join — each event explodes into the ≤7
    * future days its trailing-window membership contributes to
    * (day = d + i, i ∈ 0..6; "day's window contains d" ⟺
    * "day ∈ [d, d+6]"), then an equi-join against the observed-day
    * table keeps real days only. No non-equi BroadcastNestedLoopJoin
    * anywhere — the whole plan is codegen hash operators (the q52
    * band trick applied to a trailing window). Date equality is
    * engine-safe on the TIMESTAMP(NANOS) fixture: micro- vs
    * nano-truncation agree at day granularity. Scale: the explode
    * replicates each event exactly 7×, partitioned on day; at 100 TB
    * the exact distinct becomes the q48 HLL sketch merged over the 7
    * daily partials — same plan shape, algebraic state.
    */
  val q133RollingWau: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
      val days = e.select(col("d").as("day")).distinct()
      e.select(col("d"), col("user_id"),
          explode(expr("sequence(0, 6)")).as("i"))
        .withColumn("day", date_add(col("d"), col("i")))
        .join(broadcast(days), Seq("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"),
          count(lit(1)).as("n_events_window"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
      days AS (SELECT DISTINCT d AS day FROM e),
      x AS (SELECT e.d + CAST(t.i AS INTEGER) AS day, e.user_id
            FROM e CROSS JOIN (SELECT unnest(range(0, 7)) AS i) t)
      SELECT day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
             CAST(count(*) AS BIGINT) AS n_events_window
      FROM x JOIN days USING (day)
      GROUP BY day ORDER BY day"""))

  /** PageRank (5 fixed iterations) over the part co-occurrence graph —
    * graph centrality beyond q62's connected components. All arithmetic
    * is scaled-integer (rank mass in millionths, damping 0.85 as
    * 850000/1000000, integer division at a FIXED op order), so the
    * DuckDB oracle replays the five iterations bit-for-bit as five
    * chained CTEs — no float drift, no convergence epsilon. Scale: each
    * iteration is one edges⋈ranks hash join on src plus one groupBy on
    * dst — the standard Pregel-style message pass; the vertex table
    * shuffles, never the adjacency²; at 10^9 vertices move the rank
    * mass to DECIMAL(38,0) before the ×850000 product.
    */
  val q85PageRank: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pairs = coPairCounts(s, dir)
        .select(col("p1").as("src"), col("p2").as("dst"))
      // pairs come from the shared coPairCounts kernel (q14/q94/q95/
      // q111 use the same cache — first consumer pays the self-join).
      // Materialize the adjacency ONCE (localCheckpoint): the 5
      // iterations then scan fixed blocks instead of re-running the
      // self-join, and each iteration broadcasts the vertex-sized rank
      // table into a map-side join on src — no edge shuffle on the
      // join side (measured 6.1 → 3.9 s at sf0.1; a persist-based
      // partitioning-reuse variant was SLOWER because AQE hides cached
      // outputPartitioning and the columnar cache write costs more
      // than the saved exchange). At 100 TB checkpoint to reliable
      // storage; the rank broadcast is size-gated via [[Rounds.gate]]
      // (round 15, VERDICT r14 #4; |E_sym| ≥ |V| bounds it) so the join
      // degrades to the key-partitioned shape automatically once |V|
      // outgrows the limit — no code edit at scale.
      val edges = Rounds.symmetric(pairs, "src", "dst")
        .repartition(s.sparkContext.defaultParallelism, col("dst"))
        .localCheckpoint(true)
      val bc = Rounds.gate(dir, edges.count())
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("v"), col("deg"))
      def step(share: DataFrame): DataFrame = edges.join(bc(share), "src")
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("v"), (lit(150000L) + col("s")).as("pr"))
      // every seed rank is 10^6, so round 1's share reads deg alone (a
      // ranks ⋈ deg join would leave AQE to pick its broadcast side by
      // stage-completion order)
      val seed = deg.select(col("v").as("src"),
        expr("(850000 * (1000000 div deg)) div 1000000").as("contrib"))
      val ranks = (2 to 5).foldLeft(step(seed)) { (r, _) =>
        step(r.join(deg, "v").select(col("v").as("src"),
          expr("(850000 * (pr div deg)) div 1000000").as("contrib")))
      }
      ranks.join(deg, "v")
        .orderBy(col("pr").desc, col("v")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("pr").desc, col("v"))).cast("bigint"))
        .select(col("rnk"), col("v").as("part"), col("pr").as("pagerank"), col("deg"))
        .orderBy(col("rnk"))
    },
    oracle = Some {
      val iters = (1 to 5).map { k =>
        s"""c$k AS (SELECT e.dst AS v,
                     CAST(sum((850000 * (r.pr // d.deg)) // 1000000) AS BIGINT) AS s
              FROM edges e JOIN r${k - 1} r ON e.src = r.v JOIN deg d ON e.src = d.v
              GROUP BY 1),
      r$k AS (SELECT v, CAST(150000 + s AS BIGINT) AS pr FROM c$k)"""
      }.mkString(",\n      ")
      s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
      r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS pr FROM deg),
      $iters,
      rk AS (SELECT CAST(row_number() OVER (ORDER BY r5.pr DESC, r5.v) AS BIGINT) AS rnk,
                    r5.v AS part, r5.pr AS pagerank, deg.deg AS deg
             FROM r5 JOIN deg ON r5.v = deg.v)
      SELECT rnk, part, pagerank, deg FROM rk WHERE rnk <= 20 ORDER BY rnk"""
    },
    headline = true)

  /** EWMA trend of daily order volume — the time-series smoothing
    * primitive (monitoring dashboards, demand forecasting baselines)
    * with α=1/4 as EXACT integer arithmetic: rank mass in millionths,
    * `e_t = (c_t·10^6 + 3·e_{t-1}) div 4`, seeded at `e_1 = c_1·10^6`.
    * An EWMA is inherently sequential, so the fold runs as one
    * `aggregate` HOF over the day-ordered array — and the DuckDB oracle
    * replays it as a recursive CTE, truncating division and all. Scale:
    * the DISTRIBUTED work is the per-day count (map-side-combined
    * shuffle over the raw corpus); the fold input is calendar-bounded
    * (365 rows/year regardless of data volume), so one task folding it
    * is O(days), never O(rows).
    */
  val q87EwmaDailyOrders: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("bigint").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
        .select(explode(expr(
          """aggregate(ds,
               CAST(array() AS ARRAY<STRUCT<day: BIGINT, c: BIGINT, e: BIGINT>>),
               (acc, x) -> array_append(acc, named_struct(
                 'day', x.day, 'c', x.c,
                 'e', CASE WHEN size(acc) = 0 THEN x.c * 1000000
                           ELSE (x.c * 1000000 + 3 * element_at(acc, -1).e) div 4
                      END)))""")).as("r"))
        .select(col("r.day").as("day"), col("r.c").as("c"),
          col("r.e").as("ewma_millionths"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                    AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      d2 AS (SELECT day, c, row_number() OVER (ORDER BY day) AS rn FROM daily),
      f AS (
        SELECT rn, day, c, CAST(c * 1000000 AS BIGINT) AS e FROM d2 WHERE rn = 1
        UNION ALL
        SELECT d2.rn, d2.day, d2.c,
               CAST((d2.c * 1000000 + 3 * f.e) // 4 AS BIGINT)
        FROM d2 JOIN f ON d2.rn = f.rn + 1)
      SELECT day, c, e AS ewma_millionths FROM f ORDER BY day"""))

  /** Chi-square contingency sufficient statistics over (lang, source):
    * per cell the observed count plus its row/column marginals and the
    * grand total — the exact integers of `χ² = Σ (o−rc/n)²/(rc/n)`,
    * emitted raw (the no-rounded-rationals contract; callers compute
    * the float statistic). The independence test every data-quality /
    * drift layer runs on categorical columns. Scale: one hash-agg on
    * the (lang, source) cell domain; marginals are windows over the
    * CELL table (bounded by the category product), never a second
    * corpus pass.
    */
  val q88ChiSquareContingency: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cells = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      cells
        .withColumn("row_tot", sum(col("o")).over(Window.partitionBy(col("lang"))))
        .withColumn("col_tot", sum(col("o")).over(Window.partitionBy(col("source"))))
        .withColumn("n", sum(col("o")).over(Window.partitionBy(lit(1))))
        .orderBy(col("lang"), col("source"))
    },
    oracle = Some("""
      WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                     FROM documents GROUP BY 1, 2)
      SELECT lang, source, o,
             CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT)   AS row_tot,
             CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS col_tot,
             CAST(sum(o) OVER () AS BIGINT)                    AS n
      FROM cells ORDER BY lang, source"""))

  /** Fuzzy string join: distinct part names within Levenshtein distance
    * ≤ 2, candidates generated by a character-bigram inverted index
    * with the MULTISET q-gram count bound — with per-string gram counts
    * c_a/c_b, `Σ min(c_a, c_b) ≥ max(len)−1−q·d = max(len)−5` for q=2,
    * d=2 (Gravano et al. 1999 lemma: one edit destroys at most q grams
    * of the multiset). Multiset counting matters: a DISTINCT-gram
    * variant undercounts repetitive strings ("aaaaaaaa" has ONE
    * distinct bigram) and silently drops true matches —
    * FuzzyBoundProps property-tests this bound against a reference DP
    * over adversarially repetitive alphabets. On fixtures the filter
    * passes 189 of 2016 pairs and misses none. Both engines implement
    * unit-cost Wagner-Fischer `levenshtein`, so the verified distance
    * is integer-exact. Scale: the inverted index shuffles once on the
    * (gram) key carrying per-string counts; ultra-common grams are the
    * skew knob (df-prune them exactly as q35's PPJoin prefix does);
    * verification touches only survivors.
    */
  val q89FuzzyNameMatch: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name").as("nm")).distinct()
        .repartition(s.sparkContext.defaultParallelism, col("nm"))
      val grams = names.select(col("nm"), explode(expr(
        """CASE WHEN length(nm) >= 2 THEN
             transform(sequence(1, length(nm) - 1),
               i -> substring(nm, i, 2))
           ELSE array() END""")).as("bg"))
        .groupBy(col("nm"), col("bg")).agg(count(lit(1)).as("c"))
      val cand = grams.as("a").join(grams.as("b"),
          col("a.bg") === col("b.bg") && col("a.nm") < col("b.nm"))
        .groupBy(col("a.nm").as("n1"), col("b.nm").as("n2"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("shared"))
        .filter(col("shared") >=
          (greatest(length(col("n1")), length(col("n2"))) - 5).cast("bigint"))
      cand.withColumn("dist", levenshtein(col("n1"), col("n2")).cast("bigint"))
        .filter(col("dist") <= 2)
        .select(col("n1"), col("n2"), col("dist"), col("shared"))
        .orderBy(col("n1"), col("n2"))
    },
    oracle = Some("""
      WITH n AS (SELECT DISTINCT p_name AS nm FROM part),
      g AS (SELECT nm, unnest(list_transform(range(1, len(nm)),
                   i -> substr(nm, i, 2))) AS bg
            FROM n WHERE len(nm) >= 2),
      gc AS (SELECT nm, bg, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
      cand AS (SELECT a.nm AS n1, b.nm AS n2,
                      CAST(sum(least(a.c, b.c)) AS BIGINT) AS shared
               FROM gc a JOIN gc b ON a.bg = b.bg AND a.nm < b.nm
               GROUP BY 1, 2
               HAVING sum(least(a.c, b.c)) >= greatest(len(a.nm), len(b.nm)) - 5)
      SELECT n1, n2, CAST(levenshtein(n1, n2) AS BIGINT) AS dist, shared
      FROM cand WHERE levenshtein(n1, n2) <= 2
      ORDER BY n1, n2"""))

  /** Data-quality audit (the Deequ-style constraint sweep a lakehouse
    * runs before publishing a table): one row per check with its
    * violation count and the table row count — null/range/domain checks
    * as conditional sums in ONE aggregation pass per table, plus a
    * referential-integrity anti-join (lineitem rows whose order is
    * missing). All integer counts. Scale: each per-table check bundle
    * is a single scan with map-side partial aggregation regardless of
    * how many checks it carries; the anti join is the only shuffle and
    * rides the same key as every orders⋈lineitem join.
    */
  val q90DataQualityAudit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val e = Tables.events(s, dir)
      val oChecks = o.agg(
        sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
          .otherwise(0L)).as("orders_nonpositive_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("orders_unknown_status"),
        sum(when(col("o_totalprice") > 400000.0, 1L).otherwise(0L))
          .as("orders_price_above_400k"),
        count(lit(1)).as("n"))
      val lChecks = l.agg(
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
          .otherwise(0L)).as("lineitem_discount_out_of_range"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
          .as("lineitem_null_quantity"),
        count(lit(1)).as("n"))
      val orphans = l.join(o.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("lineitem_orphan_orderkey"))
      val lTotal = l.agg(count(lit(1)).as("n"))
      val eChecks = e.agg(
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("events_null_value"),
        count(lit(1)).as("n"))
      val rows = Seq(
        oChecks.selectExpr(
          """stack(3,
               'orders_nonpositive_price', orders_nonpositive_price,
               'orders_unknown_status', orders_unknown_status,
               'orders_price_above_400k', orders_price_above_400k)
             AS (check_name, n_bad)""", "n AS n_rows"),
        lChecks.selectExpr(
          """stack(2,
               'lineitem_discount_out_of_range', lineitem_discount_out_of_range,
               'lineitem_null_quantity', lineitem_null_quantity)
             AS (check_name, n_bad)""", "n AS n_rows"),
        orphans.crossJoin(lTotal).selectExpr(
          "'lineitem_orphan_orderkey' AS check_name",
          "lineitem_orphan_orderkey AS n_bad", "n AS n_rows"),
        eChecks.selectExpr(
          "stack(1, 'events_null_value', events_null_value) AS (check_name, n_bad)",
          "n AS n_rows"))
      rows.reduce(_ unionByName _).orderBy(col("check_name"))
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT 'orders_nonpositive_price' AS check_name,
               CAST(count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0)
                    AS BIGINT) AS n_bad,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'orders_unknown_status',
               CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
                    AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders_price_above_400k',
               CAST(count(*) FILTER (WHERE o_totalprice > 400000.0) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem_discount_out_of_range',
               CAST(count(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 1.0)
                    AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_null_quantity',
               CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_orphan_orderkey',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events_null_value',
               CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM events)
      ORDER BY check_name"""))

  /** CDC MERGE semantics (the lakehouse `MERGE INTO base USING changes`)
    * as pure DataFrame algebra: a deterministic changeset derived from
    * the orders table (key%10=0 → DELETE, key%10∈{1,2} → UPDATE price
    * +1000, key%10=3 → INSERT under a shifted key) applied in one pass —
    * left join carries the change onto its base row (update wins via
    * coalesce, delete filters), inserts union in. Prices in integer
    * cents. Scale: ONE shuffle join on the merge key (at real scale the
    * changeset is small → broadcast + dynamic file pruning rewrites
    * only touched files); the insert branch is a second scan of the
    * changeset only.
    */
  val q91CdcMerge: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val base = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val changes = base
        .filter(col("key") % 10 <= 3)
        .select(col("key"), col("cents"),
          when(col("key") % 10 === 0, "D")
            .when(col("key") % 10 <= 2, "U")
            .otherwise("I").as("op"))
      val upserts = changes.filter(col("op") =!= "I")
        .select(col("key"), col("op"), (col("cents") + 100000L).as("new_cents"))
      val merged = base.join(upserts, Seq("key"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"), coalesce(col("new_cents"), col("cents")).as("cents"))
      val inserts = changes.filter(col("op") === "I")
        .select((col("key") + 10000000L).as("key"), col("cents"))
      merged.unionByName(inserts).orderBy(col("key"))
    },
    oracle = Some("""
      WITH base AS (SELECT o_orderkey AS key,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders),
      changes AS (SELECT key, cents,
                         CASE WHEN key % 10 = 0 THEN 'D'
                              WHEN key % 10 <= 2 THEN 'U'
                              ELSE 'I' END AS op
                  FROM base WHERE key % 10 <= 3),
      upserts AS (SELECT key, op, cents + 100000 AS new_cents
                  FROM changes WHERE op <> 'I'),
      merged AS (SELECT b.key,
                        CAST(coalesce(u.new_cents, b.cents) AS BIGINT) AS cents
                 FROM base b LEFT JOIN upserts u ON b.key = u.key
                 WHERE u.op IS NULL OR u.op <> 'D')
      SELECT key, cents FROM merged
      UNION ALL
      SELECT CAST(key + 10000000 AS BIGINT), CAST(cents AS BIGINT)
      FROM changes WHERE op = 'I'
      ORDER BY key"""))

  /** SCD Type-2 dimension build: each customer's orders become
    * validity-interval versions — `valid_from` the order day,
    * `valid_to` the NEXT version's day (exclusive; null = open),
    * `is_current` on the last. The standard slowly-changing-dimension
    * construction, one `lead` window per key. All integer day numbers.
    * Scale: a single (custkey) shuffle; the window is per-key and
    * parallelizes across the exchange.
    */
  val q92Scd2Versions: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("bigint").as("day"))
        .withColumn("version", row_number().over(w).cast("bigint"))
        .withColumn("valid_to_day", lead(col("day"), 1).over(w))
        .select(col("o_custkey"), col("version"), col("o_orderkey"),
          col("day").as("valid_from_day"), col("valid_to_day"),
          col("valid_to_day").isNull.cast("bigint").as("is_current"))
        .orderBy(col("o_custkey"), col("version"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_custkey, o_orderkey,
                        CAST(date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS day
                 FROM orders),
      v AS (SELECT o_custkey,
                   CAST(row_number() OVER w AS BIGINT) AS version,
                   o_orderkey, day AS valid_from_day,
                   lead(day) OVER w AS valid_to_day
            FROM t WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey))
      SELECT o_custkey, version, o_orderkey, valid_from_day,
             CAST(valid_to_day AS BIGINT) AS valid_to_day,
             CAST(CASE WHEN valid_to_day IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
      FROM v ORDER BY o_custkey, version"""))

  /** TIE-INCLUSIVE top-values cut — `dense_rank() <= 2` per return flag:
    * the per-group cut whose result size is DATA-dependent (every row
    * tied at the top two distinct quantity values survives), the
    * semantics neither q19's row_number (arbitrary-k rows, ties
    * split) nor q242's heap operator (fixed k) can express —
    * "best-price-match all sellers at the two best price points" is
    * this shape. Exercises SPARK-37099's OTHER WindowGroupLimit mode:
    * rank-like functions get a tie-aware group limit pushed below the
    * exchange (RankLimitIterator), where q19/q242 cover row_number.
    * The survivors roll up per group (count, the two quantity values,
    * exact cents sum) so the output is group-sized while the cut
    * itself is exercised on every fact row. Scale: one returnflag
    * shuffle; the group limit bounds what the final sort sees.
    */
  val q249DenseRankTies: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("qty").desc)
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .withColumn("dr", dense_rank().over(w))
        .filter(col("dr") <= 2)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
          max(col("qty")).as("top_qty"),
          min(col("qty")).as("second_qty"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      WITH r AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                        dense_rank() OVER (PARTITION BY l_returnflag
                          ORDER BY CAST(l_quantity AS BIGINT) DESC) AS dr
                 FROM lineitem)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(max(qty) AS BIGINT) AS top_qty,
             CAST(min(qty) AS BIGINT) AS second_qty,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM r WHERE dr <= 2
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Feature-relevance ranking by EXACT Gini information gain — the
    * split-quality score CART/LightGBM evaluate per candidate feature
    * (reference: the feature-importance readout the training module
    * logs beside its LightGBM fit, train_module.py's metric block):
    * four discretized lineitem features are scored against the
    * returnflag label by impurity drop
    * `gain = (1 − Σ_y (c_y/N)²) − Σ_x (n_x/N)(1 − Σ_y (c_xy/n_x)²)`.
    * The whole computation is rational — counts, squares, divisions —
    * NO transcendentals (the ln-based mutual-information twin would
    * put ln() inside the cross-engine contract, the q59-documented
    * midpoint lottery; Gini ranks splits the same way CART does
    * without it). Doubles ship RAW: every per-bucket term is the
    * IDENTICAL fixed-order IEEE sequence on both engines (cast,
    * divide, multiply, subtract) and the cross-bucket sum is a
    * sequential left fold over the bucket list sorted by bucket value
    * (the q230 fold contract) — bit-equal by construction, which
    * round(6) would only endanger. Physical shape: one melt (stack)
    * multiplies the fact scan by the 4 profiled features (the q128
    * batching rule bounds this at width), one map-side-combined hash
    * agg to (feature, bucket, label) cells, a cell→bucket rollup, and
    * a feature-sized fold — the label marginal is a one-row broadcast.
    * Scale: cell cardinality is |features|·|buckets|·|labels|, data-
    * independent; nothing fact-sized survives the first aggregation.
    * BIGINT headroom (q109 rule): `c²` crosses 2^63 when a single
    * (bucket,label) cell holds >3.0e9 rows — at the 100 TB target SF
    * the squares move to DECIMAL(38,0) on both engines.
    */
  val q250GiniRelevance: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("y"), expr(
          """stack(4,
               'discount', CAST(CAST(round(l_discount * 100) AS BIGINT) AS STRING),
               'qtybin',   CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING),
               'shipmonth', CAST(month(to_date(l_shipdate)) AS STRING),
               'tax',      CAST(CAST(round(l_tax * 100) AS BIGINT) AS STRING)
             ) AS (f, x)"""))
        .groupBy(col("f"), col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
      val buckets = cells.groupBy(col("f"), col("x"))
        .agg(sum(col("c")).as("n_x"), sum(col("c") * col("c")).as("s2"))
      val parent = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cy"))
        .agg(sum(col("cy")).as("n_rows"), sum(col("cy") * col("cy")).as("ps2"))
      val terms = buckets.crossJoin(broadcast(parent))
        .withColumn("term",
          (col("n_x").cast("double") / col("n_rows").cast("double")) *
            (lit(1.0) - col("s2").cast("double") /
              (col("n_x").cast("double") * col("n_x").cast("double"))))
        .withColumn("parent_gini",
          lit(1.0) - col("ps2").cast("double") /
            (col("n_rows").cast("double") * col("n_rows").cast("double")))
      terms.groupBy(col("f"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("n_rows")).as("n_rows"),
          max(col("parent_gini")).as("parent_gini"),
          expr("""aggregate(array_sort(collect_list(struct(x, term))),
                 cast(0.0 as double), (a, e) -> a + e.term)""").as("child_gini"))
        .select(col("f").as("feature"), col("n_buckets"), col("n_rows"),
          col("parent_gini"), col("child_gini"),
          (col("parent_gini") - col("child_gini")).as("gini_gain"))
        .orderBy(col("feature"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT 'discount' AS f,
               CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR) AS x,
               l_returnflag AS y FROM lineitem
        UNION ALL
        SELECT 'qtybin', CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR),
               l_returnflag FROM lineitem
        UNION ALL
        SELECT 'shipmonth', CAST(month(CAST(l_shipdate AS DATE)) AS VARCHAR),
               l_returnflag FROM lineitem
        UNION ALL
        SELECT 'tax', CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR),
               l_returnflag FROM lineitem),
      cells AS (SELECT f, x, y, count(*) AS c FROM m GROUP BY f, x, y),
      buckets AS (SELECT f, x, CAST(sum(c) AS BIGINT) AS n_x,
                         CAST(sum(c * c) AS BIGINT) AS s2
                  FROM cells GROUP BY f, x),
      lab AS (SELECT l_returnflag, count(*) AS cy FROM lineitem GROUP BY 1),
      parent AS (SELECT CAST(sum(cy) AS BIGINT) AS n_rows,
                        CAST(sum(cy * cy) AS BIGINT) AS ps2 FROM lab),
      terms AS (
        SELECT b.f, b.x,
               (CAST(b.n_x AS DOUBLE) / CAST(p.n_rows AS DOUBLE)) *
                 (1.0 - CAST(b.s2 AS DOUBLE) /
                   (CAST(b.n_x AS DOUBLE) * CAST(b.n_x AS DOUBLE))) AS term,
               p.n_rows,
               1.0 - CAST(p.ps2 AS DOUBLE) /
                 (CAST(p.n_rows AS DOUBLE) * CAST(p.n_rows AS DOUBLE))
                 AS parent_gini
        FROM buckets b CROSS JOIN parent p)
      SELECT f AS feature, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(max(n_rows) AS BIGINT) AS n_rows,
             max(parent_gini) AS parent_gini,
             list_reduce(list_prepend(0.0, list(term ORDER BY x)),
               (a, b) -> a + b) AS child_gini,
             max(parent_gini) - list_reduce(list_prepend(0.0,
               list(term ORDER BY x)), (a, b) -> a + b) AS gini_gain
      FROM terms GROUP BY f ORDER BY feature"""))

  /** WEIGHTED single-source shortest paths by fixed-round Bellman-Ford
    * relaxation — q222's BFS gives HOP counts; this gives COST paths
    * over the same co-purchase graph with integer edge weights
    * `w = 1 + 100 div co` (strong ties are short), the
    * "affinity distance" a recommender's related-items walk actually
    * ranks by. Four relaxation rounds from the 3 smallest part ids
    * replay EXACTLY on both engines (chained CTEs, the q85/q127
    * fixed-iteration contract), emitting the per-round
    * (landmark, reached, Σdist, max dist) trace — all integers,
    * frontier growth and cost tightening both visible (a node's dist
    * can DROP in a later round when a cheaper multi-hop path arrives:
    * the semantics BFS cannot express). Physical shape: each round is
    * one hash join dist⋈edges on the node key + one (landmark, node)
    * min-aggregation, `localCheckpoint(true)`-barriered (the q127
    * re-analysis disease; each round's frame feeds the next round AND
    * its trace row). State is (landmarks × reached nodes) — landmark
    * count bounds the multiplier, never |V|². A delta-frontier
    * variant (only rows whose dist improved last round relax — the
    * Bellman-Ford work-list rule, same fixpoint) was A/B-measured and
    * REJECTED for this graph: the co-purchase graph is dense with
    * diameter ≈ 2 and 10× co-counts collapse most weights to 1, so
    * the frontier never shrinks and the work-list bookkeeping (one
    * extra dist-sized join + materialization per round) costs more
    * than it saves — 42.6 s vs 26.4 s at the 10× sweep point. On a
    * sparse large-diameter graph (road-network class, diameter ≫
    * round budget) the trade inverts and the delta form is the
    * production swap; the min-agg stays hash-partitioned on node
    * either way. BIGINT headroom
    * (q109 rule): dist ≤ rounds·101 so Σdist stays < 2^63 until the
    * reached set exceeds ~2×10^16 nodes — never at any real SF.
    */
  val q251SsspWeighted: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ew = coPairCounts(s, dir)
        .select(col("p1").as("u"), col("p2").as("v"),
          expr("CAST(1 + 100 div co AS BIGINT)").as("w"))
      val edges = Rounds.symmetric(ew, "u", "v").localCheckpoint(true)
      var dist = edges.select(col("u").as("node")).distinct()
        .orderBy(col("node")).limit(3)
        .select(col("node").as("landmark"), col("node"), lit(0L).as("d"))
        .localCheckpoint(true)
      var trace = Vector.empty[DataFrame]
      for (r <- 1 to 4) {
        val relaxed = dist.join(edges, col("node") === col("u"))
          .select(col("landmark"), col("v").as("node"),
            (col("d") + col("w")).as("d"))
        dist = dist.unionByName(relaxed)
          .groupBy(col("landmark"), col("node")).agg(min(col("d")).as("d"))
          .localCheckpoint(true)
        trace = trace :+ dist.groupBy(col("landmark"))
          .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_dist"),
            max(col("d")).as("max_dist"))
          .select(lit(r.toLong).as("round"), col("landmark"),
            col("n_reached"), col("sum_dist"), col("max_dist"))
      }
      trace.reduce(_ unionByName _).orderBy(col("round"), col("landmark"))
    },
    oracle = Some {
      val rounds = (1 to 4).map { r =>
        s"""d$r AS (SELECT landmark, node, min(d) AS d FROM (
             SELECT landmark, node, d FROM d${r - 1}
             UNION ALL
             SELECT p.landmark, e.v AS node, p.d + e.w AS d
             FROM d${r - 1} p JOIN edges e ON p.node = e.u)
           GROUP BY landmark, node)"""
      }.mkString(",\n      ")
      val traces = (1 to 4).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, landmark,
               CAST(count(*) AS BIGINT) AS n_reached,
               CAST(sum(d) AS BIGINT) AS sum_dist,
               CAST(max(d) AS BIGINT) AS max_dist
           FROM d$r GROUP BY landmark"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      pc AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS co
             FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
             GROUP BY 1, 2),
      ew AS (SELECT p1 AS u, p2 AS v, CAST(1 + 100 // co AS BIGINT) AS w
             FROM pc),
      edges AS (SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew),
      lms AS (SELECT node FROM (SELECT DISTINCT u AS node FROM edges)
              ORDER BY node LIMIT 3),
      d0 AS (SELECT node AS landmark, node, CAST(0 AS BIGINT) AS d
             FROM lms),
      $rounds
      SELECT * FROM (
        $traces)
      ORDER BY round, landmark"""
    })

  /** EXACT Newman modularity audit of the q164 label-propagation
    * communities — the quality score that tells you whether a
    * community detection run actually found structure
    * (Q = Σ_c [e_c/m − (d_c/2m)²], Newman & Girvan 2004). The entire
    * score stays in INTEGER arithmetic (the q49/q60 rational
    * contract): per community the numerator contribution
    * `4·m·e_c − d_c²` over the common denominator `4m²` — no float
    * division ever forms, so the cross-engine compare is exact. Three
    * LP rounds replay exactly on both engines (q164's fixed-iteration
    * contract), then one degree rollup, one both-endpoints-labeled
    * join for the internal-edge counts, and a community-sized
    * aggregation. Output: the 10 largest communities' rows plus a
    * global row (community = −1) carrying Σ q_num — the full Q
    * numerator — beside total vertices, Σ internal edges (coverage)
    * and d_sum = 2m (a built-in handshake check). Physical shape: the
    * final `labels` frame feeds THREE consumers (n/d rollup + both
    * endpoint joins) so it is eagerly materialized
    * (`localCheckpoint(true)`, the [[PrefixScan]] multi-consumer
    * rule); the endpoint joins are hash joins on the vertex key. At
    * 100 TB the LP labels come from the same iteration and everything
    * downstream is one vertex-keyed and one community-keyed shuffle.
    * BIGINT headroom (q109 rule): q_den = 4m² crosses 2^63 at
    * m ≈ 1.5×10⁹ undirected edges — past that both engines move the
    * q columns to DECIMAL(38,0).
    */
  val q252Modularity: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pairs = coPairCounts(s, dir).select(col("p1"), col("p2"))
      val edges = Rounds.symmetric(
          pairs.select(col("p1").as("src"), col("p2").as("dst")), "src", "dst")
        .localCheckpoint(true)
      val labels = labelPropagation(edges, dir).localCheckpoint(true)
      val m = pairs.agg(count(lit(1)).as("m"))
      val dc = edges.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .join(labels.select(col("v").as("src"), col("lbl")), "src")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
      val ein = pairs
        .join(labels.select(col("v").as("p1"), col("lbl").as("c1")), "p1")
        .join(labels.select(col("v").as("p2"), col("lbl").as("c2")), "p2")
        .filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("community")).agg(count(lit(1)).as("e_in"))
      val comm = dc.join(ein, Seq("community"), "left")
        .select(col("community"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"))
        .crossJoin(broadcast(m))
        .withColumn("q_num",
          lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
        .withColumn("q_den", lit(4L) * col("m") * col("m"))
        .localCheckpoint(true)
      val top = comm
        .orderBy(col("n_nodes").desc, col("community")).limit(10)
        .select(col("community"), col("n_nodes"), col("e_in"),
          col("d_sum"), col("q_num"), col("q_den"))
      val glob = comm.groupBy(col("q_den"))
        .agg(sum(col("n_nodes")).as("n_nodes"), sum(col("e_in")).as("e_in"),
          sum(col("d_sum")).as("d_sum"), sum(col("q_num")).as("q_num"))
        .select(lit(-1L).as("community"), col("n_nodes"), col("e_in"),
          col("d_sum"), col("q_num"), col("q_den"))
      top.unionByName(glob).orderBy(col("community"))
    },
    oracle = Some {
      val rounds = (1 to 3).map { k =>
        s"""n$k AS (SELECT e.src AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
              FROM edges e JOIN l${k - 1} l ON e.dst = l.v GROUP BY 1, 2),
      l$k AS (SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER (PARTITION BY v
                         ORDER BY c DESC, lbl) AS rn FROM n$k)
              WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
      $rounds,
      lab AS (SELECT v, lbl FROM l3),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
      deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
              FROM edges GROUP BY 1),
      dc AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                    CAST(sum(d.deg) AS BIGINT) AS d_sum
             FROM lab l JOIN deg d ON d.v = l.v GROUP BY 1),
      ein AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
              FROM pairs p JOIN lab la ON la.v = p.src
                           JOIN lab lb ON lb.v = p.dst
              WHERE la.lbl = lb.lbl GROUP BY 1),
      comm AS (SELECT d.community, d.n_nodes,
                      CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, d.d_sum,
                      CAST(4 * mm.m * coalesce(e.e_in, 0)
                           - d.d_sum * d.d_sum AS BIGINT) AS q_num,
                      CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
               FROM dc d LEFT JOIN ein e ON e.community = d.community
               CROSS JOIN mm)
      SELECT * FROM (
        SELECT community, n_nodes, e_in, d_sum, q_num, q_den
        FROM comm ORDER BY n_nodes DESC, community LIMIT 10)
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS community,
             CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
             CAST(sum(e_in) AS BIGINT) AS e_in,
             CAST(sum(d_sum) AS BIGINT) AS d_sum,
             CAST(sum(q_num) AS BIGINT) AS q_num,
             CAST(max(q_den) AS BIGINT) AS q_den
      FROM comm
      ORDER BY community"""
    })

  /** Topology-only LINK PREDICTION over the part co-purchase graph
    * (Liben-Nowell & Kleinberg 2007) — the "which edges are missing"
    * question a recommender asks of its co-occurrence graph, and the
    * complement of everything the graph family measures about edges
    * that exist. Candidate generation runs over the k-NN
    * SPARSIFICATION of the graph (each vertex keeps its top-8
    * neighbors by co-count desc, id — the standard k-NN-graph
    * preprocessing), which bounds wedge fan-out at |V|·C(8,2) = 28·|V|
    * — LINEAR in vertices where raw wedge enumeration is Σ C(d_z,2)
    * (quadratic in hub degree; this fixture's co-purchase graph has
    * median degree ≈ 100–120 at every SF, so the raw form is ~180×
    * the sparsified one). The top-8 lists are built by the custom
    * [[graft.plans.GroupTopK]] operator — bounded map-side heaps, no
    * per-partition sort (its third catalog consumer after q242/m16).
    * For every pair (a,b) co-listed under ≥2 shared centers and NOT
    * adjacent in the FULL graph, three classic scores: common-
    * neighbor count `cn` (over the sparsified lists), preferential
    * attachment `pa = d_a·d_b` (Barabási; full-graph degrees), and
    * the Resource-Allocation index (Zhou, Lü & Zhang 2009) in floored
    * integer millionths `ra_micro = Σ_z 10^6 div d_z` — RA's 1/d_z
    * hub down-weighting made exact under the q85 scaled-integer
    * contract (the ln-weighted Adamic–Adar twin would put a
    * transcendental in the cross-engine compare; RA ranks the same
    * way with one integer division per center). Plan: one (a,b)-keyed
    * wedge rollup, an anti-join against the edge list on the same
    * (a,b) key, then two vertex-degree joins — unhinted so AQE
    * broadcasts the vertex table only while it fits (the q201
    * lesson). BIGINT headroom (q109 rule): cn ≤ 28·|V| only if one
    * pair dominated every list (real bound 2·8·…), ra_micro ≤
    * cn·5·10^5, pa < 2^63 until degrees pass 3×10^9 — never for a
    * part catalog. Oracle replays the identical sparsify+wedge
    * arithmetic with row_number in place of GroupTopK (two
    * implementations of the same top-k contract); every emitted
    * column is a BIGINT.
    */
  val q258LinkPrediction: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pc = coPairCounts(s, dir)
      val pairs = pc.select(col("p1"), col("p2"))
      val adj = Rounds.symmetric(
          pc.select(col("p1").as("z"), col("p2").as("nb"), col("co")), "z", "nb")
        .localCheckpoint(true)
      val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
      val knn = graft.plans.GroupTopK.topKPerKey(
          adj, Seq(col("z")), Seq(col("co").desc, col("nb")), 8)
        .join(deg, "z")
      val cand = knn.as("x").join(knn.as("y"),
          col("x.z") === col("y.z") && col("x.nb") < col("y.nb"))
        .groupBy(col("x.nb").as("a"), col("y.nb").as("b"))
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 div x.deg")).as("ra_micro"))
        .filter(col("cn") >= 2)
      cand.join(pairs, cand("a") === pairs("p1") && cand("b") === pairs("p2"),
          "left_anti")
        .join(deg.select(col("z").as("a"), col("deg").as("d_a")), "a")
        .join(deg.select(col("z").as("b"), col("deg").as("d_b")), "b")
        .select(col("a"), col("b"), col("cn"), col("ra_micro"),
          col("d_a"), col("d_b"), (col("d_a") * col("d_b")).as("pa"))
        .orderBy(col("cn").desc, col("ra_micro").desc, col("a"), col("b"))
        .limit(20)
    },
    oracle = Some("""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS co
                FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2),
      adj AS (SELECT p1 AS z, p2 AS nb, co FROM pairs
              UNION ALL SELECT p2 AS z, p1 AS nb, co FROM pairs),
      deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      knn AS (SELECT r.z, r.nb, d.deg FROM (
                SELECT z, nb, row_number() OVER (
                  PARTITION BY z ORDER BY co DESC, nb) AS rn FROM adj) r
              JOIN deg d ON d.z = r.z
              WHERE r.rn <= 8),
      cand AS (SELECT x.nb AS a, y.nb AS b,
                      CAST(count(*) AS BIGINT) AS cn,
                      CAST(sum(1000000 // x.deg) AS BIGINT) AS ra_micro
               FROM knn x JOIN knn y ON x.z = y.z AND x.nb < y.nb
               GROUP BY 1, 2
               HAVING count(*) >= 2)
      SELECT c.a, c.b, c.cn, c.ra_micro, da.deg AS d_a, db.deg AS d_b,
             CAST(da.deg * db.deg AS BIGINT) AS pa
      FROM cand c
      JOIN deg da ON da.z = c.a
      JOIN deg db ON db.z = c.b
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.p1 = c.a AND p.p2 = c.b)
      ORDER BY cn DESC, ra_micro DESC, a, b
      LIMIT 20"""))

  /** The distribution-rank window trio — `ntile` (equi-count bucket
    * assignment), `percent_rank` ((rank−1)/(n−1)) and `cume_dist`
    * (rank_last/n) — the remaining SQL:2003 ranking functions the
    * catalog's window family (row_number q17, lag q18, rank q19,
    * dense_rank q249) had not yet pinned cross-engine. Partitioned by
    * order priority over exact order-value cents with a UNIQUE sort
    * key (cents, orderkey) so every rank — and therefore every
    * emitted fraction — is deterministic; the fractions ship RAW
    * (one integer division each, the identical IEEE op on both
    * engines — the q230 bit-equal class). A modulo probe keeps the
    * output presentation-sized while the windows still compute over
    * every row. Scale: one priority-keyed shuffle; within-partition
    * sort parallelizes per key — the q19 class (at corpus scale a
    * global-ordered variant swaps in [[PrefixScan]], the q97/q166
    * distributed-CDF kernel).
    */
  val q254RankFractions: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("cents"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("quartile", ntile(4).over(w).cast("bigint"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .filter(pmod(col("o_orderkey"), lit(997L)) === 0)
        .select(col("o_orderpriority"), col("o_orderkey"), col("cents"),
          col("quartile"), col("pr"), col("cd"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_orderpriority, o_orderkey, cents, quartile, pr, cd
      FROM (
        SELECT o_orderpriority, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                              o_orderkey))
      WHERE o_orderkey % 997 = 0
      ORDER BY o_orderpriority, o_orderkey"""))

  /** Jaro–Winkler entity-resolution scoring over the part-name
    * vocabulary — the prefix-weighted, transposition-tolerant
    * similarity record linkage uses where q89's levenshtein-≤2 rule
    * is too rigid (product names share prefixes; field-swap typos are
    * transpositions). The scorer is our own codegen Catalyst
    * expression [[graft.functions.JaroWinkler]]; the ORACLE calls
    * DuckDB's NATIVE `jaro_winkler_similarity` — two independent
    * implementations of the published algorithm, and the doubles ship
    * RAW because the op sequences were pinned bit-identical (see the
    * expression scaladoc: fixture-wide max |Δ| = 0 plus an
    * adversarial battery BEFORE this contract was committed). Pairs
    * come from the DISTINCT name vocabulary (Heaps-bounded — the
    * all-pairs is |vocab|², never |rows|²), score ≥ 0.84 survives,
    * and each side carries its occurrence count so the output ranks
    * by collision mass. At 100 TB the vocabulary still fits one
    * executor's broadcast and the pair generation stays
    * vocabulary-quadratic; a grown vocabulary swaps in q89's bigram
    * prefix-filter as the candidate cut with this scorer as the
    * verify. Scale: one distinct-rollup shuffle + a broadcast
    * self-join on the tiny vocab.
    */
  val q255JaroWinklerMatch: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val counts = Tables.part(s, dir)
        .groupBy(col("p_name").as("nm")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val a = counts.select(col("nm").as("n1"), col("cnt").as("cnt1"))
      val b = counts.select(col("nm").as("n2"), col("cnt").as("cnt2"))
      a.join(broadcast(b), col("n1") < col("n2"))
        .withColumn("jw",
          graft.functions.JaroWinkler.jaroWinkler(col("n1"), col("n2")))
        .filter(col("jw") >= 0.84)
        .select(col("n1"), col("n2"), col("jw"), col("cnt1"), col("cnt2"))
        .orderBy(col("n1"), col("n2"))
    },
    oracle = Some("""
      WITH c AS (SELECT p_name AS nm, CAST(count(*) AS BIGINT) AS cnt
                 FROM part GROUP BY 1)
      SELECT a.nm AS n1, b.nm AS n2,
             jaro_winkler_similarity(a.nm, b.nm) AS jw,
             a.cnt AS cnt1, b.cnt AS cnt2
      FROM c a JOIN c b ON a.nm < b.nm
      WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.84
      ORDER BY n1, n2"""))

  /** UNRESTRICTED Damerau–Levenshtein scoring
    * ([[graft.functions.Damerau]], Lowrance & Wagner 1975) pinned
    * cross-engine against DuckDB's NATIVE `damerau_levenshtein` — the
    * q255 two-independent-implementations pattern for the typo metric
    * q89's plain levenshtein under-scores (a swapped adjacent pair is
    * ONE keystroke error, not two; Damerau 1964 measured ~80% of
    * misspellings as single-op). Two probe families over the part
    * name vocabulary (the fixture's FIXED 64-value p_name domain —
    * vocabulary-bounded all-pairs, the q255 shape): (a) every a<b
    * name pair scored with BOTH dl and lev — 2016 multi-word ~25-char
    * pairs through the full DP, any divergence in either
    * implementation hash-mismatches; (b)
    * per-word CONSTRUCTED variants that force the transposition path
    * — the 3↔4 adjacent swap (dl 1 vs lev 2 when the chars differ)
    * and the rotate-first-to-last form (the delete+insert shape a
    * transposition chain must NOT beat) — both built from identical
    * substring arithmetic on the two engines. Everything is integer;
    * the variant is DL = unrestricted (d("ca","abc")=2 — verified as
    * DuckDB's semantics before the contract was committed; OSA would
    * give 3 and is not a metric). Scale: all-pairs is
    * |vocab|²-bounded by contract (the q89 bigram index is the
    * fact-scale prefilter); scoring runs inside whole-stage codegen.
    */
  val q262DamerauScores: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val words = Tables.part(s, dir)
        .select(col("p_name").as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val dl = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        graft.functions.Damerau.damerau(a, b)
      val pairs = words.select(col("w").as("n1"))
        .join(broadcast(words.select(col("w").as("n2"))), col("n1") < col("n2"))
        .select(col("n1"), col("n2"), lit("pair").as("kind"),
          dl(col("n1"), col("n2")).as("dl"),
          levenshtein(col("n1"), col("n2")).cast("bigint").as("lev"))
      val swapped = words.filter(length(col("w")) >= 4)
        .select(col("w").as("n1"),
          concat(substring(col("w"), 1, 2), substring(col("w"), 4, 1),
            substring(col("w"), 3, 1), substring(col("w"), 5, 1000000))
            .as("n2"))
        .select(col("n1"), col("n2"), lit("swap34").as("kind"),
          dl(col("n1"), col("n2")).as("dl"),
          levenshtein(col("n1"), col("n2")).cast("bigint").as("lev"))
      val rotated = words.filter(length(col("w")) >= 4)
        .select(col("w").as("n1"),
          concat(substring(col("w"), 2, 1000000), substring(col("w"), 1, 1))
            .as("n2"))
        .select(col("n1"), col("n2"), lit("rot1").as("kind"),
          dl(col("n1"), col("n2")).as("dl"),
          levenshtein(col("n1"), col("n2")).cast("bigint").as("lev"))
      pairs.unionByName(swapped).unionByName(rotated)
        .orderBy(col("kind"), col("n1"), col("n2"))
    },
    oracle = Some("""
      WITH w AS (SELECT p_name AS w,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM part GROUP BY 1),
      pairs AS (SELECT a.w AS n1, b.w AS n2, 'pair' AS kind
                FROM w a JOIN w b ON a.w < b.w),
      swapped AS (SELECT w AS n1,
                         substring(w, 1, 2) || substring(w, 4, 1) ||
                         substring(w, 3, 1) || substring(w, 5, 1000000) AS n2,
                         'swap34' AS kind
                  FROM w WHERE length(w) >= 4),
      rotated AS (SELECT w AS n1,
                         substring(w, 2, 1000000) || substring(w, 1, 1) AS n2,
                         'rot1' AS kind
                  FROM w WHERE length(w) >= 4),
      u AS (SELECT * FROM pairs UNION ALL SELECT * FROM swapped
            UNION ALL SELECT * FROM rotated)
      SELECT n1, n2, kind,
             CAST(damerau_levenshtein(n1, n2) AS BIGINT) AS dl,
             CAST(levenshtein(n1, n2) AS BIGINT) AS lev
      FROM u
      ORDER BY kind, n1, n2"""))

  /** RENDEZVOUS (highest-random-weight) SHARDING audit (Thaler &
    * Ravishankar 1998) — the data-placement rule that makes elastic
    * resharding an O(1/n)-data move instead of a full reshuffle:
    * every key goes to the shard maximizing hash(key, shard), so when
    * a shard is REMOVED exactly its own keys move (everyone else's
    * argmax is untouched) — the minimal-disruption law consistent
    * hashing is usually reached for, with no ring metadata. The query
    * assigns every customer to 8 shards and again to 7 (shard 7
    * removed) and emits the per-shard audit: full-cluster count,
    * reduced-cluster count, and INFLOW (keys that moved in) — the law
    * shows up in the data as inflow summing to exactly shard 7's
    * population and n_reduced = n_full + inflow everywhere else, all
    * hash-compared cross-engine. The score function CANNOT be the
    * house polynomial rolling hash: for a fixed key, the 8 shard
    * variants of any input string differ by a fixed character
    * pattern, and a polynomial hash maps a fixed input difference to
    * a CONSTANT shift Δ·31^k — so h(u,s) = h(u,0) + s·C mod P, a
    * lattice whose argmax collapses (measured: 90% of keys on one
    * shard with a trailing shard digit; 55% with a length-varying
    * run, which is just the orbit of x→31x+122). HRW needs per-(key,
    * shard) NONLINEARITY, so the score is a two-round
    * multiply-mod-P / xor-shift mixer (the murmur finalizer shape) in
    * pure BIGINT arithmetic both engines replay: x=(x·2654435761)
    * mod P; x^=x≫15; x=(x·1597334677) mod P; x^=x≫13 over
    * x₀=key·8+shard+1 — measured balance 168–208 per shard on 1500
    * keys (uniform = 187.5) with inflow spread across all seven
    * survivors. The final ×8+shard term makes every (key, shard)
    * score DISTINCT BY CONSTRUCTION —
    * argmax ties cannot exist, so the cross-engine compare never
    * meets a tie rule (scores < 8·P + 8 < 2^34, BIGINT-safe). Scale:
    * assignment is MAP-ONLY (8 codegen hash evals per row, no
    * shuffle, no coordination state) — at 100 TB the audit's only
    * shuffle is the 8-key rollup; balance across shards is the
    * uniform-hash guarantee, visible in the emitted counts.
    */
  val q264RendezvousSharding: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val shards = (0 to 7).map(i => lit(i.toLong)).toArray
      val score = (sh: org.apache.spark.sql.Column) => {
        val x0 = col("c_custkey").cast("long") * 8 + sh + 1
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        val x4 = x3.bitwiseXOR(shiftright(x3, 13))
        x4 * 8 + sh
      }
      val assigned = Tables.customer(s, dir).select(col("c_custkey"))
        .select(col("c_custkey"),
          explode(array(shards.map(sh =>
            struct(score(sh).as("sc"), sh.as("shard"))): _*)).as("e"))
        .select(col("c_custkey"), col("e.sc"), col("e.shard"))
        .groupBy(col("c_custkey"))
        .agg(
          max(struct(col("sc"), col("shard"))).getField("shard").as("full"),
          max(when(col("shard") < 7, struct(col("sc"), col("shard"))))
            .getField("shard").as("reduced"))
        .localCheckpoint(true)
      val nFull = assigned.groupBy(col("full").as("shard"))
        .agg(count(lit(1)).as("n_full"))
      val nRed = assigned.groupBy(col("reduced").as("shard"))
        .agg(count(lit(1)).as("n_reduced"))
      val inflow = assigned.filter(col("full") =!= col("reduced"))
        .groupBy(col("reduced").as("shard"))
        .agg(count(lit(1)).as("inflow"))
      nFull.join(nRed, Seq("shard"), "left")
        .join(inflow, Seq("shard"), "left")
        .select(col("shard"), col("n_full"),
          coalesce(col("n_reduced"), lit(0L)).as("n_reduced"),
          coalesce(col("inflow"), lit(0L)).as("inflow"))
        .orderBy(col("shard"))
    },
    oracle = Some {
      s"""
      WITH x1 AS (SELECT c_custkey, s.shard,
                         (CAST(c_custkey AS BIGINT) * 8 + s.shard + 1)
                           * 2654435761 % 2147483647 AS x
                  FROM customer, (SELECT unnest(range(0, 8)) AS shard) s),
      x2 AS (SELECT c_custkey, shard, xor(x, x >> 15) AS x FROM x1),
      x3 AS (SELECT c_custkey, shard,
                    x * 1597334677 % 2147483647 AS x FROM x2),
      sc AS (SELECT c_custkey, shard,
                    xor(x, x >> 13) * 8 + shard AS sc FROM x3),
      a AS (SELECT c_custkey,
                   arg_max(shard, sc) AS fs,
                   arg_max(CASE WHEN shard < 7 THEN shard END,
                           CASE WHEN shard < 7 THEN sc END) AS rs
            FROM sc GROUP BY 1),
      nf AS (SELECT fs AS shard, CAST(count(*) AS BIGINT) AS n_full
             FROM a GROUP BY 1),
      nr AS (SELECT rs AS shard, CAST(count(*) AS BIGINT) AS n_reduced
             FROM a GROUP BY 1),
      mv AS (SELECT rs AS shard, CAST(count(*) AS BIGINT) AS inflow
             FROM a WHERE fs <> rs GROUP BY 1)
      SELECT nf.shard, nf.n_full,
             CAST(coalesce(nr.n_reduced, 0) AS BIGINT) AS n_reduced,
             CAST(coalesce(mv.inflow, 0) AS BIGINT) AS inflow
      FROM nf LEFT JOIN nr ON nr.shard = nf.shard
              LEFT JOIN mv ON mv.shard = nf.shard
      ORDER BY nf.shard"""
    })

  /** EXACT SPEARMAN rank correlation between two part rankings —
    * revenue cents vs total quantity — the rank-correlation readout
    * q182's Pearson sufficient statistics can't give (Pearson sees
    * linear co-movement; Spearman sees MONOTONE agreement, robust to
    * the heavy-tailed revenue scale). Ranks are made UNIQUE by the
    * (measure, partkey) tiebreak so d_i = rx_i − ry_i is
    * deterministic, and the whole statistic stays integer (the
    * q49/q60 rational contract): ρ = rho_num/rho_den with
    * rho_num = n(n²−1) − 6·Σd², rho_den = n(n²−1) — no division ever
    * forms. Beside the summary row, the top-10 most RANK-DISCORDANT
    * parts ship as drill-down rows (|d| desc) — "high demand, low
    * revenue" outliers, the actionable part of a correlation audit.
    * The rank windows run over the per-part ROLLUP — |parts|-bounded
    * by construction (the fact table shuffles once into the rollup;
    * ExplainSpec.windowAllowlist names the bound; at corpus scale the
    * global-ordered variant swaps in the [[PrefixScan]] distributed
    * CDF kernel, the q166 shape). BIGINT headroom (q109 rule):
    * n(n²−1) crosses 2^63 at n ≈ 2.1×10⁶ parts — sf0.1 is 2×10⁴;
    * past that both engines move the rational to DECIMAL(38,0).
    */
  val q265SpearmanRanks: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val roll = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("partkey"))
        .agg(
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("rev"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .localCheckpoint(true)
      val ranked = roll
        .withColumn("rx", row_number().over(
          Window.orderBy(col("rev").desc, col("partkey"))).cast("long"))
        .withColumn("ry", row_number().over(
          Window.orderBy(col("qty").desc, col("partkey"))).cast("long"))
        .withColumn("d", col("rx") - col("ry"))
        .localCheckpoint(true)
      val n = ranked.agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).as("sum_d2"))
      val summary = n.select(
        lit("summary").as("kind"), lit(-1L).as("partkey"),
        lit(0L).as("rx"), lit(0L).as("ry"), lit(0L).as("d"),
        col("n"), col("sum_d2"),
        (col("n") * (col("n") * col("n") - 1) - lit(6L) * col("sum_d2"))
          .as("rho_num"),
        (col("n") * (col("n") * col("n") - 1)).as("rho_den"))
      val discord = ranked
        .orderBy(abs(col("d")).desc, col("partkey")).limit(10)
        .select(lit("discord").as("kind"), col("partkey"),
          col("rx"), col("ry"), col("d"),
          lit(0L).as("n"), lit(0L).as("sum_d2"),
          lit(0L).as("rho_num"), lit(0L).as("rho_den"))
      summary.unionByName(discord)
        .orderBy(col("kind"), col("partkey"))
    },
    oracle = Some("""
      WITH roll AS (SELECT l_partkey AS partkey,
                           CAST(sum(CAST(round(l_extendedprice * 100)
                                    AS BIGINT)) AS BIGINT) AS rev,
                           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                             AS qty
                    FROM lineitem GROUP BY 1),
      ranked AS (SELECT partkey,
                        CAST(row_number() OVER (ORDER BY rev DESC, partkey)
                             AS BIGINT) AS rx,
                        CAST(row_number() OVER (ORDER BY qty DESC, partkey)
                             AS BIGINT) AS ry
                 FROM roll),
      d AS (SELECT partkey, rx, ry, rx - ry AS d FROM ranked),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(d * d) AS BIGINT) AS sum_d2 FROM d)
      SELECT * FROM (
        SELECT 'summary' AS kind, CAST(-1 AS BIGINT) AS partkey,
               CAST(0 AS BIGINT) AS rx, CAST(0 AS BIGINT) AS ry,
               CAST(0 AS BIGINT) AS d, n, sum_d2,
               CAST(n * (n * n - 1) - 6 * sum_d2 AS BIGINT) AS rho_num,
               CAST(n * (n * n - 1) AS BIGINT) AS rho_den
        FROM st
        UNION ALL
        SELECT 'discord', partkey, rx, ry, d,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM (SELECT * FROM d ORDER BY abs(d) DESC, partkey LIMIT 10))
      ORDER BY kind, partkey"""))

  /** MONDRIAN k-ANONYMIZATION (LeFevre, DeWitt & Ramakrishnan 2006)
    * over the (balance-cents, nationkey) quasi-identifier pair — the
    * GENERALIZER q160's audit only measures: recursively cut the QI
    * space at per-partition medians (kd-tree style, dims alternating
    * cents→nation→cents over 3 fixed rounds — the q85/q251 fixed-
    * iteration contract) and take a cut ONLY when both children keep
    * ≥ k = 50 members; surviving leaves are the published
    * generalization boxes. Every step is integer-exact: the split
    * point is the LOWER MEDIAN (the ⌈n/2⌉-th smallest value of the
    * multiset — deterministic under ties because only the VALUE at
    * that rank matters), membership is v ≤ median, and the refusal
    * rule is two integer counts. Emits one row per leaf: the path
    * (cut history), population, the generalized [min,max] box per
    * dim, and the k_ok verdict — every leaf ≥ k BY CONSTRUCTION,
    * visible in the data. Oracle replays all three rounds as chained
    * CTEs (median via row_number = (n+1)//2, identical refusal
    * arithmetic). Scale: each round is one (path)-keyed window + a
    * path-keyed rollup joined back — path cardinality ≤ 2^round; at
    * corpus scale the per-path median swaps to the [[PrefixScan]]
    * distributed CDF kernel (q166) exactly like every exact-quantile
    * computation here.
    */
  val q266MondrianAnon: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      var cur = Tables.customer(s, dir)
        .select(expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"),
          col("c_nationkey").cast("long").as("nk"),
          lit("").as("path"))
        .localCheckpoint(true)
      for (dim <- Seq("cents", "nk", "cents")) {
        val wOrd = Window.partitionBy(col("path")).orderBy(col(dim))
        val wAll = Window.partitionBy(col("path"))
        val ranked = cur
          .withColumn("rn", row_number().over(wOrd).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
        val med = ranked
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("path"), col(dim).as("med"))
        val counted = cur.join(med, "path")
          .groupBy(col("path"), col("med"))
          .agg(sum(when(col(dim) <= col("med"), 1L).otherwise(0L)).as("nl"),
            count(lit(1)).as("n"))
        cur = cur.join(counted.select(col("path"), col("med"),
            (col("nl") >= 50 && col("n") - col("nl") >= 50).as("doSplit")),
            "path")
          .withColumn("path", when(col("doSplit"),
              concat(col("path"),
                when(col(dim) <= col("med"), lit("0")).otherwise(lit("1"))))
            .otherwise(col("path")))
          .select(col("cents"), col("nk"), col("path"))
          .localCheckpoint(true)
      }
      cur.groupBy(col("path"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"),
          min(col("nk")).as("lo_nk"), max(col("nk")).as("hi_nk"))
        .withColumn("k_ok", col("n") >= 50)
        .orderBy(col("path"))
    },
    oracle = Some {
      val rounds = Seq("cents", "nk", "cents").zipWithIndex.map {
        case (dim, i) =>
          val r = i + 1
          s"""m$r AS (SELECT path,
                 max(CASE WHEN rn = (n + 1) // 2 THEN $dim END) AS med
               FROM (SELECT path, $dim,
                            row_number() OVER (PARTITION BY path
                              ORDER BY $dim) AS rn,
                            count(*) OVER (PARTITION BY path) AS n
                     FROM p${r - 1})
               GROUP BY path),
      c$r AS (SELECT p.path,
                     sum(CASE WHEN p.$dim <= m.med THEN 1 ELSE 0 END) AS nl,
                     count(*) AS n
              FROM p${r - 1} p JOIN m$r m ON m.path = p.path
              GROUP BY p.path),
      p$r AS (SELECT p.cents, p.nk,
                     CASE WHEN c.nl >= 50 AND c.n - c.nl >= 50
                          THEN p.path || (CASE WHEN p.$dim <= m.med
                                               THEN '0' ELSE '1' END)
                          ELSE p.path END AS path
              FROM p${r - 1} p
              JOIN m$r m ON m.path = p.path
              JOIN c$r c ON c.path = p.path)"""
      }.mkString(",\n      ")
      s"""
      WITH p0 AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                         CAST(c_nationkey AS BIGINT) AS nk,
                         '' AS path
                  FROM customer),
      $rounds
      SELECT path, CAST(count(*) AS BIGINT) AS n,
             CAST(min(cents) AS BIGINT) AS lo_cents,
             CAST(max(cents) AS BIGINT) AS hi_cents,
             CAST(min(nk) AS BIGINT) AS lo_nk,
             CAST(max(nk) AS BIGINT) AS hi_nk,
             count(*) >= 50 AS k_ok
      FROM p3 GROUP BY path ORDER BY path"""
    })

  /** INTERVAL-UNION algebra over per-customer order service windows —
    * the merge-overlapping-intervals primitive (the sweep-line
    * classic) that q110's islands-and-gaps handles only for
    * unit-width days: each order spans the NORMALIZED [least, greatest] of
    * (orderdate, last shipdate) — the fixture ships 29k/60k lines
    * BEFORE the order date (the q245 quirk), so the raw pair is not
    * ordered and an unnormalized sweep produces negative lengths
    * (a fact↔fact orderkey join), and per customer the overlapping
    * spans MERGE into maximal disjoint intervals via the
    * running-max-of-ends rule — a new interval starts exactly when
    * its start exceeds every prior end (strictly: adjacency s =
    * prev_end + 1 still merges nothing here because coverage is
    * inclusive; s > prev_end opens a new island and the uncovered gap
    * is s − prev_end − 1, possibly 0 for back-to-back). Emits the 25 most
    * FRAGMENTED customers (most merged intervals, then busiest — the
    * heavily-overlapping head merges everything into one span, which
    * is the merge rule working, but the fragmented tail shows both
    * behaviors): order count, merged-interval count, total
    * covered days (Σ inclusive island lengths) and the widest
    * uncovered gap — the "when is this customer NOT in flight"
    * readout. All integers on the 1992-01-01 day index (the q109
    * anchor). Scale: one orderkey-keyed join, one custkey window
    * (bounded per key by orders-per-customer), two rollups — no
    * interval ever compares against more than its sort predecessors'
    * running max, the O(n log n) sweep instead of the O(n²) overlap
    * join.
    */
  val q267IntervalUnion: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val recv = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(max(col("l_shipdate")).as("rcpt"))
      val iv = Tables.orders(s, dir)
        .join(recv, "o_orderkey")
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("ok"),
          least(datediff(col("o_orderdate"), lit("1992-01-01")),
            datediff(col("rcpt"), lit("1992-01-01"))).cast("long").as("s"),
          greatest(datediff(col("o_orderdate"), lit("1992-01-01")),
            datediff(col("rcpt"), lit("1992-01-01"))).cast("long").as("e"))
      val w = Window.partitionBy(col("custkey"))
        .orderBy(col("s"), col("e"), col("ok"))
      val marked = iv
        .withColumn("prev_end", max(col("e")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_isl",
          when(col("prev_end").isNull || col("s") > col("prev_end"), 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("gap",
          when(col("new_isl") === 1L && col("prev_end").isNotNull,
            col("s") - col("prev_end") - 1).otherwise(0L))
      val islands = marked.groupBy(col("custkey"), col("isl"))
        .agg(count(lit(1)).as("n_in"), min(col("s")).as("lo"),
          max(col("e")).as("hi"), max(col("gap")).as("gap"))
      islands.groupBy(col("custkey"))
        .agg(sum(col("n_in")).as("n_orders"),
          count(lit(1)).as("n_intervals"),
          sum(col("hi") - col("lo") + 1).as("covered_days"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("n_intervals").desc, col("n_orders").desc, col("custkey"))
        .limit(25)
    },
    oracle = Some("""
      WITH recv AS (SELECT l_orderkey, max(l_shipdate) AS rcpt
                    FROM lineitem GROUP BY 1),
      iv AS (SELECT o.o_custkey AS custkey, o.o_orderkey AS ok,
                    least(date_diff('day', DATE '1992-01-01', o.o_orderdate),
                          date_diff('day', DATE '1992-01-01', r.rcpt)) AS s,
                    greatest(date_diff('day', DATE '1992-01-01', o.o_orderdate),
                             date_diff('day', DATE '1992-01-01', r.rcpt)) AS e
             FROM orders o JOIN recv r ON r.l_orderkey = o.o_orderkey),
      m AS (SELECT custkey, ok, s, e,
                   max(e) OVER (PARTITION BY custkey ORDER BY s, e, ok
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_end
            FROM iv),
      mk AS (SELECT *, CASE WHEN prev_end IS NULL OR s > prev_end
                            THEN 1 ELSE 0 END AS new_isl,
                    CASE WHEN prev_end IS NOT NULL AND s > prev_end
                         THEN s - prev_end - 1 ELSE 0 END AS gap
             FROM m),
      mi AS (SELECT *, sum(new_isl) OVER (PARTITION BY custkey
                     ORDER BY s, e, ok
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS isl
             FROM mk),
      islands AS (SELECT custkey, isl, count(*) AS n_in,
                         min(s) AS lo, max(e) AS hi, max(gap) AS gap
                  FROM mi GROUP BY 1, 2)
      SELECT custkey, CAST(sum(n_in) AS BIGINT) AS n_orders,
             CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(sum(hi - lo + 1) AS BIGINT) AS covered_days,
             CAST(max(gap) AS BIGINT) AS max_gap
      FROM islands GROUP BY custkey
      ORDER BY n_intervals DESC, n_orders DESC, custkey
      LIMIT 25"""))

  /** BRADLEY–TERRY preference strengths (Bradley & Terry 1952) by
    * three fixed rounds of the Minorize–Maximize update (Hunter
    * 2004) — the pairwise-comparison ranking model that underlies
    * every preference-learning pipeline (an RLHF reward model IS a
    * parameterized Bradley–Terry fit), run here over supplier price
    * matchups: for every part served by two suppliers at different
    * minimum prices, the cheaper one wins the comparison (ties are
    * skipped — no information). The MM update
    * γᵢ ← Wᵢ / Σⱼ nᵢⱼ/(γᵢ+γⱼ) runs in floored integer MILLIONTHS
    * (the q85/q256 scaled-integer contract): per-pair term
    * `nᵢⱼ·10¹² div (γᵢ+γⱼ)` (scale n·10⁶), denominator summed per
    * supplier (addition commutes — partition-order-safe), then
    * `γᵢ' = Wᵢ·10¹² div Dᵢ` (scale 10⁶) — no float ever forms, so
    * the oracle replays all three rounds as chained CTEs —
    * MATERIALIZED ones: each round references the previous TWICE
    * (gi and gj), and DuckDB inlines plain CTEs, so the
    * double-reference chain would re-expand 2^rounds copies of the
    * base join (observed: 78 GB of temp spill at sf0.1 before the
    * annotation; see the repo invariants doc). Emits the
    * top-20 suppliers by final strength with wins, games, and every
    * round's γ — the convergence trace. BIGINT headroom (q109 rule):
    * nᵢⱼ·10¹² crosses 2^63 at nᵢⱼ ≈ 9.2×10⁶ shared parts per
    * supplier PAIR — the fixture peaks at ~10²; past that divide nᵢⱼ
    * first or move to DECIMAL(38,0). Scale: matchup extraction is the
    * q14 co-occurrence shape keyed on part (per-part supplier count
    * bounds the fan-out); each round is one |pairs|-sized join
    * against the supplier-sized γ table + a supplier-keyed rollup —
    * γ broadcasts while it fits, unhinted (the q201 lesson).
    */
  val q269BradleyTerry: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val sp = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("price"))
      val duels = sp.as("a").join(sp.as("b"),
          col("a.pk") === col("b.pk") && col("a.price") < col("b.price"))
        .select(col("a.sk").as("i"), col("b.sk").as("j"))
      val nij = duels.groupBy(col("i"), col("j")).agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      // symmetric games count for the denominator; wins per supplier
      val games = nij.select(col("i"), col("j"), col("w"))
        .unionByName(nij.select(col("j").as("i"), col("i").as("j"), col("w")))
        .groupBy(col("i"), col("j")).agg(sum(col("w")).as("n"))
        .localCheckpoint(true)
      val wins = nij.groupBy(col("i")).agg(sum(col("w")).as("wins"))
        .localCheckpoint(true)
      // tournament restricted to ≥1-win players BY CONTRACT (a zero-win
      // player's γ hits 0 in one MM step and would otherwise vanish
      // from the joins implicitly; the explicit cut keeps both engines'
      // iteration over the identical player set)
      val games2 = games
        .join(wins.select(col("i")), Seq("i"), "left_semi")
        .join(wins.select(col("i").as("j")), Seq("j"), "left_semi")
        .localCheckpoint(true)
      var gam = games2.select(col("i")).distinct()
        .select(col("i"), lit(1000000L).as("g"))
        .localCheckpoint(true)
      var trace = Vector.empty[DataFrame]
      for (_ <- 1 to 3) {
        val denom = games2
          .join(gam.select(col("i"), col("g").as("gi")), "i")
          .join(gam.select(col("i").as("j"), col("g").as("gj")), "j")
          .select(col("i"),
            expr("(n * 1000000000000L) div (gi + gj)").as("term"))
        gam = denom.groupBy(col("i")).agg(sum(col("term")).as("d"))
          .join(wins, "i")
          .select(col("i"),
            expr("(wins * 1000000000000L) div d").as("g"))
          .localCheckpoint(true)
        trace = trace :+ gam
      }
      wins
        .join(games2.groupBy(col("i")).agg(sum(col("n")).as("games")), "i")
        .join(trace(0).select(col("i"), col("g").as("g1")), "i")
        .join(trace(1).select(col("i"), col("g").as("g2")), "i")
        .join(trace(2).select(col("i"), col("g").as("g3")), "i")
        .select(col("i").as("suppkey"), col("wins"), col("games"),
          col("g1"), col("g2"), col("g3"))
        .orderBy(col("g3").desc, col("suppkey"))
        .limit(20)
    },
    oracle = Some {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS MATERIALIZED (SELECT e.i,
                 CAST(sum((e.n * 1000000000000) // (gi.g + gj.g)) AS BIGINT)
                   AS d
              FROM games2 e
              JOIN g${r - 1} gi ON gi.i = e.i
              JOIN g${r - 1} gj ON gj.i = e.j
              GROUP BY e.i),
      g$r AS MATERIALIZED (SELECT w.i,
                     CAST((w.wins * 1000000000000) // d.d AS BIGINT) AS g
              FROM wins w JOIN d$r d ON d.i = w.i)"""
      }.mkString(",\n      ")
      s"""
      WITH sp AS MATERIALIZED (SELECT l_partkey AS pk, l_suppkey AS sk,
                         min(CAST(round(l_extendedprice * 100) AS BIGINT))
                           AS price
                  FROM lineitem GROUP BY 1, 2),
      nij AS MATERIALIZED (SELECT a.sk AS i, b.sk AS j,
                     CAST(count(*) AS BIGINT) AS w
              FROM sp a JOIN sp b
                ON a.pk = b.pk AND a.price < b.price
              GROUP BY 1, 2),
      games AS MATERIALIZED (SELECT i, j, CAST(sum(w) AS BIGINT) AS n FROM (
                  SELECT i, j, w FROM nij
                  UNION ALL SELECT j, i, w FROM nij)
                GROUP BY 1, 2),
      wins AS MATERIALIZED (SELECT i, CAST(sum(w) AS BIGINT) AS wins
              FROM nij GROUP BY 1),
      games2 AS MATERIALIZED (SELECT g.* FROM games g
                 WHERE EXISTS (SELECT 1 FROM wins w WHERE w.i = g.i)
                   AND EXISTS (SELECT 1 FROM wins w WHERE w.i = g.j)),
      g0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS g
              FROM games2),
      $rounds
      SELECT w.i AS suppkey, w.wins, gm.games, g1.g AS g1, g2.g AS g2,
             g3.g AS g3
      FROM wins w
      JOIN (SELECT i, CAST(sum(n) AS BIGINT) AS games FROM games2 GROUP BY 1)
        gm ON gm.i = w.i
      JOIN g1 ON g1.i = w.i
      JOIN g2 ON g2.i = w.i
      JOIN g3 ON g3.i = w.i
      ORDER BY g3 DESC, suppkey
      LIMIT 20"""
    })

  /** DAY-OVER-DAY active-set overlap per event type — the exact
    * set-similarity ingredients (|prev|, |curr|, |A∩B|, and the
    * inclusion-exclusion |A∪B|) behind next-day retention and churn
    * dashboards, per (event_type, consecutive-day pair): how much of
    * yesterday's purchasing/clicking audience returns today. The
    * Jaccard itself is a small-denominator rational and ships as its
    * numerator/denominator (the q49/q60 contract — never divided).
    * Day indices are pure integer arithmetic on the pinned micro
    * epoch (`unix_micros div 86400·10⁶` vs `epoch_ns//1000` — the
    * q96 cross-engine ordering key turned bucketing key), so no
    * calendar function enters the compare. Plan: one distinct
    * (type, day, user) rollup, then the intersection is a SELF-JOIN
    * co-partitioned on (type, user) probing day+1 — each user
    * contributes only their own consecutive-day pairs, never a
    * day×day cross — plus a (type, day)-keyed count join; output is
    * |types|·|days|-bounded. At 100 TB the distinct rollup is the
    * only fact-sized stage (one shuffle), exactly how a DAU pipeline
    * materializes its daily activity table once and derives every
    * overlap window from it.
    */
  val q270DauOverlap: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val du = Tables.events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_type").as("etype"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("user_id"))
        .distinct()
        .localCheckpoint(true)
      val perDay = du.groupBy(col("etype"), col("day"))
        .agg(count(lit(1)).as("n"))
      val both = du.as("a").join(du.as("b"),
          col("a.etype") === col("b.etype") &&
            col("a.user_id") === col("b.user_id") &&
            col("b.day") === col("a.day") + 1)
        .groupBy(col("a.etype").as("etype"), col("b.day").as("day"))
        .agg(count(lit(1)).as("n_both"))
      perDay.select(col("etype"), (col("day") + 1).as("day"),
          col("n").as("n_prev"))
        .join(perDay.select(col("etype"), col("day"), col("n").as("n_curr")),
          Seq("etype", "day"))
        .join(both, Seq("etype", "day"), "left")
        .select(col("etype"), col("day"), col("n_prev"), col("n_curr"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          (col("n_prev") + col("n_curr")
            - coalesce(col("n_both"), lit(0L))).as("n_union"))
        .orderBy(col("etype"), col("day"))
    },
    oracle = Some("""
      WITH du AS (SELECT DISTINCT event_type AS etype,
                         (epoch_ns(ts) // 1000) // 86400000000 AS day,
                         user_id
                  FROM events WHERE event_type IS NOT NULL),
      pd AS (SELECT etype, day, CAST(count(*) AS BIGINT) AS n
             FROM du GROUP BY 1, 2),
      ov AS (SELECT a.etype, b.day, CAST(count(*) AS BIGINT) AS n_both
               FROM du a JOIN du b
                 ON a.etype = b.etype AND a.user_id = b.user_id
                AND b.day = a.day + 1
               GROUP BY 1, 2)
      SELECT p.etype AS etype, c.day AS day, p.n AS n_prev, c.n AS n_curr,
             CAST(coalesce(bo.n_both, 0) AS BIGINT) AS n_both,
             CAST(p.n + c.n - coalesce(bo.n_both, 0) AS BIGINT) AS n_union
      FROM pd p
      JOIN pd c ON c.etype = p.etype AND c.day = p.day + 1
      LEFT JOIN ov bo ON bo.etype = p.etype AND bo.day = c.day
      ORDER BY p.etype, c.day"""))

  /** FUNCTIONAL-DEPENDENCY discovery audit (TANE, Huhtala et al. 1999;
    * error measure g₁ of Kivinen & Mannila 1995) — the DATA-PROFILING
    * operator every schema-inference / data-quality pipeline runs
    * before trusting a column as a key or a derivation: for each
    * candidate X→Y report exact group counts and the minimum number
    * of rows whose removal makes the FD hold (g₁ numerator
    * Σₓ(nₓ−maxy cₓy)). Candidates span three tables and deliberately
    * mix a by-construction derivation (documents.text→n_chars — the
    * fixture computes n_chars FROM text, so the profiler must
    * re-discover it), a key FD (o_orderkey→o_orderstatus), and
    * correlational non-FDs with measured violation mass. All-integer
    * contract: counts and the g₁ numerator only, `holds` a boolean off
    * n_violating=0.
    *
    * Scale: the LHS group key is the house ASCII polyhash of the
    * value, NOT the raw value — a document-text LHS would otherwise
    * ship whole documents through the shuffle; hashing makes every
    * shuffle key 8 bytes at any corpus size. Collisions (≈n²/2P per
    * candidate) can only MERGE x-groups and therefore only INFLATE
    * n_violating/rows_to_remove — `holds=true` under hashing is a
    * one-sided certificate for the true FD (the HyFD-style
    * compression direction), and both engines hash the identical
    * string rendering so the verdict is deterministic, not
    * probabilistic. Timestamps enter as the pinned integer epoch-day
    * index (the q87 datediff contract), never as formatted strings.
    * Physical shape: one stack() generator pass per table, two
    * hash-agg shuffles — (fd,xh,y) then (fd,xh) — with map-side
    * partial aggregation, output |candidates| rows. No join anywhere;
    * at 100 TB each candidate is one linear scan + two narrow
    * shuffles, embarrassingly parallel across candidates.
    */
  val q271FdDiscovery: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import graft.functions.VectorExpressions.polyHash
      def stackOf(df: DataFrame, triples: Seq[(String, String, String)]): DataFrame =
        df.select(expr(
          "stack(" + triples.length + ", " + triples.map { case (n, x, y) =>
            s"'$n', CAST($x AS STRING), CAST($y AS STRING)"
          }.mkString(", ") + ") AS (fd, xs, y)"))
      val cand = stackOf(Tables.documents(s, dir), Seq(
          ("doc:text->n_chars", "text", "n_chars"),
          ("doc:source->lang", "source", "lang")))
        .unionByName(stackOf(Tables.orders(s, dir), Seq(
          ("ord:o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus"),
          ("ord:o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
          ("ord:orderday->o_orderstatus",
            "datediff(to_date(o_orderdate), '1970-01-01')", "o_orderstatus"))))
        .unionByName(stackOf(Tables.lineitem(s, dir), Seq(
          ("li:l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"),
          ("li:l_suppkey->l_linestatus", "l_suppkey", "l_linestatus"))))
      val g = cand.filter(col("xs").isNotNull && col("y").isNotNull)
        .select(col("fd"), polyHash(col("xs")).as("xh"), col("y"))
        .groupBy(col("fd"), col("xh"), col("y"))
        .agg(count(lit(1)).as("c"))
      val px = g.groupBy(col("fd"), col("xh"))
        .agg(sum(col("c")).as("nx"), max(col("c")).as("mx"),
          count(lit(1)).as("dy"))
      px.groupBy(col("fd"))
        .agg(sum(col("nx")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          sum(when(col("dy") > 1, 1L).otherwise(0L)).as("n_violating"),
          sum(col("nx") - col("mx")).as("rows_to_remove"))
        .select(col("fd"), col("n_rows"), col("n_groups"),
          col("n_violating"), col("rows_to_remove"),
          (col("n_violating") === 0L).as("holds"))
        .orderBy(col("fd"))
    },
    oracle = Some(s"""
      WITH cand AS (
        SELECT 'doc:text->n_chars' AS fd, CAST(text AS VARCHAR) AS xs,
               CAST(n_chars AS VARCHAR) AS y FROM documents
        UNION ALL
        SELECT 'doc:source->lang', CAST(source AS VARCHAR),
               CAST(lang AS VARCHAR) FROM documents
        UNION ALL
        SELECT 'ord:o_orderkey->o_orderstatus', CAST(o_orderkey AS VARCHAR),
               CAST(o_orderstatus AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'ord:o_custkey->o_orderpriority', CAST(o_custkey AS VARCHAR),
               CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'ord:orderday->o_orderstatus',
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS VARCHAR),
               CAST(o_orderstatus AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'li:l_orderkey->l_returnflag', CAST(l_orderkey AS VARCHAR),
               CAST(l_returnflag AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'li:l_suppkey->l_linestatus', CAST(l_suppkey AS VARCHAR),
               CAST(l_linestatus AS VARCHAR) FROM lineitem),
      h AS (SELECT fd, ${PipelineCatalog.polyhashSql("xs")} AS xh, y
            FROM cand WHERE xs IS NOT NULL AND y IS NOT NULL),
      g AS (SELECT fd, xh, y, count(*) AS c FROM h GROUP BY 1, 2, 3),
      px AS (SELECT fd, xh, CAST(sum(c) AS BIGINT) AS nx,
                    CAST(max(c) AS BIGINT) AS mx, count(*) AS dy
             FROM g GROUP BY 1, 2)
      SELECT fd, CAST(sum(nx) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(sum(nx - mx) AS BIGINT) AS rows_to_remove,
             (sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) = 0) AS holds
      FROM px GROUP BY fd ORDER BY fd"""))

  /** INCLUSION-DEPENDENCY discovery audit (De Marchi et al. 2002;
    * single-pass SPIDER shape, Bauckmann et al. 2006) — q271's
    * cross-table sibling and the other half of a data profiler:
    * which column pairs satisfy A ⊆ B, i.e. which joins are
    * foreign-key-safe? Eight directed candidates over the star
    * schema, deliberately mixing true FKs (lineitem→orders/part/
    * supplier, orders→customer, supplier→nation), a reverse direction
    * that holds only because every order has lines, a reverse that
    * FAILS (customers without orders), and a cross-domain probe
    * (events.user_id vs customer keys). Per candidate: exact distinct
    * counts on both sides, the contained/missing split, and the
    * holds verdict (n_missing = 0). All-integer contract.
    *
    * Physical shape is the point: NOT one anti-join per candidate —
    * every candidate's two columns union into ONE (ind, side, value)
    * stream, distinct-merge on (ind, value) with map-side combine,
    * then an |candidates|-row rollup. One shuffle total for all 8
    * INDs, no join anywhere — exactly how SPIDER tests thousands of
    * column pairs in one pass over a warehouse; at 100 TB the shuffle
    * key is (small-int, long) regardless of how many candidates ride
    * along. Adding a candidate adds a column scan, never a stage.
    */
  val q272IndDiscovery: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def sideOf(df: DataFrame, ind: String, c: String, sd: String): DataFrame =
        df.select(lit(ind).as("ind"), lit(sd).as("side"),
          col(c).cast("long").as("v")).filter(col("v").isNotNull)
      val li = Tables.lineitem(s, dir)
      val or = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir)
      val pa = Tables.part(s, dir)
      val su = Tables.supplier(s, dir)
      val na = Tables.nation(s, dir)
      val ev = Tables.events(s, dir)
      val u = Seq(
        sideOf(li, "li.orderkey<=ord.orderkey", "l_orderkey", "L"),
        sideOf(or, "li.orderkey<=ord.orderkey", "o_orderkey", "R"),
        sideOf(or, "ord.orderkey<=li.orderkey", "o_orderkey", "L"),
        sideOf(li, "ord.orderkey<=li.orderkey", "l_orderkey", "R"),
        sideOf(or, "ord.custkey<=cust.custkey", "o_custkey", "L"),
        sideOf(cu, "ord.custkey<=cust.custkey", "c_custkey", "R"),
        sideOf(cu, "cust.custkey<=ord.custkey", "c_custkey", "L"),
        sideOf(or, "cust.custkey<=ord.custkey", "o_custkey", "R"),
        sideOf(li, "li.partkey<=part.partkey", "l_partkey", "L"),
        sideOf(pa, "li.partkey<=part.partkey", "p_partkey", "R"),
        sideOf(li, "li.suppkey<=supp.suppkey", "l_suppkey", "L"),
        sideOf(su, "li.suppkey<=supp.suppkey", "s_suppkey", "R"),
        sideOf(su, "supp.nationkey<=nation.nationkey", "s_nationkey", "L"),
        sideOf(na, "supp.nationkey<=nation.nationkey", "n_nationkey", "R"),
        sideOf(ev, "ev.user<=cust.custkey", "user_id", "L"),
        sideOf(cu, "ev.user<=cust.custkey", "c_custkey", "R"))
        .reduce(_ unionByName _)
      val g = u.groupBy(col("ind"), col("v"))
        .agg(max(when(col("side") === "L", 1L).otherwise(0L)).as("hl"),
          max(when(col("side") === "R", 1L).otherwise(0L)).as("hr"))
      g.groupBy(col("ind"))
        .agg(sum(col("hl")).as("n_lhs_distinct"),
          sum(col("hr")).as("n_rhs_distinct"),
          sum(col("hl") * col("hr")).as("n_contained"),
          sum(col("hl") * (lit(1L) - col("hr"))).as("n_missing"))
        .select(col("ind"), col("n_lhs_distinct"), col("n_rhs_distinct"),
          col("n_contained"), col("n_missing"),
          (col("n_missing") === 0L).as("holds"))
        .orderBy(col("ind"))
    },
    oracle = Some("""
      WITH u AS (
        SELECT 'li.orderkey<=ord.orderkey' AS ind, 'L' AS side,
               CAST(l_orderkey AS BIGINT) AS v FROM lineitem
        UNION ALL SELECT 'li.orderkey<=ord.orderkey', 'R',
               CAST(o_orderkey AS BIGINT) FROM orders
        UNION ALL SELECT 'ord.orderkey<=li.orderkey', 'L',
               CAST(o_orderkey AS BIGINT) FROM orders
        UNION ALL SELECT 'ord.orderkey<=li.orderkey', 'R',
               CAST(l_orderkey AS BIGINT) FROM lineitem
        UNION ALL SELECT 'ord.custkey<=cust.custkey', 'L',
               CAST(o_custkey AS BIGINT) FROM orders
        UNION ALL SELECT 'ord.custkey<=cust.custkey', 'R',
               CAST(c_custkey AS BIGINT) FROM customer
        UNION ALL SELECT 'cust.custkey<=ord.custkey', 'L',
               CAST(c_custkey AS BIGINT) FROM customer
        UNION ALL SELECT 'cust.custkey<=ord.custkey', 'R',
               CAST(o_custkey AS BIGINT) FROM orders
        UNION ALL SELECT 'li.partkey<=part.partkey', 'L',
               CAST(l_partkey AS BIGINT) FROM lineitem
        UNION ALL SELECT 'li.partkey<=part.partkey', 'R',
               CAST(p_partkey AS BIGINT) FROM part
        UNION ALL SELECT 'li.suppkey<=supp.suppkey', 'L',
               CAST(l_suppkey AS BIGINT) FROM lineitem
        UNION ALL SELECT 'li.suppkey<=supp.suppkey', 'R',
               CAST(s_suppkey AS BIGINT) FROM supplier
        UNION ALL SELECT 'supp.nationkey<=nation.nationkey', 'L',
               CAST(s_nationkey AS BIGINT) FROM supplier
        UNION ALL SELECT 'supp.nationkey<=nation.nationkey', 'R',
               CAST(n_nationkey AS BIGINT) FROM nation
        UNION ALL SELECT 'ev.user<=cust.custkey', 'L',
               CAST(user_id AS BIGINT) FROM events WHERE user_id IS NOT NULL
        UNION ALL SELECT 'ev.user<=cust.custkey', 'R',
               CAST(c_custkey AS BIGINT) FROM customer),
      g AS (SELECT ind, v,
                   max(CASE WHEN side = 'L' THEN 1 ELSE 0 END) AS hl,
                   max(CASE WHEN side = 'R' THEN 1 ELSE 0 END) AS hr
            FROM u WHERE v IS NOT NULL GROUP BY 1, 2)
      SELECT ind, CAST(sum(hl) AS BIGINT) AS n_lhs_distinct,
             CAST(sum(hr) AS BIGINT) AS n_rhs_distinct,
             CAST(sum(hl * hr) AS BIGINT) AS n_contained,
             CAST(sum(hl * (1 - hr)) AS BIGINT) AS n_missing,
             (sum(hl * (1 - hr)) = 0) AS holds
      FROM g GROUP BY ind ORDER BY ind"""))

  /** KENDALL'S τ-b sufficient statistics (Kendall 1938; τ-b tie
    * correction Kendall 1945) — the PAIRWISE rank correlation, q265
    * Spearman's sibling and the other half of the standard rank-
    * correlation pair: where Spearman correlates rank POSITIONS, τ
    * counts concordant vs discordant PAIRS, so it is the probability
    * interpretation (P[concordant] − P[discordant]) robust people
    * reach for on small groups. Per nation BAND (nationkey div 5 — a
    * region-sized 5-bucket domain; bare nations leave sf0.001's 10
    * suppliers one-per-nation with ZERO pairs, and 10 keys into 5
    * bands pigeonhole at least one pair at every SF), over suppliers
    * scored by (x = lifetime revenue in integer cents, y = account
    * balance in integer cents): the full exact pair census —
    * concordant, discordant, x-only ties, y-only ties, both-ties —
    * plus the τ-b numerator C−D. Everything integer (cents
    * comparisons only); the rational τ-b itself is left as numerator
    * + the tie counts that define its denominator √((n₀−n₁)(n₀−n₂))
    * per the q49/q60 never-round-rationals contract.
    *
    * Scale contract: the pair join is |group|²-BOUNDED BY KEY DOMAIN
    * — suppliers per band (≤200 at sf0.1, fixture-fixed 5 bands),
    * the same bounded-self-join class as q14's per-key cap; at a
    * 100 TB supplier dimension the group key gains a sub-key (region
    * × segment) before the join, exactly like q163's calendar bound.
    * One suppkey rollup (map-side combined) + one band-keyed
    * broadcast-sized self-join; output |bands| rows.
    */
  val q276KendallTau: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("x"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          expr("CAST(s_nationkey AS BIGINT) div 5").as("band"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("y"))
        .join(rev, col("s_suppkey") === col("l_suppkey"), "left")
        .select(col("s_suppkey").as("k"), col("band"),
          coalesce(col("x"), lit(0L)).as("x"), col("y"))
      val p = sup.as("a").join(sup.as("b"),
        col("a.band") === col("b.band") && col("a.k") < col("b.k"))
      p.groupBy(col("a.band").as("band"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when((col("a.x") < col("b.x") && col("a.y") < col("b.y")) ||
            (col("a.x") > col("b.x") && col("a.y") > col("b.y")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("a.x") < col("b.x") && col("a.y") > col("b.y")) ||
            (col("a.x") > col("b.x") && col("a.y") < col("b.y")), 1L)
            .otherwise(0L)).as("discordant"),
          sum(when(col("a.x") === col("b.x") && col("a.y") =!= col("b.y"), 1L)
            .otherwise(0L)).as("ties_x"),
          sum(when(col("a.x") =!= col("b.x") && col("a.y") === col("b.y"), 1L)
            .otherwise(0L)).as("ties_y"),
          sum(when(col("a.x") === col("b.x") && col("a.y") === col("b.y"), 1L)
            .otherwise(0L)).as("ties_both"))
        .select(col("band"), col("n_pairs"), col("concordant"),
          col("discordant"), col("ties_x"), col("ties_y"), col("ties_both"),
          (col("concordant") - col("discordant")).as("tau_num"))
        .orderBy(col("band"))
    },
    oracle = Some("""
      WITH rev AS (SELECT l_suppkey,
                          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                               AS BIGINT) AS x
                   FROM lineitem GROUP BY 1),
      sup AS (SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) // 5 AS band,
                     CAST(coalesce(rev.x, 0) AS BIGINT) AS x,
                     CAST(round(s_acctbal * 100) AS BIGINT) AS y
              FROM supplier LEFT JOIN rev ON rev.l_suppkey = s_suppkey),
      p AS (SELECT a.band, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by_
            FROM sup a JOIN sup b ON a.band = b.band AND a.k < b.k)
      SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN (ax < bx AND ay < by_) OR
                                (ax > bx AND ay > by_)
                           THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             CAST(sum(CASE WHEN (ax < bx AND ay > by_) OR
                                (ax > bx AND ay < by_)
                           THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
             CAST(sum(CASE WHEN ax = bx AND ay <> by_
                           THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
             CAST(sum(CASE WHEN ax <> bx AND ay = by_
                           THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
             CAST(sum(CASE WHEN ax = bx AND ay = by_
                           THEN 1 ELSE 0 END) AS BIGINT) AS ties_both,
             CAST(sum(CASE WHEN (ax < bx AND ay < by_) OR
                                (ax > bx AND ay > by_)
                           THEN 1 ELSE 0 END)
                - sum(CASE WHEN (ax < bx AND ay > by_) OR
                                (ax > bx AND ay < by_)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tau_num
      FROM p GROUP BY band ORDER BY band"""))

  /** CONSISTENT-HASH RING audit (Karger et al. 1997) — the OTHER
    * canonical minimal-disruption placement law, q264's rendezvous
    * twin: 8 shards × 16 virtual nodes hash onto a ring, every key
    * goes to its clockwise successor vnode (wrap at the top), and
    * removing shard 7 moves EXACTLY the keys on its arcs — each to
    * the next SURVIVING vnode clockwise, never a global reshuffle.
    * Where HRW pays n score evaluations per key with zero metadata,
    * the ring pays O(1) metadata (128 points) and vnodes exist
    * precisely to spread both load and failover inflow (imbalance
    * variance shrinks ~1/√vnodes — Karger's Θ(log n) balance
    * argument); the emitted per-shard audit (n_full / n_reduced /
    * inflow) makes both laws visible as data next to q264's.
    *
    * Cross-engine exactness: positions come from the q264 two-round
    * multiply-mod-P xor-shift mixer (a polynomial hash would lattice
    * the ring — the q264 structural lesson), ring inputs offset by
    * 10⁹+7 so key and vnode probes draw from disjoint input sets,
    * and the successor choice is ONE arithmetic min over
    * rpos·8+shard (position high bits, shard tiebreak low bits,
    * < 2³⁴ — BIGINT-safe), inclusive ≥ on both engines: no tie-rule
    * prose anywhere. Physical shape: the 128-point ring is a
    * broadcast relation; assignment is a map-side nested-loop over
    * it (128 integer comparisons per key, NO shuffle); the only
    * shuffle is the 8-key rollup — at 100 TB this is the q264
    * contract with ring metadata instead of per-shard hashing.
    */
  val q275ConsistentRing: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      val ring = s.range(128).select(
        expr("id div 16").as("shard"),
        mix(col("id") + lit(1000000007L)).as("rpos"))
        .select(col("shard"), col("rpos"),
          (col("rpos") * 8 + col("shard")).as("packed"))
      val keys = Tables.customer(s, dir)
        .select(col("c_custkey"), mix(col("c_custkey").cast("long")).as("kpos"))
      val assigned = keys.crossJoin(broadcast(ring))
        .groupBy(col("c_custkey"))
        .agg(
          coalesce(min(when(col("rpos") >= col("kpos"), col("packed"))),
            min(col("packed"))).as("pf"),
          coalesce(min(when(col("shard") < 7 && col("rpos") >= col("kpos"),
              col("packed"))),
            min(when(col("shard") < 7, col("packed")))).as("pr"))
        .select(col("c_custkey"), (col("pf") % 8).as("full"),
          (col("pr") % 8).as("reduced"))
        .localCheckpoint(true)
      val nFull = assigned.groupBy(col("full").as("shard"))
        .agg(count(lit(1)).as("n_full"))
      val nRed = assigned.groupBy(col("reduced").as("shard"))
        .agg(count(lit(1)).as("n_reduced"))
      val inflow = assigned.filter(col("full") =!= col("reduced"))
        .groupBy(col("reduced").as("shard"))
        .agg(count(lit(1)).as("inflow"))
      nFull.join(nRed, Seq("shard"), "left")
        .join(inflow, Seq("shard"), "left")
        .select(col("shard"), col("n_full"),
          coalesce(col("n_reduced"), lit(0L)).as("n_reduced"),
          coalesce(col("inflow"), lit(0L)).as("inflow"))
        .orderBy(col("shard"))
    },
    oracle = Some("""
      WITH ids AS (SELECT unnest(range(0, 128)) AS id),
      r1 AS (SELECT id // 16 AS shard,
                    (1000000007 + id) * 2654435761 % 2147483647 AS x
             FROM ids),
      r2 AS (SELECT shard, xor(x, x >> 15) AS x FROM r1),
      r3 AS (SELECT shard, x * 1597334677 % 2147483647 AS x FROM r2),
      ring AS (SELECT shard, xor(x, x >> 13) AS rpos,
                      xor(x, x >> 13) * 8 + shard AS packed
               FROM r3),
      k1 AS (SELECT c_custkey,
                    CAST(c_custkey AS BIGINT) * 2654435761 % 2147483647 AS x
             FROM customer),
      k2 AS (SELECT c_custkey, xor(x, x >> 15) AS x FROM k1),
      k3 AS (SELECT c_custkey, x * 1597334677 % 2147483647 AS x FROM k2),
      keys AS (SELECT c_custkey, xor(x, x >> 13) AS kpos FROM k3),
      a AS (SELECT k.c_custkey,
                   coalesce(min(CASE WHEN r.rpos >= k.kpos
                                     THEN r.packed END),
                            min(r.packed)) AS pf,
                   coalesce(min(CASE WHEN r.shard < 7 AND r.rpos >= k.kpos
                                     THEN r.packed END),
                            min(CASE WHEN r.shard < 7
                                     THEN r.packed END)) AS pr
            FROM keys k CROSS JOIN ring r GROUP BY 1),
      b AS (SELECT c_custkey, pf % 8 AS fs, pr % 8 AS rs FROM a),
      nf AS (SELECT fs AS shard, CAST(count(*) AS BIGINT) AS n_full
             FROM b GROUP BY 1),
      nr AS (SELECT rs AS shard, CAST(count(*) AS BIGINT) AS n_reduced
             FROM b GROUP BY 1),
      mv AS (SELECT rs AS shard, CAST(count(*) AS BIGINT) AS inflow
             FROM b WHERE fs <> rs GROUP BY 1)
      SELECT nf.shard, nf.n_full,
             CAST(coalesce(nr.n_reduced, 0) AS BIGINT) AS n_reduced,
             CAST(coalesce(mv.inflow, 0) AS BIGINT) AS inflow
      FROM nf LEFT JOIN nr ON nr.shard = nf.shard
              LEFT JOIN mv ON mv.shard = nf.shard
      ORDER BY nf.shard"""))

  /** EXACT SHAPLEY-VALUE attribution (Shapley 1953; the data-driven
    * attribution model of Zhao et al. 2018 / Google DDA) — completes
    * the attribution trilogy: q179 scores by POSITION rules, q256 by
    * Markov removal effect, this by the unique axiomatic credit split
    * (efficiency + symmetry + dummy + additivity). The coalition
    * game: channels N = {click, error, signup, view}; each CONVERTING
    * user contributes their pre-first-purchase touch SET as a 4-bit
    * mask; v(S) = conversions reachable using only channels in S
    * (Σ_{T⊆S} cnt(T), monotone by construction). With n=4 every
    * weight |S|!·(3−|S|)!/4! has denominator 24, so the emitted
    * shapley_x24 = Σ_S |S|!(3−|S|)!·(v(S∪i)−v(S)) is EXACT INTEGER —
    * no float ever forms (the q49/q60 rational contract). Alongside:
    * baseline_conv = v(∅), solo_conv = v({i}) and marginal_full =
    * v(N)−v(N∖i). This game is SUPERMODULAR by construction (the
    * marginal v(S∪i)−v(S) = Σ_{T⊆S} cnt(T∪i) grows with S), so by
    * Shapley's convex-game theorem φᵢ is bracketed by
    * v({i})−v(∅) and v(N)−v(N∖i) — both checkable from the emitted
    * columns, as is efficiency (Σφᵢ = v(N)−v(∅)). Baseline
    * conversions with an EMPTY touch set stay in v(∅) —
    * unattributable mass is never smeared over channels.
    *
    * Physical shape: the fact-sized work is one user-keyed shuffle
    * (first-purchase min-struct rollup + the before-purchase touch
    * bit_or, co-partitioned on user_id); everything after lives on a
    * 16-row v(S) table — the subset-sum join (16×16), the 4×8
    * marginal enumeration, and the weight CASE are all broadcast
    * joins over constant-size relations, data-independent at any SF
    * (the in-plan twin of q256's driver-side matrix). At 100 TB: one
    * user shuffle, then literally 16 rows.
    */
  val q273ShapleyAttribution: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("p"))
        .select(col("user_id"), col("p.ts").as("pts"),
          col("p.event_id").as("pid"))
      val bit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "error", 2L)
        .when(col("event_type") === "signup", 4L)
        .when(col("event_type") === "view", 8L)
      // the before-purchase predicate lives IN the join condition: a
      // converting user whose every touch post-dates the purchase must
      // survive as mask 0 (baseline conversion), not vanish — a
      // post-join filter would drop the whole user
      val tch = ev
        .filter(col("event_type").isin("click", "error", "signup", "view"))
        .select(col("user_id").as("tu"), col("ts").as("tts"),
          col("event_id").as("tid"), bit.as("b"))
      val touches = purch.join(tch,
          col("user_id") === col("tu") && (col("tts") < col("pts") ||
            (col("tts") === col("pts") && col("tid") < col("pid"))), "left")
        .groupBy(col("user_id"))
        .agg(coalesce(expr("bit_or(b)"), lit(0L)).as("mask"))
      val cnt = touches.groupBy(col("mask")).agg(count(lit(1)).as("c"))
      val v = s.range(16).select(col("id").as("ss"))
        .join(cnt, col("mask").bitwiseAND(col("ss")) === col("mask"), "left")
        .groupBy(col("ss")).agg(coalesce(sum(col("c")), lit(0L)).as("v"))
      val chans = Seq(("click", 1L), ("error", 2L), ("signup", 4L),
        ("view", 8L)).toDF("channel", "bit")
      val phi = chans
        .join(v.as("s0"), col("s0.ss").bitwiseAND(col("bit")) === 0L)
        .join(v.as("s1"), col("s1.ss") === col("s0.ss") + col("bit"))
        .select(col("channel"), col("bit"),
          (col("s1.v") - col("s0.v")).as("dv"),
          expr("CASE bit_count(s0.ss) WHEN 0 THEN 6L WHEN 1 THEN 2L " +
            "WHEN 2 THEN 2L ELSE 6L END").as("w"))
        .groupBy(col("channel"), col("bit"))
        .agg(sum(col("w") * col("dv")).as("shapley_x24"))
      phi
        .join(v.select(col("ss"), col("v").as("solo_conv")),
          col("bit") === col("ss"))
        .join(v.select(col("ss").as("ssw"), col("v").as("v_wo")),
          col("ssw") === lit(15L) - col("bit"))
        .join(v.filter(col("ss") === 15L).select(col("v").as("vf")))
        .join(v.filter(col("ss") === 0L).select(col("v").as("v0")))
        .select(col("channel"), col("v0").as("baseline_conv"),
          col("solo_conv"), (col("vf") - col("v_wo")).as("marginal_full"),
          col("shapley_x24"))
        .orderBy(col("channel"))
    },
    oracle = Some("""
      WITH p AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
                   SELECT user_id, ts, event_id, row_number() OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS rn
                   FROM events WHERE event_type = 'purchase')
                 WHERE rn = 1),
      t AS (SELECT p.user_id,
                   CAST(coalesce(bit_or(CASE e.event_type
                     WHEN 'click' THEN 1 WHEN 'error' THEN 2
                     WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0)
                     AS BIGINT) AS mask
            FROM p LEFT JOIN events e ON e.user_id = p.user_id
              AND e.event_type IN ('click', 'error', 'signup', 'view')
              AND (e.ts < p.pts OR (e.ts = p.pts AND e.event_id < p.pid))
            GROUP BY p.user_id),
      c AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
      ss AS (SELECT unnest(range(0, 16)) AS ss),
      v AS (SELECT ss.ss, CAST(coalesce(sum(c.c), 0) AS BIGINT) AS v
            FROM ss LEFT JOIN c ON (c.mask & ss.ss) = c.mask
            GROUP BY 1),
      ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
                            ('signup', 4), ('view', 8)) AS t(channel, bit)),
      pairs AS (SELECT ch.channel, ch.bit, s1.v - s0.v AS dv,
                       CASE bit_count(s0.ss) WHEN 0 THEN 6 WHEN 1 THEN 2
                            WHEN 2 THEN 2 ELSE 6 END AS w
                FROM ch JOIN v s0 ON (s0.ss & ch.bit) = 0
                        JOIN v s1 ON s1.ss = s0.ss + ch.bit)
      SELECT p.channel AS channel, v0.v AS baseline_conv,
             sv.v AS solo_conv, vf.v - vw.v AS marginal_full,
             CAST(sum(p.w * p.dv) AS BIGINT) AS shapley_x24
      FROM pairs p
      JOIN v sv ON sv.ss = p.bit
      JOIN v vw ON vw.ss = 15 - p.bit
      JOIN v vf ON vf.ss = 15
      JOIN v v0 ON v0.ss = 0
      GROUP BY 1, v0.v, sv.v, vf.v, vw.v
      ORDER BY channel"""))

  /** MARKOV-CHAIN removal-effect attribution (Anderl et al. 2014) —
    * the data-driven alternative to q179's positional touch rules:
    * model user journeys as a first-order chain over touch states
    * (START, click/error/signup/view, absorbing CONV on first
    * purchase, NOCONV on journey end), estimate transition
    * probabilities in integer MILLIONTHS (floored — the q85
    * scaled-integer contract), and score each channel by how much the
    * 6-step START→CONV absorption mass drops when that channel is
    * REMOVED (transitions into it redirected to NOCONV, probabilities
    * NOT renormalized — the published removal-effect definition).
    * Everything cross-engine is integer: per-edge floor products
    * `(mass·ppm) div 10⁶` summed per destination each step, absorbing
    * rows carried — the DuckDB oracle replays all 5 scenarios × 6
    * steps as generated chained CTEs. Physical shape: the fact-sized
    * work (first-purchase cut, lag-window edge extraction, transition
    * counts) is distributed over one user_id-keyed window; the
    * transition matrix is |states|² ≤ 36 rows — collected and
    * propagated on the DRIVER like m15's eigendecomposition
    * (O(scenarios·steps·|states|²), data-independent), which is the
    * right side of the collect rule: never rows, only the
    * constant-size model — and the |states|² bound is ENFORCED, not
    * assumed: a require(<10000) trips before the solve if the
    * event_type domain ever stops being small-categorical (VERDICT
    * r11 #4; Q256GuardSpec exercises the trip on a synthetic
    * wide-domain fixture). Journey truncation at FIRST purchase makes
    * CONV genuinely absorbing; ties break on event_id so the walk is
    * deterministic. Scale: one user shuffle + a 36-row collect at any
    * SF.
    */
  val q256MarkovAttribution: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wOrd))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
      val j = ev.join(purch, Seq("user_id"), "left")
        .filter(col("pts").isNull || col("ts") < col("pts") ||
          (col("ts") === col("pts") && col("event_id") <= col("pid")))
      val st0 = j
        .withColumn("st", when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .withColumn("prev", lag(col("st"), 1, "START").over(wOrd))
      val edges = st0.select(col("prev").as("src"), col("st").as("dst"))
        .unionByName(st0.filter(col("rn") === col("n") && col("st") =!= "CONV")
          .select(col("st").as("src"), lit("NOCONV").as("dst")))
      val cnt = edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("src")).agg(sum(col("c")).as("t"))
      // The collect is bounded by |states|^2, a DATA-SCHEMA contract
      // (event_type is a small categorical domain), not a constant —
      // enforce it instead of assuming it (VERDICT r11 #4): a wide
      // event_type domain must fail loudly here, never OOM the driver
      // or silently run an O(scenarios*steps*|states|^2) solve. The
      // bound is enforced BEFORE materialization (ADVICE r12): the
      // limit caps what the driver ever receives at 10001 rows, and
      // row 10001 arriving is the trip wire — without the limit a
      // pathologically wide domain would OOM at the collect itself,
      // one line before the require.
      val trans = cnt.join(tot, "src")
        .select(col("src"), col("dst"),
          expr("CAST((1000000 * c) div t AS BIGINT)").as("ppm"))
        .limit(10001)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      require(trans.size < 10000,
        s"q256: ${trans.size} observed transitions — the driver-side " +
          "absorbing-chain solve assumes a small categorical event_type " +
          "domain (|states|^2 < 10000); this input breaks that contract")
      def absorb(removed: Option[String]): Long = {
        val merged = trans
          .map { case (src, dst, p) =>
            (src, if (removed.contains(dst)) "NOCONV" else dst, p) }
          .groupBy(t => (t._1, t._2))
          .map { case ((src, dst), xs) => (src, dst, xs.map(_._3).sum) }
          .toSeq
        var mass = Map("START" -> 1000000L)
        var conv = 0L
        for (_ <- 1 to 6) {
          val next = scala.collection.mutable.Map.empty[String, Long]
            .withDefaultValue(0L)
          for ((src, dst, p) <- merged; m = mass.getOrElse(src, 0L); if m > 0L)
            next(dst) += m * p / 1000000L
          conv += next("CONV")
          next -= "CONV"; next -= "NOCONV"
          mass = next.toMap
        }
        conv
      }
      val full = absorb(None)
      val rows = ("full", full, 0L) +:
        Seq("click", "error", "signup", "view").map { ch =>
          val c = absorb(Some(ch)); (ch, c, full - c)
        }
      rows.toDF("scenario", "conv_ppm", "removal_effect_ppm")
        .orderBy(col("scenario"))
    },
    oracle = Some {
      val scenarios = Seq("full" -> None, "click" -> Some("click"),
        "error" -> Some("error"), "signup" -> Some("signup"),
        "view" -> Some("view"))
      val scenarioCtes = scenarios.map { case (tag, removed) =>
        val transCte = removed match {
          case None =>
            s"""t_$tag AS (SELECT src, dst, ppm FROM trans)"""
          case Some(ch) =>
            s"""t_$tag AS (SELECT src,
                   CASE WHEN dst = '$ch' THEN 'NOCONV' ELSE dst END AS dst,
                   CAST(sum(ppm) AS BIGINT) AS ppm
                 FROM trans GROUP BY 1, 2)"""
        }
        val steps = (1 to 6).map { k =>
          s"""p_${tag}_$k AS (SELECT dst AS st, CAST(sum(m) AS BIGINT) AS mass
               FROM (
                 SELECT t.dst AS dst, (p.mass * t.ppm) // 1000000 AS m
                 FROM p_${tag}_${k - 1} p JOIN t_$tag t ON t.src = p.st
                 UNION ALL
                 SELECT st AS dst, mass AS m FROM p_${tag}_${k - 1}
                 WHERE st IN ('CONV', 'NOCONV'))
               GROUP BY 1)"""
        }.mkString(",\n      ")
        s"""$transCte,
      p_${tag}_0 AS (SELECT 'START' AS st, CAST(1000000 AS BIGINT) AS mass),
      $steps"""
      }.mkString(",\n      ")
      val resRows = scenarios.map { case (tag, _) =>
        s"""SELECT '$tag' AS scenario,
             CAST(coalesce((SELECT mass FROM p_${tag}_6 WHERE st = 'CONV'), 0)
               AS BIGINT) AS conv_ppm"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
      fp AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
               SELECT user_id, ts, event_id, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM ev WHERE event_type = 'purchase')
             WHERE rn = 1),
      j AS (SELECT e.user_id, e.ts, e.event_id, e.event_type
            FROM ev e LEFT JOIN fp ON e.user_id = fp.user_id
            WHERE fp.user_id IS NULL OR e.ts < fp.pts
               OR (e.ts = fp.pts AND e.event_id <= fp.pid)),
      st AS (SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS st,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY user_id) AS n,
               lag(CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END, 1, 'START') OVER w AS prev
             FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      edges AS (SELECT prev AS src, st AS dst FROM st
                UNION ALL
                SELECT st AS src, 'NOCONV' AS dst FROM st
                WHERE rn = n AND st <> 'CONV'),
      cnt AS (SELECT src, dst, count(*) AS c FROM edges GROUP BY 1, 2),
      tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
      trans AS (SELECT c.src, c.dst,
                  CAST((1000000 * c.c) // t.t AS BIGINT) AS ppm
                FROM cnt c JOIN tot t ON c.src = t.src),
      $scenarioCtes,
      res AS (
        $resRows),
      fullv AS (SELECT conv_ppm AS f FROM res WHERE scenario = 'full')
      SELECT scenario, conv_ppm,
             CAST(fullv.f - conv_ppm AS BIGINT) AS removal_effect_ppm
      FROM res CROSS JOIN fullv
      ORDER BY scenario"""
    })

  /** POINT-IN-TIME feature join — the feature-store "time travel"
    * correctness shape (reference: the as-of `history_snapshot` cut in
    * train_module.py:387-395): every lineitem probes its customer's
    * q92-style SCD2 version timeline AT THE SHIP DATE, matching the
    * latest version with valid_from ≤ ship_day — never a later one
    * (feature leakage) and never missing an INTERVENING version created
    * by another order of the same customer between order date and ship
    * date (stale features). The audit payload is `n_crossed`: probes
    * whose matched version comes from a DIFFERENT order than the line's
    * own — exactly the rows a naive "join features by order" pipeline
    * gets wrong. Implementation is the q51 union-marker as-of kernel
    * (version and probe rows union into ONE custkey-partitioned window
    * ordered by (day, marker, version); last non-null version ≤ each
    * probe), so there is no range-join explosion and no per-probe
    * subquery — one custkey shuffle, one sort. FIXTURE QUIRK this
    * query surfaces (and must stay correct under): the driver's dates
    * are NOT TPC-H-consistent — 29k of 60k lines ship BEFORE their own
    * order date, and (l_orderkey, l_linenumber) is NOT unique — so (a)
    * probes older than the customer's first version are REAL and land
    * in bucket −1 as cold-start probes (a leaking implementation would
    * hand them the future version instead), and (b) the oracle cannot
    * key a row_number on the probe id: it aggregates DISTINCT probe
    * tuples with a multiplicity count and weights the rollup by it —
    * which doubles as the cross-algorithm check (group-max match vs
    * the window walk). Ages roll up into q131-style log2 buckets.
    * Scale: window state is one row; the custkey key domain bounds the
    * partition (the q92 class).
    */
  val q245PitFeatures: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val vers = Tables.orders(s, dir)
        .select(col("o_custkey").as("ck"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("bigint").as("day"),
          col("o_orderkey").as("vok"))
        .withColumn("ver", row_number().over(
          Window.partitionBy(col("ck")).orderBy(col("day"), col("vok")))
          .cast("bigint"))
      val probes = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .cast("bigint").as("day"),
          col("l_orderkey"), col("l_linenumber"))
      val nulL = lit(null).cast("bigint")
      val unioned = vers
        .select(col("ck"), col("day"), lit(0L).as("is_probe"), col("ver"),
          col("vok"), nulL.as("l_orderkey"), nulL.as("l_linenumber"))
        .unionByName(probes
          .select(col("ck"), col("day"), lit(1L).as("is_probe"),
            nulL.as("ver"), nulL.as("vok"),
            col("l_orderkey"), col("l_linenumber")))
      val w = Window.partitionBy(col("ck"))
        .orderBy(col("day"), col("is_probe"), col("ver"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val matched = unioned
        .withColumn("m_day",
          last(when(col("is_probe") === 0L, col("day")), ignoreNulls = true).over(w))
        .withColumn("m_vok",
          last(when(col("is_probe") === 0L, col("vok")), ignoreNulls = true).over(w))
        .filter(col("is_probe") === 1L)
      matched
        .select(
          when(col("m_day").isNull, lit(-1L))
            .otherwise((length(expr("bin(day - m_day + 1)")) - 1).cast("bigint"))
            .as("bucket"),
          (col("day") - col("m_day")).as("age"),
          when(col("m_vok").isNotNull && col("m_vok") =!= col("l_orderkey"), 1L)
            .otherwise(0L).as("crossed"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("crossed")).as("n_crossed"),
          coalesce(min(col("age")), lit(-1L)).as("min_age"),
          coalesce(max(col("age")), lit(-1L)).as("max_age"))
        .orderBy(col("bucket"))
    },
    oracle = Some("""
      WITH v AS (SELECT o_custkey AS ck,
                        CAST(date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                        o_orderkey AS vok,
                        CAST(row_number() OVER (PARTITION BY o_custkey
                             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                          AS BIGINT) AS ver
                 FROM orders),
      p AS (SELECT o.o_custkey AS ck,
                   CAST(date_diff('day', DATE '1970-01-01',
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS day,
                   l.l_orderkey, CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2, 3),
      m AS (SELECT p.ck, p.day, p.l_orderkey, p.cnt, max(v.day) AS vday
            FROM p LEFT JOIN v ON v.ck = p.ck AND v.day <= p.day
            GROUP BY 1, 2, 3, 4),
      mv AS (SELECT ck, day AS vday, vok,
                    row_number() OVER (PARTITION BY ck, day
                         ORDER BY ver DESC) AS rn
             FROM v),
      a AS (SELECT CASE WHEN m.vday IS NULL THEN CAST(-1 AS BIGINT)
                        ELSE CAST(length(bin(m.day - m.vday + 1)) - 1 AS BIGINT)
                   END AS bucket,
                   m.day - m.vday AS age, m.cnt,
                   CASE WHEN mv.vok IS NOT NULL AND mv.vok <> m.l_orderkey
                        THEN m.cnt ELSE 0 END AS crossed
            FROM m LEFT JOIN mv
              ON mv.ck = m.ck AND mv.vday = m.vday AND mv.rn = 1)
      SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_lines,
             CAST(sum(crossed) AS BIGINT) AS n_crossed,
             CAST(coalesce(min(age), -1) AS BIGINT) AS min_age,
             CAST(coalesce(max(age), -1) AS BIGINT) AS max_age
      FROM a GROUP BY bucket ORDER BY bucket"""))

  /** Gini concentration of order value per status — the inequality
    * measure a marketplace / data-mix monitor tracks — as EXACT integer
    * sufficient statistics: with per-status ranks i over cents x_i,
    * `gini = (2·Σi·x_i − (n+1)·Σx_i) / (n·Σx_i)`; the query emits the
    * integer numerator and denominator (the no-rounded-rationals
    * contract — q49/q60 precedent). Scale: one (status) shuffle; the
    * rank window and both sums ride the same exchange; thousands of
    * groups parallelize it.
    */
  val q93GiniOrderValue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cents"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sum_cents"),
          sum(col("rk") * col("cents")).as("weighted_sum"))
        .select(col("o_orderstatus"), col("n"), col("sum_cents"),
          (lit(2L) * col("weighted_sum") - (col("n") + 1L) * col("sum_cents"))
            .as("gini_num"),
          (col("n") * col("sum_cents")).as("gini_den"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_orderstatus, o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      r AS (SELECT o_orderstatus, cents,
                   CAST(row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY cents, o_orderkey) AS BIGINT) AS rk
            FROM t)
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(2 * sum(rk * cents) - (count(*) + 1) * sum(cents) AS BIGINT)
               AS gini_num,
             CAST(count(*) * sum(cents) AS BIGINT) AS gini_den
      FROM r GROUP BY 1 ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------------
  // Graph / similarity / sequence analytics (beyond-reference surface)
  // ---------------------------------------------------------------------

  /** Distinct undirected co-purchase edges (u < v) over the part
    * co-occurrence graph — the count-free projection of the shared
    * [[coPairCounts]] cache (each count row IS one distinct pair, so
    * the projection is exact). q94 fans out over this table four times
    * (degrees, orientation, closing-edge probe) and q111 three times
    * (degrees + both endpoint lookups); every scan is a cached-block
    * read plus a cheap projection.
    */
  private def coEdges(s: SparkSession, dir: String): DataFrame =
    coPairCounts(s, dir).select(col("p1").as("u"), col("p2").as("v"))

  /** Triangle count + wedge count of the co-purchase graph (the global
    * clustering coefficient's exact integer sufficient statistics:
    * transitivity = 3·tri/wedge). Spark side runs the DEGREE-ORDERED
    * orientation (Suri & Vassilvitskii 2011): each edge points from its
    * lower-(degree, id) endpoint, so every out-degree is O(√m) whatever
    * hub skew the raw graph has, and wedge enumeration — the quadratic
    * step — is bounded by O(m^{3/2}) instead of Σ d². The oracle counts
    * the same triangles via the independent id-ordered 3-way self-join,
    * so the compare crosses two genuinely different algorithms. Scale:
    * wedges stream through one equi-join + one semi-join; nothing is
    * collected; the edge table is the session-cached [[coEdges]]. The
    * BroadcastNestedLoopJoin in this plan is the final crossJoin of
    * three ONE-ROW aggregates (the q30/q33 documented class), not a
    * data-sized nested loop.
    */
  val q94TriangleCount: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e = coEdges(s, dir)
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      // orient u→v iff (d(u), u) < (d(v), v); u < v already, so the id
      // tiebreak keeps the u→v direction on equal degrees
      val du = deg.select(col("x").as("u"), col("d").as("du"))
      val dv = deg.select(col("x").as("v"), col("d").as("dv"))
      val oriented = e.join(du, "u").join(dv, "v").select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst"))
      // out-neighbor pairs of a common center close a triangle iff the
      // (id-ordered) third side is an edge; wedge rows keep their
      // multiplicity — one surviving row per (center, side) = per triangle
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
      val tri = wedges.join(e, Seq("u", "v"), "left_semi")
        .agg(count(lit(1)).as("tri_cnt"))
      val edgeCnt = e.agg(count(lit(1)).as("edge_cnt"))
      val wedgeCnt = deg.agg(sum(expr("(d * (d - 1)) div 2")).as("wedge_cnt"))
      edgeCnt.crossJoin(wedgeCnt).crossJoin(tri)
        .select(col("edge_cnt"), col("wedge_cnt"), col("tri_cnt"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
              GROUP BY x)
      SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS edge_cnt,
             CAST((SELECT sum((d * (d - 1)) // 2) FROM deg) AS BIGINT)
               AS wedge_cnt,
             CAST((SELECT count(*) FROM e e1
                   JOIN e e2 ON e2.u = e1.v
                   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
               AS tri_cnt"""))

  /** Local clustering by degree bucket — per-vertex triangle counts
    * rolled up into q131-style log2(degree) buckets: the curve that
    * tells a curation pipeline whether its similarity graph's hubs are
    * genuinely dense communities (flat curve) or spurious megahubs
    * (local coefficient collapsing as degree grows — the signature of
    * boilerplate/stop-shingle contamination in a near-dup graph).
    * Spark enumerates each triangle EXACTLY ONCE at its lowest-
    * (degree,id) corner via the q94 degree-ordered orientation (kept
    * O(m^{3/2}) under any hub skew), retains the wedge CENTER through
    * the closing-edge left-semi probe, and explodes each triangle to
    * its three corners for the per-vertex rollup; per-bucket sums of
    * triangles and wedges C(d,2) ship as exact integers (the local
    * coefficient 2·tri/(d(d-1)) and the bucket mean reconstruct
    * client-side, q59 rule). The oracle recounts triangles through the
    * INDEPENDENT id-ordered 3-way self-join (the q94 cross-algorithm
    * rule) and explodes corners in SQL. Scale: the wedge join is the
    * q94 kernel; the explode triples triangle rows (≪ edges), and the
    * bucket rollup is ≤ 64 rows. BIGINT headroom: Σ C(d,2) per bucket
    * is the q94 wedge bound, documented there.
    */
  val q243ClusteringBuckets: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e = coEdges(s, dir)
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val du = deg.select(col("x").as("u"), col("d").as("du"))
      val dv = deg.select(col("x").as("v"), col("d").as("dv"))
      val oriented = e.join(du, "u").join(dv, "v").select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst"))
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.src").as("c"), col("e1.dst").as("u"),
          col("e2.dst").as("v"))
      val tris = wedges.join(e, Seq("u", "v"), "left_semi")
      val perVertex = tris
        .select(explode(array(col("c"), col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("tri"))
      deg.join(perVertex, Seq("x"), "left")
        .select((length(expr("bin(d)")) - 1).cast("bigint").as("bucket"),
          col("d"), coalesce(col("tri"), lit(0L)).as("tri"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vertices"),
          sum(col("tri")).as("sum_tri"),
          sum(expr("(d * (d - 1)) div 2")).as("sum_wedges"))
        .orderBy(col("bucket"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
              GROUP BY x),
      t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      pv AS (SELECT x, CAST(count(*) AS BIGINT) AS tri
             FROM (SELECT a AS x FROM t UNION ALL SELECT b FROM t
                   UNION ALL SELECT c FROM t)
             GROUP BY x),
      j AS (SELECT CAST(length(bin(deg.d)) - 1 AS BIGINT) AS bucket,
                   deg.d AS d, COALESCE(pv.tri, 0) AS tri
            FROM deg LEFT JOIN pv ON pv.x = deg.x)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_vertices,
             CAST(sum(tri) AS BIGINT) AS sum_tri,
             CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS sum_wedges
      FROM j GROUP BY bucket ORDER BY bucket"""))

  /** Item-item "customers also bought" similarity — the recsys core the
    * reference approximates with raw co-occurrence counts
    * (core-logic/train_module.py:397-413) — upgraded to exact Jaccard
    * over order sets, top-3 neighbors per item. The fraction
    * |A∩B| / |A∪B| is ranked via its floor-scaled integer
    * (10⁶·co) div (n1+n2−co) with (co desc, p2) tiebreaks, so the
    * total order is engine-exact (no float compare anywhere); the raw
    * (co, n1, n2) rationals ship alongside. Scale: co-counts bound by
    * the q14 distinct pre-pass; the rank window parallelizes per item;
    * nothing quadratic in the catalog — only observed pairs are scored.
    */
  val q95ItemSimilarity: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // round 15 (guide §3.1): the per-part order-count table is
      // vertex-sized — broadcast it into both enrichment joins instead
      // of sort-merging the symmetric pair table twice (the same
      // size-gated hint as the iterative kernels; past the gate the
      // joins degrade to the key-partitioned shape)
      val cnt = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      val bc = Rounds.gate(dir, cnt.count())
      val scored = Rounds.symmetric(coPairCounts(s, dir), "p1", "p2")
        .join(bc(cnt.select(col("l_partkey").as("p1"), col("n").as("n1"))), "p1")
        .join(bc(cnt.select(col("l_partkey").as("p2"), col("n").as("n2"))), "p2")
        .withColumn("jscore", expr("(1000000 * co) div (n1 + n2 - co)"))
      val w = Window.partitionBy(col("p1"))
        .orderBy(col("jscore").desc, col("co").desc, col("p2"))
      scored.withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 3)
        .select(col("p1"), col("p2"), col("co"), col("n1"), col("n2"),
          col("jscore"), col("rk"))
        .orderBy(col("p1"), col("rk"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
              FROM op GROUP BY 1),
      co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                    CAST(count(*) AS BIGINT) AS co
             FROM op a JOIN op b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      sym AS (SELECT p1, p2, co FROM co
              UNION ALL SELECT p2, p1, co FROM co),
      sc AS (SELECT s.p1, s.p2, s.co, ca.n AS n1, cb.n AS n2,
                    (1000000 * s.co) // (ca.n + cb.n - s.co) AS jscore
             FROM sym s
             JOIN cnt ca ON ca.l_partkey = s.p1
             JOIN cnt cb ON cb.l_partkey = s.p2),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY p1
                 ORDER BY jscore DESC, co DESC, p2) AS BIGINT) AS rk
            FROM sc)
      SELECT p1, p2, co, n1, n2, jscore, rk FROM r
      WHERE rk <= 3 ORDER BY p1, rk"""),
    headline = true)

  /** First-order Markov transition counts over per-user event sequences
    * (the session-model statistic behind next-action recommendation):
    * lag(event_type) within (user, time) order, then the global
    * (prev → next) contingency row with its per-prev total — the row
    * probability as an exact rational cnt/prev_total. Engine-identical
    * ordering: Spark reads events micro-truncated (Tables.events) while
    * the raw fixture is TIMESTAMP(NANOS), so the oracle orders by the
    * SAME integer micro key (`epoch_ns(ts) // 1000`) — two events equal
    * at micro- but distinct at nano-precision would otherwise order
    * differently across engines and shift transition counts. Scale: one
    * user_id shuffle for the lag window; the transition matrix is
    * |event_types|² rows, so the second shuffle and the windowed total
    * are on a constant-size table.
    */
  val q96EventTransitions: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("prev_total",
          sum(col("cnt")).over(Window.partitionBy(col("prev_type"))))
        .orderBy(col("prev_type"), col("event_type"))
    },
    oracle = Some("""
      WITH seq AS (SELECT user_id, event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_type
                   FROM events),
      c AS (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, event_type, cnt,
             CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT)
               AS prev_total
      FROM c ORDER BY prev_type, event_type"""))

  /** SEQUENTIAL PATTERN MINING over per-user event streams via
    * spark.ml.fpm.PrefixSpan (Pei et al. 2001) — the subsequence
    * generalization of q96's adjacent-transition counts: a pattern
    * ⟨a,b⟩ is supported by a user whose sequence contains an a-event
    * SOMEWHERE before a b-event (gaps allowed), which is what funnel
    * and habit mining actually ask (q78's funnel hard-codes one
    * ordering; this mines all of them). Sequences are the per-user
    * event types in the engine-pinned (ts micros, event_id) total
    * order (the q96 cross-engine ordering rule), itemsets are
    * singletons, maxPatternLength=2 — so the pattern space is
    * |types| + |types|² and support counts are EXACT integers: the
    * oracle re-counts every candidate with an independent
    * EXISTS-style distinct-user self-join (two genuinely different
    * algorithms — projected-database prefix growth vs join
    * enumeration — per the q94 cross-algorithm rule). The support
    * cut is applied EXPLICITLY on both sides (5·freq ≥ 2·n_users,
    * integer arithmetic) rather than through PrefixSpan's fractional
    * minSupport, which keeps ceil-boundary semantics out of the
    * cross-engine contract. Scale: one user_id shuffle builds the
    * sequences (bounded per user by the events-per-user fixture
    * contract); PrefixSpan's projected databases grow with pattern
    * length, pinned here at 2; the support rollup is
    * |types|²-bounded. The length-2 self-join oracle form is the
    * quadratic road NOT taken by the engine side.
    */
  val q261SequentialPatterns: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val seqs = Tables.events(s, dir)
        .filter(col("event_type").isNotNull)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(expr("transform(evs, e -> array(e.event_type))")
          .as("sequence"))
        .localCheckpoint(true)
      val nUsers = seqs.select(count(lit(1)).as("n_users"))
      val ps = new org.apache.spark.ml.fpm.PrefixSpan()
        .setMinSupport(0.001).setMaxPatternLength(2)
        .setMaxLocalProjDBSize(32000000L)
      ps.findFrequentSequentialPatterns(seqs)
        .select(array_join(flatten(col("sequence")), ">").as("pattern"),
          col("freq"))
        .crossJoin(broadcast(nUsers))
        .filter(col("freq") * 5 >= col("n_users") * 2)
        .select(col("pattern"), col("freq"), col("n_users"))
        .orderBy(col("pattern"))
    },
    oracle = Some("""
      WITH ev AS (SELECT user_id, event_type,
                         epoch_ns(ts) // 1000 AS tsm, event_id
                  FROM events WHERE event_type IS NOT NULL),
      u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM ev),
      t1 AS (SELECT event_type AS pattern,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS freq
             FROM ev GROUP BY 1),
      t2 AS (SELECT a.event_type || '>' || b.event_type AS pattern,
                    CAST(count(DISTINCT a.user_id) AS BIGINT) AS freq
             FROM ev a JOIN ev b ON a.user_id = b.user_id
              AND (a.tsm < b.tsm OR (a.tsm = b.tsm AND a.event_id < b.event_id))
             GROUP BY 1)
      SELECT pattern, freq, u.n_users
      FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) p, u
      WHERE p.freq * 5 >= u.n_users * 2
      ORDER BY pattern"""))

  /** O-family ntile surface: account-balance deciles within each market
    * segment (integer cents, total (cents, custkey) order so bucket
    * assignment is engine-exact — both engines use the standard
    * first-(n mod k)-buckets-get-the-extra-row fill). Scale: the window
    * partitions by segment, so the sort parallelizes across segments;
    * a single-key global ntile at 100 TB would instead cut on
    * broadcast nearest-rank quantile bounds (the q73 shape).
    */
  val q97BalanceDeciles: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("cents"), col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .withColumn("decile", ntile(10).over(w).cast("bigint"))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("cnt"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"))
        .orderBy(col("c_mktsegment"), col("decile"))
    },
    oracle = Some("""
      WITH t AS (SELECT c_mktsegment, c_custkey,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                 FROM customer),
      d AS (SELECT c_mktsegment, cents,
                   CAST(ntile(10) OVER (PARTITION BY c_mktsegment
                        ORDER BY cents, c_custkey) AS BIGINT) AS decile
            FROM t)
      SELECT c_mktsegment, decile, CAST(count(*) AS BIGINT) AS cnt,
             CAST(min(cents) AS BIGINT) AS lo_cents,
             CAST(max(cents) AS BIGINT) AS hi_cents
      FROM d GROUP BY 1, 2 ORDER BY c_mktsegment, decile"""))

  /** Lag-k autocorrelation sufficient statistics of daily order volume
    * (k = 1..7): for each lag, the paired sums (Σxy, Σx, Σy, Σx², Σy²,
    * n) over days where both t and t−k exist — everything Pearson r_k
    * needs, all exact integers. Formulated as an EQUI-join: each day row
    * is exploded into its 7 (k, day+k) probes and hash-joined back on
    * day, so no range/nested-loop join appears anywhere. Scale: the
    * join runs on the per-day rollup (|days| rows, ~2.5k here), not on
    * raw orders — aggregate first, then self-join the rollup.
    */
  val q98DailyAutocorr: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint").as("day"))
        .agg(count(lit(1)).as("x"))
      val shifted = daily
        .select(explode(expr("sequence(1, 7)")).as("k0"), col("day"), col("x"))
        .select(col("k0").cast("bigint").as("k"),
          (col("day") + col("k0")).as("day"), col("x").as("xl"))
      daily.join(shifted, "day")
        .select(col("k"), col("x").as("xt"), col("xl"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xt") * col("xl")).as("sum_xy"),
          sum(col("xt")).as("sum_x"), sum(col("xl")).as("sum_y"),
          sum(col("xt") * col("xt")).as("sum_xx"),
          sum(col("xl") * col("xl")).as("sum_yy"))
        .orderBy(col("k"))
    },
    oracle = Some("""
      WITH daily AS (SELECT CAST(datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                            CAST(count(*) AS BIGINT) AS x
                     FROM orders GROUP BY 1),
      shifted AS (SELECT CAST(ks.k AS BIGINT) AS k, day + ks.k AS day,
                         x AS xl
                  FROM daily, (SELECT unnest(generate_series(1, 7)) AS k) ks),
      j AS (SELECT s.k, d.x AS xt, s.xl
            FROM daily d JOIN shifted s ON d.day = s.day)
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(xt * xl) AS BIGINT) AS sum_xy,
             CAST(sum(xt) AS BIGINT) AS sum_x,
             CAST(sum(xl) AS BIGINT) AS sum_y,
             CAST(sum(xt * xt) AS BIGINT) AS sum_xx,
             CAST(sum(xl * xl) AS BIGINT) AS sum_yy
      FROM j GROUP BY k ORDER BY k"""))

  /** Regional supply-chain revenue — the classic snowflake rollup
    * (lineitem → supplier → nation → region, the TPC-H Q5 join shape)
    * and the catalog's deepest dim chain. Scale: all three dims are
    * broadcast, so the fact table crosses the wire exactly once — for
    * the tiny (region, nation) aggregation; Catalyst folds the three
    * BroadcastHashJoins into one codegen stage over the scan.
    * countDistinct adds the expand-based two-phase distinct on the same
    * shuffle. Float sum ships under the q12 contract (round 4 absorbs
    * the ~1e-7 double-sum reassociation noise).
    */
  val q99RegionalRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sup = broadcast(Tables.supplier(s, dir))
      val nat = broadcast(Tables.nation(s, dir))
      val reg = broadcast(Tables.region(s, dir))
      li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("r_name"), col("n_name"))
    },
    oracle = Some("""
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_items,
             CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""),
    headline = true)

  /** Regex extraction surface (F-family): parse the numeric id out of
    * the supplier name with a capture group, fold it per nation next to
    * a sign-split balance count. try_cast keeps the parse ANSI-lenient
    * (repo invariants-doc contract); the `[0-9]+` / capture-group subset used is
    * dialect-identical between Java regex and RE2. Scale: per-row
    * regexp in codegen; nation dim broadcast; tiny group-by.
    */
  val q100SupplierIdParse: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val sup = Tables.supplier(s, dir)
      val nat = broadcast(Tables.nation(s, dir))
      sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          expr("try_cast(regexp_extract(s_name, 'Supplier#([0-9]+)', 1) AS BIGINT)")
            .as("sid"),
          col("s_acctbal"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("sid")).as("sum_parsed_id"),
          sum(when(col("s_acctbal") < 0, 1L).otherwise(0L)).as("n_negative_bal"))
        .orderBy(col("n_name"))
    },
    oracle = Some("""
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(TRY_CAST(regexp_extract(s_name, 'Supplier#([0-9]+)', 1)
                      AS BIGINT)) AS BIGINT) AS sum_parsed_id,
             CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  /** §2.7 multiplicity-aware set ops: INTERSECT ALL (min of the two
    * multiplicities) and EXCEPT ALL (clamped difference) between the
    * order-priority multisets of open vs finished orders, folded to
    * (value, count) rows. Scale: both ops are one hash shuffle on the
    * value — Spark plans them as aggregate+generate over per-side
    * counts, never a sort.
    */
  val q101PriorityMultiset: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderpriority").as("pri"))
      val b = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderpriority").as("pri"))
      val inter = a.intersectAll(b).groupBy(col("pri"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit("intersect_all").as("op"), col("pri"), col("cnt"))
      val diff = a.exceptAll(b).groupBy(col("pri"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit("except_all").as("op"), col("pri"), col("cnt"))
      inter.unionAll(diff).orderBy(col("op"), col("pri"))
    },
    oracle = Some("""
      WITH a AS (SELECT o_orderpriority AS pri FROM orders
                 WHERE o_orderstatus = 'O'),
      b AS (SELECT o_orderpriority AS pri FROM orders
            WHERE o_orderstatus = 'F'),
      ia AS (SELECT pri FROM a INTERSECT ALL SELECT pri FROM b),
      ea AS (SELECT pri FROM a EXCEPT ALL SELECT pri FROM b)
      SELECT * FROM (
        SELECT 'intersect_all' AS op, pri, CAST(count(*) AS BIGINT) AS cnt
        FROM ia GROUP BY pri
        UNION ALL
        SELECT 'except_all' AS op, pri, CAST(count(*) AS BIGINT) AS cnt
        FROM ea GROUP BY pri)
      ORDER BY op, pri"""))

  /** W-family frame surface: first_value / nth_value(2) / last_value
    * over the full unbounded frame in (date, orderkey) order — the
    * customer's earliest, second and latest order value in one window
    * pass, one row per customer via the rn=1 cut on the same exchange.
    * Scale: one custkey shuffle; both windows ride it.
    */
  val q102OrderValueFrames: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val order = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      val frame = order
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint").as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("first_cents", first(col("cents")).over(frame))
        .withColumn("second_cents", nth_value(col("cents"), 2).over(frame))
        .withColumn("last_cents", last(col("cents")).over(frame))
        .withColumn("rn", row_number().over(order))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("first_cents"), col("second_cents"),
          col("last_cents"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_custkey, o_orderkey,
                        CAST(datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      w AS (SELECT o_custkey,
                   first_value(cents) OVER win AS first_cents,
                   nth_value(cents, 2) OVER win AS second_cents,
                   last_value(cents) OVER win AS last_cents,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY day, o_orderkey) AS rn
            FROM t
            WINDOW win AS (PARTITION BY o_custkey ORDER BY day, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT o_custkey, first_cents, second_cents, last_cents
      FROM w WHERE rn = 1 ORDER BY o_custkey"""))

  /** Robust location/spread per status: EXACT nearest-rank (lower)
    * median of order cents and the median absolute deviation around it
    * — no approx sketch, no float. Both medians are "the row ranked
    * (n+1) div 2 in a total order", so the oracle replays the identical
    * selection; deviation ties are broken by orderkey. Scale: two rank
    * windows on the (status) shuffle + one broadcast join of the 3-row
    * median table back onto the facts.
    */
  val q103RobustStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cents = Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w1 = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cents"), col("o_orderkey"))
      val grp = Window.partitionBy(col("o_orderstatus"))
      val med = cents
        .withColumn("rn", row_number().over(w1).cast("bigint"))
        .withColumn("n", count(lit(1)).over(grp))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("o_orderstatus"), col("n"), col("cents").as("med_cents"))
      val w2 = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("adev"), col("o_orderkey"))
      cents.join(broadcast(med), "o_orderstatus")
        .withColumn("adev", abs(col("cents") - col("med_cents")))
        .withColumn("rn", row_number().over(w2).cast("bigint"))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("o_orderstatus"), col("n"), col("med_cents"),
          col("adev").as("mad_cents"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_orderstatus, o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT)
                     AS n
            FROM t),
      med AS (SELECT o_orderstatus, n, cents AS med_cents FROM r
              WHERE rn = (n + 1) // 2),
      d AS (SELECT t.o_orderstatus, m.n, m.med_cents,
                   abs(t.cents - m.med_cents) AS adev, t.o_orderkey
            FROM t JOIN med m ON t.o_orderstatus = m.o_orderstatus),
      r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY adev, o_orderkey) AS BIGINT) AS rn
             FROM d)
      SELECT o_orderstatus, n, med_cents, adev AS mad_cents
      FROM r2 WHERE rn = (n + 1) // 2
      ORDER BY o_orderstatus"""))

  /** Fuzzy self-match written the way a PLAIN-SQL user writes it —
    * `levenshtein(a, b) <= 1` straight in the join condition, no manual
    * prefilter — relying on [[graft.plans.LevenshteinBandRule]] (active
    * on the session via GraftExtensions.register) to rewrite the
    * predicate to the banded O(k·n) kernel behind a length-band
    * short-circuit. Contrast with q89, which hand-builds the tighter
    * q-gram inverted index; this entry proves the engine makes the
    * naive formulation safe. The pair loop is still quadratic in
    * suppliers (dim-sized here); the oracle replays the same predicate
    * with DuckDB's levenshtein.
    */
  val q104FuzzyNameRule: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
      sup.as("x").join(sup.as("y"),
          col("x.s_suppkey") < col("y.s_suppkey") &&
            expr("levenshtein(x.s_name, y.s_name) <= 1"))
        .select(col("x.s_suppkey").as("k1"), col("y.s_suppkey").as("k2"),
          expr("CAST(levenshtein(x.s_name, y.s_name) AS BIGINT)").as("dist"))
        .groupBy(col("k1"))
        .agg(count(lit(1)).as("n_neighbors"), min(col("k2")).as("nearest_k2"))
        .orderBy(col("k1"))
    },
    oracle = Some("""
      SELECT x.s_suppkey AS k1,
             CAST(count(*) AS BIGINT) AS n_neighbors,
             CAST(min(y.s_suppkey) AS BIGINT) AS nearest_k2
      FROM supplier x JOIN supplier y
        ON x.s_suppkey < y.s_suppkey
       AND levenshtein(x.s_name, y.s_name) <= 1
      GROUP BY x.s_suppkey ORDER BY k1"""))

  /** Bounded-state top-k as a typed Aggregator (see
    * [[graft.functions.TopKAggregator]]): the five largest order values
    * per status in one cell, computed with O(k) partial-aggregation
    * state instead of collect_list's O(|group|) — the version of
    * "top values per group" that survives a billion-row hot key. The
    * oracle replays it as window-rank + ordered string_agg; ties are
    * safe because only the value multiset (not row identity) reaches
    * the output.
    */
  val q105TopKValues: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val topk = udaf(graft.functions.TopKAggregator(5), Encoders.scalaLong)
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("o_orderstatus"))
        .agg(topk(col("cents")).as("top5_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH t AS (SELECT o_orderstatus,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      r AS (SELECT o_orderstatus, cents,
                   row_number() OVER (PARTITION BY o_orderstatus
                     ORDER BY cents DESC) AS rn
            FROM t)
      SELECT r.o_orderstatus,
             (SELECT string_agg(CAST(cents AS VARCHAR), ','
                                ORDER BY cents DESC)
              FROM r r2 WHERE r2.o_orderstatus = r.o_orderstatus
                AND r2.rn <= 5) AS top5_cents,
             (SELECT CAST(count(*) AS BIGINT) FROM t
              WHERE t.o_orderstatus = r.o_orderstatus) AS n
      FROM r GROUP BY r.o_orderstatus
      ORDER BY r.o_orderstatus"""))

  /** Hopping (sliding) time windows in BATCH — `window(ts, 10m, 5m)`,
    * the overlapping-window surface the streaming side already uses,
    * here over the events fixture: every event lands in exactly
    * length/slide = 2 epoch-aligned windows. The oracle replays the
    * same assignment arithmetic (floor-to-slot, plus the shifted slot);
    * window starts ship as epoch SECONDS so the compare is integer.
    * Scale: the explode-to-2 fan-out happens map-side before one
    * (window, type) shuffle — state is the window count table, never
    * the events.
    */
  val q106HoppingWindows: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      Tables.events(s, dir)
        .select(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .select(unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"))
        .groupBy(col("win_start"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("win_start"), col("event_type"))
    },
    oracle = Some("""
      WITH e AS (SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300
                   AS slot, event_type
                 FROM events),
      w AS (SELECT slot AS win_start, event_type FROM e
            UNION ALL
            SELECT slot - 300 AS win_start, event_type FROM e)
      SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM w GROUP BY win_start, event_type
      ORDER BY win_start, event_type"""))

  /** Algebraic re-aggregation — the incremental-view-maintenance
    * pattern: per-DAY partial aggregates (sum/count/min/max of order
    * cents) composed into the MONTHLY rollup by re-aggregating the
    * partials, never re-reading raw orders. sum/count/min/max are the
    * mergeable algebra (avg reconstructs as sum/count downstream); at
    * 100 TB this is the difference between an incremental daily job and
    * a monthly full scan. The oracle replays the same two-level
    * composition, so the compare proves merge-associativity
    * cross-engine.
    */
  val q107Reaggregation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          to_date(col("o_orderdate")).as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("month"), col("day"))
        .agg(sum(col("cents")).as("s"), count(lit(1)).as("c"),
          min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      daily.groupBy(col("month"))
        .agg(sum(col("s")).as("sum_cents"), sum(col("c")).as("n_orders"),
          min(col("lo")).as("min_cents"), max(col("hi")).as("max_cents"),
          count(lit(1)).as("n_days"))
        .orderBy(col("month"))
    },
    oracle = Some("""
      WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                            CAST(o_orderdate AS DATE) AS day,
                            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS s,
                            CAST(count(*) AS BIGINT) AS c,
                            CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS lo,
                            CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS hi
                     FROM orders GROUP BY 1, 2)
      SELECT month, CAST(sum(s) AS BIGINT) AS sum_cents,
             CAST(sum(c) AS BIGINT) AS n_orders,
             CAST(min(lo) AS BIGINT) AS min_cents,
             CAST(max(hi) AS BIGINT) AS max_cents,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY month ORDER BY month"""))

  /** percent_rank / cume_dist as EXACT integer rationals (the
    * no-rounded-rationals contract): per market segment, each
    * customer's rank-1 over n-1 (percent_rank) and its
    * values-≤-current count over n (cume_dist, ties included via the
    * RANGE frame) — no float division anywhere, so the compare is
    * integer-exact. Scale: one segment shuffle, all three windows on
    * the same exchange.
    */
  val q108RankRationals: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val bySeg = Window.partitionBy(col("c_mktsegment"))
      val ordered = bySeg.orderBy(col("cents"))
      val cume = ordered.rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .withColumn("pr_num", (rank().over(ordered) - 1).cast("bigint"))
        .withColumn("n", count(lit(1)).over(bySeg))
        .withColumn("cd_num", count(lit(1)).over(cume))
        .select(col("c_mktsegment"), col("c_custkey"), col("cents"),
          col("pr_num"), (col("n") - 1L).as("pr_den"), col("cd_num"),
          col("n").as("cd_den"))
        .orderBy(col("c_mktsegment"), col("cents"), col("c_custkey"))
    },
    oracle = Some("""
      WITH t AS (SELECT c_mktsegment, c_custkey,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                 FROM customer)
      SELECT c_mktsegment, c_custkey, cents,
             CAST(rank() OVER w - 1 AS BIGINT) AS pr_num,
             CAST(count(*) OVER s - 1 AS BIGINT) AS pr_den,
             CAST(count(*) OVER (PARTITION BY c_mktsegment ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cd_num,
             CAST(count(*) OVER s AS BIGINT) AS cd_den
      FROM t
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents),
             s AS (PARTITION BY c_mktsegment)
      ORDER BY c_mktsegment, cents, c_custkey"""))

  /** Grouped ordinary-least-squares trend as exact integer sufficient
    * statistics: per order status, the daily-revenue-vs-day regression
    * needs only (n, Σx, Σy, Σxy, Σx²) — slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²), intercept from the means — so the query emits the
    * slope's integer numerator and denominator (q49/q60 rationals
    * contract) plus the raw sums. One pass, no iteration, no float:
    * the single-scan trend fit every monitoring pipeline wants at
    * 100 TB. x = days since the fixture's 1992-01-01 floor (NOT epoch
    * 1970 — the smaller x keeps the RAW SUMS comfortably inside
    * BIGINT), y = revenue cents per (status, day) — aggregated FIRST,
    * so the regression runs on the |status|×|days| rollup. The slope
    * PRODUCTS (n·Σxy − Σx·Σy) are DECIMAL(38,0) on both engines: the
    * round-6 10× sweep measured the predicted BIGINT overflow of
    * n·Σxy one scale step up (ANSI ARITHMETIC_OVERFLOW at mult=10),
    * so the escalation this scaladoc used to defer is now applied —
    * operands cast to DECIMAL(19,0) — int128 physical storage on both engines — products
    * and difference DECIMAL(38,0), exact to ~10³× today's revenue volume.
    * The EMITTED type is a canonical decimal STRING, not the decimal
    * itself: r6 showed DECIMAL(38,0) values that are numerically equal
    * cross-engine still diverge under the driver's value hash (decimal
    * representation isn't in the repo's hash-stable set — BIGINT +
    * fixed-order IEEE floats only), and digit strings are sign-exact
    * for negative slopes where hi/lo BIGINT limb splits would need a
    * cross-engine div/mod convention. DECIMAL(38,0)→string is plain
    * digits with an optional leading '-' on both engines.
    */
  val q109TrendOls: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("bigint").as("x"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("o_orderstatus"), col("x"))
        .agg(sum(col("cents")).as("y"))
      def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      daily.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"))
        .select(col("o_orderstatus"), col("n"), col("sum_x"), col("sum_y"),
          col("sum_xy"), col("sum_xx"),
          (d19(col("n")) * d19(col("sum_xy")) - d19(col("sum_x")) * d19(col("sum_y")))
            .cast("decimal(38,0)").cast("string").as("slope_num"),
          (d19(col("n")) * d19(col("sum_xx")) - d19(col("sum_x")) * d19(col("sum_x")))
            .cast("decimal(38,0)").cast("string").as("slope_den"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH daily AS (SELECT o_orderstatus,
                            CAST(datediff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS y
                     FROM orders GROUP BY 1, 2)
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sum_x,
             CAST(sum(y) AS BIGINT) AS sum_y,
             CAST(sum(x * y) AS BIGINT) AS sum_xy,
             CAST(sum(x * x) AS BIGINT) AS sum_xx,
             CAST(CAST(CAST(count(*) AS DECIMAL(19,0)) * CAST(sum(x * y) AS DECIMAL(19,0))
                  - CAST(sum(x) AS DECIMAL(19,0)) * CAST(sum(y) AS DECIMAL(19,0))
               AS DECIMAL(38,0)) AS VARCHAR) AS slope_num,
             CAST(CAST(CAST(count(*) AS DECIMAL(19,0)) * CAST(sum(x * x) AS DECIMAL(19,0))
                  - CAST(sum(x) AS DECIMAL(19,0)) * CAST(sum(x) AS DECIMAL(19,0))
               AS DECIMAL(38,0)) AS VARCHAR) AS slope_den
      FROM daily GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Islands-and-gaps: each user's LONGEST run of consecutive active
    * days (and how many distinct runs they have) — the classic
    * "streak" sequence analysis, via the day − dense_rank(day)
    * constant-key trick: within a user, consecutive days share one
    * island key, so streaks fall out of a groupBy with no self-join
    * and no iteration. Distinct from q47's 30-minute gap sessions:
    * this is calendar-day granularity over unbounded history. Scale:
    * everything rides one user_id shuffle — distinct days, the rank
    * window, and both rollups; state per user is its distinct-day
    * count, never raw events.
    */
  val q110ActivityStreaks: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val days = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint").as("day"))
        .distinct()
      days
        .withColumn("island", col("day") - dense_rank().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("active_days"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH days AS (SELECT DISTINCT user_id,
                           CAST(datediff('day', DATE '1970-01-01',
                             CAST(ts AS DATE)) AS BIGINT) AS day
                    FROM events),
      isl AS (SELECT user_id, day,
                     day - CAST(dense_rank() OVER (PARTITION BY user_id
                       ORDER BY day) AS BIGINT) AS island
              FROM days),
      runs AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
               FROM isl GROUP BY 1, 2)
      SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
             CAST(count(*) AS BIGINT) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM runs GROUP BY user_id ORDER BY user_id"""))

  /** Degree structure of the co-purchase graph: the degree HISTOGRAM
    * (how many parts have degree d — the long-tail shape that decides
    * every skew strategy in this catalog) plus, on a single summary
    * row (degree = -1 sentinel), the edge-level sufficient statistics
    * for degree assortativity: over symmetrized edges, Σd_u, Σd_u·d_v,
    * Σd_u² and the edge-end count 2m — Pearson's r of (d_u, d_v)
    * reconstructs from them (q109's rational contract; symmetry makes
    * the x and y marginals identical, so one set of sums suffices).
    * Scale: degrees ride the [[coEdges]] cache; the histogram is
    * |distinct degrees| rows; the edge-stat join is two broadcast-able
    * degree lookups — nothing quadratic, nothing collected.
    */
  val q111DegreeStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e = coEdges(s, dir)
      val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val hist = deg.groupBy(col("d").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(col("degree"), col("n_nodes"),
          lit(0L).as("sum_d"), lit(0L).as("sum_dd"), lit(0L).as("sum_d2"))
      val du = deg.select(col("x").as("u"), col("d").as("du"))
      val dv = deg.select(col("x").as("v"), col("d").as("dv"))
      val sym = e.join(du, "u").join(dv, "v")
        .select(col("du"), col("dv"))
      val stats = sym
        .select(col("du").as("a"), col("dv").as("b"))
        .unionAll(sym.select(col("dv").as("a"), col("du").as("b")))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("a")).as("sum_d"),
          sum(col("a") * col("b")).as("sum_dd"),
          sum(col("a") * col("a")).as("sum_d2"))
        .select(lit(-1L).as("degree"), col("n_nodes"), col("sum_d"),
          col("sum_dd"), col("sum_d2"))
      hist.unionAll(stats).orderBy(col("degree"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
              GROUP BY x),
      ends AS (SELECT du.d AS a, dv.d AS b
               FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
               UNION ALL
               SELECT dv.d AS a, du.d AS b
               FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v)
      SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(0 AS BIGINT) AS sum_d, CAST(0 AS BIGINT) AS sum_dd,
             CAST(0 AS BIGINT) AS sum_d2
      FROM deg GROUP BY d
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS degree,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(a) AS BIGINT) AS sum_d,
             CAST(sum(a * b) AS BIGINT) AS sum_dd,
             CAST(sum(a * a) AS BIGINT) AS sum_d2
      FROM ends
      ORDER BY degree"""))

  /** k-core decomposition of the co-purchase graph by FIXED-ROUND
    * peeling: each round drops vertices whose degree in the surviving
    * graph is below k=80, then the edges touching them — the
    * classic density filter (Seidman 1983) behind community seeding
    * and spam-subgraph pruning. Four rounds are replayed EXACTLY on
    * both engines (chained CTEs on the DuckDB side, the q85
    * fixed-iteration contract), emitting the per-round (survivor
    * vertices, survivor edges) trace — all integers, convergence
    * visible as a stabilized tail. Physical shape: each round's
    * kept-vertex and surviving-edge tables are `localCheckpoint(true)`d
    * — NOT persisted — because every round references the previous
    * round's frame ~5× (degrees twice, the two semi-joins, the trace
    * row): with lazy lineage the round-4 logical tree would contain
    * ~5⁴ copies of the base self-join and Catalyst re-analysis, not
    * execution, dominates (measured 165 s → 3 s at sf0.01; the same
    * disease `operators.Components.connectedComponents` documents).
    * Checkpoint blocks are round-sized and freed by session GC; a
    * peel-to-convergence production run adds the Components eager
    * block free since its round count is data-dependent. Per-round
    * work is one degree aggregation + two semi-joins, all
    * hash-partitioned on vertex id, no global structure. The
    * BroadcastNestedLoopJoin in this plan is the per-round crossJoin
    * of two ONE-ROW aggregates forming the trace row (the q30/q33
    * documented class), not a data-sized nested loop.
    */
  val q127KCoreDecomposition: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val k = 80
      val rounds = 4
      var edges = coEdges(s, dir)
      var trace = Vector.empty[DataFrame]
      for (i <- 1 to rounds) {
        val deg = edges.select(col("u").as("x"))
          .unionAll(edges.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("x"))
          .localCheckpoint(true)
        val next = edges
          .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
          .localCheckpoint(true)
        trace = trace :+ keep.agg(count(lit(1)).as("n_vertices"))
          .crossJoin(next.agg(count(lit(1)).as("n_edges")))
          .select(lit(i.toLong).as("iter"), col("n_vertices"),
            col("n_edges"))
        edges = next
      }
      trace.reduce(_ unionAll _).orderBy(col("iter"))
    },
    oracle = Some("""
      WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM op a JOIN op b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      d1 AS MATERIALIZED (SELECT x, count(*) AS d FROM
               (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0)
             GROUP BY x),
      v1 AS MATERIALIZED (SELECT x FROM d1 WHERE d >= 80),
      e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT x FROM v1)
                                   AND v IN (SELECT x FROM v1)),
      d2 AS MATERIALIZED (SELECT x, count(*) AS d FROM
               (SELECT u AS x FROM e1 UNION ALL SELECT v AS x FROM e1)
             GROUP BY x),
      v2 AS MATERIALIZED (SELECT x FROM d2 WHERE d >= 80),
      e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT x FROM v2)
                                   AND v IN (SELECT x FROM v2)),
      d3 AS MATERIALIZED (SELECT x, count(*) AS d FROM
               (SELECT u AS x FROM e2 UNION ALL SELECT v AS x FROM e2)
             GROUP BY x),
      v3 AS MATERIALIZED (SELECT x FROM d3 WHERE d >= 80),
      e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT x FROM v3)
                                   AND v IN (SELECT x FROM v3)),
      d4 AS MATERIALIZED (SELECT x, count(*) AS d FROM
               (SELECT u AS x FROM e3 UNION ALL SELECT v AS x FROM e3)
             GROUP BY x),
      v4 AS MATERIALIZED (SELECT x FROM d4 WHERE d >= 80),
      e4 AS MATERIALIZED (SELECT u, v FROM e3 WHERE u IN (SELECT x FROM v4)
                                   AND v IN (SELECT x FROM v4))
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS iter,
               CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_vertices,
               CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               CAST((SELECT count(*) FROM v2) AS BIGINT),
               CAST((SELECT count(*) FROM e2) AS BIGINT)
        UNION ALL
        SELECT CAST(3 AS BIGINT),
               CAST((SELECT count(*) FROM v3) AS BIGINT),
               CAST((SELECT count(*) FROM e3) AS BIGINT)
        UNION ALL
        SELECT CAST(4 AS BIGINT),
               CAST((SELECT count(*) FROM v4) AS BIGINT),
               CAST((SELECT count(*) FROM e4) AS BIGINT))
      ORDER BY iter"""))

  /** ANALYZE-style table statistics — the catalog-maintenance pass
    * every cost-based optimizer feeds on (row count, null count, NDV,
    * min/max per column), computed as one melt + one aggregation
    * rather than N table scans: `stack` unpivots the profiled columns
    * to (col_name, value) rows, one hash aggregation per column
    * computes the profile. Numeric and string columns ride separate
    * melts (typed min/max — no cross-engine number→string rendering
    * in the contract; string order is binary-UTF8 on both engines).
    * Exact NDV via the melt's distinct is the small-table form; at
    * 100 TB per-column NDV switches to the HLL sketch (q48) and
    * min/max/null-count come free from parquet footer stats — the
    * plan shape here is the exact-verification twin. Scale: the melt
    * multiplies scanned rows by the profiled-column count but keeps
    * ONE pass over the table (vs one scan per column), and the
    * aggregation partitions on col_name — profile columns in batches
    * of ~8 to bound the multiplication.
    */
  val q128TableStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val nums = li.select(expr(
          """stack(3, 'l_orderkey', l_orderkey,
                      'l_partkey', l_partkey,
                      'l_suppkey', l_suppkey) AS (col_name, v)"""))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .withColumn("min_s", lit(null).cast("string"))
        .withColumn("max_s", lit(null).cast("string"))
      val strs = li.select(expr(
          """stack(2, 'l_returnflag', l_returnflag,
                      'l_linestatus', l_linestatus) AS (col_name, sv)"""))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("sv"))).as("n_nulls"),
          countDistinct(col("sv")).as("n_distinct"),
          min(col("sv")).as("min_s"), max(col("sv")).as("max_s"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), lit(null).cast("bigint").as("min_v"),
          lit(null).cast("bigint").as("max_v"), col("min_s"), col("max_s"))
      nums.unionByName(strs).orderBy(col("col_name"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
        UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
      ms AS (
        SELECT 'l_returnflag' AS col_name, l_returnflag AS sv FROM lineitem
        UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem)
      SELECT col_name, count(*) AS n_rows,
             CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v,
             CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
      FROM m GROUP BY col_name
      UNION ALL
      SELECT col_name, count(*) AS n_rows,
             CAST(count(*) - count(sv) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT sv) AS BIGINT) AS n_distinct,
             CAST(NULL AS BIGINT) AS min_v, CAST(NULL AS BIGINT) AS max_v,
             min(sv) AS min_s, max(sv) AS max_s
      FROM ms GROUP BY col_name
      ORDER BY col_name"""))

  /** WEIGHTED median: the smallest price whose cumulative quantity
    * weight reaches half the group's total — the volume-weighted
    * location statistic ("half the units ship at or below this price")
    * that an unweighted median (q103) can't answer. Pure integers: the
    * 2·cumw ≥ totw crossing test never divides, quantities are
    * integral in this schema, and the selected value depends only on
    * the (cents, weight) multiset, not tie order. Scale: one
    * returnflag shuffle carries the ordering window, the running sum
    * and the crossing cut; the min-crossing pick is a 1-row-per-group
    * aggregate.
    */
  val q113WeightedMedian: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rows = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val ord = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
      val grp = Window.partitionBy(col("l_returnflag"))
      rows
        .withColumn("cumw", sum(col("w")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("totw", sum(col("w")).over(grp))
        .filter(lit(2L) * col("cumw") >= col("totw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("cents")).as("wmed_cents"), max(col("totw")).as("tot_qty"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      WITH t AS (SELECT l_returnflag,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                        CAST(round(l_quantity) AS BIGINT) AS w,
                        l_orderkey, l_linenumber
                 FROM lineitem),
      r AS (SELECT l_returnflag, cents,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag
                     ORDER BY cents, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cumw,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                     AS totw
            FROM t)
      SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS wmed_cents,
             CAST(max(totw) AS BIGINT) AS tot_qty
      FROM r WHERE 2 * cumw >= totw
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Rolling 7-day revenue per status via a NUMERIC RANGE frame —
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the integer day
    * index, so the frame is value-based (calendar days, gaps and all),
    * not row-based like q20's running frame: a day with no neighbors
    * in range aggregates only itself. Emits the rolling sum and the
    * day count actually present in each frame, all integers. Scale:
    * runs on the per-(status, day) rollup — aggregate first, window
    * the rollup (q98's discipline); one status shuffle carries it.
    */
  val q114RollingRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("bigint").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("roll_rev", sum(col("rev")).over(w))
        .withColumn("days_in_frame", count(lit(1)).over(w))
        .select(col("o_orderstatus"), col("day"), col("rev"),
          col("roll_rev"), col("days_in_frame"))
        .orderBy(col("o_orderstatus"), col("day"))
    },
    oracle = Some("""
      WITH daily AS (SELECT o_orderstatus,
                            CAST(datediff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS rev
                     FROM orders GROUP BY 1, 2)
      SELECT o_orderstatus, day, rev,
             CAST(sum(rev) OVER w AS BIGINT) AS roll_rev,
             CAST(count(*) OVER w AS BIGINT) AS days_in_frame
      FROM daily
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderstatus, day"""))

  /** Ratio-to-report: each nation's share of its region's gross
    * revenue and of the grand total, as exact integer rationals —
    * nation cents beside the region and grand window sums (the
    * numerator/denominator contract; callers divide). Gross = summed
    * `round(l_extendedprice·100)` — exact cents, no float product (the
    * discounted variant would reintroduce the product-rounding
    * midpoint class, so it ships under q12's float contract instead).
    * Scale: the two share denominators are window sums OVER THE
    * 25-ROW ROLLUP, not the facts; dims broadcast as in q99.
    */
  val q115RevenueShares: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sup = broadcast(Tables.supplier(s, dir))
      val nat = broadcast(Tables.nation(s, dir))
      val reg = broadcast(Tables.region(s, dir))
      val rollup = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("nation_cents"))
      rollup
        .withColumn("region_cents",
          sum(col("nation_cents")).over(Window.partitionBy(col("r_name"))))
        .withColumn("grand_cents",
          sum(col("nation_cents")).over(
            Window.partitionBy(lit(1))))
        .select(col("r_name"), col("n_name"), col("nation_cents"),
          col("region_cents"), col("grand_cents"))
        .orderBy(col("r_name"), col("n_name"))
    },
    oracle = Some("""
      WITH rollup AS (SELECT r_name, n_name,
                             CAST(sum(CAST(round(l_extendedprice * 100)
                               AS BIGINT)) AS BIGINT) AS nation_cents
                      FROM lineitem
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
                      GROUP BY r_name, n_name)
      SELECT r_name, n_name, nation_cents,
             CAST(sum(nation_cents) OVER (PARTITION BY r_name) AS BIGINT)
               AS region_cents,
             CAST(sum(nation_cents) OVER () AS BIGINT) AS grand_cents
      FROM rollup ORDER BY r_name, n_name"""))

  /** Relational DIVISION (for-all semantics): suppliers whose
    * shipments reach customers in ALL regions — the classic "divide by
    * the full divisor set" operator, expressed as the scalable
    * count-distinct formulation: distinct (supplier, region) pairs,
    * grouped, kept when the reach equals the divisor cardinality
    * (itself computed, not hard-coded — a one-row broadcast). The
    * double-NOT-EXISTS textbook form becomes two anti-join passes of
    * the fact table; the count form is one. Scale: orders/customer/
    * nation dims broadcast onto lineitem, distinct pre-pass bounds the
    * pair set at |suppliers|·|regions|, and the division itself runs
    * on that bounded table.
    */
  val q116SupplierDivision: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_orderkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")))
      val n = broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey")))
      val nRegions = Tables.region(s, dir)
        .agg(countDistinct(col("r_regionkey")).as("n_regions"))
      val reach = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .select(col("l_suppkey"), col("n_regionkey")).distinct()
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("regions_reached"))
      reach.crossJoin(broadcast(nRegions))
        .filter(col("regions_reached") === col("n_regions"))
        .select(col("l_suppkey").as("s_suppkey"), col("regions_reached"))
        .orderBy(col("s_suppkey"))
    },
    oracle = Some("""
      WITH reach AS (SELECT DISTINCT l_suppkey, n_regionkey
                     FROM lineitem
                     JOIN orders ON l_orderkey = o_orderkey
                     JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey),
      agg AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS regions_reached
              FROM reach GROUP BY 1)
      SELECT l_suppkey AS s_suppkey, regions_reached
      FROM agg
      WHERE regions_reached =
        (SELECT count(DISTINCT r_regionkey) FROM region)
      ORDER BY s_suppkey"""))

  /** Frequent itemset mining, one Apriori level up from q14: part
    * TRIPLES with support ≥ 2 orders (the fixtures' baskets are small
    * and diverse — support 3 is empty even at sf0.01, and sf0.1's 10×
    * part universe is sparse enough that support 2 is empty THERE too;
    * the gate scale yields 12 triples), built by extending only
    * FREQUENT PAIRS (the Apriori pruning step — any frequent triple's
    * sub-pairs are frequent, so candidates = frequent pair ⋈ third
    * item, never the |parts|³ grid). Support threshold in plain
    * integers; total (cnt desc, p1, p2, p3) order with a top-20 cut.
    * Scale: the pair support table is the bound — candidate volume is
    * Σ over frequent pairs of their orders' basket widths, the
    * standard distributed Apriori shape; a skewed mega-basket is
    * already capped by q14's distinct pre-pass discipline.
    */
  val q117FrequentTriples: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      // distinct (order, part) rows partitioned by order once: op and
      // its pair self-join share that one exchange
      val op = CoOccurrence.keyedItems(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
        .select(col("k").as("l_orderkey"), col("item").as("l_partkey"))
      val pairs = op.as("a").join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_orderkey").as("ok"),
          col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      val freqPairs = coPairCounts(s, dir)
        .filter(col("co") >= 2)
        .select(col("p1"), col("p2"))
      val candidates = pairs
        .join(freqPairs, Seq("p1", "p2"), "left_semi")
        .join(op.as("c"),
          col("ok") === col("c.l_orderkey") &&
            col("p2") < col("c.l_partkey"))
        .select(col("p1"), col("p2"), col("c.l_partkey").as("p3"))
      candidates.groupBy(col("p1"), col("p2"), col("p3"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("p1"), col("p2"), col("p3"))
        .limit(20)
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             CAST(count(*) AS BIGINT) AS cnt
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
      JOIN op c ON b.l_orderkey = c.l_orderkey
               AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3 HAVING count(*) >= 2
      ORDER BY cnt DESC, p1, p2, p3
      LIMIT 20"""))

  /** FULL OUTER reconciliation — the two-source diff every data
    * platform runs (which keys exist only left, only right, or both):
    * per-nation BUILDING-segment customer counts against
    * negative-balance supplier counts, full-outer-joined on nation
    * with coalesced counts and a presence class. The only full_outer
    * in the catalog — J-family completion. Scale: both inputs are
    * pre-aggregated to ≤|nations| rows before the join, so the
    * full-outer itself is dim-sized whatever the fact volume; the
    * presence CASE rides the join projection.
    */
  val q118NationReconciliation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey").cast("bigint").as("ck"))
        .agg(count(lit(1)).as("n_customers"))
      val sup = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0)
        .groupBy(col("s_nationkey").cast("bigint").as("sk"))
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(sup, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
          when(col("ck").isNotNull && col("sk").isNotNull, "both")
            .when(col("ck").isNotNull, "customers_only")
            .otherwise("suppliers_only").as("presence"))
        .orderBy(col("nationkey"))
    },
    oracle = Some("""
      WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS ck,
                        CAST(count(*) AS BIGINT) AS n_customers
                 FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
      s AS (SELECT CAST(s_nationkey AS BIGINT) AS sk,
                   CAST(count(*) AS BIGINT) AS n_suppliers
            FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
      SELECT coalesce(ck, sk) AS nationkey,
             coalesce(n_customers, 0) AS n_customers,
             coalesce(n_suppliers, 0) AS n_suppliers,
             CASE WHEN ck IS NOT NULL AND sk IS NOT NULL THEN 'both'
                  WHEN ck IS NOT NULL THEN 'customers_only'
                  ELSE 'suppliers_only' END AS presence
      FROM c FULL OUTER JOIN s ON ck = sk
      ORDER BY nationkey"""))

  /** Order-count distribution including ZERO-order customers (TPC-H
    * Q13 shape — the left-join-then-double-aggregate that a plain
    * `orders GROUP BY custkey` can never produce, because customers
    * with no matching orders vanish from an inner formulation). The
    * order side is date-restricted (>= 1999) so the zero bucket is
    * non-vacuous on the fixtures. Scale: the join shuffles both sides
    * on custkey once; the per-customer counts are |customers| rows and
    * the final distribution is at most max-orders-per-customer rows —
    * both aggregations are map-side combinable.
    */
  val q142CustomerOrderDistribution: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val per = Tables.customer(s, dir).select(col("c_custkey"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("n_orders"))
      per.groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("n_orders").desc)
    },
    oracle = Some("""
      WITH o AS (SELECT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
      per AS (SELECT c_custkey, CAST(count(o.o_custkey) AS BIGINT) AS n_orders
              FROM customer c LEFT JOIN o ON c_custkey = o_custkey
              GROUP BY c_custkey)
      SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
      FROM per GROUP BY n_orders
      ORDER BY n_customers DESC, n_orders DESC"""))

  /** Small-quantity order revenue per brand (TPC-H Q17 shape — the
    * correlated "below half this part's average quantity" subquery,
    * decorrelated into an aggregate-then-join-back). The half-average
    * test is cross-multiplied into pure BIGINT (2·qty·n < Σqty, the
    * q82 no-float-division class; quantities are integral in the
    * fixture and in TPC-H) so no engine ever divides. Scale: the
    * per-part average is one map-side-combinable agg on partkey, the
    * join-back reuses the same partkey shuffle, and the part dim
    * (brand lookup) is BROADCAST; 2·50·n overflows only past n≈9·10^16
    * lineitems per part.
    */
  val q143SmallQuantityRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey"),
        col("l_quantity").cast("bigint").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val pa = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_li"))
      li.join(pa, Seq("l_partkey"))
        .filter(lit(2) * col("qty") * col("n_li") < col("sum_qty"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                  FROM lineitem),
      pa AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
                    CAST(count(*) AS BIGINT) AS n_li
             FROM li GROUP BY l_partkey)
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM li JOIN pa USING (l_partkey)
              JOIN part ON l_partkey = p_partkey
      WHERE 2 * qty * n_li < sum_qty
      GROUP BY p_brand ORDER BY p_brand"""))

  /** Top supplier(s) by quarterly shipped revenue (TPC-H Q15 shape —
    * the revenue view + "equal to the maximum" scalar, kept tie-safe
    * by construction). Revenue is the discounted price floored onto a
    * 10^-4 grid as BIGINT (price has 2 decimals, discount 2, so the
    * product is exact on that grid; identical round on both engines —
    * the q115 cents idiom one scale finer), and the max-equality
    * compare is integer, so ties are exact, not float-luck. Lines with
    * no supplier key cannot name a top supplier and are dropped before
    * the rollup. Scale: one suppkey agg over the date-pruned scan, then
    * its max as a one-row global aggregate, broadcast and joined back
    * on revenue equality — no window moves the rollup into one
    * partition. The explicit null filter keeps both branches of the
    * join-back one plan (the supplier join would otherwise infer it on
    * one side only), so ReuseExchange serves the max from the rollup's
    * shuffle and the fact table is scanned once; supplier names
    * BROADCAST.
    */
  val q144TopQuarterSupplier: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-04-01").cast("timestamp") &&
          col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey"))
        .agg(sum(expr(
          "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)"))
          .as("revenue_e4"))
      rev
        .join(broadcast(rev.agg(max(col("revenue_e4")).as("max_rev"))),
          col("revenue_e4") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("revenue_e4"))
        .orderBy(col("s_suppkey"))
    },
    oracle = Some("""
      WITH rev AS (SELECT l_suppkey,
                          CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                            * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
                   FROM lineitem
                   WHERE l_shipdate >= TIMESTAMP '1999-01-01'
                     AND l_shipdate <  TIMESTAMP '1999-04-01'
                     AND l_suppkey IS NOT NULL
                   GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, revenue_e4
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE revenue_e4 = (SELECT max(revenue_e4) FROM rev)
      ORDER BY s_suppkey"""))

  /** Sole-blame suppliers (TPC-H Q21 shape — the double-correlated
    * EXISTS / NOT-EXISTS: another supplier participated in the order,
    * but no other supplier triggered the condition). Here: suppliers
    * who were the ONLY supplier with a returned ('R') line inside a
    * multi-supplier order. Both existence tests collapse into one
    * per-order aggregate (participant count + distinct R-suppliers)
    * instead of two correlated anti-join passes of the fact table.
    * Scale: lineitem pre-aggregates to distinct (order, supplier,
    * any_R) — one orderkey shuffle — the order-level rollup rides the
    * same exchange, and the blame filter runs on order-sized rows;
    * supplier names BROADCAST, final top-20 is TakeOrdered.
    */
  val q145SoleReturnSuppliers: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val os = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
      val ord = os.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_sups"), sum(col("has_r")).as("n_sups_r"))
      os.join(ord, Seq("l_orderkey"))
        .filter(col("has_r") === 1 && col("n_sups") > 1 && col("n_sups_r") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("blamed_orders"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("blamed_orders"))
        .orderBy(col("blamed_orders").desc, col("s_suppkey"))
        .limit(20)
    },
    oracle = Some("""
      WITH os AS (SELECT l_orderkey, l_suppkey,
                         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                           AS has_r
                  FROM lineitem GROUP BY l_orderkey, l_suppkey),
      ord AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_sups,
                     CAST(sum(has_r) AS BIGINT) AS n_sups_r
              FROM os GROUP BY l_orderkey)
      SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS blamed_orders
      FROM os JOIN ord USING (l_orderkey)
              JOIN supplier ON l_suppkey = s_suppkey
      WHERE has_r = 1 AND n_sups > 1 AND n_sups_r = 1
      GROUP BY s_suppkey, s_name
      ORDER BY blamed_orders DESC, s_suppkey
      LIMIT 20"""))

  /** Churned high-balance customers per nation (TPC-H Q22 shape —
    * the global-average scalar subquery + NOT EXISTS anti-join). A
    * customer qualifies when their balance strictly exceeds the mean
    * positive balance (cross-multiplied: cents·n_pos > Σpos_cents —
    * no float average crosses the engine boundary) and they placed no
    * order on/after 2000-01-01. Scale: the scalar is a one-row
    * broadcast (the q30/q33 bounded join-back pattern), the anti-join
    * shuffles on custkey against the date-pruned DISTINCT custkey set,
    * and the output is nation-sized. cents·n_pos crosses 2^63 near
    * 9·10^12 positive-balance customers — beyond any real tenancy.
    */
  val q146ChurnedRichCustomers: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cust = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val scalar = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_pos"), count(lit(1)).as("n_pos"))
      val active = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct()
      cust.join(broadcast(scalar))
        .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("bigint").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("bal_cents")).as("total_bal_cents"))
        .orderBy(col("nationkey"))
    },
    oracle = Some("""
      WITH cust AS (SELECT c_custkey, c_nationkey,
                           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                    FROM customer),
      scalar AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos,
                        CAST(count(*) AS BIGINT) AS n_pos
                 FROM cust WHERE bal_cents > 0),
      active AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
      FROM cust, scalar
      WHERE bal_cents * n_pos > sum_pos
        AND NOT EXISTS (SELECT 1 FROM active WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey ORDER BY nationkey"""))

  /** Calendar gap-fill + last-observation-carried-forward — the
    * time-series densification every monitoring/feature pipeline
    * needs (a day with no orders is a ZERO-information row a plain
    * groupBy never emits; carrying the last value forward plus a
    * staleness age is the standard serving shape). The series is
    * deliberately sparsified (orderkey ≡ 0 mod 7) so fixtures have
    * real gaps. Per-status calendars expand via `sequence` between
    * that status's own first/last day (LOCF is undefined before the
    * first observation, so no leading nulls exist by construction);
    * the carry and the staleness age are one `last(_, ignoreNulls)`
    * running frame each, sharing the (status, day) sort. Integer day
    * index (epoch anchored at the fixture's 1992 floor, the q109
    * rule) and integer cents only. Scale: the calendar explode emits
    * |statuses|·span rows — days, not facts; both windows partition
    * by status; at 100 TB key cardinality (status) is the parallelism
    * floor, so a per-entity variant would partition by (entity) —
    * same plan, a million-way parallel window instead of 3.
    */
  val q150GapFillLocf: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val obs = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0)
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("bigint").as("day_idx"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("obs_cents"))
      val cal = obs.groupBy(col("o_orderstatus"))
        .agg(min(col("day_idx")).as("d0"), max(col("day_idx")).as("d1"))
        .select(col("o_orderstatus"),
          explode(expr("sequence(d0, d1)")).as("day_idx"))
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("day_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(obs, Seq("o_orderstatus", "day_idx"), "left")
        .withColumn("rev_cents", last(col("obs_cents"), ignoreNulls = true).over(w))
        .withColumn("gap_age", col("day_idx") -
          last(when(col("obs_cents").isNotNull, col("day_idx")),
            ignoreNulls = true).over(w))
        .select(col("o_orderstatus"), col("day_idx"),
          when(col("obs_cents").isNotNull, 1L).otherwise(0L).as("observed"),
          col("rev_cents"), col("gap_age"))
        .orderBy(col("o_orderstatus"), col("day_idx"))
    },
    oracle = Some("""
      WITH obs AS (
        SELECT o_orderstatus,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS day_idx,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS obs_cents
        FROM orders WHERE o_orderkey % 7 = 0
        GROUP BY 1, 2),
      cal AS (SELECT o_orderstatus, unnest(range(min(day_idx), max(day_idx)+1))
                       AS day_idx
              FROM obs GROUP BY o_orderstatus),
      j AS (SELECT cal.o_orderstatus, cal.day_idx, obs.obs_cents
            FROM cal LEFT JOIN obs
              ON cal.o_orderstatus = obs.o_orderstatus
             AND cal.day_idx = obs.day_idx)
      SELECT o_orderstatus, CAST(day_idx AS BIGINT) AS day_idx,
             CAST(CASE WHEN obs_cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS observed,
             CAST(last_value(obs_cents IGNORE NULLS) OVER
               (PARTITION BY o_orderstatus ORDER BY day_idx
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rev_cents,
             CAST(day_idx - last_value(CASE WHEN obs_cents IS NOT NULL
                 THEN day_idx END IGNORE NULLS) OVER
               (PARTITION BY o_orderstatus ORDER BY day_idx
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gap_age
      FROM j ORDER BY o_orderstatus, day_idx"""))

  /** Returned-revenue top customers (TPC-H Q10 shape — the classic
    * three-way fact join + TakeOrdered head: who returned the most
    * value in a quarter). Revenue on the 10^-4 integer grid (q144
    * idiom) so the top-20 cut is engine-exact with the custkey
    * tiebreak. Scale: lineitem pre-filters on returnflag before the
    * orderkey shuffle against date-pruned orders; the per-customer
    * rollup shuffles once on custkey; customer + nation attach AFTER
    * aggregation (dim joins on a |customers|-sized rollup, nation
    * BROADCAST); the final head is TakeOrderedAndProject, never a
    * full sort.
    */
  val q151ReturnedRevenueCustomers: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rl = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), expr(
          "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)")
          .as("rev_e4"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val per = rl.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_lines"))
      per
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("revenue_e4"), col("n_lines"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
    },
    oracle = Some("""
      WITH per AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
                 AS BIGINT)) AS BIGINT) AS revenue_e4,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate <  TIMESTAMP '1999-04-01'
        GROUP BY o_custkey)
      SELECT c_custkey, c_name, n_name, revenue_e4, n_lines
      FROM per JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
      ORDER BY revenue_e4 DESC, c_custkey
      LIMIT 20"""))

  /** Bi-nation trade volume by year (TPC-H Q7 shape — the supplier
    * nation x customer nation shipping matrix, here the FULL ordered
    * pair matrix rather than one hardcoded pair). Two independent dim
    * chains meet at the fact row: supplier→nation on one side,
    * order→customer→nation on the other. Scale: all four dims
    * BROADCAST onto the two fact tables; the only big shuffle is
    * lineitem↔orders on orderkey; the (supp_nation, cust_nation,
    * year) rollup is ≤ |nations|²·years rows, map-side combinable.
    */
  val q152BiNationTrade: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("bigint").as("ship_year"),
          expr(
            "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)")
            .as("rev_e4"))
      val sn = broadcast(Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val cn = broadcast(Tables.customer(s, dir)
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg(sum(col("rev_e4")).as("volume_e4"), count(lit(1)).as("n_lines"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
    },
    oracle = Some("""
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS ship_year,
             CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
               AS BIGINT)) AS BIGINT) AS volume_e4,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        AND sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Disjunctive-predicate revenue (TPC-H Q19 shape — the OR of
    * brand/size/quantity conjunction tiers that exercises an
    * optimizer's ability to push a disjunction into the scan and
    * still use the join). Quantities compare as integers. Scale: the
    * part dim is BROADCAST; each disjunct narrows on both join sides
    * (quantity tiers on the fact scan, brand/size on the dim), and
    * Catalyst pushes the common `l_quantity <= 36` bound + the
    * partkey join below the OR; one-row output.
    */
  val q153DisjunctiveRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        col("l_quantity").cast("bigint").as("qty"),
        expr(
          "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)")
          .as("rev_e4"))
      val p = broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("qty").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("qty").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("qty").between(20, 30)))
        .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("revenue_e4"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
               AS BIGINT)) AS BIGINT) AS revenue_e4
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)"""))

  /** Above-share contributors (TPC-H Q11 shape — the GROUP BY ...
    * HAVING sum > fraction-of-global-scalar pattern): parts whose
    * lifetime revenue exceeds 4/3 of the MEAN per-part revenue. A
    * mean-relative threshold is scale-invariant (a fixed corpus
    * fraction like Q11's literal 1/2000 empties as |parts| grows —
    * verified vacuous at sf0.1); the test is cross-multiplied
    * (3·s·n > 4·total — no float division). The global total and
    * part count re-aggregate the per-part rollup (never a second
    * fact scan) and attach as a one-row broadcast. Scale: one
    * partkey shuffle builds the rollup; everything after runs on
    * |parts| rows. 3·s·n crosses 2^63 near 10^9 parts × 10^9 cents
    * each — DECIMAL(38,0) escalation documented at that corpus size
    * (q109 rule).
    */
  val q154RevenueShareParts: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pr = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("part_cents"))
      val total = pr.agg(sum(col("part_cents")).as("total_cents"),
        count(lit(1)).as("n_parts"))
      pr.join(broadcast(total))
        .filter(lit(3L) * col("part_cents") * col("n_parts") >
          lit(4L) * col("total_cents"))
        .select(col("l_partkey"), col("part_cents"), col("total_cents"),
          col("n_parts"))
        .orderBy(col("part_cents").desc, col("l_partkey"))
    },
    oracle = Some("""
      WITH pr AS (SELECT l_partkey,
                         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           AS BIGINT) AS part_cents
                  FROM lineitem GROUP BY l_partkey),
      g AS (SELECT CAST(sum(part_cents) AS BIGINT) AS total_cents,
                   CAST(count(*) AS BIGINT) AS n_parts FROM pr)
      SELECT l_partkey, part_cents, total_cents, n_parts
      FROM pr, g
      WHERE 3 * part_cents * n_parts > 4 * total_cents
      ORDER BY part_cents DESC, l_partkey"""))

  /** Large-volume orders (TPC-H Q18 shape — the HAVING-gated fact
    * rollup joined back to its dimensions, then a TakeOrdered head).
    * Quantity sums as BIGINT (integral in fixture and spec). Scale:
    * the orderkey rollup is one map-side-combinable shuffle; only the
    * ≥threshold survivors (a tiny fraction) join orders and customer,
    * so the dim joins run on the filtered rollup, not the facts; the
    * head is TakeOrderedAndProject.
    */
  val q155LargeVolumeOrders: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("bigint")).as("total_qty"),
          count(lit(1)).as("n_lines"))
        .filter(col("total_qty") > 250L)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
          col("total_qty"), col("n_lines"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    },
    oracle = Some("""
      WITH big AS (SELECT l_orderkey,
                          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                            AS total_qty,
                          CAST(count(*) AS BIGINT) AS n_lines
                   FROM lineitem GROUP BY l_orderkey
                   HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
      SELECT c_custkey, c_name, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             total_qty, n_lines
      FROM big JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, o_orderkey
      LIMIT 20"""))

  /** Priority-class shipping report (TPC-H Q12 shape — the
    * join-then-conditional-count: per category, how many orders were
    * urgent/high priority vs everything else; the reference's
    * CASE-sum dashboard idiom over a fact join). The fixture lacks
    * l_shipmode, so the category axis is the return flag. Scale: the
    * only shuffle is lineitem↔orders on orderkey; the conditional
    * sums ride the |flags|-sized rollup with map-side partials.
    */
  val q156PriorityClassCounts: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_returnflag"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Bucketed order-independent TABLE DIGEST — the anti-entropy /
    * replica-reconciliation primitive (Cassandra/Dynamo Merkle-style):
    * each row canonicalizes to one string, hashes through the codegen
    * [[graft.functions.AsciiPolyHash]], and folds into its key-range
    * bucket as a SUM mod P — commutative, so the digest is identical
    * whatever the partition/arrival order, which is the whole point
    * (two replicas compare 64 digests, then re-scan only mismatched
    * buckets). The timestamp canonicalizes as the 1992-anchored day
    * index, never a formatted string (format dialects diverge; integer
    * arithmetic doesn't — the q109/q122 rule). Scale: map-only scan +
    * one 64-key map-side-combinable agg; Σ(h) with h < 2^31 crosses
    * 2^63 near 4·10^9 rows per bucket — at that size raise the bucket
    * count (the digest is per-bucket, so headroom scales with fan-out)
    * or escalate DECIMAL(38,0) per the q109 rule.
    */
  /** q157's digest over any orders-shaped frame — factored out so the
    * homomorphism property (digest(A ∪ B) = digest(A) ⊕ digest(B),
    * bucketwise sums mod P — the incremental-maintenance claim an
    * anti-entropy digest lives on) is spec-testable (DigestSpec).
    */
  private[graft] def orderDigest(df: DataFrame): DataFrame = {
    val P = 2147483647L
    val rowStr = concat_ws("|",
      col("o_orderkey").cast("string"),
      col("o_custkey").cast("string"),
      col("o_orderstatus"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("string"),
      datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("string"),
      col("o_orderpriority"))
    df.select((col("o_orderkey") % 64).as("bucket"),
        graft.functions.VectorExpressions.polyHash(rowStr).as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), (sum(col("h")) % P).as("digest"))
      .orderBy(col("bucket"))
  }

  val q157TableDigest: QuerySpec = QuerySpec(
    fn = (s, dir) => orderDigest(Tables.orders(s, dir)),
    oracle = Some(s"""
      WITH r AS (
        SELECT o_orderkey % 64 AS bucket,
               ${PipelineCatalog.polyhashSql(
                 "o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' " +
                 "|| CAST(round(o_totalprice * 100) AS BIGINT) || '|' " +
                 "|| datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) " +
                 "|| '|' || o_orderpriority")} AS h
        FROM orders)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(h) % 2147483647 AS BIGINT) AS digest
      FROM r GROUP BY bucket ORDER BY bucket"""))

  /** Deterministic string aggregation (LISTAGG/string_agg — the one
    * SQL aggregate family the catalog lacked): per order status, the
    * sorted distinct priorities as one delimited string. collect_set
    * arrives in arbitrary partition order, so `array_sort` +
    * `array_join` pins the total order BEFORE the string forms —
    * the only way a concatenative aggregate can ever hash-match
    * across engines (DuckDB replays with ORDER BY inside
    * string_agg). Scale: |statuses| × |priorities| state — a bounded
    * set per group; an unbounded listagg is the anti-pattern
    * (collect_list on a hot key), which is what q105's bounded-state
    * TopKAggregator exists to replace.
    */
  val q158StatusPriorityAgg: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus")),
    oracle = Some("""
      SELECT o_orderstatus,
             string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Cheapest observed supplier per part (TPC-H Q2 shape — the
    * correlated "minimum cost for this part" subquery, decorrelated
    * into a per-group argmin window). Unit price compares as the
    * floor-scaled integer (cents·10⁴ div qty) — deterministic on both
    * engines where a float division could tie-break differently (the
    * q95/q129 floor-scaled-key rule); rank ties break on suppkey, so
    * exactly one winner per part survives. Restricted to a part-size
    * class (Q2's region/size filter analog) to keep the dim filter in
    * the plan. Scale: one (partkey, suppkey) pre-aggregation shuffles
    * the facts once; the argmin window runs per part over its observed
    * suppliers (bounded fan-in); supplier/part dims BROADCAST onto the
    * |parts|-sized result.
    */
  val q159CheapestSupplier: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val obs = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_quantity").cast("bigint").as("qty"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("cents")).as("sum_cents"), sum(col("qty")).as("sum_qty"))
        .withColumn("unit_e4",
          expr("CAST(sum_cents * 10000 AS BIGINT) div sum_qty"))
      val best = obs
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("l_partkey"))
            .orderBy(col("unit_e4"), col("l_suppkey"))))
        .filter(col("rk") === 1)
      best
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_size") <= 10)
          .select(col("p_partkey"), col("p_name"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          col("s_suppkey"), col("s_name"), col("unit_e4"),
          col("sum_cents"), col("sum_qty"))
        .orderBy(col("p_partkey"))
    },
    oracle = Some("""
      WITH obs AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_partkey, l_suppkey),
      u AS (SELECT *, CAST(sum_cents * 10000 // sum_qty AS BIGINT) AS unit_e4
            FROM obs),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY l_partkey
                    ORDER BY unit_e4, l_suppkey) AS rk
        FROM u)
      SELECT p_partkey, p_name, p_size, s_suppkey, s_name,
             unit_e4, sum_cents, sum_qty
      FROM best
      JOIN part ON l_partkey = p_partkey AND p_size <= 10
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE rk = 1
      ORDER BY p_partkey"""))

  /** k-ANONYMITY audit over quasi-identifiers — the privacy gate a
    * training-data release runs before shipping user-adjacent rows
    * (Sweeney's k-anonymity: every quasi-identifier combination must
    * cover ≥ k individuals or be suppressed/generalized). The
    * quasi-identifier is (nation, market segment, 1000-unit balance
    * band — integer division on cents SHIFTED into the non-negative
    * domain first: banding semantics should not straddle zero with a
    * double-width truncation bucket, and ≥ 0 the result is identical
    * under every engine's division convention, so the shift removes
    * the whole dialect question); per
    * equivalence class: its
    * size, the k=5 violation flag, and the l-DIVERSITY count over a
    * deterministic stand-in sensitive label (custkey mod 3 — the
    * fixtures carry no real sensitive column; a k-anonymous class
    * with l=1 still leaks, which is exactly what this column shows on
    * the small classes). Non-vacuous at both gate SFs (891/901
    * violating classes at sf0.01, 29/1375 at sf0.1 — fixed-k audits
    * naturally pass as data grows). Scale: one groupBy on the QI
    * tuple, map-side combinable; the class table is domain-sized,
    * never row-sized; generalization loops (coarsen, re-audit) re-run
    * the same plan on the rollup.
    */
  val q160KAnonymityAudit: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_nationkey").cast("bigint").as("nationkey"),
          col("c_mktsegment").as("segment"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) div 100000")
            .as("bal_band"),
          (col("c_custkey") % 3).as("sensitive"))
        .groupBy(col("nationkey"), col("segment"), col("bal_band"))
        .agg(
          count(lit(1)).as("class_size"),
          countDistinct(col("sensitive")).as("l_diversity"),
          when(count(lit(1)) < 5L, 1L).otherwise(0L).as("violates_k5"))
        .orderBy(col("nationkey"), col("segment"), col("bal_band")),
    oracle = Some("""
      WITH q AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                        c_mktsegment AS segment,
                        (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000)
                          // 100000 AS bal_band,
                        c_custkey % 3 AS sensitive
                 FROM customer)
      SELECT nationkey, segment, bal_band,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT sensitive) AS BIGINT) AS l_diversity,
             CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT)
               AS violates_k5
      FROM q
      GROUP BY nationkey, segment, bal_band
      ORDER BY nationkey, segment, bal_band"""))

  /** Join-cardinality ESTIMATION audit — the cost-based-optimizer
    * feedback loop made a query: for each core join edge, the textbook
    * containment estimate |A⋈B| ≈ n_a·n_b / max(ndv_a, ndv_b) laid
    * against the ACTUAL join count, error as an exact rational
    * (est_num/est_den vs actual — never a float division crossing the
    * engine boundary). Reading this per edge tells you which estimates
    * the q128 NDV statistics get wrong BEFORE a plan regresses — the
    * production use of ANALYZE output. Scale: per edge, two
    * one-row side aggregates (count + exact NDV) and one join count;
    * the actual count is the expensive part and is exactly the work a
    * CBO validation sweep pays; output is |edges| rows. BIGINT
    * headroom AT TARGET SF (q109 rule): est_num = n_a·n_b crosses
    * 2^63 once both sides exceed ~3·10⁹ rows — a 100 TB lineitem ×
    * orders edge (≈6·10¹¹ × 1.5·10¹¹ ≈ 9·10²²) needs DECIMAL(38,0)
    * on both engines, which holds it with 15 digits to spare.
    */
  val q161JoinCardinalityAudit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def edge(name: String, a: DataFrame, ka: String, b: DataFrame,
          kb: String): DataFrame = {
        val sa = a.agg(count(lit(1)).as("n_a"),
          countDistinct(col(ka)).as("ndv_a"))
        val sb = b.agg(count(lit(1)).as("n_b"),
          countDistinct(col(kb)).as("ndv_b"))
        val actual = a.join(b, a(ka) === b(kb))
          .agg(count(lit(1)).as("actual"))
        sa.join(sb).join(actual)
          .select(lit(name).as("edge"), col("n_a"), col("ndv_a"),
            col("n_b"), col("ndv_b"),
            (col("n_a") * col("n_b")).as("est_num"),
            greatest(col("ndv_a"), col("ndv_b")).as("est_den"),
            col("actual"))
      }
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val p = Tables.part(s, dir)
      edge("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(edge("lineitem_part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("orders_customer", o, "o_custkey", c, "c_custkey"))
        .orderBy(col("edge"))
    },
    oracle = Some("""
      WITH e1 AS (
        SELECT 'lineitem_orders' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_a,
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS ndv_a,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_b,
               (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS ndv_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS actual),
      e2 AS (
        SELECT 'lineitem_part' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_a,
               (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS ndv_a,
               (SELECT CAST(count(*) AS BIGINT) FROM part) AS n_b,
               (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part) AS ndv_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM lineitem JOIN part ON l_partkey = p_partkey) AS actual),
      e3 AS (
        SELECT 'orders_customer' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_a,
               (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS ndv_a,
               (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_b,
               (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer) AS ndv_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM orders JOIN customer ON o_custkey = c_custkey) AS actual)
      SELECT edge, n_a, ndv_a, n_b, ndv_b,
             CAST(n_a * n_b AS BIGINT) AS est_num,
             CAST(greatest(ndv_a, ndv_b) AS BIGINT) AS est_den,
             actual
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
            UNION ALL SELECT * FROM e3)
      ORDER BY edge"""))

  /** 2-D SKYLINE (Pareto frontier — the preference-query operator):
    * customers not dominated on (balance, order count), where a
    * dominates b iff both coordinates are ≥ and at least one is
    * strictly >. The engine side is the single-sort formulation: an
    * integer RANGE frame supplies max(n) over STRICTLY higher
    * balances (rangeBetween(1, ∞) on cents — value-based, so
    * balance ties are correctly excluded), a per-balance partition
    * max handles the equal-balance axis, and a row survives iff no
    * higher-balance row reaches its count and it tops its own
    * balance class (equal (bal, n) duplicates both survive — neither
    * dominates). The DuckDB oracle deliberately runs the NAIVE
    * double-NOT-EXISTS definition, so the compare crosses two
    * different algorithms (the q94 rule). The "max count over
    * strictly higher balances" is a DISTRIBUTED PREFIX MAX in
    * descending-balance order, [[PrefixScan.earlierMax]] over the
    * per-balance rollup: a naive value-based range frame
    * (rangeBetween(1, ∞)) re-scans its frame per row on one task —
    * measured O(n²): 114 s at 10× — while the kernel is one range
    * exchange and linear work. Scale:
    * the frontier input is the |customers|-sized rollup, one custkey
    * shuffle from the facts; nothing fact-sized ever sorts on one
    * task.
    */
  val q162ParetoFrontier: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val per = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val pts = Tables.customer(s, dir)
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      // per-balance rollup: one row per distinct balance, its max count
      val byBal = pts.groupBy(col("bal_cents"))
        .agg(max(col("n_orders")).as("maxn_equal"))
        .withColumn("neg", -col("bal_cents"))
      // strictly-higher balances = strictly-smaller `neg` keys; NULL
      // (no higher balance) reads as -1, below every count
      val pref = PrefixScan.earlierMax(byBal, "neg", "maxn_higher" -> col("maxn_equal"))
        .select(col("bal_cents"), col("maxn_equal"),
          coalesce(col("maxn_higher"), lit(-1L)).as("maxn_higher"))
      pts.join(pref, "bal_cents")
        .filter(col("maxn_higher") < col("n_orders") &&
          col("n_orders") === col("maxn_equal"))
        .select(col("c_custkey"), col("bal_cents"), col("n_orders"))
        .orderBy(col("bal_cents").desc, col("c_custkey"))
    },
    oracle = Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                   FROM orders GROUP BY o_custkey),
      pts AS (SELECT c_custkey,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                     coalesce(n_orders, 0) AS n_orders
              FROM customer LEFT JOIN per ON c_custkey = o_custkey)
      SELECT c_custkey, bal_cents, n_orders
      FROM pts a
      WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.bal_cents >= a.bal_cents AND b.n_orders >= a.n_orders
          AND (b.bal_cents > a.bal_cents OR b.n_orders > a.n_orders))
      ORDER BY bal_cents DESC, c_custkey"""))

  /** THEIL–SEN robust trend (the median-of-pairwise-slopes estimator —
    * insensitive to the outlier days that wreck q109's OLS): per
    * status, the nearest-rank median of (Δcount/Δday) over all
    * sparsified-day pairs. Medians of RATIONALS need a total order
    * both engines compute identically: the sort key is the scaled
    * TRUNCATING division (Δy·10⁹) div Δx — Spark `div` and DuckDB
    * integer `//` both truncate toward zero (measured; an earlier
    * floor-vs-`//` pairing here survived only on tiebreak luck)
    * — refined by (Δy, Δx) so the
    * selected element is unique, and the emitted slope is that
    * element's RAW (Δy, Δx) rational (the q49/q60 never-round rule;
    * the scaled key decides order within 10⁻⁹, documented as the
    * estimator's deterministic tie rule). The estimation window is
    * one calendar year — a trend estimator runs on a recent window in
    * production, and it caps the pair count at 365²/2 per status
    * whatever the corpus size (the unwindowed variant measured 15 s
    * at sf0.1 purely in the |days|² rank sort). Scale: runs on the
    * per-day rollup, never the facts; the pair self-join is
    * |days|²-bounded per status (the q98 lag-probe family), and the
    * rank window shuffles once on status — salt on day blocks if
    * |days|² ever dominates. Δy·10⁹ crosses 2^63 at |Δcount| ≈ 9·10⁹
    * per day — beyond any daily rollup.
    */
  val q163TheilSenTrend: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val obs = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0 &&
          col("o_orderdate") >= lit("2000-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("bigint").as("day_idx"))
        .agg(count(lit(1)).as("n"))
      val pairs = obs.as("a").join(obs.as("b"),
          col("a.o_orderstatus") === col("b.o_orderstatus") &&
            col("a.day_idx") < col("b.day_idx"))
        .select(col("a.o_orderstatus").as("o_orderstatus"),
          (col("b.n") - col("a.n")).as("dy"),
          (col("b.day_idx") - col("a.day_idx")).as("dx"))
        // plain truncating division on BOTH engines: Spark `div` and
        // DuckDB integer `//` both truncate toward zero (measured:
        // (-7)//4 = -1), so the scaled keys are identical by
        // construction. The earlier floor-vs-`//` pairing only worked
        // because trunc is monotone and the (dy, dx) tiebreaks happened
        // to order trunc-collapsed key ties consistently — q186's
        // negative trend terms exposed the class.
        .withColumn("key", expr("(dy * 1000000000L) div dx"))
      val w = Window.partitionBy(col("o_orderstatus"))
      pairs
        .withColumn("rk", row_number().over(
          w.orderBy(col("key"), col("dy"), col("dx"))))
        .withColumn("n_pairs", count(lit(1)).over(w))
        .filter(col("rk") === expr("(n_pairs + 1) div 2"))
        .select(col("o_orderstatus"), col("dy").as("slope_num"),
          col("dx").as("slope_den"), col("n_pairs"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH obs AS (
        SELECT o_orderstatus,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS day_idx,
               CAST(count(*) AS BIGINT) AS n
        FROM orders WHERE o_orderkey % 7 = 0
          AND o_orderdate >= TIMESTAMP '2000-01-01'
          AND o_orderdate <  TIMESTAMP '2001-01-01'
        GROUP BY 1, 2),
      pairs AS (
        SELECT a.o_orderstatus,
               b.n - a.n AS dy, b.day_idx - a.day_idx AS dx,
               (b.n - a.n) * 1000000000 // (b.day_idx - a.day_idx) AS key
        FROM obs a JOIN obs b
          ON a.o_orderstatus = b.o_orderstatus AND a.day_idx < b.day_idx),
      ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY key, dy, dx) AS rk,
               CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT)
                 AS n_pairs
        FROM pairs)
      SELECT o_orderstatus, dy AS slope_num, dx AS slope_den, n_pairs
      FROM ranked
      WHERE rk = (n_pairs + 1) // 2
      ORDER BY o_orderstatus"""))

  /** Three synchronous label-propagation rounds over a symmetric
    * (src, dst) edge list, shared by q164 and q252: every node adopts
    * its neighbors' most frequent previous-round label, ties to the
    * smallest label. The vertex-sized label table broadcasts through
    * [[Rounds.gate]] (|edges| ≥ |V| bounds it). Returns (v, lbl).
    */
  private def labelPropagation(edges: DataFrame, dir: String): DataFrame = {
    val bc = Rounds.gate(dir, edges.count())
    (1 to 3).foldLeft(edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("lbl"))) { (labels, _) =>
      edges
        .join(bc(labels.select(col("v").as("dst"), col("lbl"))), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src"))
            .orderBy(col("c").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("src").as("v"), col("lbl"))
    }
  }

  /** LABEL-PROPAGATION community detection (Raghavan et al. 2007)
    * over the part co-occurrence graph — the graph-family completion
    * beside PageRank (q85), triangles (q94), k-core (q127) and
    * components (q62): three SYNCHRONOUS rounds, every node adopting
    * its neighbors' most frequent previous-round label with the
    * deterministic (count desc, label asc) tie rule — asynchronous
    * LPA is order-dependent and could never hash-match an oracle.
    * Fixed rounds rather than convergence for the same reason as
    * q85/q127: the DuckDB oracle replays each round as a chained CTE.
    * Scale: per round one (node, label) count shuffle on the edge
    * list + a per-node rank window; the vertex-sized label table
    * BROADCASTS into the edge join (q85's map-side pattern, same
    * swap-to-shuffle note past the threshold); edges localCheckpoint
    * once.
    */
  val q164LabelPropagation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pairs = coPairCounts(s, dir)
        .select(col("p1").as("src"), col("p2").as("dst"))
      val edges = Rounds.symmetric(pairs, "src", "dst")
        .repartition(s.sparkContext.defaultParallelism, col("src"))
        .localCheckpoint(true)
      labelPropagation(edges, dir)
        .select(col("v").as("part"), col("lbl").as("community"))
        .orderBy(col("part"))
    },
    oracle = Some {
      val rounds = (1 to 3).map { k =>
        s"""n$k AS (SELECT e.src AS v, l.lbl, CAST(count(*) AS BIGINT) AS c
              FROM edges e JOIN l${k - 1} l ON e.dst = l.v GROUP BY 1, 2),
      l$k AS (SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER (PARTITION BY v
                         ORDER BY c DESC, lbl) AS rn FROM n$k)
              WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
      $rounds
      SELECT v AS part, lbl AS community FROM l3 ORDER BY part"""
    })

  /** F/O per-value count rollup shared by the KS and Mann–Whitney
    * statistics: one row per distinct order-value cents with the two
    * samples' counts.
    */
  private def foValueRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("d1"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("d2"))

  /** Watermark-lag audit — the measurement every `withWatermark(delay)`
    * in the streaming layer depends on but none of the batch catalog
    * produced: how OUT-OF-ORDER does each feed arrive? Lateness of row
    * i = max(0, max_{j≺i} t_j − t_i) over the feed's ACCESSION order —
    * how far behind the high-water mark the row lands, the exact
    * quantity a watermark delay must dominate for the ST9 operators to
    * never drop it. Two feeds through the shared [[PrefixScan.earlierMax]]
    * kernel: `events` in event_id order (FINDING: the fixture feed is
    * perfectly ordered — one bucket-0 row saying "watermark 0
    * suffices" IS the audit's answer there) and `lineitem` ship dates
    * in ORDERKEY accession order — the backfill-ingest shape, heavily
    * disordered (the fixture ships lines up to years behind the
    * running mark), which exercises the full bucket curve. The global
    * running max never uses a partitionless window (the q162 O(n²)/
    * single-task class): the kernel's RANGE frame keeps it
    * tie-deterministic under lineitem's duplicate orderkeys. Lateness in
    * whole SECONDS on integer arithmetic for both feeds (micros÷10⁶;
    * day-gaps ×86400), q131-style log2 buckets per feed; the top
    * nonempty bucket's max_late_s is that feed's watermark floor and
    * p99 reconstructs client-side from the counts. Scale: one range
    * exchange per feed; state is one row per partition.
    */
  val q246WatermarkLag: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id").as("acc"), expr("unix_micros(ts)").as("tv"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("acc"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .cast("bigint").as("tv"))
      // lateness behind the strictly-earlier accessions' high-water mark
      def lateness(rows: DataFrame): DataFrame =
        PrefixScan.earlierMax(rows, "acc", "prev" -> col("tv"))
          .select(greatest(lit(0L), coalesce(col("prev"), lit(0L)) - col("tv")).as("late"))
      val evLate = lateness(ev)
        .select(lit("events").as("feed"), expr("late div 1000000").as("late_s"))
      val liLate = lateness(li)
        .select(lit("lineitem_ship").as("feed"), (col("late") * 86400L).as("late_s"))
      evLate.unionByName(liLate)
        .select(col("feed"),
          (length(expr("bin(late_s + 1)")) - 1).cast("bigint").as("bucket"),
          col("late_s"))
        .groupBy(col("feed"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("late_s")).as("min_late_s"),
          max(col("late_s")).as("max_late_s"))
        .orderBy(col("feed"), col("bucket"))
    },
    oracle = Some("""
      WITH e AS (SELECT event_id AS acc, epoch_us(ts) AS tv FROM events),
      me AS (SELECT greatest(0, coalesce(max(tv) OVER (ORDER BY acc
                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      - tv) // 1000000 AS late_s
             FROM e),
      l AS (SELECT l_orderkey AS acc,
                   CAST(date_diff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS BIGINT) AS tv
            FROM lineitem),
      ml AS (SELECT greatest(0, coalesce(max(tv) OVER (ORDER BY acc
                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      - tv) * 86400 AS late_s
             FROM l),
      u AS (SELECT 'events' AS feed, late_s FROM me
            UNION ALL SELECT 'lineitem_ship' AS feed, late_s FROM ml)
      SELECT feed, CAST(length(bin(late_s + 1)) - 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(late_s) AS BIGINT) AS min_late_s,
             CAST(max(late_s) AS BIGINT) AS max_late_s
      FROM u GROUP BY feed, bucket ORDER BY feed, bucket"""))

  /** Two-sample KOLMOGOROV–SMIRNOV statistic between the F and O
    * order-value distributions — the nonparametric drift test (the
    * continuous-distribution complement of q88's chi-square and
    * q136's moment drift), EXACT: D = max |F₁(x) − F₂(x)| evaluated
    * at every distinct value, cross-multiplied to the integer
    * |c₁·n₂ − c₂·n₁| over denominator n₁·n₂ (the q49/q60 rational
    * contract — no float CDF ever forms). The global CDF is the
    * [[PrefixScan.runningSums]] of the per-value rollup — the
    * distributed prefix sum every exact quantile/CDF computation uses
    * at scale, never a global-sort window; wall-clock is one cents
    * shuffle + one range exchange, no single-task sort of the data.
    * BIGINT: c·n crosses 2^63 at n ≈ 3·10⁹ per side (q109 escalation
    * documented).
    */
  val q166KsStatistic: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rollup = foValueRollup(s, dir)
      val totals = rollup.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
      PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"), "c2" -> col("d2"))
        .join(broadcast(totals))
        .select(col("n1"), col("n2"),
          abs(col("c1") * col("n2") - col("c2") * col("n1")).as("diff"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("diff")).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("n1") * col("n2")).as("d_den"))
    },
    oracle = Some("""
      WITH rollup AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d1,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
        GROUP BY 1),
      cdf AS (
        SELECT CAST(sum(d1) OVER w AS BIGINT) AS c1,
               CAST(sum(d2) OVER w AS BIGINT) AS c2
        FROM rollup
        WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
      t AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2 FROM rollup)
      SELECT n1, n2,
             CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
             CAST(n1 * n2 AS BIGINT) AS d_den
      FROM cdf, t
      GROUP BY n1, n2"""))

  /** MANN–WHITNEY U rank-sum statistic between the same F/O samples —
    * the location-shift companion to q166's KS (KS sees any shape
    * difference, U specifically a median shift). Tie-corrected
    * average ranks stay EXACT by working in half-units: a tie group
    * of d values after `prev` earlier values occupies ranks
    * prev+1..prev+d, average (2·prev+d+1)/2, so sample 1 contributes
    * d₁·(2·prev+d+1) to 2·R₁ — all integers, no halves ever
    * materialize; 2·U₁ = 2·R₁ − n₁(n₁+1) ships alongside. The
    * cumulative `prev` comes from the same [[PrefixScan.runningSums]]
    * distributed prefix sum (exclusive = inclusive − own counts).
    * Scale: identical profile to q166 — one cents shuffle + one range
    * exchange; 2·R₁ ≈ n² crosses 2^63 near 3·10⁹ total rows (q109
    * escalation documented).
    */
  val q167MannWhitneyU: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rollup = foValueRollup(s, dir)
      val totals = rollup.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
      PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"), "c2" -> col("d2"))
        .select(col("d1"), col("d2"),
          (col("c1") - col("d1") + col("c2") - col("d2")).as("prev"),
          (col("d1") + col("d2")).as("d"))
        .join(broadcast(totals))
        .groupBy(col("n1"), col("n2"))
        .agg(sum(col("d1") * (lit(2L) * col("prev") + col("d") + 1L))
          .as("two_r1"))
        .select(col("n1"), col("n2"), col("two_r1"),
          (col("two_r1") - col("n1") * (col("n1") + 1L)).as("two_u1"))
    },
    oracle = Some("""
      WITH rollup AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d1,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
        GROUP BY 1),
      cum AS (
        SELECT d1, d2,
               CAST(sum(d1 + d2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                 - (d1 + d2) AS BIGINT) AS prev,
               d1 + d2 AS d
        FROM rollup),
      t AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2 FROM rollup)
      SELECT n1, n2,
             CAST(sum(d1 * (2 * prev + d + 1)) AS BIGINT) AS two_r1,
             CAST(sum(d1 * (2 * prev + d + 1)) - n1 * (n1 + 1) AS BIGINT)
               AS two_u1
      FROM cum, t
      GROUP BY n1, n2"""))

  /** HAAR WAVELET SYNOPSIS of the daily-order-count series (Matias,
    * Vitter & Wang, SIGMOD 1998 — the wavelet histogram, a founding
    * DB synopsis structure): the top-16 detail coefficients by
    * retained energy plus the scaling (total-sum) coefficient — the
    * B-term representation that answers range-sum queries with
    * bounded L2 error. The fast transform is ONE GROUP-BY: each day
    * contributes ±count to its enclosing block at every dyadic level
    * b ∈ {2..4096} (sign = which half of the block it falls in), so
    * coefficient (b, k) = Σ signed counts — a 12-way explode over a
    * CALENDAR-BOUNDED rollup, never over raw facts. Coefficients stay
    * UNNORMALIZED integers; the orthonormal ranking |c|²/b is made
    * exact by cross-multiplying to energy = c²·(4096/b) (integer,
    * ≤ c²·2048 — BIGINT until daily counts pass ~6·10⁷), and top-16
    * selection is ORDER BY energy DESC with (b, k) tiebreaks —
    * TakeOrdered, no partitionless window. Day indexes anchor at the
    * q109 1992-01-01 floor and the synopsis domain is the dyadic
    * [0, 4096) day grid (fixture occupies 1096..3500); absent days
    * are implicit zeros, so no padding rows ever materialize.
    * Scale: the only fact-sized stage is the daily rollup (map-side
    * combined); the transform runs on ≤ |days|·12 rows bounded by the
    * calendar — the q87/q109 argument — and the synopsis is 17 rows
    * at any SF.
    */
  val q278HaarSynopsis: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("bigint").as("t"))
        .filter(col("t") >= 0L && col("t") < 4096L)
        .groupBy(col("t")).agg(count(lit(1)).as("v"))
      val detail = daily
        .select(col("t"), col("v"), explode(expr(
          "array(2L,4L,8L,16L,32L,64L,128L,256L,512L,1024L,2048L,4096L)"))
          .as("b"))
        .select(col("b"), expr("t div b").as("k"),
          (col("v") * when(col("t") % col("b") < expr("b div 2"), 1L)
            .otherwise(-1L)).as("sv"))
        .groupBy(col("b"), col("k")).agg(sum(col("sv")).as("coef"))
        .select(lit("detail").as("kind"), col("b"), col("k"), col("coef"),
          (col("coef") * col("coef") * expr("4096L div b")).as("energy"))
        .orderBy(col("energy").desc, col("b"), col("k"))
        .limit(16)
      val scale = daily.agg(sum(col("v")).as("coef"))
        .select(lit("scale").as("kind"), lit(8192L).as("b"), lit(0L).as("k"),
          col("coef"), lit(0L).as("energy"))
      detail.unionByName(scale)
        .orderBy(col("kind"), col("energy").desc, col("b"), col("k"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS v
        FROM orders
        WHERE date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) BETWEEN 0 AND 4095
        GROUP BY 1),
      lvl AS (SELECT CAST(unnest([2,4,8,16,32,64,128,256,512,1024,
                                  2048,4096]) AS BIGINT) AS b),
      co AS (SELECT b, t // b AS k,
                    CAST(sum(v * CASE WHEN t % b < b // 2
                                      THEN 1 ELSE -1 END) AS BIGINT) AS coef
             FROM daily, lvl GROUP BY 1, 2),
      top AS (SELECT 'detail' AS kind, b, k, coef,
                     CAST(coef * coef * (4096 // b) AS BIGINT) AS energy
              FROM co ORDER BY energy DESC, b, k LIMIT 16),
      sc AS (SELECT 'scale' AS kind, CAST(8192 AS BIGINT) AS b,
                    CAST(0 AS BIGINT) AS k,
                    CAST(sum(v) AS BIGINT) AS coef,
                    CAST(0 AS BIGINT) AS energy
             FROM daily)
      SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM sc)
      ORDER BY kind, energy DESC, b, k"""))

  /** CRAMÉR–VON MISES two-sample statistic (Cramér 1928; two-sample
    * form Anderson 1962) between the same F/O order-value samples —
    * the third leg of the exact distribution-comparison suite on the
    * shared [[PrefixScan]] kernel: q166's KS reacts to the WORST
    * single CDF gap, q167's U to a median shift, CvM to the INTEGRAL
    * of squared CDF gaps — the whole-distribution sensitivity that
    * catches many-small-gaps drift KS underweights. Computational
    * form: T = Σ_z [F_m(z)−G_n(z)]² · mn/N² over every pooled
    * observation z (the tie-inclusive empirical-CDF form both engines
    * replay identically); with the value rollup this is
    * Σ_values (d₁+d₂)·(c₁n₂−c₂n₁)² over the distributed prefix sums
    * (each CDF gap scaled by n₁n₂, so Σ_z[F−G]² = cvm_num/(n₁n₂)²
    * and T = cvm_num·(mn/N²)/(n₁n₂)² = cvm_num / (n₁·n₂·N²)).
    * Emitted exactly: cvm_num = Σ d·(c₁n₂−c₂n₁)² and
    * cvm_den = n₁·n₂·N². Both ship as DECIMAL(38,0) canonical
    * digit strings (the q109 convention): the per-term square
    * (c₁n₂−c₂n₁)² ≈ (n₁n₂)² crosses 2^63 already at the bench SF, and
    * the three-factor d19 chain keeps every product exact under ANSI
    * — the decimal value itself crosses 10³⁸ near N ≈ 10⁸ pooled rows
    * (N⁵/16 bound), where the escalation is HUGEINT-style limb
    * splitting, documented not built. Scale: identical profile to
    * q166/q167 — one cents rollup + one range exchange; output 1 row.
    */
  val q277CramerVonMises: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def d19(c: Column) = c.cast("decimal(19,0)")
      val rollup = foValueRollup(s, dir)
      val totals = rollup.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
      PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"), "c2" -> col("d2"))
        .join(broadcast(totals))
        .select(col("n1"), col("n2"),
          (d19(col("d1") + col("d2")) *
            d19(col("c1") * col("n2") - col("c2") * col("n1")) *
            d19(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("term"))
        .groupBy(col("n1"), col("n2"))
        .agg(sum(col("term")).cast("decimal(38,0)").as("num"))
        .select(col("n1"), col("n2"),
          col("num").cast("string").as("cvm_num"),
          (d19(col("n1")) * d19(col("n2")) *
            d19(col("n1") + col("n2")) * d19(col("n1") + col("n2")))
            .cast("decimal(38,0)").cast("string").as("cvm_den"))
    },
    oracle = Some("""
      WITH rollup AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d1,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
        GROUP BY 1),
      cum AS (
        SELECT d1, d2,
               CAST(sum(d1) OVER w AS BIGINT) AS c1,
               CAST(sum(d2) OVER w AS BIGINT) AS c2
        FROM rollup
        WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
      t AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2 FROM rollup)
      SELECT n1, n2,
             CAST(CAST(sum(CAST(d1 + d2 AS HUGEINT)
                           * (c1 * n2 - c2 * n1)
                           * (c1 * n2 - c2 * n1)) AS DECIMAL(38,0))
                  AS VARCHAR) AS cvm_num,
             CAST(CAST(CAST(n1 AS HUGEINT) * n2 * (n1 + n2) * (n1 + n2)
                  AS DECIMAL(38,0)) AS VARCHAR) AS cvm_den
      FROM cum, t
      GROUP BY n1, n2"""))

  /** TIME-WEIGHTED average revenue per status (the finance-standard
    * TWAP: a value that held for 9 days weighs 9× one that held a
    * day — the arithmetic mean the q150 gap-fill exists to correct).
    * Each sparsified observation weighs by the gap to the NEXT
    * observation (one `lead` per status; the last observation has no
    * forward gap and drops — the standard left-closed convention),
    * and the average ships as the exact rational Σ(cents·gap)/Σgap
    * (q49/q60 contract). Scale: runs on the per-day rollup; one
    * status-partitioned window; cents·gap sums cross 2^63 near 10¹⁴
    * cent-days per status (q109 escalation).
    */
  val q168TimeWeightedRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val obs = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0)
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("bigint").as("day_idx"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("day_idx"))
      obs
        .withColumn("gap", lead(col("day_idx"), 1).over(w) - col("day_idx"))
        .filter(col("gap").isNotNull)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_obs"),
          sum(col("cents") * col("gap")).as("twap_num"),
          sum(col("gap")).as("twap_den"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH obs AS (
        SELECT o_orderstatus,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS day_idx,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders WHERE o_orderkey % 7 = 0
        GROUP BY 1, 2),
      g AS (SELECT o_orderstatus, cents,
                   lead(day_idx) OVER (PARTITION BY o_orderstatus
                     ORDER BY day_idx) - day_idx AS gap
            FROM obs)
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(cents * gap) AS BIGINT) AS twap_num,
             CAST(sum(gap) AS BIGINT) AS twap_den
      FROM g WHERE gap IS NOT NULL
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** BENFORD first-digit audit of order values — the forensic
    * data-quality screen (fabricated or unit-mangled numeric columns
    * diverge from the log-uniform first-digit law long before any
    * range check fires). The engine ships the integer sufficient
    * statistics — per status × leading digit: observed count plus the
    * status total — and the client compares against log₁₀(1+1/d)
    * (transcendental, so it stays out of the cross-engine contract,
    * the q59 rule). First digit extracted arithmetically
    * (cents div 10^(len−1) via string length — no float log10 in the
    * contract). Scale: map-only + a ≤|statuses|·9-key rollup.
    */
  val q169BenfordAudit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .filter(col("cents") > 0)
        .withColumn("first_digit",
          expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)"))
        .groupBy(col("o_orderstatus"), col("first_digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("status_total", sum(col("n")).over(w))
        .orderBy(col("o_orderstatus"), col("first_digit"))
    },
    oracle = Some("""
      WITH c AS (SELECT o_orderstatus,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders
                 WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
      d AS (SELECT o_orderstatus,
                   CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                     AS first_digit
            FROM c)
      SELECT o_orderstatus, first_digit,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(count(*)) OVER (PARTITION BY o_orderstatus) AS BIGINT)
               AS status_total
      FROM d GROUP BY o_orderstatus, first_digit
      ORDER BY o_orderstatus, first_digit"""))

  /** KLL QUANTILE-SKETCH MERGE — q170's analog for ORDER STATISTICS:
    * per-day Datasketches KLL sketches of order-value cents merge into
    * monthly p50/p90/p99 estimates WITHOUT re-touching orders. This is
    * the incremental-view-maintenance path for percentiles (q107 =
    * algebraic sums, q170 = distincts, this = quantiles): daily
    * sketches persist as bytes and any ad-hoc window (month, quarter,
    * trailing-28d) is a cheap `kll_merge_agg` over day rows — exact
    * percentiles (q56/q103's nearest-rank contract) need the full
    * value multiset and cannot re-aggregate. Spark 4.1's native
    * `kll_sketch_agg_bigint`/`kll_merge_agg_bigint` (Datasketches
    * KLL, k=200 ⇒ ~1.65% single-sided normalized rank error at 99%
    * confidence) ride ordinary partial aggregation. Engine-specific
    * sketch bytes mean no DuckDB oracle (rows-only, the q48/q61/q170
    * class); CatalogSmokeSpec pins the load-bearing contract instead:
    * the merged-daily estimate is an observed month value whose exact
    * rank lands inside the KLL rank-error band around the requested
    * quantile, and `kll_sketch_get_n` proves the merge lost no mass
    * (Σ day n == month n exactly). Scale: one (month, day) shuffle
    * over orders, then all re-aggregation runs on day-count rows of
    * constant-size sketch bytes.
    *
    * Reference anchor: the dashboard's summary-stat queries
    * (`dashboard/app.py:283-350`) recompute aggregates per refresh —
    * this is the shape that makes those refreshes O(days), not
    * O(events), at 100 TB.
    */
  val q171KllSketchMerge: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir).select(
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("bigint").as("month_idx"),
        dayofmonth(col("o_orderdate")).as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      o.groupBy(col("month_idx"), col("day"))
        .agg(expr("kll_sketch_agg_bigint(cents, 200)").as("sk"))
        .groupBy(col("month_idx"))
        .agg(count(lit(1)).as("n_days"),
          expr("kll_merge_agg_bigint(sk, 200)").as("msk"))
        .select(col("month_idx"), col("n_days"),
          expr("kll_sketch_get_n_bigint(msk)").as("n_orders"),
          expr("kll_sketch_get_quantile_bigint(msk, 0.5)").as("p50_cents"),
          expr("kll_sketch_get_quantile_bigint(msk, 0.9)").as("p90_cents"),
          expr("kll_sketch_get_quantile_bigint(msk, 0.99)").as("p99_cents"))
        .orderBy(col("month_idx"))
    },
    oracle = None)

  /** INTER-EVENT GAP DISTRIBUTION — the dwell-time statistic behind
    * session-timeout tuning (q47's 30-min gap threshold is exactly a
    * quantile of this distribution) and engagement scoring: for each
    * event, the time to the SAME user's next event (one lead window
    * over the user shuffle, ts ties broken by event_id so the
    * ordering — and therefore every gap — is engine-deterministic),
    * then per event-type exact nearest-rank p50/p90/max of the gap in
    * integer MICROSECONDS (the q103 convention; the q47/q51 rule: all
    * event-time arithmetic runs on the integer micro epoch, never
    * double seconds). Scale: one user_id shuffle builds gaps; the
    * rank windows partition by event_type over the gap rows — same
    * parallelism class as q103; at extreme per-type volumes the
    * nearest-rank windows swap for the q166 [[PrefixScan]] CDF or
    * the q61/q171 sketch path, same contract.
    */
  val q176InterEventGaps: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), expr("unix_micros(ts)").as("us"))
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = ev
        .withColumn("gap_us", lead(col("us"), 1).over(wu) - col("us"))
        .filter(col("gap_us").isNotNull)
      val wt = Window.partitionBy(col("event_type"))
        .orderBy(col("gap_us"), col("event_id"))
      val grp = Window.partitionBy(col("event_type"))
      val ranked = gaps
        .withColumn("rn", row_number().over(wt).cast("bigint"))
        .withColumn("n", count(lit(1)).over(grp))
      val p50 = ranked.filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("n"), col("gap_us").as("p50_us"))
      val p90 = ranked.filter(col("rn") === expr("n - (n div 10)"))
        .select(col("event_type"), col("gap_us").as("p90_us"))
      val mx = gaps.groupBy(col("event_type"))
        .agg(max(col("gap_us")).as("max_us"))
      p50.join(p90, "event_type").join(mx, "event_type")
        .select(col("event_type"), col("n"), col("p50_us"), col("p90_us"),
          col("max_us"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_ns(ts) // 1000 AS us FROM events),
      g AS (SELECT event_type, event_id,
                   lead(us) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) - us AS gap_us
            FROM e),
      gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
      r AS (SELECT *,
                   CAST(row_number() OVER (PARTITION BY event_type
                     ORDER BY gap_us, event_id) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM gg),
      p50 AS (SELECT event_type, n, gap_us AS p50_us FROM r
              WHERE rn = (n + 1) // 2),
      p90 AS (SELECT event_type, gap_us AS p90_us FROM r
              WHERE rn = n - (n // 10)),
      mx AS (SELECT event_type, CAST(max(gap_us) AS BIGINT) AS max_us
             FROM gg GROUP BY 1)
      SELECT event_type, n, CAST(p50_us AS BIGINT) AS p50_us,
             CAST(p90_us AS BIGINT) AS p90_us, max_us
      FROM p50 JOIN p90 USING (event_type) JOIN mx USING (event_type)
      ORDER BY event_type"""))

  /** ORDER ↔ LINEITEM RECONCILIATION — the cross-table consistency
    * audit q90's single-table constraint sweep doesn't cover: does the
    * order header's total agree with the sum of its line items, and by
    * how much? Every warehouse runs this class of check between a
    * rollup table and its fact source after each load. Per status:
    * order count, orders with NO line items at all (left join, the
    * referential gap), exact-match count, and the total absolute
    * discrepancy — all integer cents (the fixture generator draws
    * header totals and line prices independently, so discrepancies are
    * the norm here and the audit is non-vacuous). Scale: one orderkey
    * shuffle for the lineitem rollup, broadcast-free equi-join back to
    * headers, output |statuses|-bounded. Headroom: Σ|diff| ≤ n·max
    * cents ≈ 10¹² at sf0.1 — BIGINT-safe to ~10⁶× that (q109 rule).
    */
  val q177OrderReconciliation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("cents")).as("li_cents"), count(lit(1)).as("n_lines"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("o_cents"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("li_cents").isNull, 1L).otherwise(0L)).as("n_no_lines"),
          sum(when(col("li_cents") === col("o_cents"), 1L).otherwise(0L))
            .as("n_exact_match"),
          sum(when(col("li_cents").isNotNull,
            abs(col("o_cents") - col("li_cents"))).otherwise(0L))
            .as("abs_diff_cents"),
          coalesce(sum(col("n_lines")), lit(0L)).as("n_lines"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH li AS (SELECT l_orderkey,
                         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           AS BIGINT) AS li_cents,
                         CAST(count(*) AS BIGINT) AS n_lines
                  FROM lineitem GROUP BY 1),
      o AS (SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
            FROM orders)
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN li.li_cents IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_no_lines,
             CAST(sum(CASE WHEN li.li_cents = o.o_cents THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exact_match,
             CAST(sum(CASE WHEN li.li_cents IS NOT NULL
                  THEN abs(o.o_cents - li.li_cents) ELSE 0 END)
               AS BIGINT) AS abs_diff_cents,
             CAST(COALESCE(sum(li.n_lines), 0) AS BIGINT) AS n_lines
      FROM o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** RFM SEGMENTATION — the classic customer-value model (recency /
    * frequency / monetary), built the SCALE-CORRECT way: no global
    * ntile over the customer rollup (a partitionless window moves
    * every customer to one task — the q162 lesson), but VALUE
    * thresholds at the 40/70 nearest-ranks per metric, computed from
    * three tiny rank extractions and broadcast back as a 1-row join —
    * customers then bucket by comparison, map-side. Tercile boundaries
    * use the q103 nearest-rank convention on a deterministic total
    * order (metric, custkey); bucket semantics are VALUE-based (equal
    * metric ⇒ equal bucket — honest under ties, where ntile would
    * split equal customers arbitrarily). Recency = days from the
    * corpus max order date (broadcast scalar), so the query is
    * reproducible from the data alone. Emits per customer the raw
    * integer metrics, the three bucket digits (3 = best), and the
    * concatenated segment label. Scale: one custkey shuffle for the
    * rollup; thresholds are rank windows over the rollup — at
    * fact-sized customer counts they swap for the q166 [[PrefixScan]]
    * CDF, same value-threshold contract.
    */
  val q178RfmSegmentation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val maxDay = Tables.orders(s, dir)
        .agg(max(expr("CAST(o_orderdate AS DATE)")).as("max_d"))
      val rfm = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .crossJoin(broadcast(maxDay))
        .groupBy(col("o_custkey"))
        .agg(
          min(expr("datediff(max_d, CAST(o_orderdate AS DATE))"))
            .cast("bigint").as("r_days"),
          count(lit(1)).as("f_cnt"),
          sum(col("cents")).as("m_cents"))
      def thresholds(metric: String, asc: Boolean): DataFrame = {
        val ord = if (asc) col(metric).asc else col(metric).desc
        val w = Window.orderBy(ord, col("o_custkey"))
        // rank windows over the customer rollup: acceptable at fixture
        // scale, PrefixScan past it (see scaladoc); the window is
        // partitionless but its consumer keeps only 2 rows
        val ranked = rfm
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        // every extract is 1 row — broadcast so the planner emits tiny
        // BNLJs instead of CartesianProduct exchanges over unknown sizes
        ranked.filter(col("rn") === expr("(2 * n + 4) div 5"))
          .select(col(metric).as(s"${metric}_t1"))
          .crossJoin(broadcast(ranked.filter(col("rn") === expr("(7 * n + 9) div 10"))
            .select(col(metric).as(s"${metric}_t2"))))
      }
      // recency: SMALLER is better → rank ascending puts best first;
      // frequency/monetary: larger is better → rank descending
      val cut = thresholds("r_days", asc = true)
        .crossJoin(broadcast(thresholds("f_cnt", asc = false)))
        .crossJoin(broadcast(thresholds("m_cents", asc = false)))
      rfm.crossJoin(broadcast(cut))
        .select(col("o_custkey"), col("r_days"), col("f_cnt"), col("m_cents"),
          when(col("r_days") <= col("r_days_t1"), 3L)
            .when(col("r_days") <= col("r_days_t2"), 2L).otherwise(1L)
            .as("r_bucket"),
          when(col("f_cnt") >= col("f_cnt_t1"), 3L)
            .when(col("f_cnt") >= col("f_cnt_t2"), 2L).otherwise(1L)
            .as("f_bucket"),
          when(col("m_cents") >= col("m_cents_t1"), 3L)
            .when(col("m_cents") >= col("m_cents_t2"), 2L).otherwise(1L)
            .as("m_bucket"))
        .withColumn("segment", concat(col("r_bucket"), col("f_bucket"),
          col("m_bucket")))
        .orderBy(col("o_custkey"))
    },
    oracle = Some("""
      WITH rfm AS (
        SELECT o_custkey,
               CAST(min(datediff('day', CAST(o_orderdate AS DATE),
                 (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)))
                 AS BIGINT) AS r_days,
               CAST(count(*) AS BIGINT) AS f_cnt,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS m_cents
        FROM orders GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
      rr AS (SELECT r_days, row_number() OVER (ORDER BY r_days, o_custkey)
               AS rn FROM rfm),
      fr AS (SELECT f_cnt, row_number() OVER (ORDER BY f_cnt DESC, o_custkey)
               AS rn FROM rfm),
      mr AS (SELECT m_cents, row_number() OVER (ORDER BY m_cents DESC,
               o_custkey) AS rn FROM rfm),
      cut AS (SELECT
        (SELECT r_days FROM rr, n WHERE rn = (2 * n + 4) // 5) AS r_t1,
        (SELECT r_days FROM rr, n WHERE rn = (7 * n + 9) // 10) AS r_t2,
        (SELECT f_cnt FROM fr, n WHERE rn = (2 * n + 4) // 5) AS f_t1,
        (SELECT f_cnt FROM fr, n WHERE rn = (7 * n + 9) // 10) AS f_t2,
        (SELECT m_cents FROM mr, n WHERE rn = (2 * n + 4) // 5) AS m_t1,
        (SELECT m_cents FROM mr, n WHERE rn = (7 * n + 9) // 10) AS m_t2)
      SELECT o_custkey, r_days, f_cnt, m_cents,
             CAST(CASE WHEN r_days <= r_t1 THEN 3
                       WHEN r_days <= r_t2 THEN 2 ELSE 1 END AS BIGINT)
               AS r_bucket,
             CAST(CASE WHEN f_cnt >= f_t1 THEN 3
                       WHEN f_cnt >= f_t2 THEN 2 ELSE 1 END AS BIGINT)
               AS f_bucket,
             CAST(CASE WHEN m_cents >= m_t1 THEN 3
                       WHEN m_cents >= m_t2 THEN 2 ELSE 1 END AS BIGINT)
               AS m_bucket,
             CAST(CASE WHEN r_days <= r_t1 THEN 3
                       WHEN r_days <= r_t2 THEN 2 ELSE 1 END AS VARCHAR) ||
             CAST(CASE WHEN f_cnt >= f_t1 THEN 3
                       WHEN f_cnt >= f_t2 THEN 2 ELSE 1 END AS VARCHAR) ||
             CAST(CASE WHEN m_cents >= m_t1 THEN 3
                       WHEN m_cents >= m_t2 THEN 2 ELSE 1 END AS VARCHAR)
               AS segment
      FROM rfm CROSS JOIN cut
      ORDER BY o_custkey"""))

  /** MULTI-TOUCH ATTRIBUTION — first-touch / last-touch / linear credit
    * of purchase value to the campaign (`props.k`) of preceding click
    * touches within a 7-day lookback, the marketing-analytics
    * workhorse the streaming `attributionJoin` answers continuously
    * and this answers retrospectively-exact (the stream/batch split
    * rule). The time-range pairing uses q52's bucketed shape — touches
    * key on their 7-day epoch, each purchase probes its own and the
    * preceding bucket, residual filter exact — so the join is
    * equi-join-shaped, never a BETWEEN theta-join. Model semantics,
    * all engine-deterministic: last = max (us, event_id) touch, first
    * = min, linear = floor(cents·10⁶ / n_touches) MICROCENTS per touch
    * (documented truncation, ≤ n microcents dropped per purchase —
    * deterministic integer division on both engines; the q49/q60 rule
    * would forbid a rounded float here). Purchases with no touch in
    * the window land on the sentinel campaign −1, so every model
    * column partitions total purchase cents. Scale: one (user, week)
    * shuffle, per-purchase windows over its own touch set; campaign
    * report is |campaigns|-bounded. Headroom: cents·10⁶ ≈ 10¹³ per
    * purchase — Σ crosses 2^63 near 10⁶ heavy purchases per campaign
    * at sf0.1 volumes ⇒ the DECIMAL(38,0) escalation documented
    * (q109 rule).
    */
  val q179TouchAttribution: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val wk = 7L * 86400L * 1000000L
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), expr("unix_micros(ts)").as("us"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val touches = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("t_us"),
          col("event_id").as("t_id"), col("k"),
          expr(s"us div $wk").as("bucket"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"),
          col("event_id").as("p_id"), col("cents"))
      // q52 shape: each purchase probes its own + preceding 7-day bucket
      val probes = purchases.select(col("user_id"), col("p_us"), col("p_id"),
        col("cents"), explode(array(expr(s"p_us div $wk - 1"),
          expr(s"p_us div $wk"))).as("bucket"))
      val paired = probes.join(touches, Seq("user_id", "bucket"))
        .filter(col("t_us") < col("p_us") && col("p_us") - col("t_us") <= wk)
        .select(col("p_id"), col("cents"), col("t_us"), col("t_id"), col("k"))
      val wLast = Window.partitionBy(col("p_id"))
        .orderBy(col("t_us").desc, col("t_id").desc)
      val wFirst = Window.partitionBy(col("p_id"))
        .orderBy(col("t_us").asc, col("t_id").asc)
      val wAll = Window.partitionBy(col("p_id"))
      val credited = paired
        .withColumn("rn_last", row_number().over(wLast))
        .withColumn("rn_first", row_number().over(wFirst))
        .withColumn("n_touch", count(lit(1)).over(wAll))
      val attributed = credited.groupBy(col("k"))
        .agg(
          sum(when(col("rn_last") === 1, col("cents")).otherwise(0L))
            .as("last_cents"),
          sum(when(col("rn_first") === 1, col("cents")).otherwise(0L))
            .as("first_cents"),
          sum(expr("cents * 1000000L div n_touch")).as("linear_microcents"),
          sum(when(col("rn_last") === 1, 1L).otherwise(0L)).as("n_purchases"))
      val unattributed = purchases.join(
          paired.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
        .agg(coalesce(sum(col("cents")), lit(0L)).as("u_cents"),
          count(lit(1)).as("u_n"))
        .select(lit(-1L).as("k"), col("u_cents").as("last_cents"),
          col("u_cents").as("first_cents"),
          (col("u_cents") * lit(1000000L)).as("linear_microcents"),
          col("u_n").as("n_purchases"))
      attributed.unionByName(unattributed)
        .orderBy(col("k"))
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_ns(ts) // 1000 AS us,
                        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      tch AS (SELECT user_id, us AS t_us, event_id AS t_id, k,
                     us // 604800000000 AS bucket
              FROM e WHERE event_type = 'click'),
      pur AS (SELECT user_id, us AS p_us, event_id AS p_id, cents
              FROM e WHERE event_type = 'purchase'),
      probes AS (
        SELECT user_id, p_us, p_id, cents, (p_us // 604800000000) - 1 + b
          AS bucket
        FROM pur, unnest([0, 1]) AS t(b)),
      paired AS (
        SELECT p.p_id, p.cents, t.t_us, t.t_id, t.k
        FROM probes p JOIN tch t USING (user_id, bucket)
        WHERE t.t_us < p.p_us AND p.p_us - t.t_us <= 604800000000),
      credited AS (
        SELECT *,
               row_number() OVER (PARTITION BY p_id
                 ORDER BY t_us DESC, t_id DESC) AS rn_last,
               row_number() OVER (PARTITION BY p_id
                 ORDER BY t_us ASC, t_id ASC) AS rn_first,
               CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touch
        FROM paired),
      attributed AS (
        SELECT k,
               CAST(sum(CASE WHEN rn_last = 1 THEN cents ELSE 0 END)
                 AS BIGINT) AS last_cents,
               CAST(sum(CASE WHEN rn_first = 1 THEN cents ELSE 0 END)
                 AS BIGINT) AS first_cents,
               CAST(sum((cents * 1000000) // n_touch) AS BIGINT)
                 AS linear_microcents,
               CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_purchases
        FROM credited GROUP BY k),
      unattributed AS (
        SELECT CAST(-1 AS BIGINT) AS k,
               CAST(COALESCE(sum(cents), 0) AS BIGINT) AS last_cents,
               CAST(COALESCE(sum(cents), 0) AS BIGINT) AS first_cents,
               CAST(COALESCE(sum(cents), 0) * 1000000 AS BIGINT)
                 AS linear_microcents,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM pur WHERE p_id NOT IN (SELECT p_id FROM paired))
      SELECT * FROM attributed
      UNION ALL SELECT * FROM unattributed
      ORDER BY k"""))

  /** SNAPSHOT ROW DIFF — the row-level data-regression report between
    * two versions of a table (q136 is the statistics-level twin; q91
    * applies changes, this AUDITS them): full-outer join by key,
    * classify every key as added / removed / changed / unchanged, and
    * roll up counts plus the net value delta per class. The "new"
    * version here is derived deterministically in-query (drop keys
    * ≡0 mod 97, bump totals on keys ≡0 mod 89 — the Synthetic.mutate
    * classes) so the oracle replays both versions exactly and the
    * diff logic is exercised on known ground truth; against real
    * snapshots the derivation is just two reads. Changed-ness compares
    * integer cents — float equality would be engine-dependent. Scale:
    * one key shuffle for the join (or zero with both versions bucketed
    * by key — the anti-entropy pairing q157's digests pre-screen);
    * report is 4 rows.
    */
  val q180SnapshotDiff: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val v1 = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents1"))
      val v2 = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          (expr("CAST(round(o_totalprice * 100) AS BIGINT)") +
            when(col("o_orderkey") % 89 === 0, 500L).otherwise(0L))
            .as("cents2"))
      v1.join(v2, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("cents1").isNull, "added")
            .when(col("cents2").isNull, "removed")
            .when(col("cents1") =!= col("cents2"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("cents2"), lit(0L)) -
            coalesce(col("cents1"), lit(0L))).as("net_delta_cents"))
        .orderBy(col("change_type"))
    },
    oracle = Some("""
      WITH v1 AS (SELECT o_orderkey,
                         CAST(round(o_totalprice * 100) AS BIGINT) AS cents1
                  FROM orders),
      v2 AS (SELECT o_orderkey,
                    CAST(round(o_totalprice * 100) AS BIGINT) +
                      CASE WHEN o_orderkey % 89 = 0 THEN 500 ELSE 0 END
                      AS cents2
             FROM orders WHERE o_orderkey % 97 <> 0),
      d AS (SELECT CASE WHEN cents1 IS NULL THEN 'added'
                        WHEN cents2 IS NULL THEN 'removed'
                        WHEN cents1 <> cents2 THEN 'changed'
                        ELSE 'unchanged' END AS change_type,
                   COALESCE(cents2, 0) - COALESCE(cents1, 0) AS delta
            FROM v1 FULL OUTER JOIN v2 USING (o_orderkey))
      SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(delta) AS BIGINT) AS net_delta_cents
      FROM d GROUP BY change_type
      ORDER BY change_type"""))

  /** DAY-OF-WEEK SEASONALITY PROFILE — the calendar-shape report
    * behind staffing/campaign timing and the denominator every
    * "is today anomalous?" check needs (q82 flags spikes against a
    * global mean; this conditions on weekday): per day-of-week the
    * number of active calendar days, order count, revenue cents, and
    * the day-count so mean-per-weekday reconstructs as the exact
    * rational revenue/days (q49/q60 never-round rule). Day-of-week is
    * computed ARITHMETICALLY from the epoch day index (epoch day 0 =
    * Thursday → (d + 3) mod 7 gives Monday=0) — date-function weekday
    * numbering differs across engines (Spark dayofweek is 1=Sunday,
    * DuckDB dow 0=Sunday, isodow 1=Monday), and the integer identity
    * sidesteps the whole dialect class. Scale: per-day rollup first
    * (one date shuffle), weekday profile is a 7-row second rollup.
    */
  val q181DowSeasonality: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
          .cast("bigint").as("epoch_day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("epoch_day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("day_cents"))
      daily
        .withColumn("dow", pmod(col("epoch_day") + 3, lit(7)))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("n")).as("n_orders"),
          sum(col("day_cents")).as("revenue_cents"),
          max(col("day_cents")).as("max_day_cents"))
        .orderBy(col("dow"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS epoch_day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS day_cents
        FROM orders GROUP BY 1)
      SELECT CAST((epoch_day + 3) % 7 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(day_cents) AS BIGINT) AS revenue_cents,
             CAST(max(day_cents) AS BIGINT) AS max_day_cents
      FROM daily GROUP BY 1 ORDER BY dow"""))

  /** GROUPED CORRELATION SUFFICIENT STATISTICS — does a deeper
    * discount move more units, per brand? The Pearson correlation of
    * (discount, quantity) per part brand as exact integer sufficient
    * statistics (n, Σx, Σy, Σxy, Σx², Σy²) — r reconstructs
    * client-side; nothing transcendental or float crosses engines
    * (the q109/q59 split). x = discount in basis points, y = whole
    * units. This is the grouped-covariance operator q109 (per-group
    * OLS on time) and q98 (lagged autocorrelation) both specialize;
    * emitted raw so callers can also form covariance or slope.
    * Scale: brand dim broadcast into the fact scan, one |brands|
    * rollup — map-side combine does all the work. Headroom AT TARGET
    * SF: Σx² ≤ n·10⁶, Σxy ≤ n·5·10⁴ — BIGINT-safe to n ≈ 10¹² rows
    * per brand (q109 rule).
    */
  val q182DiscountQuantityCorr: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        expr("CAST(round(l_discount * 10000) AS BIGINT)").as("x"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
      val brands = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      li.join(broadcast(brands), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      WITH t AS (SELECT p_brand,
                        CAST(round(l_discount * 10000) AS BIGINT) AS x,
                        CAST(round(l_quantity) AS BIGINT) AS y
                 FROM lineitem JOIN part ON l_partkey = p_partkey)
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sum_x,
             CAST(sum(y) AS BIGINT) AS sum_y,
             CAST(sum(x * y) AS BIGINT) AS sum_xy,
             CAST(sum(x * x) AS BIGINT) AS sum_x2,
             CAST(sum(y * y) AS BIGINT) AS sum_y2
      FROM t GROUP BY p_brand ORDER BY p_brand"""))

  /** MODE (most frequent value) PER GROUP — the statistical mode is a
    * real aggregate most engines special-case (DuckDB `mode`, BigQuery
    * APPROX_TOP_COUNT) and Spark lacks; the hash-native formulation is
    * a (group, value) count rollup + one rank window with the
    * DETERMINISTIC tie rule (count desc, value asc) — an arbitrary-tie
    * mode can never hash-match across engines, so the tie rule IS the
    * contract (q164's LPA lesson). Emits the modal order priority per
    * status with its count, the group total, and the distinct-value
    * count, so modal share reconstructs as the exact rational
    * n_mode/n_total. Scale: the rollup is map-side combinable; the
    * window partitions by group over |group|·|values| rows — domain-
    * bounded here (q88's contingency class).
    */
  val q183ModePerGroup: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cells = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val grp = Window.partitionBy(col("o_orderstatus"))
      cells
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("o_orderstatus"))
            .orderBy(col("cnt").desc, col("o_orderpriority").asc)))
        .withColumn("n_total", sum(col("cnt")).over(grp))
        .withColumn("n_values", count(lit(1)).over(grp))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"),
          col("cnt").as("n_mode"), col("n_total"), col("n_values"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH cells AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2),
      r AS (SELECT *,
                   row_number() OVER (PARTITION BY o_orderstatus
                     ORDER BY cnt DESC, o_orderpriority ASC) AS rn,
                   CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT)
                     AS n_total,
                   CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT)
                     AS n_values
            FROM cells)
      SELECT o_orderstatus, o_orderpriority AS mode_priority,
             cnt AS n_mode, n_total, n_values
      FROM r WHERE rn = 1
      ORDER BY o_orderstatus"""))

  /** PPS SYSTEMATIC SAMPLE — probability-proportional-to-size sampling
    * without randomness or transcendentals: order the population on a
    * fixed frame key (partkey), prefix-sum the weights (part revenue
    * cents), and select every item whose cumulative weight crosses a
    * multiple of W/m — the classic systematic PPS estimator
    * (Madow 1949), selection count per item =
    * floor(c·m/W) − floor((c−w)·m/W), items heavier than W/m get
    * multiple hits (their n_hits IS the inclusion multiplicity the
    * Horvitz–Thompson estimator divides by). Exactly m total hits by
    * telescoping, all integer arithmetic (a random-start variant adds
    * a seeded offset < W/m — same plan). The prefix sum is the q166
    * [[PrefixScan.runningSums]] kernel keyed on partkey — NO single-task global
    * sort, the whole reason PPS usually gets approximated at scale.
    * The weighted complement of q22's uniform arithmetic sample;
    * q68's quota sampler allocates BETWEEN strata, this samples
    * WITHIN one. Headroom: c·m ≤ W·m ≈ 10¹⁴ at sf0.1 — BIGINT-safe
    * to ~10⁴× (q109 rule).
    */
  val q184PpsSample: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val m = 100L
      val wts = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("w"))
        .groupBy(col("l_partkey")).agg(sum(col("w")).as("w"))
        .filter(col("w") > 0)
      val tot = wts.agg(sum(col("w")).as("big_w"))
      PrefixScan.runningSums(wts, Seq("l_partkey"), "cum_w" -> col("w"))
        .crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("w"), col("cum_w"), col("big_w"),
          (expr(s"(cum_w * $m) div big_w") -
            expr(s"((cum_w - w) * $m) div big_w")).as("n_hits"))
        .filter(col("n_hits") > 0)
        .orderBy(col("l_partkey"))
    },
    oracle = Some("""
      WITH wts AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS w
        FROM lineitem GROUP BY 1 HAVING sum(round(l_extendedprice * 100)) > 0),
      c AS (SELECT l_partkey, w,
                   CAST(sum(w) OVER (ORDER BY l_partkey
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
                   CAST(sum(w) OVER () AS BIGINT) AS big_w
            FROM wts)
      SELECT l_partkey, w, cum_w, big_w,
             CAST((cum_w * 100) // big_w - ((cum_w - w) * 100) // big_w
               AS BIGINT) AS n_hits
      FROM c
      WHERE (cum_w * 100) // big_w - ((cum_w - w) * 100) // big_w > 0
      ORDER BY l_partkey"""))

  /** INTERVAL CONCURRENCY COUNT — how many orders are OPEN on each
    * calendar day (placed, not yet fully shipped)? The classic
    * interval-overlap counting problem (concurrent sessions, active
    * loans, parallel jobs), and the naive day×interval range join is
    * quadratic — the scalable identity is the DELTA SWEEP: +1 at each
    * open, −1 after each close, prefix-sum the per-day deltas in day
    * order. An order's interval is [o_orderdate, max l_shipdate];
    * orders with no line items never close (the q177 referential gap
    * surfaces here as a tail that never drains — real backlog
    * reports have exactly this class). The prefix sum rides the q166
    * [[PrefixScan.runningSums]] kernel (the net delta per day) — no single-task
    * sort; output is |calendar days| rows with the open count and
    * that day's open/close volumes. The event-boundary rollup is also
    * how q92's SCD validity intervals aggregate at scale.
    */
  val q185OpenOrdersPerDay: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ship = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(expr("CAST(l_shipdate AS DATE)")).as("close_d"))
      val spans = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("CAST(o_orderdate AS DATE)").as("open_d"))
        .join(ship, col("o_orderkey") === col("l_orderkey"), "left")
      val opens = spans.groupBy(col("open_d").as("d"))
        .agg(count(lit(1)).as("n_open"), lit(0L).as("n_close"))
      // close takes effect the day AFTER the last ship date
      val closes = spans.filter(col("close_d").isNotNull)
        .groupBy(expr("date_add(close_d, 1)").as("d"))
        .agg(lit(0L).as("n_open"), count(lit(1)).as("n_close"))
      val deltas = opens.unionByName(closes)
        .groupBy(col("d"))
        .agg(sum(col("n_open")).as("n_opened"),
          sum(col("n_close")).as("n_closed"))
      val days = deltas.select(
        expr("datediff(d, DATE'1970-01-01')").cast("bigint").as("epoch_day"),
        col("n_opened"), col("n_closed"))
      PrefixScan.runningSums(days, Seq("epoch_day"),
          "n_open_orders" -> (col("n_opened") - col("n_closed")))
        .select(col("epoch_day"), col("n_open_orders"), col("n_opened"),
          col("n_closed"))
        .orderBy(col("epoch_day"))
    },
    oracle = Some("""
      WITH ship AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE))
                      AS close_d
                    FROM lineitem GROUP BY 1),
      spans AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS open_d,
                       ship.close_d
                FROM orders LEFT JOIN ship ON o_orderkey = l_orderkey),
      deltas AS (
        SELECT d, CAST(sum(no) AS BIGINT) AS n_opened,
               CAST(sum(nc) AS BIGINT) AS n_closed
        FROM (
          SELECT open_d AS d, 1 AS no, 0 AS nc FROM spans
          UNION ALL
          SELECT close_d + 1, 0, 1 FROM spans WHERE close_d IS NOT NULL)
        GROUP BY d)
      SELECT CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT)
               AS epoch_day,
             CAST(sum(n_opened - n_closed) OVER (ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open_orders,
             n_opened, n_closed
      FROM deltas ORDER BY epoch_day"""))

  /** HOLT DOUBLE-EXPONENTIAL SMOOTHING — q87's EWMA with a TREND term
    * (Holt 1957): level l = α·y + (1−α)(l' + b'), trend
    * b = β(l − l') + (1−β)b', one-step forecast l + b — the standard
    * next-tier time-series smoother (an EWMA lags any trending series
    * by design; Holt tracks it). α = β = 1/4 in integer MILLIONTHS.
    * The trend deltas go NEGATIVE on declines, so the division
    * convention is part of the contract: measured on THIS engine pair,
    * Spark `div` and DuckDB integer `//` BOTH truncate toward zero
    * ((-7)//4 = -1), so plain truncating division is hash-stable here
    * — the q160 non-negative shift is only needed where an engine
    * floors. Same calendar-bounded fold shape as q87
    * (per-day rollup → one in-memory array → HOF fold → explode;
    * oracle replays via recursive CTE with both accumulators). Scale:
    * the fold is over the DAY rollup (|days| bounded by the calendar),
    * not facts — the q163 windowing rule; beyond one machine's array
    * the recurrence runs as q150's sequential-scan-per-key shape keyed
    * by series id.
    */
  val q186HoltSmoothing: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("bigint").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
        .select(explode(expr(
          """aggregate(ds,
               CAST(array() AS ARRAY<STRUCT<day: BIGINT, c: BIGINT, l: BIGINT, b: BIGINT>>),
               (acc, x) -> array_append(acc, CASE WHEN size(acc) = 0
                 THEN named_struct('day', x.day, 'c', x.c,
                   'l', x.c * 1000000L, 'b', 0L)
                 ELSE named_struct('day', x.day, 'c', x.c,
                   'l', (x.c * 1000000L + 3L * (element_at(acc, -1).l + element_at(acc, -1).b)) div 4L,
                   'b', (((x.c * 1000000L + 3L * (element_at(acc, -1).l + element_at(acc, -1).b)) div 4L
                          - element_at(acc, -1).l) + 3L * element_at(acc, -1).b) div 4L)
                 END))""")).as("r"))
        .select(col("r.day").as("day"), col("r.c").as("c"),
          col("r.l").as("level_millionths"), col("r.b").as("trend_millionths"),
          (col("r.l") + col("r.b")).as("forecast_millionths"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                    AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      d2 AS (SELECT day, c, row_number() OVER (ORDER BY day) AS rn FROM daily),
      f AS (
        SELECT rn, day, c, CAST(c * 1000000 AS BIGINT) AS l,
               CAST(0 AS BIGINT) AS b
        FROM d2 WHERE rn = 1
        UNION ALL
        SELECT d2.rn, d2.day, d2.c,
               CAST((d2.c * 1000000 + 3 * (f.l + f.b)) // 4 AS BIGINT),
               CAST((((d2.c * 1000000 + 3 * (f.l + f.b)) // 4 - f.l)
                     + 3 * f.b) // 4 AS BIGINT)
        FROM d2 JOIN f ON d2.rn = f.rn + 1)
      SELECT day, c, l AS level_millionths, b AS trend_millionths,
             CAST(l + b AS BIGINT) AS forecast_millionths
      FROM f ORDER BY day"""))

  /** HIERARCHY FLATTEN by POINTER DOUBLING — the distributed answer to
    * the recursive CTE every warehouse uses for org charts / BOM
    * explosions / category trees: each node starts with its parent
    * pointer and hop distance, and every round jumps anc ← anc(anc),
    * dist ← dist + dist(anc) — path lengths halve per round, so SIX
    * rounds resolve any depth ≤ 2⁶⁴ hops after round-0's single step
    * (doubling: depth d needs ⌈log₂ d⌉ rounds — 6 covers depth 64,
    * deeper than any real product hierarchy; the q62 Components
    * large-star/small-star technique specialized to trees). The
    * hierarchy is synthesized from partkeys (parent = (k−1) div 4, a
    * 4-ary tree rooted at 0) since the TPC-H fixtures carry no
    * recursive dimension; against a real parent column only the first
    * select changes. Emits (node, root, depth) — subtree rollups are
    * then ordinary groupBys on root or on (root, depth). Oracle walks
    * the same tree with a recursive CTE, so the compare crosses the
    * sequential and logarithmic algorithms (the q94 rule). Scale: each
    * round is one self-join on the ancestor key over |nodes| rows —
    * O(log depth) shuffles total where the CTE's sequential chain is
    * O(depth); the per-round table localCheckpoints (q85's loop rule).
    */
  val q187HierarchyFlatten: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val nodes = Tables.part(s, dir).select(col("p_partkey").as("node"))
      var cur = nodes.select(col("node"),
        when(col("node") === 0, 0L)
          .otherwise(expr("(node - 1) div 4")).as("anc"),
        when(col("node") === 0, 0L).otherwise(1L).as("dist"))
        .localCheckpoint(true)
      for (_ <- 1 to 6) {
        val jump = cur.select(col("node").as("j_node"),
          col("anc").as("j_anc"), col("dist").as("j_dist"))
        cur = cur.join(jump, col("anc") === col("j_node"))
          .select(col("node"), col("j_anc").as("anc"),
            (col("dist") + col("j_dist")).as("dist"))
          .localCheckpoint(true)
      }
      cur.select(col("node"), col("anc").as("root"),
          col("dist").as("depth"))
        .orderBy(col("node"))
    },
    oracle = Some("""
      WITH RECURSIVE nodes AS (SELECT p_partkey AS node FROM part),
      walk(node, anc, depth) AS (
        SELECT node, node, CAST(0 AS BIGINT) FROM nodes
        UNION ALL
        SELECT w.node,
               CASE WHEN w.anc = 0 THEN 0 ELSE (w.anc - 1) // 4 END,
               w.depth + 1
        FROM walk w WHERE w.anc <> 0)
      SELECT node, CAST(0 AS BIGINT) AS root,
             CAST(max(depth) AS BIGINT) AS depth
      FROM walk GROUP BY node
      ORDER BY node"""))

  /** EQUI-DEPTH HISTOGRAM — the ANALYZE histogram CBOs actually keep
    * (q84 is equi-WIDTH, q97 is ntile row-bucketing; equi-depth bounds
    * are VALUE thresholds at the k-quantile ranks, robust to skew
    * where equi-width collapses into one hot bucket). Ten buckets over
    * order-value cents: boundary i = the smallest value whose
    * cumulative count reaches ⌈i·n/10⌉ (nearest-rank, the q103
    * convention), emitted with its exact rank and the bucket's actual
    * row count — the self-audit showing how close to n/10 each depth
    * landed under ties. The CDF is the [[PrefixScan]] kernel over the
    * distinct-value rollup (the q128/q161 statistics feed at any
    * scale, no single-task sort); boundary extraction joins the
    * 10-row rank table against the CDF — one broadcast, one shuffle.
    */
  val q188EquiDepthHistogram: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val rollup = Tables.orders(s, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("cents"))
        .agg(count(lit(1)).as("d1"))
      val cdf = PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"))
      val tot = rollup.agg(sum(col("d1")).as("n"))
      val ranks = s.range(1, 11).toDF("bucket")
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          expr("(bucket * n + 9) div 10").as("target_rank"))
      cdf.crossJoin(broadcast(ranks))
        .filter(col("c1") >= col("target_rank"))
        .groupBy(col("bucket"), col("n"), col("target_rank"))
        .agg(min(col("cents")).as("boundary_cents"))
        .join(cdf.select(col("cents").as("boundary_cents"),
          col("c1").as("exact_rank")), Seq("boundary_cents"))
        .select(col("bucket"), col("boundary_cents"), col("target_rank"),
          col("exact_rank"), col("n"))
        .orderBy(col("bucket"))
    },
    oracle = Some("""
      WITH rollup AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS d1
        FROM orders GROUP BY 1),
      cdf AS (SELECT cents,
                     CAST(sum(d1) OVER (ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1
              FROM rollup),
      tot AS (SELECT CAST(sum(d1) AS BIGINT) AS n FROM rollup),
      ranks AS (SELECT b AS bucket, n,
                       CAST((b * n + 9) // 10 AS BIGINT) AS target_rank
                FROM range(1, 11) t(b), tot),
      bounds AS (
        SELECT bucket, n, target_rank,
               min(cents) AS boundary_cents
        FROM cdf CROSS JOIN ranks
        WHERE c1 >= target_rank
        GROUP BY 1, 2, 3)
      SELECT bucket, boundary_cents, target_rank,
             (SELECT c1 FROM cdf WHERE cents = boundary_cents) AS exact_rank,
             n
      FROM bounds ORDER BY bucket"""))

  /** FUNNEL CONVERSION LATENCY — how long from first signup to first
    * subsequent purchase? The time-to-convert distribution behind
    * every activation metric (q78 counts WHO converts; this measures
    * HOW FAST). Per user: earliest signup, earliest purchase strictly
    * after it (two filtered min-aggregates on one user shuffle — no
    * ordered window needed), delay in integer MICROSECONDS; then the
    * population n / p50 / p90 / max, with the percentiles as exact
    * nearest-ranks extracted from a [[PrefixScan]] CDF over the
    * delay rollup (the q188 boundary-extraction shape — converting
    * users are fact-scaled, so no partitionless rank window ever sees
    * them; the q178 lesson). Never-converting users are excluded by
    * construction and countable via q78. One row out.
    */
  val q189FunnelLatency: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("signup_us"))
      val delays = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("us") > col("signup_us"))
        .groupBy(col("user_id"), col("signup_us"))
        .agg(min(col("us")).as("purchase_us"))
        .select((col("purchase_us") - col("signup_us")).as("delay_us"))
      val rollup = delays.groupBy(col("delay_us").as("cents"))
        .agg(count(lit(1)).as("d1"))
      val cdf = PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"))
      val tot = rollup.agg(sum(col("d1")).as("n"))
      val ranks = tot.select(col("n"),
        expr("(n + 1) div 2").as("r50"), expr("n - (n div 10)").as("r90"))
      val p50 = cdf.crossJoin(broadcast(ranks))
        .filter(col("c1") >= col("r50"))
        .agg(min(col("cents")).as("p50_us"))
      val p90 = cdf.crossJoin(broadcast(ranks))
        .filter(col("c1") >= col("r90"))
        .agg(min(col("cents")).as("p90_us"))
      val mx = delays.agg(count(lit(1)).as("n_converted"),
        max(col("delay_us")).as("max_us"))
      mx.crossJoin(broadcast(p50)).crossJoin(broadcast(p90))
        .select(col("n_converted"), col("p50_us"), col("p90_us"),
          col("max_us"))
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type,
                        epoch_ns(ts) // 1000 AS us FROM events),
      su AS (SELECT user_id, min(us) AS signup_us FROM e
             WHERE event_type = 'signup' GROUP BY 1),
      d AS (SELECT e.user_id,
                   min(e.us) - any_value(su.signup_us) AS delay_us
            FROM e JOIN su USING (user_id)
            WHERE e.event_type = 'purchase' AND e.us > su.signup_us
            GROUP BY e.user_id, su.signup_us),
      r AS (SELECT delay_us,
                   CAST(row_number() OVER (ORDER BY delay_us) AS BIGINT)
                     AS rn,
                   CAST(count(*) OVER () AS BIGINT) AS n
            FROM d)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_converted,
             (SELECT CAST(delay_us AS BIGINT) FROM r
              WHERE rn = (n + 1) // 2) AS p50_us,
             (SELECT CAST(delay_us AS BIGINT) FROM r
              WHERE rn = n - (n // 10)) AS p90_us,
             (SELECT CAST(max(delay_us) AS BIGINT) FROM d) AS max_us"""))

  // ---------------------------------------------------------------------
  // TPC-H decision-support completion (Q3/Q4/Q6/Q8/Q9/Q14/Q16/Q20
  // shapes on the fixture schema — with q142-q159 this closes the
  // full 22-query suite; adaptations per query where the fixture
  // lacks a column are noted inline)
  // ---------------------------------------------------------------------

  private val revE4 =
    "CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)"

  /** TPC-H Q3 shipping priority: top-10 highest-value orders for one
    * market segment, ordered before the cutoff but (partially)
    * shipped after it. Revenue in the q153 e4 integer grid; dims
    * broadcast into the fact scan; the head is TakeOrdered with the
    * full (rev desc, epoch_day, orderkey) total order. The fixture
    * has no o_shippriority — o_orderpriority rides along instead.
    */
  val q190ShippingPriority: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cust = broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < "1998-01-01")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
            .cast("bigint").as("order_day"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > "1998-01-01")
        .select(col("l_orderkey"), expr(revE4).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("order_day"), col("o_orderpriority"))
        .agg(sum(col("rev")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("order_day"), col("l_orderkey"))
        .limit(10)
    },
    oracle = Some(s"""
      SELECT l_orderkey,
             CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS BIGINT) AS order_day,
             o_orderpriority,
             CAST(sum($revE4) AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue_e4 DESC, order_day, l_orderkey
      LIMIT 10"""))

  /** TPC-H Q4 order-priority checking: priority counts for a
    * quarter's orders having AT LEAST ONE qualifying line — the
    * EXISTS planned as a left-semi join (one probe, no fan-out
    * however many lines match). The fixture lacks
    * l_commitdate/l_receiptdate, so "late delivery" becomes
    * "contains a returned line" (l_returnflag = 'R') — the same
    * exists-per-order shape.
    */
  val q191PriorityChecking: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ret = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= "1998-01-01" &&
          col("o_orderdate") < "1998-07-01")
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    oracle = Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate < TIMESTAMP '1998-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** TPC-H Q6 forecast-revenue change: the pure scan-filter-agg probe
    * (no join at all) — what additional revenue if discounts in a
    * band had been eliminated. sum(extprice·discount) on the e4
    * integer grid; the predicate set (year + discount band + qty cap)
    * must reach the parquet scan as pushed filters.
    */
  val q192ForecastRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= "1998-01-01" &&
          col("l_shipdate") < "1999-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          sum(expr(
            "CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)"))
            .as("revenue_e4")),
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
               AS BIGINT)) AS BIGINT) AS revenue_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""))

  /** TPC-H Q8 national market share: per year, NATION_1-supplied
    * revenue vs all revenue delivered to ASIA-region customers — the
    * share ships as the exact rational (num_e4, den_e4), never a
    * rounded float (q115's shares rule). Two dim chains on one fact
    * pass: customer→nation→region gates the market, supplier→nation
    * tests the share side; all four dims broadcast, the fact shuffles
    * once for the (year) rollup.
    */
  val q193MarketShare: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val nat = Tables.nation(s, dir)
      val marketNations = broadcast(nat
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("mkt_nk")))
      val cust = broadcast(Tables.customer(s, dir)
        .join(marketNations, col("c_nationkey") === col("mkt_nk"))
        .select(col("c_custkey")))
      val supNation = broadcast(Tables.supplier(s, dir)
        .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("sup_nation")))
      val ord = Tables.orders(s, dir)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), expr(revE4).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("yr"))
        .agg(sum(when(col("sup_nation") === "NATION_1", col("rev"))
          .otherwise(0L)).as("num_e4"),
          sum(col("rev")).as("den_e4"))
        .orderBy(col("yr"))
    },
    oracle = Some(s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(sum(CASE WHEN sn.n_name = 'NATION_1' THEN $revE4
                           ELSE 0 END) AS BIGINT) AS num_e4,
             CAST(sum($revE4) AS BIGINT) AS den_e4
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1 ORDER BY yr"""))

  /** TPC-H Q9 product-type profit shape: revenue by (supplier nation,
    * order year). The fixture has no partsupp/ps_supplycost, so the
    * profit term reduces to the revenue side — the plan shape (two
    * dim chains into one fact rollup over nation × year) is Q9's;
    * line counts ride along. Dims broadcast, one (nation, year)
    * rollup shuffle.
    */
  val q194NationYearProfit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val supNation = broadcast(Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
      val ordYear = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), expr(revE4).as("rev"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .join(ordYear, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("yr"))
        .agg(count(lit(1)).as("n_lines"), sum(col("rev")).as("revenue_e4"))
        .orderBy(col("n_name"), col("yr"))
    },
    oracle = Some(s"""
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum($revE4) AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 ORDER BY n_name, yr"""))

  /** TPC-H Q14 promo revenue share: per order year, revenue from
    * PROMO-type parts vs all revenue — the share as the exact
    * rational (promo_e4, total_e4); the fixture's p_type domain
    * carries 'PROMO' literally. Part dim broadcast; one (year)
    * rollup.
    */
  val q195PromoRevenue: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pt = broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_type")))
      val ordYear = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), expr(revE4).as("rev"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(ordYear, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("yr"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L))
          .as("promo_e4"),
          sum(col("rev")).as("total_e4"))
        .orderBy(col("yr"))
    },
    oracle = Some(s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revE4 ELSE 0 END)
               AS BIGINT) AS promo_e4,
             CAST(sum($revE4) AS BIGINT) AS total_e4
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY yr"""))

  /** TPC-H Q16 parts/supplier relationship: distinct suppliers able
    * to ship each (brand, size) class, excluding one brand and a
    * complained-about supplier set (the NOT IN planned as an
    * anti-join; the fixture has no complaints text, so the excluded
    * set is the deterministic suffix rule s_name LIKE '%7'). Count
    * distinct over the (brand, size, supplier) dedup rollup; total
    * order (cnt desc, brand, size) for the report.
    */
  val q196SupplierRelationship: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_name").like("%7")).select(col("s_suppkey"))
      val pt = broadcast(Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#45")
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .select(col("p_brand"), col("p_size"), col("l_suppkey")).distinct()
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },
    oracle = Some("""
      SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT)
               AS supplier_cnt
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#45'
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_name LIKE '%7')
      GROUP BY 1, 2
      ORDER BY supplier_cnt DESC, p_brand, p_size"""))

  /** TPC-H Q20 potential part promotion: suppliers who moved real
    * volume of a named part class in a year — the chained
    * IN-subqueries planned as one semi-join cascade (parts LIKE →
    * qualifying lines → per-supplier volume HAVING → supplier dim).
    * The fixture lacks partsupp/ps_availqty, so the "excess stock"
    * test becomes a shipped-quantity threshold — the same
    * semi-join-chain shape. Integer quantities throughout.
    */
  val q197PartPromotion: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val bigParts = broadcast(Tables.part(s, dir)
        .filter(col("p_name").like("large%")).select(col("p_partkey")))
      val vol = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= "1998-01-01" &&
          col("l_shipdate") < "1999-01-01")
        .join(bigParts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("bigint")).as("qty_1998"))
        .filter(col("qty_1998") > 50L)
      Tables.supplier(s, dir)
        .join(vol, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("qty_1998"))
        .orderBy(col("s_suppkey"))
    },
    oracle = Some("""
      SELECT s_suppkey, s_name, qty_1998
      FROM supplier
      JOIN (SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
              AS qty_1998
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate < TIMESTAMP '1999-01-01'
              AND l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'large%')
            GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 50) v
        ON s_suppkey = v.l_suppkey
      ORDER BY s_suppkey"""))

  /** SEQUENTIAL PATTERN MINING (order-3) — the most frequent
    * event-type TRIGRAMS across per-user journeys, one level above
    * q96's first-order transition matrix (a Markov-1 model cannot see
    * that signup→view→purchase outranks view→view→purchase when both
    * share their bigrams — exactly what onboarding-flow analysis
    * needs). Two leads over one user-ordered window (ts, event_id
    * tiebreaks — engine-deterministic sequences), trigram counts map-
    * side combine on a |types|³-bounded domain, top-20 by the total
    * (count desc, trigram) order via TakeOrdered. Scale: one user
    * shuffle, rollup bounded by the type-domain cube (125 here), the
    * q117 candidate-bounding argument applied to sequences.
    */
  val q198EventTrigrams: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    },
    oracle = Some("""
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_ns(ts) // 1000 AS us FROM events),
      seq AS (SELECT event_type AS t1,
                     lead(event_type, 1) OVER w AS t2,
                     lead(event_type, 2) OVER w AS t3
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY n DESC, t1, t2, t3
      LIMIT 20"""))

  /** COHORT LTV CURVES — cumulative revenue per acquisition cohort by
    * account age: cohort = the month of a customer's FIRST order,
    * age = months since it; per (cohort, age) cell the active-buyer
    * count, that month's revenue, and the RUNNING cumulative revenue
    * (the LTV curve every growth model is fit to; q79 counts
    * retention, this weighs it). Month index is epoch-anchored
    * integer arithmetic (q79's no-week-start-trap rule); the running
    * sum is a frame over the cohort×age ROLLUP (calendar-bounded —
    * never the facts). Scale: one custkey shuffle for first-order
    * months, one (cohort, age) rollup; output |months|² cells max.
    */
  val q199CohortLtv: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        ((year(col("o_orderdate")) - 1970) * 12 + month(col("o_orderdate")) - 1)
          .cast("bigint").as("m"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
      val cells = o.join(first, Seq("o_custkey"))
        .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age_m"))
        .agg(countDistinct(col("o_custkey")).as("n_buyers"),
          sum(col("cents")).as("revenue_cents"))
      cells.withColumn("cum_revenue_cents",
          sum(col("revenue_cents")).over(
            Window.partitionBy(col("cohort_m")).orderBy(col("age_m"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("cohort_m"), col("age_m"))
    },
    oracle = Some("""
      WITH o AS (SELECT o_custkey,
                        CAST((year(o_orderdate) - 1970) * 12
                          + month(o_orderdate) - 1 AS BIGINT) AS m,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
      cells AS (
        SELECT cohort_m, o.m - f.cohort_m AS age_m,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM o JOIN f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2)
      SELECT cohort_m, age_m, n_buyers, revenue_cents,
             CAST(sum(revenue_cents) OVER (PARTITION BY cohort_m
               ORDER BY age_m ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_revenue_cents
      FROM cells ORDER BY cohort_m, age_m"""))

  /** SUPPLIER LEAD-TIME PROFILE — order-to-ship latency per supplier
    * (the logistics SLA table: who ships fast, who drags): per
    * supplier the line count, total/max lead days as integers, and
    * the exact nearest-rank MEDIAN lead time (q103's convention,
    * window partitioned by supplier with (days, orderkey, linenumber)
    * tiebreaks — fact-sized input but supplier-partitioned, so it
    * parallelizes like q103). Mean ships as the rational
    * (sum_days, n_lines), never divided (q49/q60). Lead time is pure
    * DATE arithmetic on both engines — no timestamp-zone surface.
    * Scale: one suppkey shuffle; at extreme per-supplier volumes the
    * median swaps for the q166 CDF or q171 KLL path per the q176
    * note.
    */
  val q200SupplierLeadTime: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          expr("CAST(l_shipdate AS DATE)").as("sd"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          expr("CAST(o_orderdate AS DATE)").as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          expr("datediff(sd, od)").cast("bigint").as("days"))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("days"), col("l_orderkey"), col("l_linenumber"))
      val grp = Window.partitionBy(col("l_suppkey"))
      li.withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(grp))
        .withColumn("sum_days", sum(col("days")).over(grp))
        .withColumn("max_days", max(col("days")).over(grp))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("l_suppkey"), col("n").as("n_lines"),
          col("sum_days"), col("days").as("median_days"), col("max_days"))
        .orderBy(col("l_suppkey"))
    },
    oracle = Some("""
      WITH li AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(datediff('day', CAST(o_orderdate AS DATE),
                 CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      r AS (SELECT *,
                   CAST(row_number() OVER (PARTITION BY l_suppkey
                     ORDER BY days, l_orderkey, l_linenumber) AS BIGINT)
                     AS rn,
                   CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT)
                     AS n,
                   CAST(sum(days) OVER (PARTITION BY l_suppkey) AS BIGINT)
                     AS sum_days,
                   CAST(max(days) OVER (PARTITION BY l_suppkey) AS BIGINT)
                     AS max_days
            FROM li)
      SELECT l_suppkey, n AS n_lines, sum_days, days AS median_days,
             max_days
      FROM r WHERE rn = (n + 1) // 2
      ORDER BY l_suppkey"""))

  /** HITS hubs & authorities (Kleinberg 1999) over the customer→part
    * purchase BIPARTITE graph — the centrality q85's PageRank cannot
    * express: a purchase graph has two distinct roles, customers as
    * HUBS (aggregating taste breadth) and parts as AUTHORITIES
    * (aggregating demand), and HITS scores them by mutual
    * reinforcement. Two full rounds at a FIXED iteration count (the
    * q85/q127/q164 fixed-round contract) with UNNORMALIZED integer
    * mass — h₀ = 1, a = Σ h over a part's buyers, h = Σ a over a
    * customer's parts — so the DuckDB oracle replays every half-round
    * as a chained CTE with zero float drift (the usual L2
    * normalization only rescales within a round; ranks are preserved,
    * so it stays client-side with the transcendentals per the q59
    * rule). Top-20 of each role with the (score desc, id) total
    * order. Scale: the distinct (cust, part) edge list shuffles ONCE
    * and is materialized (localCheckpoint) so four half-rounds scan
    * fixed blocks; each half-round broadcasts a vertex-sized score
    * table into a map-side edge join + one groupBy on the other
    * endpoint — the q85 Pregel shape, the adjacency never re-shuffles;
    * score mass grows ~ d̄⁴ after two rounds (≈10¹² at mean degree
    * 10³) — DECIMAL(38,0) before 2^63 per the q109 rule. The explicit
    * score-table broadcast is size-gated via [[Rounds.gate]] (round
    * 15): at corpus scale — where a customer-sized score table would
    * overwhelm the driver — the join degrades to a shuffle join with
    * the same edge-side plan automatically, no code edit.
    */
  val q201HitsScores: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true)
      // every half-round score table is vertex-sized (≤ |edges| rows)
      val bc = Rounds.gate(dir, edges.count())
      def half(scores: DataFrame, from: String, to: String): DataFrame =
        edges.join(bc(scores), from)
          .groupBy(col(to)).agg(sum(col("s")).as("s"))
      val a1 = edges.groupBy(col("p")).agg(count(lit(1)).as("s")) // h₀ = 1
      val h1 = half(a1, "p", "c")
      val a2 = half(h1, "c", "p")
      val h2 = half(a2, "p", "c")
      def top(scores: DataFrame, id: String, kind: String): DataFrame =
        scores.orderBy(col("s").desc, col(id)).limit(20)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("s").desc, col(id))).cast("bigint"))
          .select(lit(kind).as("kind"), col("rnk"), col(id).as("id"),
            col("s").as("score"))
      top(a2, "p", "authority").unionByName(top(h2, "c", "hub"))
        .orderBy(col("kind"), col("rnk"))
    },
    oracle = Some("""
      WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY 1),
      h1 AS (SELECT e.c, CAST(sum(a1.s) AS BIGINT) AS s
             FROM e JOIN a1 USING (p) GROUP BY 1),
      a2 AS (SELECT e.p, CAST(sum(h1.s) AS BIGINT) AS s
             FROM e JOIN h1 USING (c) GROUP BY 1),
      h2 AS (SELECT e.c, CAST(sum(a2.s) AS BIGINT) AS s
             FROM e JOIN a2 USING (p) GROUP BY 1),
      ta AS (SELECT 'authority' AS kind,
                    CAST(row_number() OVER (ORDER BY s DESC, p) AS BIGINT)
                      AS rnk,
                    p AS id, s AS score
             FROM a2),
      th AS (SELECT 'hub' AS kind,
                    CAST(row_number() OVER (ORDER BY s DESC, c) AS BIGINT)
                      AS rnk,
                    c AS id, s AS score
             FROM h2)
      SELECT kind, rnk, id, score FROM ta WHERE rnk <= 20
      UNION ALL
      SELECT kind, rnk, id, score FROM th WHERE rnk <= 20
      ORDER BY kind, rnk"""),
    headline = true)

  /** Shared calendar day rollup for the change-point / forecast-audit /
    * interpolation family: daily revenue cents per order status. Facts
    * reduce in ONE map-side-combined shuffle; everything downstream
    * works on the calendar-bounded (status, day) table.
    */
  private def statusDailyCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("bigint").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))

  private val statusDailyCentsSql = """
        SELECT o_orderstatus AS status,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS c
        FROM orders GROUP BY 1, 2"""

  /** CUSUM change-point detection on daily revenue per status — the
    * retrospective mean-shift locator (Page 1954 statistic, Pettitt's
    * nonparametric shape): the centered cumulative sum
    * S_k = P_k − (k/n)·T peaks where the series' mean most likely
    * shifted. Cross-multiplied by n into pure BIGINT
    * (dev_k = |n·P_k − k·T|) so no fraction ever forms; the change
    * point is the dev-argmax day with the EARLIEST-day tie rule (an
    * arbitrary-tie argmax can never hash-match — the q183 mode
    * lesson). Emits the raw peak numerator beside its implicit /n
    * denominator (n_days) per the q49/q60 rational contract. Scale:
    * facts reduce to the calendar-bounded rollup in one shuffle;
    * prefix sum and argmax are status-partitioned windows over
    * ≤|days| rows. BIGINT headroom AT TARGET SF: n is CALENDAR
    * bounded, so n·P grows only with total revenue — 2^63 at ~4·10⁴×
    * the sf0.1 corpus; DECIMAL(38,0) past that (q109 rule).
    */
  val q202CusumChangepoint: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = statusDailyCents(s, dir)
      val w = Window.partitionBy(col("status")).orderBy(col("day"))
      val cum = daily
        .withColumn("k", row_number().over(w).cast("bigint"))
        .withColumn("pk", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val totals = daily.groupBy(col("status"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total_cents"))
      val pick = Window.partitionBy(col("status"))
        .orderBy(col("dev").desc, col("day"))
      cum.join(broadcast(totals), "status")
        .withColumn("dev",
          abs(col("n_days") * col("pk") - col("k") * col("total_cents")))
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("status"), col("n_days"), col("total_cents"),
          col("day").as("cp_day"), col("dev").as("cusum_num"))
        .orderBy(col("status"))
    },
    oracle = Some(s"""
      WITH daily AS ($statusDailyCentsSql),
      cum AS (
        SELECT status, day, c,
               CAST(row_number() OVER w AS BIGINT) AS k,
               CAST(sum(c) OVER (PARTITION BY status ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pk
        FROM daily WINDOW w AS (PARTITION BY status ORDER BY day)),
      t AS (SELECT status, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(c) AS BIGINT) AS total_cents
            FROM daily GROUP BY 1),
      dev AS (SELECT cum.status, t.n_days, t.total_cents, cum.day,
                     abs(t.n_days * cum.pk - cum.k * t.total_cents) AS dev
              FROM cum JOIN t ON cum.status = t.status),
      r AS (SELECT *, row_number() OVER (PARTITION BY status
              ORDER BY dev DESC, day) AS rn FROM dev)
      SELECT status, n_days, total_cents, day AS cp_day,
             CAST(dev AS BIGINT) AS cusum_num
      FROM r WHERE rn = 1 ORDER BY status"""))

  /** Forecast-accuracy audit: one-step backtests of the seasonal-naive
    * (ŷ_t = y_{t−7}) and naive (ŷ_t = y_{t−1}) forecasters on daily
    * revenue per status — the MASE numerator/denominator sufficient
    * statistics (Hyndman & Koehler 2006), the yardstick every real
    * forecaster (q87's EWMA, q186's Holt) must beat. Lags are
    * CALENDAR lags: day−1 / day−7 must exist as dates, not as "rows
    * back" — a row-frame lag silently shortens across calendar gaps —
    * so both backtests are equi-joins of the day rollup against
    * itself shifted, never gap-blind window frames. Σ|err| and n ship
    * raw per horizon; MASE = (sae7/n7)/(sae1/n1) reconstructs
    * client-side (q49/q60 no-rounded-rationals contract). Scale: the
    * rollup is calendar-bounded, both self-joins broadcast; facts
    * shuffle once.
    */
  val q203ForecastAccuracy: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = statusDailyCents(s, dir)
      def backtest(lag: Int, nCol: String, saeCol: String): DataFrame =
        daily.join(
            broadcast(daily.select(col("status"),
              (col("day") + lit(lag.toLong)).as("day"), col("c").as("prev"))),
            Seq("status", "day"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as(nCol),
            sum(abs(col("c") - col("prev"))).as(saeCol))
      backtest(1, "n1", "sae_naive")
        .join(backtest(7, "n7", "sae_seasonal"), "status")
        .select(col("status"), col("n1"), col("sae_naive"),
          col("n7"), col("sae_seasonal"))
        .orderBy(col("status"))
    },
    oracle = Some(s"""
      WITH daily AS ($statusDailyCentsSql),
      l1 AS (SELECT a.status, CAST(count(*) AS BIGINT) AS n1,
                    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_naive
             FROM daily a JOIN daily b
               ON a.status = b.status AND a.day = b.day + 1
             GROUP BY 1),
      l7 AS (SELECT a.status, CAST(count(*) AS BIGINT) AS n7,
                    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_seasonal
             FROM daily a JOIN daily b
               ON a.status = b.status AND a.day = b.day + 7
             GROUP BY 1)
      SELECT status, n1, sae_naive, n7, sae_seasonal
      FROM l1 JOIN l7 USING (status) ORDER BY status"""))

  /** Calendar gap-fill with LINEAR interpolation per status — q150's
    * LOCF sibling for continuous-valued series (a carried-forward
    * value is right for state, a line for flows): each missing
    * calendar day gets the chord between its observed neighbors as
    * the EXACT rational (prev·(next_day−d) + next·(d−prev_day)) over
    * (next_day − prev_day) — integer numerator/denominator, never
    * divided (a float slope would round differently per engine; the
    * q49/q60 contract). Observed days ship as (c, 1); `observed`
    * flags them as 1/0 integers. Neighbor lookup is two
    * last/first(ignoreNulls) running frames over ONE sort of the
    * calendar expansion — the q150 shape; interior gaps always have
    * both neighbors because the expansion spans exactly
    * [min(day), max(day)] per status. Scale: the expansion is
    * calendar-bounded (|days|·|status| rows regardless of fact
    * volume); facts shuffle once into the rollup.
    */
  val q205LinearInterpolation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = statusDailyCents(s, dir)
      val cal = daily.groupBy(col("status"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("status"), explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy(col("status")).orderBy(col("day"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      cal.join(daily, Seq("status", "day"), "left")
        .withColumn("pd", last(when(col("c").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("pv", last(col("c"), ignoreNulls = true).over(wPrev))
        .withColumn("nd", first(when(col("c").isNotNull, col("day")),
          ignoreNulls = true).over(wNext))
        .withColumn("nv", first(col("c"), ignoreNulls = true).over(wNext))
        .select(col("status"), col("day"),
          when(col("c").isNotNull, 1L).otherwise(0L).as("observed"),
          when(col("c").isNotNull, col("c"))
            .otherwise(col("pv") * (col("nd") - col("day")) +
              col("nv") * (col("day") - col("pd"))).as("val_num"),
          when(col("c").isNotNull, lit(1L))
            .otherwise(col("nd") - col("pd")).as("val_den"))
        .orderBy(col("status"), col("day"))
    },
    oracle = Some(s"""
      WITH daily AS ($statusDailyCentsSql),
      span AS (SELECT status, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY 1),
      cal AS (SELECT status, CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
              FROM span),
      j AS (SELECT cal.status, cal.day, daily.c
            FROM cal LEFT JOIN daily USING (status, day)),
      f AS (SELECT status, day, c,
                   last_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
                     OVER wp AS pd,
                   last_value(c IGNORE NULLS) OVER wp AS pv,
                   first_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
                     OVER wn AS nd,
                   first_value(c IGNORE NULLS) OVER wn AS nv
            FROM j
            WINDOW wp AS (PARTITION BY status ORDER BY day
                          ROWS UNBOUNDED PRECEDING),
                   wn AS (PARTITION BY status ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT status, day,
             CAST(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS observed,
             CAST(CASE WHEN c IS NOT NULL THEN c
                       ELSE pv * (nd - day) + nv * (day - pd) END AS BIGINT)
               AS val_num,
             CAST(CASE WHEN c IS NOT NULL THEN 1 ELSE nd - pd END AS BIGINT)
               AS val_den
      FROM f ORDER BY status, day"""))

  /** Offline recommender evaluation: precision/recall@k sufficient
    * statistics for the popularity recommender on a leakage-free
    * holdout — the eval harness the reference never builds (its
    * dashboard SIMULATES metrics; M12's q-series computes real ones
    * for the classifier, this does it for the RECOMMENDER surface).
    * Deterministic 20% holdout by affine polyhash of the (customer,
    * part) pair (q122's RNG-free split contract; keys pre-reduced mod
    * P so the product can't overflow at target-SF key ranges); the
    * popular-top-50 list trains on the REMAINING pairs only (split
    * BEFORE counting — counting first would leak the holdout into the
    * ranking). Output: one row per rank 1..50 with the part, its
    * train count, holdout hits at that rank, cumulative hits, and the
    * holdout totals — precision@k = cum_hits/(k·n_test_users),
    * recall@k = cum_hits/n_test_pairs, and corpus-level DCG@k all
    * reconstruct client-side (gain depends only on rank; the log2
    * stays out of the contract per the q59 rule). Scale: one edge
    * shuffle + a map-side-combined part rollup cut by TakeOrdered;
    * the 50-row list broadcasts into the holdout probe; the
    * cumulative window rides the 50-row result (allowlisted).
    */
  val q206RankingMetrics: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .withColumn("is_test",
          pmod(pmod(col("c"), lit(P)) * 1103515245L +
            pmod(col("p"), lit(P)) * 12345L + 987L, lit(P)) % 5L === 0L)
        .localCheckpoint(true) // feeds the train rollup AND the probe
      val popular = edges.filter(!col("is_test"))
        .groupBy(col("p")).agg(count(lit(1)).as("n_train"))
        .orderBy(col("n_train").desc, col("p")).limit(50)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("n_train").desc, col("p"))).cast("bigint"))
      val test = edges.filter(col("is_test"))
      val totals = test.agg(count(lit(1)).as("n_test_pairs"),
        countDistinct(col("c")).as("n_test_users"))
      val hitsByRank = test.join(broadcast(popular), "p")
        .groupBy(col("rnk")).agg(count(lit(1)).as("h"))
      popular.join(hitsByRank, Seq("rnk"), "left")
        .withColumn("hits", coalesce(col("h"), lit(0L)))
        .withColumn("cum_hits", sum(col("hits")).over(
          Window.orderBy(col("rnk"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(totals))
        .select(col("rnk"), col("p").as("part"), col("n_train"), col("hits"),
          col("cum_hits"), col("n_test_pairs"), col("n_test_users"))
        .orderBy(col("rnk"))
    },
    oracle = Some("""
      WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      s AS (SELECT c, p,
                   ((c % 2147483647) * 1103515245 +
                    (p % 2147483647) * 12345 + 987)
                     % 2147483647 % 5 = 0 AS is_test
            FROM e),
      pop AS (SELECT p, CAST(count(*) AS BIGINT) AS n_train,
                     CAST(row_number() OVER (ORDER BY count(*) DESC, p)
                       AS BIGINT) AS rnk
              FROM s WHERE NOT is_test GROUP BY p
              ORDER BY n_train DESC, p LIMIT 50),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_test_pairs,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_test_users
            FROM s WHERE is_test),
      h AS (SELECT pop.rnk, CAST(count(*) AS BIGINT) AS h
            FROM s JOIN pop ON s.p = pop.p WHERE s.is_test GROUP BY pop.rnk)
      SELECT pop.rnk, pop.p AS part, pop.n_train,
             CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
             CAST(sum(coalesce(h.h, 0)) OVER (ORDER BY pop.rnk
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hits,
             t.n_test_pairs, t.n_test_users
      FROM pop LEFT JOIN h ON pop.rnk = h.rnk CROSS JOIN t
      ORDER BY pop.rnk"""),
    headline = true)

  /** NATIVE RECURSIVE CTE — hierarchy transitive closure on Spark 4.1's
    * `WITH RECURSIVE` (UnionLoop): every (node, proper-ancestor, hops)
    * pair of the q187 synthesized 4-ary part tree, the BOM-explosion /
    * org-rollup edge list q187's pointer-doubling summary (root+depth
    * only) doesn't emit. This entry exists for the SQL SURFACE: a user
    * porting warehouse recursive SQL runs it UNCHANGED on Spark 4.1
    * (modulo `div` spelling), and the DuckDB oracle is the same
    * recursion — two engines' native recursion compared row-for-row.
    * Scale contract stated honestly: native recursion executes
    * O(depth) sequential rounds, each one distributed join/scan over
    * the frontier — right for shallow trees (any real product
    * hierarchy) and for migration compatibility; for extreme depth
    * q187's O(log d)-round pointer doubling remains the engine's
    * declared swap. Closure size is Σ node depth ≈ n·log₄ n rows —
    * emit-bounded, not a blowup, because the tree is O(log n) deep.
    */
  val q207RecursiveClosure: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      Tables.part(s, dir).select(col("p_partkey").as("node"))
        .createOrReplaceTempView("graft_q207_nodes")
      s.sql("""
        WITH RECURSIVE walk(node, anc, hops) AS (
          SELECT node, node, CAST(0 AS BIGINT) FROM graft_q207_nodes
          UNION ALL
          SELECT w.node,
                 CASE WHEN w.anc = 0 THEN 0 ELSE (w.anc - 1) div 4 END,
                 w.hops + 1
          FROM walk w WHERE w.anc <> 0)
        SELECT node, anc, hops FROM walk
        WHERE hops >= 1
        ORDER BY node, hops""")
    },
    oracle = Some("""
      WITH RECURSIVE nodes AS (SELECT p_partkey AS node FROM part),
      walk(node, anc, hops) AS (
        SELECT node, node, CAST(0 AS BIGINT) FROM nodes
        UNION ALL
        SELECT w.node,
               CASE WHEN w.anc = 0 THEN 0 ELSE (w.anc - 1) // 4 END,
               w.hops + 1
        FROM walk w WHERE w.anc <> 0)
      SELECT node, CAST(anc AS BIGINT) AS anc, hops FROM walk
      WHERE hops >= 1
      ORDER BY node, hops"""))

  /** GROUPING SETS with an IRREGULAR set list — the grouping-set shape
    * `rollup` (q53) and `cube` (q81) cannot express: ((status, pri),
    * (pri, year), (status), ()) mixes two different drill paths in one
    * pass, the real-world "this dashboard needs these four grains"
    * case. GROUPING() flags ship per column (cast BIGINT on both
    * engines) because NULL is ambiguous — it can be a real NULL key or
    * a super-aggregate placeholder, and the flag is the only reliable
    * discriminator; the total order leads with the flags for the same
    * reason. Revenue accumulates in integer cents (the grand-total row
    * sums the whole table — float addition order would flip last
    * digits cross-engine; the q53 lesson, taken further). Scale: one
    * expand + hash-agg pass — Spark's Expand multiplies rows by the
    * set count BEFORE partial aggregation, so the shuffle carries only
    * the (tiny) grouped domain per set, never 4× the facts.
    */
  val q209GroupingSets: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("pri"),
          year(col("o_orderdate")).cast("bigint").as("y"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("graft_q209_orders")
      s.sql("""
        SELECT status, pri, y,
               CAST(grouping(status) AS BIGINT) AS g_s,
               CAST(grouping(pri) AS BIGINT) AS g_p,
               CAST(grouping(y) AS BIGINT) AS g_y,
               count(*) AS n, sum(cents) AS total_cents
        FROM graft_q209_orders
        GROUP BY GROUPING SETS ((status, pri), (pri, y), (status), ())
        ORDER BY g_s, g_p, g_y, status NULLS FIRST, pri NULLS FIRST,
                 y NULLS FIRST""")
    },
    oracle = Some("""
      WITH o AS (SELECT o_orderstatus AS status, o_orderpriority AS pri,
                        CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders)
      SELECT status, pri, y,
             CAST(GROUPING(status) AS BIGINT) AS g_s,
             CAST(GROUPING(pri) AS BIGINT) AS g_p,
             CAST(GROUPING(y) AS BIGINT) AS g_y,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
      FROM o
      GROUP BY GROUPING SETS ((status, pri), (pri, y), (status), ())
      ORDER BY g_s, g_p, g_y, status NULLS FIRST, pri NULLS FIRST,
               y NULLS FIRST"""))

  /** Hilbert-curve data layout — [[graft.operators.Hilbert]], the
    * locality-preserving upgrade over q83's Morton code (consecutive
    * Hilbert indexes are ALWAYS grid neighbors — unit Manhattan step,
    * property-tested in HilbertSpec — where the Z-curve jumps across
    * the plane at power-of-two seams; same buckets as q83 so the two
    * layouts compare directly). The index builds through one
    * projection per level (chained attributes, never an exponentially
    * self-referencing expression) and the oracle replays the identical
    * rotate/flip walk as chained CTEs. The layout half
    * (`Hilbert.layoutByH`: range shuffle + local sort → disjoint
    * per-file index ranges) is the 100 TB rewrite job, one shuffle.
    */
  val q210HilbertLayout: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).as("xb"),
          least(expr("CAST(floor(o_totalprice / 2500.0) AS BIGINT)"),
            lit(255L)).as("yb"))
      graft.operators.Hilbert
        .withHilbert(base, col("xb"), col("yb"), 8, "h_value")
        .orderBy(col("h_value"), col("o_orderkey"))
    },
    oracle = Some(s"""
      WITH hl_in AS (
        SELECT o_orderkey,
               o_custkey % 256 AS xb,
               least(CAST(floor(o_totalprice / 2500.0) AS BIGINT), 255) AS yb,
               o_custkey % 256 AS x,
               least(CAST(floor(o_totalprice / 2500.0) AS BIGINT), 255) AS y,
               CAST(0 AS BIGINT) AS d
        FROM orders),
      ${graft.operators.Hilbert.hilbertCtesSql(8,
        Seq("o_orderkey", "xb", "yb"))}
      SELECT o_orderkey, xb, yb, CAST(d AS BIGINT) AS h_value
      FROM hl0 ORDER BY h_value, o_orderkey"""))

  /** ROLLING 28-day OLS trend per status — q109's global regression
    * localized: the slope of daily revenue over a VALUE-BASED RANGE
    * frame of the day index ([-27, 0] — calendar days, so gaps shrink
    * the frame exactly as q114's revenue window; a ROWS frame would
    * silently stretch across gaps), the windowed trend detector
    * monitoring dashboards plot. The five sufficient sums
    * (n, Σx, Σy, Σxy, Σx²) accumulate per frame and the slope ships
    * as the exact integer rational (n·Σxy − Σx·Σy, n·Σxx − Σx²) —
    * never divided (q49/q60). Day index anchored at the fixture's
    * 1992 floor (the q109 lesson): with x ≤ |calendar| and n ≤ 28,
    * the cross products stay ≤ ~10¹⁴ at sf0.1 and scale only with
    * revenue — DECIMAL(38,0) at ~10⁴× (q109 rule). Scale: facts
    * reduce to the calendar-bounded rollup in one shuffle; all five
    * window sums share ONE status-partitioned sort.
    */
  val q211RollingOls: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("bigint").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      val w = Window.partitionBy(col("status")).orderBy(col("day"))
        .rangeBetween(-27, 0)
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("day")).over(w))
        .withColumn("sy", sum(col("c")).over(w))
        .withColumn("sxy", sum(col("day") * col("c")).over(w))
        .withColumn("sxx", sum(col("day") * col("day")).over(w))
        .select(col("status"), col("day"), col("c"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
        .orderBy(col("status"), col("day"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT o_orderstatus AS status,
               CAST(date_diff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS c
        FROM orders GROUP BY 1, 2),
      f AS (SELECT status, day, c,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(day) OVER w AS BIGINT) AS sx,
                   CAST(sum(c) OVER w AS BIGINT) AS sy,
                   CAST(sum(day * c) OVER w AS BIGINT) AS sxy,
                   CAST(sum(day * day) OVER w AS BIGINT) AS sxx
            FROM daily
            WINDOW w AS (PARTITION BY status ORDER BY day
                         RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
      SELECT status, day, c, n,
             CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
             CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
      FROM f ORDER BY status, day"""))

  /** Tukey-fence outlier audit per status — the box-plot rule
    * (Tukey 1977) on order-value cents: quartiles by nearest rank
    * (the q103 convention, value-exact, no interpolation), fences at
    * Q1 − 1.5·IQR / Q3 + 1.5·IQR CROSS-MULTIPLIED by 2 so the half
    * never materializes (2·cents < 5·Q1 − 3·Q3, 2·cents > 5·Q3 −
    * 3·Q1 — pure BIGINT). Complements q103's median/MAD (robust
    * center/spread) with the robust TAIL rule every data-quality
    * screen applies. Scale: one rank-window pass per status over the
    * facts (the q103 class — [[PrefixScan]] is the documented
    * extreme-volume swap), quartile rows broadcast back as a 3-row
    * join; counting is map-side.
    */
  val q212TukeyFences: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderkey"))
      val w = Window.partitionBy(col("status"))
        .orderBy(col("cents"), col("o_orderkey"))
      val grp = Window.partitionBy(col("status"))
      val ranked = o
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(grp))
      val quartiles = ranked
        .filter(col("rn") === expr("(n + 3) div 4") ||
          col("rn") === expr("(3 * n + 3) div 4"))
        .groupBy(col("status"), col("n"))
        .agg(min(col("cents")).as("q1"), max(col("cents")).as("q3"))
      o.join(broadcast(quartiles), "status")
        .groupBy(col("status"), col("n"), col("q1"), col("q3"))
        .agg(
          sum(when(col("cents") * 2 < lit(5L) * col("q1") - lit(3L) * col("q3"),
            1L).otherwise(0L)).as("n_below"),
          sum(when(col("cents") * 2 > lit(5L) * col("q3") - lit(3L) * col("q1"),
            1L).otherwise(0L)).as("n_above"))
        .select(col("status"), col("n"), col("q1"), col("q3"),
          col("n_below"), col("n_above"))
        .orderBy(col("status"))
    },
    oracle = Some("""
      WITH o AS (SELECT o_orderstatus AS status,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                        o_orderkey
                 FROM orders),
      r AS (SELECT status, cents,
                   CAST(row_number() OVER (PARTITION BY status
                     ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY status) AS BIGINT) AS n
            FROM o),
      q AS (SELECT status, n,
                   CAST(min(cents) AS BIGINT) AS q1,
                   CAST(max(cents) AS BIGINT) AS q3
            FROM r
            WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
            GROUP BY status, n)
      SELECT o.status, q.n, q.q1, q.q3,
             CAST(sum(CASE WHEN o.cents * 2 < 5 * q.q1 - 3 * q.q3
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
             CAST(sum(CASE WHEN o.cents * 2 > 5 * q.q3 - 3 * q.q1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      FROM o JOIN q ON o.status = q.status
      GROUP BY o.status, q.n, q.q1, q.q3
      ORDER BY o.status"""))

  /** POISSON BOOTSTRAP of mean order value per status — the only
    * bootstrap that survives 100 TB (Chamandy et al., Google 2012;
    * Kleiner et al.'s BLB is its batched cousin): classic multinomial
    * resampling needs a global draw per replicate, but Poisson(1)
    * weights are ROW-LOCAL — each row independently contributes
    * w ~ Poisson(1) copies to each replicate, so B=32 resamples are
    * one map-side ×(B+1) expand + a partial-aggregated rollup, no
    * shuffle of the facts beyond |status|·B rows. Determinism (q122's
    * RNG-free rule): the uniform draw is the affine polyhash of
    * (orderkey, replicate) and the Poisson inverse-CDF is four FIXED
    * integer thresholds (⌊P·cdf(k)⌋, k<4 — the 0.37% tail truncates
    * to w=4 identically on both engines, a documented approximation).
    * Replicate −1 carries the observed sample (w=1) so the CI centers
    * itself; mean_b = sum_cents/n client-side, CI = replicate
    * quantiles (q59 rule — no division crosses engines). Keys
    * pre-reduced mod P for target-SF product headroom (q206 rule).
    */
  val q213PoissonBootstrap: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val reps = s.range(-1, 32).toDF("b")
      Tables.orders(s, dir)
        .select(col("o_orderstatus").as("status"),
          col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .crossJoin(broadcast(reps))
        .withColumn("h", pmod(pmod(col("o_orderkey"), lit(P)) * 1103515245L +
          col("b") * 12345L + 54321L, lit(P)))
        .withColumn("w",
          when(col("b") === -1L, 1L)
            .when(col("h") < 790015083L, 0L)
            .when(col("h") < 1580030167L, 1L)
            .when(col("h") < 1975037709L, 2L)
            .when(col("h") < 2106706890L, 3L)
            .otherwise(4L))
        .groupBy(col("status"), col("b"))
        .agg(sum(col("w")).as("n_resampled"),
          sum(col("w") * col("cents")).as("sum_cents"))
        .orderBy(col("status"), col("b"))
    },
    oracle = Some("""
      WITH reps AS (SELECT CAST(unnest(range(-1, 32)) AS BIGINT) AS b),
      x AS (
        SELECT o.o_orderstatus AS status, r.b,
               CASE WHEN r.b = -1 THEN 1
                    ELSE CASE
                      WHEN ((o.o_orderkey % 2147483647) * 1103515245 +
                            r.b * 12345 + 54321) % 2147483647 < 790015083 THEN 0
                      WHEN ((o.o_orderkey % 2147483647) * 1103515245 +
                            r.b * 12345 + 54321) % 2147483647 < 1580030167 THEN 1
                      WHEN ((o.o_orderkey % 2147483647) * 1103515245 +
                            r.b * 12345 + 54321) % 2147483647 < 1975037709 THEN 2
                      WHEN ((o.o_orderkey % 2147483647) * 1103515245 +
                            r.b * 12345 + 54321) % 2147483647 < 2106706890 THEN 3
                      ELSE 4 END
               END AS w,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o CROSS JOIN reps r)
      SELECT status, b,
             CAST(sum(w) AS BIGINT) AS n_resampled,
             CAST(sum(w * cents) AS BIGINT) AS sum_cents
      FROM x GROUP BY status, b
      ORDER BY status, b"""),
    headline = true)

  /** CLAMPED running balance — the non-linear prefix recurrence
    * B_d = min(cap, max(0, B_{d−1} + net_d)) behind inventory
    * balances, token-bucket rate limiters and bounded backlog
    * simulations. Unlike a running SUM (a window frame) or the
    * EWMA/Holt class (linear recurrences with closed-form windowed
    * forms), clamping makes every step depend on the clamped previous
    * state — no frame expresses it, so it runs as q87's sequential
    * `aggregate` HOF over the day-ordered array, replayed by the
    * oracle as a recursive CTE with LEAST/GREATEST. The signed input
    * is q202's centered deviation net_d = n·c_d − T (integer, zero
    * mean by construction) and cap = T, so the balance is the
    * "revenue backlog vs trend" bounded walk. Scale: the DISTRIBUTED
    * work is the
    * calendar-bounded rollup (one map-side-combined shuffle); the
    * fold input is ≤|days| rows per status — one task folding it is
    * O(days), never O(rows) (q87's contract).
    */
  val q216ClampedBalance: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = statusDailyCents(s, dir)
      val totals = daily.groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("t"))
      daily.join(broadcast(totals), "status")
        .select(col("status"), col("day"),
          (col("n") * col("c") - col("t")).as("net"), col("t"))
        .groupBy(col("status"), col("t"))
        .agg(sort_array(collect_list(struct(col("day"), col("net"))))
          .as("ds"))
        .select(col("status"), col("t"), explode(expr(
          """aggregate(ds,
               CAST(array() AS ARRAY<STRUCT<day: BIGINT, net: BIGINT,
                                            bal: BIGINT>>),
               (acc, x) -> array_append(acc, named_struct(
                 'day', x.day, 'net', x.net,
                 'bal', least(t, greatest(CAST(0 AS BIGINT),
                   CASE WHEN size(acc) = 0 THEN x.net
                        ELSE element_at(acc, -1).bal + x.net END)))))"""))
          .as("r"))
        .select(col("status"), col("r.day").as("day"),
          col("r.net").as("net"), col("r.bal").as("balance"))
        .orderBy(col("status"), col("day"))
    },
    oracle = Some(s"""
      WITH RECURSIVE daily AS ($statusDailyCentsSql),
      tot AS (SELECT status, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c) AS BIGINT) AS t
              FROM daily GROUP BY 1),
      d2 AS (SELECT d.status, d.day,
                    CAST(tot.n * d.c - tot.t AS BIGINT) AS net, tot.t,
                    row_number() OVER (PARTITION BY d.status
                      ORDER BY d.day) AS rn
             FROM daily d JOIN tot ON d.status = tot.status),
      f AS (
        SELECT status, rn, day, net, t,
               CAST(least(t, greatest(0, net)) AS BIGINT) AS bal
        FROM d2 WHERE rn = 1
        UNION ALL
        SELECT d2.status, d2.rn, d2.day, d2.net, d2.t,
               CAST(least(d2.t, greatest(0, f.bal + d2.net)) AS BIGINT)
        FROM d2 JOIN f ON d2.status = f.status AND d2.rn = f.rn + 1)
      SELECT status, day, net, bal AS balance
      FROM f ORDER BY status, day"""))

  /** Simpson's-paradox audit — does the POOLED discount↔quantity
    * association contradict the per-brand (stratified) ones? The
    * aggregation trap every metrics review hits (Simpson 1951;
    * Bickel's admissions case): a confounder (brand) can flip the
    * pooled slope's sign even when every stratum agrees. Association
    * = the OLS slope-numerator sign (n·Σxy − Σx·Σy — the covariance
    * numerator, integer-exact on basis-point discounts × unit
    * quantities, the q182 statistics), emitted per brand beside the
    * pooled value with ±1/0 sign flags and the agreement verdict —
    * the audit row is "this stratum disagrees with the headline".
    * Scale: one fact pass groups the five sums per brand; the pooled
    * row is a second rollup OF THE BRAND ROLLUP (sums of sums — no
    * second fact pass), broadcast back onto |brands| rows. n·Σxy
    * crosses 2^63 near 100× the sf0.1 facts — DECIMAL(38,0)
    * escalation per the q109 rule.
    */
  val q217SimpsonsAudit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("x"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
      val byBrand = li.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      val pooled = byBrand.agg(
          sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
          sum(col("sy")).as("psy"), sum(col("sxy")).as("psxy"))
        .select((col("pn") * col("psxy") - col("psx") * col("psy"))
          .as("pooled_num"))
        .select(col("pooled_num"), signum(col("pooled_num"))
          .cast("bigint").as("pooled_sign"))
      byBrand
        .select(col("brand"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"))
        .withColumn("slope_sign", signum(col("slope_num")).cast("bigint"))
        .crossJoin(broadcast(pooled))
        .withColumn("agrees_with_pooled",
          when(col("slope_sign") === col("pooled_sign"), 1L).otherwise(0L))
        .select(col("brand"), col("n"), col("slope_num"), col("slope_sign"),
          col("pooled_num"), col("pooled_sign"), col("agrees_with_pooled"))
        .orderBy(col("brand"))
    },
    oracle = Some("""
      WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_discount * 10000) AS BIGINT) AS x,
               CAST(round(l.l_quantity) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM li GROUP BY 1),
      p AS (SELECT CAST(sum(n) AS BIGINT) AS pn,
                   CAST(sum(sx) AS BIGINT) AS psx,
                   CAST(sum(sy) AS BIGINT) AS psy,
                   CAST(sum(sxy) AS BIGINT) AS psxy
            FROM g),
      p2 AS (SELECT CAST(pn * psxy - psx * psy AS BIGINT) AS pooled_num,
                    CAST(sign(pn * psxy - psx * psy) AS BIGINT)
                      AS pooled_sign
             FROM p)
      SELECT g.brand, g.n,
             CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS slope_num,
             CAST(sign(g.n * g.sxy - g.sx * g.sy) AS BIGINT) AS slope_sign,
             p2.pooled_num, p2.pooled_sign,
             CAST(CASE WHEN sign(g.n * g.sxy - g.sx * g.sy) = p2.pooled_sign
                       THEN 1 ELSE 0 END AS BIGINT) AS agrees_with_pooled
      FROM g CROSS JOIN p2
      ORDER BY g.brand"""))

  /** CUPED experiment-readout statistics (Deng et al. 2013) — the
    * variance-reduction technique every modern experimentation
    * platform applies: adjust the experiment metric by a pre-period
    * covariate, cutting CI width by the metric's autocorrelation.
    * Units are customers, deterministically split 50/50 by affine
    * polyhash of custkey (q122's RNG-free rule — replayable, and the
    * SRM check is real because the split is genuinely hash-based);
    * metric y = customer's total order cents, covariate x = account
    * balance cents (the pre-period stand-in the fixture offers). Per
    * variant: n and the five cross-sums as exact integers — θ =
    * cov(x,y)/var(x), adjusted means, variance reduction, and the
    * sample-ratio-mismatch test all reconstruct client-side (q59
    * rule; none of those divisions may cross engines). Scale: orders
    * reduce per customer in one shuffle, the customer dim joins on
    * the same key, and the output is two rows — partial aggregation
    * does everything. Headroom (q109 rule): Σy² is per-customer cents
    * SQUARED summed — past 2^63 at the GATE SF already — so Σxy/Σy²
    * accumulate in DECIMAL(38,0) and ship as canonical digit strings;
    * Σx² stays BIGINT until ~300× the sf0.1 corpus.
    */
  val q218CupedStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("x"))
        .join(spend, Seq("custkey"))
        .withColumn("variant",
          when(pmod(pmod(col("custkey"), lit(P)) * 1103515245L + 12345L,
            lit(P)) % 2L === 0L, "A").otherwise("B"))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          // Σxy and Σy² overflow BIGINT already at the gate SF (y² is
          // per-customer cents SQUARED) — accumulate in DECIMAL(38,0)
          // and emit canonical digit strings, the q109 emission class
          sum(col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
            .cast("decimal(38,0)").cast("string").as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"),
          sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
            .cast("decimal(38,0)").cast("string").as("sum_yy"))
        .orderBy(col("variant"))
    },
    oracle = Some("""
      WITH spend AS (
        SELECT o_custkey AS custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS y
        FROM orders GROUP BY 1),
      u AS (SELECT c.c_custkey AS custkey,
                   CAST(round(c.c_acctbal * 100) AS BIGINT) AS x, s.y,
                   CASE WHEN ((c.c_custkey % 2147483647) * 1103515245
                              + 12345) % 2147483647 % 2 = 0
                        THEN 'A' ELSE 'B' END AS variant
            FROM customer c JOIN spend s ON c.c_custkey = s.custkey)
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sum_x,
             CAST(sum(y) AS BIGINT) AS sum_y,
             CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS VARCHAR) AS sum_xy,
             CAST(sum(x * x) AS BIGINT) AS sum_xx,
             CAST(CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS VARCHAR) AS sum_yy
      FROM u GROUP BY variant
      ORDER BY variant"""))

  /** QUANTILE TREATMENT EFFECT — per-decile boundary difference of the
    * q218 experiment's metric between variants: a mean shift (q218's
    * readout) says nothing about WHERE the distribution moved, and
    * tail-heavy effects invert decisions a mean alone would make
    * (Athey & Imbens' heterogeneous-effect motivation, at the
    * distribution level). Per interior decile: each variant's exact
    * nearest-rank boundary (q103/q188 convention) and the integer
    * cents difference. The two-variant CDF is ONE pass of the shared
    * [[PrefixScan]] kernel — the (d1, d2) slots carry the A/B
    * counts exactly as q166/q167 carry the F/O samples — so the whole
    * query is the q188 equi-depth machinery run two-sample: one cents
    * shuffle + one range exchange, 9-row broadcast rank table, no
    * single-task sort anywhere.
    */
  val q219QuantileEffect: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val rollup = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn("va",
          pmod(pmod(col("o_custkey"), lit(P)) * 1103515245L + 12345L,
            lit(P)) % 2L === 0L)
        .groupBy(col("cents"))
        .agg(sum(when(col("va"), 1L).otherwise(0L)).as("d1"),
          sum(when(!col("va"), 1L).otherwise(0L)).as("d2"))
      val cdf = PrefixScan.runningSums(rollup, Seq("cents"), "c1" -> col("d1"),
        "c2" -> col("d2"))
      val totals = rollup.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
      val ranks = s.range(1, 10).toDF("decile")
        .crossJoin(broadcast(totals))
        .select(col("decile"),
          expr("(decile * n1 + 9) div 10").as("t1"),
          expr("(decile * n2 + 9) div 10").as("t2"))
      def boundary(cCol: String, tCol: String, out: String): DataFrame =
        cdf.crossJoin(broadcast(ranks))
          .filter(col(cCol) >= col(tCol))
          .groupBy(col("decile"))
          .agg(min(col("cents")).as(out))
      boundary("c1", "t1", "boundary_a")
        .join(boundary("c2", "t2", "boundary_b"), "decile")
        .select(col("decile"), col("boundary_a"), col("boundary_b"),
          (col("boundary_b") - col("boundary_a")).as("qte_cents"))
        .orderBy(col("decile"))
    },
    oracle = Some("""
      WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY 1),
      r AS (SELECT cents,
                   CAST(sum(CASE WHEN ((o_custkey % 2147483647) * 1103515245
                                       + 12345) % 2147483647 % 2 = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN ((o_custkey % 2147483647) * 1103515245
                                       + 12345) % 2147483647 % 2 = 0
                                 THEN 0 ELSE 1 END) AS BIGINT) AS d2
            FROM spend GROUP BY 1),
      cdf AS (SELECT cents,
                     CAST(sum(d1) OVER w AS BIGINT) AS c1,
                     CAST(sum(d2) OVER w AS BIGINT) AS c2
              FROM r WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
      t AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
                   CAST(sum(d2) AS BIGINT) AS n2 FROM r),
      ranks AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS decile),
      rk AS (SELECT decile, (decile * n1 + 9) // 10 AS t1,
                    (decile * n2 + 9) // 10 AS t2
             FROM ranks, t),
      ba AS (SELECT rk.decile, CAST(min(cdf.cents) AS BIGINT) AS boundary_a
             FROM cdf JOIN rk ON cdf.c1 >= rk.t1 GROUP BY 1),
      bb AS (SELECT rk.decile, CAST(min(cdf.cents) AS BIGINT) AS boundary_b
             FROM cdf JOIN rk ON cdf.c2 >= rk.t2 GROUP BY 1)
      SELECT ba.decile, ba.boundary_a, bb.boundary_b,
             CAST(bb.boundary_b - ba.boundary_a AS BIGINT) AS qte_cents
      FROM ba JOIN bb ON ba.decile = bb.decile
      ORDER BY ba.decile"""))

  /** Kaplan–Meier churn-survival sufficient statistics (Kaplan & Meier
    * 1958) — the right-censoring-aware lifetime table a naive "average
    * customer lifetime" silently biases low (still-active customers
    * truncate their own lifetimes): per distinct lifetime t, the
    * churn events d_t, censorings c_t, and the at-risk count
    * n_t = Σ_{u≥t}(d_u + c_u). Lifetime = days between a customer's
    * first and last order; censored if the last order falls within
    * 30 days of the corpus end (they may still be active). All
    * integers — the product-limit curve S(t) = Π(1 − d/n) is a
    * product of rationals and stays client-side (q49/q60: never
    * round, and a cumulative product's numerator explodes — the
    * per-t table IS the portable statistic). The at-risk count is a
    * REVERSE running sum over the lifetime rollup (calendar-bounded —
    * ≤ |days| rows, allowlisted; the [[PrefixScan]] kernel on the
    * negated key is the fact-scale swap). Scale: one custkey shuffle
    * to lifetimes, one rollup, domain-sized window.
    */
  val q220SurvivalStats: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
      val endDate = o.agg(max(col("d")).as("corpus_end"))
      val lifetimes = o.groupBy(col("o_custkey"))
        .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
        .crossJoin(broadcast(endDate))
        .select(
          datediff(col("last_d"), col("first_d")).cast("bigint").as("t"),
          (datediff(col("corpus_end"), col("last_d")) < 30).as("censored"))
      val rollup = lifetimes.groupBy(col("t"))
        .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d_events"),
          sum(when(col("censored"), 1L).otherwise(0L)).as("c_censored"))
      val w = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rollup
        .withColumn("n_at_risk",
          sum(col("d_events") + col("c_censored")).over(w))
        .select(col("t"), col("d_events"), col("c_censored"),
          col("n_at_risk"))
        .orderBy(col("t"))
    },
    oracle = Some("""
      WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d
                 FROM orders),
      e AS (SELECT max(d) AS corpus_end FROM o),
      lt AS (SELECT CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS t,
                    date_diff('day', max(d),
                      (SELECT corpus_end FROM e)) < 30 AS censored
             FROM o GROUP BY o_custkey),
      r AS (SELECT t,
                   CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                     AS d_events,
                   CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                     AS c_censored
            FROM lt GROUP BY 1)
      SELECT t, d_events, c_censored,
             CAST(sum(d_events + c_censored) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
      FROM r ORDER BY t"""))

  /** Seasonally-conditioned anomaly ranking — the top-20 days whose
    * revenue deviates most from THEIR OWN WEEKDAY's mean: q82's
    * global-mean spike test flags every Saturday when weekends run
    * hot, and q181's profile shows the seasonality but not the
    * outliers; conditioning the deviation on the weekday is the
    * monitoring composition that separates "weekend" from "anomaly".
    * Weekday from the epoch-day identity ((d+3) mod 7 — the q181
    * dialect-proof arithmetic), deviation cross-multiplied into
    * BIGINT (dev = n_w·c_d − T_w, the q202 trick conditioned per
    * weekday), ranked by |dev| with the earliest-day tie rule and
    * emitted beside its n_w denominator — never divided. Scale: one
    * calendar-bounded rollup, a 7-row broadcast join, TakeOrdered 20.
    */
  val q221SeasonalAnomaly: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("bigint").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
        .withColumn("weekday", pmod(col("day") + 3L, lit(7L)))
      val wk = daily.groupBy(col("weekday"))
        .agg(count(lit(1)).as("n_w"), sum(col("c")).as("t_w"))
      daily.join(broadcast(wk), "weekday")
        .withColumn("dev", col("n_w") * col("c") - col("t_w"))
        .orderBy(abs(col("dev")).desc, col("day")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(abs(col("dev")).desc, col("day"))).cast("bigint"))
        .select(col("rnk"), col("day"), col("weekday"), col("c"),
          col("n_w"), col("dev"))
        .orderBy(col("rnk"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS c
        FROM orders GROUP BY 1),
      d2 AS (SELECT day, c, (day + 3) % 7 AS weekday FROM daily),
      wk AS (SELECT weekday, CAST(count(*) AS BIGINT) AS n_w,
                    CAST(sum(c) AS BIGINT) AS t_w
             FROM d2 GROUP BY 1),
      dev AS (SELECT d2.day, d2.weekday, d2.c, wk.n_w,
                     CAST(wk.n_w * d2.c - wk.t_w AS BIGINT) AS dev
              FROM d2 JOIN wk ON d2.weekday = wk.weekday),
      r AS (SELECT *, CAST(row_number() OVER (ORDER BY abs(dev) DESC, day)
                        AS BIGINT) AS rnk
            FROM dev)
      SELECT rnk, day, weekday, c, n_w, dev
      FROM r WHERE rnk <= 20 ORDER BY rnk"""))

  /** Multi-source BFS distance distribution — hop counts from four
    * deterministic landmark parts over the co-purchase graph, the
    * shortest-path primitive the graph family lacked (PageRank ranks,
    * components label, k-core peels — none measures DISTANCE; landmark
    * BFS is how production graphs estimate distances when all-pairs is
    * impossible). FOUR fixed rounds (the q85/q127/q164 contract) of
    * frontier expansion: next = Γ(frontier) minus already-reached
    * (anti-join), every round one edge join over the frontier — the
    * textbook Pregel BFS, per-round tables localCheckpointed (q85's
    * loop rule). Landmarks = the four smallest vertex ids, replayable.
    * Output: nodes-at-distance-d per landmark (≤ 4·5 rows; a dense
    * co-purchase graph saturates by hop 2-3, which the counts show).
    * The oracle replays every round as chained CTEs with NOT EXISTS
    * dedup — two independent BFS implementations. Scale: rides the
    * shared coPairCounts adjacency; frontier joins shuffle the
    * frontier, never the full reach set.
    */
  val q222BfsDistances: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pairs = coPairCounts(s, dir)
        .select(col("p1").as("src"), col("p2").as("dst"))
      val edges = Rounds.symmetric(pairs, "src", "dst").localCheckpoint(true)
      val landmarks = edges.select(col("src").as("node")).distinct()
        .orderBy(col("node")).limit(4)
        .select(col("node").as("landmark"), col("node"),
          lit(0L).as("dist"))
      var reached = landmarks.localCheckpoint(true)
      var frontier = reached
      for (r <- 1 to 4) {
        val next = frontier.join(edges, col("node") === col("src"))
          .select(col("landmark"), col("dst").as("node")).distinct()
          .join(reached, Seq("landmark", "node"), "left_anti")
          .withColumn("dist", lit(r.toLong))
          .localCheckpoint(true)
        reached = reached.unionByName(next).localCheckpoint(true)
        frontier = next
      }
      reached.groupBy(col("landmark"), col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("landmark"), col("dist"))
    },
    oracle = Some {
      val rounds = (1 to 4).map { r =>
        s"""f$r AS (SELECT DISTINCT p.landmark, e.dst AS node
              FROM r${r - 1} p JOIN edges e ON p.node = e.src
              WHERE p.dist = ${r - 1}),
      n$r AS (SELECT f$r.landmark, f$r.node, CAST($r AS BIGINT) AS dist
              FROM f$r
              WHERE NOT EXISTS (SELECT 1 FROM r${r - 1} x
                WHERE x.landmark = f$r.landmark AND x.node = f$r.node)),
      r$r AS (SELECT * FROM r${r - 1} UNION ALL SELECT * FROM n$r)"""
      }.mkString(",\n      ")
      s"""
      WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      pairs AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT src, dst FROM pairs
                UNION ALL SELECT dst, src FROM pairs),
      lms AS (SELECT node FROM (SELECT DISTINCT src AS node FROM edges)
              ORDER BY node LIMIT 4),
      r0 AS (SELECT node AS landmark, node, CAST(0 AS BIGINT) AS dist
             FROM lms),
      $rounds
      SELECT landmark, dist, CAST(count(*) AS BIGINT) AS n_nodes
      FROM r4 GROUP BY landmark, dist
      ORDER BY landmark, dist"""
    })

  /** Engagement distribution + stickiness sufficient statistics — the
    * "power-user curve" product analytics reads before any average:
    * the histogram of users by distinct active days (an average hides
    * whether 10 daily users or 300 one-timers produce the same DAU),
    * plus each bucket's contribution to the corpus DAU/MAU numerator
    * (Σ user-days — stickiness = Σactive_days / (n_users · |days|)
    * reconstructs client-side as an exact rational). Scale: one
    * user_id shuffle to per-user distinct-day counts (the q110
    * machinery's first stage), then a map-side-combined histogram on
    * the calendar-bounded active-day domain.
    */
  val q223ActivityHistogram: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
      val span = Tables.events(s, dir)
        .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("bigint") + 1L).as("span_days"))
      perUser.groupBy(col("active_days"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("user_days", col("active_days") * col("n_users"))
        .crossJoin(broadcast(span))
        .select(col("active_days"), col("n_users"), col("user_days"),
          col("span_days"))
        .orderBy(col("active_days"))
    },
    oracle = Some("""
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                  FROM events),
      pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS active_days
             FROM ud GROUP BY 1),
      sp AS (SELECT CAST(date_diff('day', min(CAST(ts AS DATE)),
                      max(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days
             FROM events)
      SELECT pu.active_days, CAST(count(*) AS BIGINT) AS n_users,
             CAST(pu.active_days * count(*) AS BIGINT) AS user_days,
             sp.span_days
      FROM pu CROSS JOIN sp
      GROUP BY pu.active_days, sp.span_days
      ORDER BY pu.active_days"""))

  /** NATIVE `session_window` in batch mode, oracle-matched against the
    * manual gap-islands formulation — the operator-vs-composition
    * parity check: q47 builds 30-minute sessions BY HAND (lag + break
    * flags + running session ids) and the streaming layer uses the
    * native operator, so this entry proves Spark's built-in session
    * semantics and the hand rollup agree row-for-row against DuckDB
    * (which has no session operator and must replay the manual form).
    * Boundary semantics pinned exactly: an event extends a session iff
    * its time is STRICTLY inside the previous event's [t, t+gap) —
    * diff ≥ gap breaks — and the emitted `end` is last_event + gap
    * (the native operator's definition). Scale: the native operator
    * plans one user shuffle + in-partition merge, the same profile as
    * the manual window chain.
    */
  val q224NativeSessions: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us")),
    oracle = Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      m AS (SELECT user_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                          OR us - lag(us) OVER w >= 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      g AS (SELECT user_id, us,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM m)
      SELECT user_id,
             CAST(min(us) AS BIGINT) AS start_us,
             CAST(max(us) + 30 * 60 * 1000000 AS BIGINT) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))

  /** Trending-now ranking — recency-weighted part popularity with a
    * LINEAR 30-day decay (weight = max(0, 30 − age_days), exact
    * integers — an exponential half-life needs transcendentals or
    * power-of-two rationals, and the linear ramp is the standard
    * integer-exact stand-in): the "what's hot" ranking every home
    * page runs, where raw popularity (q09/A10) can't distinguish a
    * rising item from a fading giant. Age anchors to the corpus max
    * ship date (one broadcast scalar — at 100 TB the anchor is
    * `current_date`, same plan). Weighted and raw counts ship side by
    * side so the rank DIVERGENCE from plain popularity is visible.
    * Scale: one scan with a map-side-combined part rollup,
    * TakeOrdered 20 — no global sort.
    */
  val q225TrendingParts: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val mx = Tables.lineitem(s, dir)
        .agg(max(to_date(col("l_shipdate"))).as("mx"))
      Tables.lineitem(s, dir)
        .crossJoin(broadcast(mx))
        .select(col("l_partkey"),
          greatest(lit(0L),
            lit(30L) - datediff(col("mx"), to_date(col("l_shipdate")))
              .cast("bigint")).as("w"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("w")).as("trend_score"), count(lit(1)).as("n_lines"))
        .filter(col("trend_score") > 0L)
        .orderBy(col("trend_score").desc, col("l_partkey")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("trend_score").desc, col("l_partkey")))
          .cast("bigint"))
        .select(col("rnk"), col("l_partkey"), col("trend_score"),
          col("n_lines"))
        .orderBy(col("rnk"))
    },
    oracle = Some("""
      WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS mx FROM lineitem),
      w AS (SELECT l_partkey,
                   greatest(0, 30 - date_diff('day',
                     CAST(l_shipdate AS DATE), mx.mx)) AS w
            FROM lineitem, mx),
      g AS (SELECT l_partkey, CAST(sum(w) AS BIGINT) AS trend_score,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM w GROUP BY 1 HAVING sum(w) > 0),
      r AS (SELECT *, CAST(row_number() OVER (ORDER BY trend_score DESC,
                        l_partkey) AS BIGINT) AS rnk
            FROM g)
      SELECT rnk, l_partkey, trend_score, n_lines
      FROM r WHERE rnk <= 20 ORDER BY rnk"""))

  /** EXPONENTIAL half-life trending — the decay q225's scaladoc
    * deferred ("an exponential half-life needs transcendentals OR
    * power-of-two rationals"): weight halves per day of age as the
    * exact DYADIC integer 2^(20−age) for age ≤ 20 (older lines
    * contribute 0), so the score is a plain BIGINT sum — no doubles,
    * no transcendentals, no fold-order sensitivity, and both engines
    * agree bit-for-bit by integer arithmetic alone (shiftleft on the
    * Spark side, power(2, k) cast to BIGINT — exact for k ≤ 62 — on
    * the oracle side). Exponential vs linear matters at the top of the
    * ranking: a part with 5 lines yesterday outranks one with 40 lines
    * two weeks ago under the half-life but not under q225's ramp.
    * Integer headroom AT TARGET SF per the q109 rule: 2^20 max weight
    * × n_lines < 2^63 holds to ~8.8×10¹² fact rows — beyond any
    * plausible 100 TB lineitem count; widening the window instead of
    * the corpus is what would overflow (each extra day doubles the
    * peak weight), so the window, not the data, is the budgeted knob.
    * Scale: identical plan shape to q225 — broadcast scalar anchor,
    * one map-side-combined part rollup, TakeOrdered 20.
    */
  val q241HalfLifeTrending: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val mx = Tables.lineitem(s, dir)
        .agg(max(to_date(col("l_shipdate"))).as("mx"))
      Tables.lineitem(s, dir)
        .crossJoin(broadcast(mx))
        .withColumn("age",
          datediff(col("mx"), to_date(col("l_shipdate"))).cast("bigint"))
        .select(col("l_partkey"),
          when(col("age") <= 20L,
            expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(20 - age AS INT)) AS BIGINT)"))
            .otherwise(lit(0L)).as("w"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("w")).as("decay_score"), count(lit(1)).as("n_lines"))
        .filter(col("decay_score") > 0L)
        .orderBy(col("decay_score").desc, col("l_partkey")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("decay_score").desc, col("l_partkey")))
          .cast("bigint"))
        .select(col("rnk"), col("l_partkey"), col("decay_score"),
          col("n_lines"))
        .orderBy(col("rnk"))
    },
    oracle = Some("""
      WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS mx FROM lineitem),
      w AS (SELECT l_partkey,
                   CASE WHEN date_diff('day', CAST(l_shipdate AS DATE), mx.mx) <= 20
                        THEN CAST(power(2, 20 - date_diff('day',
                               CAST(l_shipdate AS DATE), mx.mx)) AS BIGINT)
                        ELSE 0 END AS w
            FROM lineitem, mx),
      g AS (SELECT l_partkey, CAST(sum(w) AS BIGINT) AS decay_score,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM w GROUP BY 1 HAVING sum(w) > 0),
      r AS (SELECT *, CAST(row_number() OVER (ORDER BY decay_score DESC,
                        l_partkey) AS BIGINT) AS rnk
            FROM g)
      SELECT rnk, l_partkey, decay_score, n_lines
      FROM r WHERE rnk <= 20 ORDER BY rnk"""))

  /** Per-group top-k through the CUSTOM physical operator
    * ([[graft.plans.GroupTopK]] — logical node → SparkStrategy →
    * partial/final exec pair): top-3 lineitems per supplier by exact
    * price cents. The stock lowering of this shape (q19's window
    * row_number, q235's LATERAL) shuffles every lineitem row on the key
    * and fully sorts each group; the operator's map-side bounded heaps
    * emit ≤ |suppliers|·3 rows per input partition into the exchange
    * and never sort — O(n log k), the aggregate-shaped plan a 100 TB
    * top-N-per-key needs (reference sites: per-slice nlargest
    * dashboard/app.py:1183,1286). The order key is the BIGINT cents
    * value on BOTH engines (comparing raw doubles on one side and
    * rounded cents on the other could split ties differently), with
    * (orderkey, linenumber) making it total. The residual rank label
    * rides a window over the ≤3-rows-per-key survivor set — thousands
    * of rows, not the corpus. GroupTopKSpec pins parity with the window
    * lowering, the no-SortExec/bounded-exchange plan shape, and
    * exchange elision on pre-clustered input; ScaleSweep times operator
    * vs window form at 10×.
    */
  val q242GroupTopK: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val cents = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
      graft.plans.GroupTopK.topKPerKey(cents,
          Seq(col("l_suppkey")),
          Seq(col("price_cents").desc, col("l_orderkey"), col("l_linenumber")),
          k = 3)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("l_suppkey"))
            .orderBy(col("price_cents").desc, col("l_orderkey"),
              col("l_linenumber"))).cast("bigint"))
        .select(col("l_suppkey"), col("rnk"), col("l_orderkey"),
          col("l_linenumber"), col("price_cents"))
        .orderBy(col("l_suppkey"), col("rnk"))
    },
    oracle = Some("""
      WITH c AS (SELECT l_suppkey, l_orderkey, l_linenumber,
                        CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS price_cents
                 FROM lineitem),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY l_suppkey
                        ORDER BY price_cents DESC, l_orderkey, l_linenumber)
                        AS BIGINT) AS rnk
            FROM c)
      SELECT l_suppkey, rnk, l_orderkey, l_linenumber, price_cents
      FROM r WHERE rnk <= 3
      ORDER BY l_suppkey, rnk"""))

  /** Market-concentration audit — Herfindahl–Hirschman sufficient
    * statistics of supplier revenue per nation: HHI = Σ share² =
    * Σr²/(Σr)², the antitrust/marketplace concentration index that
    * complements q93's Gini (Gini measures inequality of the
    * distribution, HHI how close the market is to monopoly — a
    * two-supplier 50/50 market is perfectly equal yet highly
    * concentrated). Σr and n ship as BIGINT; Σr² is cents SQUARED
    * summed — the q218 class, past 2^63 just beyond the gate SF — so
    * it accumulates in DECIMAL(38,0) and ships as canonical digit
    * strings; HHI reconstructs client-side (q59 rule). Scale: one
    * lineitem⋈supplier rollup to (nation, supplier) revenue — the
    * supplier dim broadcasts — then a |nations|-sized second rollup.
    */
  val q226MarketConcentration: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val bySupp = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nationkey"), col("s_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("r"))
      bySupp.groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("r")).as("total_cents"),
          sum(col("r").cast("decimal(19,0)") * col("r").cast("decimal(19,0)"))
            .cast("decimal(38,0)").cast("string").as("sum_sq_cents"))
        .orderBy(col("nationkey"))
    },
    oracle = Some("""
      WITH bs AS (
        SELECT s.s_nationkey AS nationkey, s.s_suppkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS r
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2)
      SELECT nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(r) AS BIGINT) AS total_cents,
             CAST(CAST(sum(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0)))
               AS DECIMAL(38,0)) AS VARCHAR) AS sum_sq_cents
      FROM bs GROUP BY nationkey
      ORDER BY nationkey"""))

  /** NATIVE UNPIVOT parity — the wide→long melt through Spark's
    * built-in `unpivot` (Spark 3.4+) matched against DuckDB's native
    * `UNPIVOT`, aggregated per measure: q128 melts BY HAND (stack
    * expressions) for its ANALYZE pass, so this entry pins the native
    * operator's semantics cross-engine the way q224 pins
    * session_window — the operator-vs-composition rule applied to the
    * melt. Four lineitem measures fold to (metric, value) and roll up
    * to per-metric n/sum/min/max (decimal-summed — the q53
    * order-independence rule; the mean stays client-side as total/n
    * rather than shipping a corpus-wide double average).
    * Scale: Expand + hash agg, one pass; the melt multiplies rows 4×
    * BEFORE partial aggregation, which map-side-combines to 4 rows.
    */
  val q227NativeUnpivot: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy(col("metric")),
    oracle = Some("""
      SELECT metric, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             min(value) AS lo, max(value) AS hi
      FROM (
        UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
                 FROM lineitem)
        ON l_quantity, l_extendedprice, l_discount, l_tax
        INTO NAME metric VALUE value)
      GROUP BY metric
      ORDER BY metric"""))

  /** SLA compliance by order priority — the ops scorecard q200's
    * supplier profile doesn't give: per priority class, how many
    * lines shipped within 7 / 30 / 90 days of the order, as exact
    * integer counts beside the total (compliance rates are rationals
    * reconstructed client-side, q49/q60 rule — a rounded percentage
    * hides exactly the near-misses an SLA review argues about).
    * Priorities ordered by their own leading digit so URGENT leads
    * the report. Scale: one orderkey join (fact-fact shuffle), then a
    * map-side-combined rollup on the 5-key priority domain.
    */
  val q229SlaCompliance: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("bigint").as("days"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("days") <= 7L, 1L).otherwise(0L)).as("within_7d"),
          sum(when(col("days") <= 30L, 1L).otherwise(0L)).as("within_30d"),
          sum(when(col("days") <= 90L, 1L).otherwise(0L)).as("within_90d"),
          max(col("days")).as("worst_days"))
        .orderBy(col("priority")),
    oracle = Some("""
      SELECT o.o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) <= 7 THEN 1 ELSE 0 END)
               AS BIGINT) AS within_7d,
             CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) <= 30 THEN 1 ELSE 0 END)
               AS BIGINT) AS within_30d,
             CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) <= 90 THEN 1 ELSE 0 END)
               AS BIGINT) AS within_90d,
             CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE))) AS BIGINT) AS worst_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** NATIVE LATERAL JOIN — correlated top-3 customers per region on
    * Spark 4.1's `LATERAL` subquery (SPARK-34382 surface; the
    * decorrelator rewrites the per-row ORDER BY + LIMIT into a
    * partitioned window under the hood) vs DuckDB's native LATERAL —
    * the q224/q227 operator-vs-composition rule applied to the
    * correlated-subquery SQL surface: a user porting warehouse LATERAL
    * SQL runs it UNCHANGED, and the engine must plan it as the window
    * composition (q19's shape), not a nested loop per region. Exact
    * integer cents; (bal_cents desc, c_custkey) total order inside
    * and outside the lateral. Scale: decorrelation turns this into
    * one customer⋈nation broadcast join + one per-region window —
    * nothing re-executes per outer row.
    */
  val q235LateralTopk: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      Tables.region(s, dir).createOrReplaceTempView("graft_q235_region")
      Tables.nation(s, dir).createOrReplaceTempView("graft_q235_nation")
      Tables.customer(s, dir).createOrReplaceTempView("graft_q235_customer")
      s.sql("""
        SELECT r.r_regionkey AS region_key, t.c_custkey, t.bal_cents
        FROM graft_q235_region r,
        LATERAL (
          SELECT c.c_custkey,
                 CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM graft_q235_customer c
          JOIN graft_q235_nation n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          ORDER BY bal_cents DESC, c.c_custkey
          LIMIT 3
        ) t
        ORDER BY region_key, bal_cents DESC, c_custkey""")
    },
    oracle = Some("""
      SELECT r.r_regionkey AS region_key, t.c_custkey, t.bal_cents
      FROM region r JOIN LATERAL (
        SELECT c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY bal_cents DESC, c.c_custkey
        LIMIT 3
      ) t ON TRUE
      ORDER BY region_key, bal_cents DESC, c_custkey"""))

  /** VARIANT SHREDDING — Spark 4's semi-structured type end-to-end:
    * build a nested JSON payload (object, nested object, array) per
    * order, `parse_json` it into a VARIANT, then shred typed values
    * back out with `variant_get` path expressions — object field as
    * BIGINT, nested field as STRING, DOUBLE round-trip, array index,
    * and a missing path (NULL, the lenient half). The oracle is
    * CROSS-ALGORITHM: DuckDB never sees JSON — it selects the same
    * values straight from the base columns, so the check proves the
    * whole build→parse→shred pipeline is lossless (including the
    * double: Jackson emits shortest-round-trip literals, so p comes
    * back bit-equal). Timestamps enter the payload pre-formatted as
    * 'yyyy-MM-dd' strings — never as raw JSON timestamps, whose
    * serialization is engine-configurable. Scale: pure per-row map,
    * no shuffle before the presentation sort; at 100 TB VARIANT
    * columns land in parquet with shredded subcolumns and these same
    * paths prune to them.
    */
  val q236VariantShred: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("payload", to_json(struct(
          col("o_custkey").as("cust"),
          struct(col("o_orderstatus").as("s"),
            col("o_totalprice").as("p")).as("meta"),
          array(col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy-MM-dd")).as("tags"))))
        .withColumn("v", expr("parse_json(payload)"))
        .select(
          col("o_orderkey"),
          expr("variant_get(v, '$.cust', 'bigint')").as("cust"),
          expr("variant_get(v, '$.meta.s', 'string')").as("status"),
          expr("variant_get(v, '$.meta.p', 'double')").as("total_price"),
          expr("variant_get(v, '$.tags[1]', 'string')").as("order_day"),
          expr("try_variant_get(v, '$.meta.missing', 'bigint')").as("absent"))
        .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey,
             o_custkey AS cust,
             o_orderstatus AS status,
             o_totalprice AS total_price,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
             CAST(NULL AS BIGINT) AS absent
      FROM orders ORDER BY o_orderkey"""))

  /** GREEDY MAXIMAL MATCHING, deterministic mutual-proposal rounds
    * (the Israeli–Itai 1986 symmetry-breaking shape with the min-id
    * rule replacing coin flips — fully deterministic, so the DuckDB
    * replay is exact) on the co-purchase graph: each round every
    * alive vertex proposes to its MINIMUM alive neighbor, an edge
    * joins the matching iff the proposals are MUTUAL (u→v and v→u),
    * matched vertices leave, and the edge list shrinks. Four fixed
    * rounds (the q85/q127 fixed-iteration contract; production loops
    * to the maximal fixpoint with the same per-round plan). Matching
    * is the allocation primitive the graph family lacked — q14 counts
    * pairs, q85 ranks, q127 filters density; this PAIRS UP vertices
    * disjointly (dedup canonical-pair assignment, task/resource
    * pairing). Emits the matched pairs (round, u, v).
    *
    * Scale: per round one min-rollup over the alive adjacency
    * (vertex-keyed, map-side combined), one self-equi-join of the
    * |V|-sized proposal table on the proposed id, and one two-sided
    * semi-join filter of the shrinking edge list — all key-partitioned,
    * nothing quadratic; rounds bounded. Oracle: chained MATERIALIZED
    * CTEs (each round reads its predecessor more than once — the q269
    * rule).
    */
  val q290GreedyMatching: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val e0 = coEdges(s, dir).localCheckpoint(true) // u < v
      // every per-round proposal/gone table has ≤ |V| ≤ 2|E₀| rows
      val bc = Rounds.gate(dir, e0.count())
      var e = e0
      var out = Vector.empty[DataFrame]
      for (r <- 1 to 4) {
        val prop = Rounds.symmetric(e.select(col("u").as("a"), col("v").as("b")), "a", "b")
          .groupBy(col("a")).agg(min(col("b")).as("p"))
          .localCheckpoint(true)
        val matched = prop.as("x").join(bc(prop.as("y")),
            col("x.p") === col("y.a") && col("y.p") === col("x.a") &&
              col("x.a") < col("x.p"))
          .select(col("x.a").as("mu"), col("x.p").as("mv"))
          .localCheckpoint(true)
        out = out :+ matched.select(lit(r.toLong).as("round"),
          col("mu").as("u"), col("mv").as("v"))
        val gone = matched.select(col("mu").as("x"))
          .unionByName(matched.select(col("mv").as("x")))
        e = e.join(bc(gone.withColumnRenamed("x", "u")), Seq("u"), "left_anti")
          .join(bc(gone.withColumnRenamed("x", "v")), Seq("v"), "left_anti")
          .select(col("u"), col("v"))
          .localCheckpoint(true)
      }
      out.reduce(_ unionByName _).orderBy(col("round"), col("u"))
    },
    oracle = Some {
      val ctes = new StringBuilder(
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM op a JOIN op b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2)""")
      for (r <- 1 to 4) {
        val prev = s"e${r - 1}"
        ctes.append(s""",
        p$r AS MATERIALIZED (
          SELECT a, min(b) AS p FROM (
            SELECT u AS a, v AS b FROM $prev
            UNION ALL SELECT v, u FROM $prev)
          GROUP BY 1),
        m$r AS MATERIALIZED (
          SELECT x.a AS mu, x.p AS mv
          FROM p$r x JOIN p$r y ON x.p = y.a AND y.p = x.a AND x.a < x.p),
        g$r AS MATERIALIZED (
          SELECT mu AS x FROM m$r UNION ALL SELECT mv FROM m$r),
        e$r AS MATERIALIZED (
          SELECT e.u, e.v FROM $prev e
          WHERE NOT EXISTS (SELECT 1 FROM g$r WHERE g$r.x = e.u)
            AND NOT EXISTS (SELECT 1 FROM g$r WHERE g$r.x = e.v))""")
      }
      ctes.append((1 to 4).map(r => s"""
        SELECT CAST($r AS BIGINT) AS round, mu AS u, mv AS v FROM m$r""")
        .mkString("", " UNION ALL", " ORDER BY round, u"))
      ctes.toString
    },
    headline = true)

  /** BUTTERFLY CENSUS of the bipartite order–part graph (Wang, Fu &
    * Cheng 2014; the bipartite clustering primitive behind ⟂-motif
    * cohesion): a butterfly is a 2×2 biclique — two orders sharing
    * two parts — and since co(p₁,p₂) counts the orders containing
    * both parts, the per-pair butterfly count is exactly C(co, 2),
    * served straight from the session-shared [[coPairCounts]] kernel
    * (q94's triangle census is the unipartite cousin; this is the
    * motif that survives when the graph is properly bipartite and
    * triangles cannot exist). Emits the top-20 part pairs by
    * butterfly support plus the global row (p1 = p2 = −1) carrying
    * Σ C(co,2) (total butterflies) and Σ co (the caterpillar/wedge
    * mass it normalizes against). co·(co−1) div 2 in BIGINT: co ≤
    * |orders sharing a pair| — the per-order pair cap bounds the
    * kernel upstream.
    *
    * Scale: zero new fact work — one pass over the pair-count table
    * (already bounded by the dedup cap), a TakeOrdered 20 and a
    * scalar rollup.
    */
  val q291ButterflyCensus: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val bf = coPairCounts(s, dir)
        .select(col("p1"), col("p2"), col("co"),
          expr("(co * (co - 1L)) div 2L").as("bfly"))
      val top = bf.orderBy(col("bfly").desc, col("p1"), col("p2")).limit(20)
      val tot = bf.agg(sum(col("bfly")).as("bfly"), sum(col("co")).as("co"))
        .select(lit(-1L).as("p1"), lit(-1L).as("p2"), col("co"), col("bfly"))
      top.unionByName(tot)
        .orderBy(col("bfly").desc, col("p1"), col("p2"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                    CAST(count(*) AS BIGINT) AS co
             FROM op a JOIN op b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      bf AS (SELECT p1, p2, co, (co * (co - 1)) // 2 AS bfly FROM co),
      top AS (SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
                     co, CAST(bfly AS BIGINT) AS bfly
              FROM bf ORDER BY bfly DESC, p1, p2 LIMIT 20),
      tot AS (SELECT CAST(-1 AS BIGINT) AS p1, CAST(-1 AS BIGINT) AS p2,
                     CAST(sum(co) AS BIGINT) AS co,
                     CAST(sum(bfly) AS BIGINT) AS bfly
              FROM bf)
      SELECT p1, p2, co, bfly
      FROM (SELECT * FROM top UNION ALL SELECT * FROM tot)
      ORDER BY bfly DESC, p1, p2"""))

  /** TWO-SWEEP DIAMETER estimate (the double-BFS lower bound of
    * Magnien, Latapy & Habib 2009 — the standard cheap diameter
    * protocol: BFS from an arbitrary vertex, BFS again from the
    * farthest vertex found; the second eccentricity lower-bounds the
    * diameter and is exact on trees) on the co-purchase graph —
    * composing q222's landmark-BFS kernel into the graph-SCALE
    * question the family hadn't answered: how WIDE is this graph?
    * Sweeps are 6 bounded rounds each (the fixed-iteration contract;
    * every argmax uses the (dist desc, node) total order, start =
    * minimum vertex id — fully deterministic), and the emitted row
    * carries both sweep endpoints, both eccentricities (ecc₂ = the
    * diameter lower bound) and the second sweep's reach — reach <
    * |V| means disconnection, which the q62-component world makes
    * expected, so it ships as data rather than an assumption.
    *
    * Scale: two 6-round frontier expansions — per round ONE map-side
    * pass over the checkpointed adjacency (the frontier and the
    * visited set are VERTEX-sized and broadcast, the q85 Pregel
    * shape: the edge list never re-shuffles and never re-sorts) plus
    * one vertex-sized distinct; the visited set is the UNION of the
    * checkpointed per-round frontiers, never re-materialized. Round-14
    * measurement (sf0.1, cache-hit regime): the pre-r14 shape re-sorted
    * the 64-partition edge list under a sort-merge join AND re-wrote
    * the whole reached set every round — 6.6 s; this shape 2.4 s,
    * plan 45 shuffle exchanges → 14. As with q85, the hints are
    * size-gated via [[Rounds.gate]] (round 15): once frontiers
    * outgrow the limit the join degrades to the old key-partitioned
    * shape automatically.
    * Three one-row argmax cuts; the oracle replays both chains
    * as MATERIALIZED CTEs (frontier AND visited reference the prior
    * round — the q269 rule).
    */
  val q300TwoSweepDiameter: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val pairs = coPairCounts(s, dir)
        .select(col("p1").as("src"), col("p2").as("dst"))
      val edges = Rounds.symmetric(pairs, "src", "dst").localCheckpoint(true)
      // frontier/visited are ≤ |V| ≤ |E_sym| rows
      val bc = Rounds.gate(dir, edges.count())
      def bfs(start: DataFrame): DataFrame = {
        var frontier = start.select(col("node"), lit(0L).as("dist"))
          .localCheckpoint(true)
        var levels = Vector(frontier)
        for (r <- 1 to 6) {
          val reached = levels.map(_.select(col("node"))).reduce(_ unionByName _)
          val next = edges
            .join(bc(frontier.select(col("node"))),
              col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(bc(reached), Seq("node"), "left_anti")
            .withColumn("dist", lit(r.toLong))
            .localCheckpoint(true)
          levels = levels :+ next
          frontier = next
        }
        levels.reduce(_ unionByName _)
      }
      val v0 = edges.agg(min(col("src")).as("node")).localCheckpoint(true)
      val b1 = bfs(v0)
      val u = b1.orderBy(col("dist").desc, col("node")).limit(1)
        .localCheckpoint(true)
      val b2 = bfs(u.select(col("node")))
      val w = b2.orderBy(col("dist").desc, col("node")).limit(1)
      v0.select(col("node").as("v0"))
        .crossJoin(u.select(col("node").as("u"), col("dist").as("ecc_v0")))
        .crossJoin(w.select(col("node").as("w"),
          col("dist").as("diameter_lb")))
        .crossJoin(b2.agg(count(lit(1)).as("n_reached")))
    },
    oracle = Some {
      def chain(tag: String, startSql: String): String = {
        val rounds = (1 to 6).map { r =>
          s"""${tag}f$r AS MATERIALIZED (
            SELECT DISTINCT e.dst AS node
            FROM ${tag}a${r - 1} p JOIN edges e ON p.node = e.src
            WHERE p.dist = ${r - 1}),
          ${tag}n$r AS MATERIALIZED (
            SELECT node, CAST($r AS BIGINT) AS dist FROM ${tag}f$r
            WHERE NOT EXISTS (SELECT 1 FROM ${tag}a${r - 1} x
              WHERE x.node = ${tag}f$r.node)),
          ${tag}a$r AS MATERIALIZED (
            SELECT * FROM ${tag}a${r - 1}
            UNION ALL SELECT * FROM ${tag}n$r)"""
        }.mkString(",\n          ")
        s"""${tag}a0 AS MATERIALIZED (
          SELECT node, CAST(0 AS BIGINT) AS dist FROM ($startSql)),
          $rounds"""
      }
      s"""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v, u FROM e0),
      v0 AS (SELECT min(src) AS node FROM edges),
      ${chain("s1", "SELECT node FROM v0")},
      uu AS (SELECT node, dist FROM s1a6
             ORDER BY dist DESC, node LIMIT 1),
      ${chain("s2", "SELECT node FROM uu")},
      ww AS (SELECT node, dist FROM s2a6
             ORDER BY dist DESC, node LIMIT 1),
      nr AS (SELECT CAST(count(*) AS BIGINT) AS n_reached FROM s2a6)
      SELECT v0.node AS v0, uu.node AS u, uu.dist AS ecc_v0,
             ww.node AS w, ww.dist AS diameter_lb, nr.n_reached
      FROM v0, uu, ww, nr"""
    },
    headline = true)

  /** BENJAMINI–HOCHBERG FDR selection (Benjamini & Hochberg 1995) over
    * 25 exact randomization p-values — the MULTIPLE-TESTING layer the
    * inference family needed once q289 priced a single hypothesis:
    * every nation tests "do my orders' values differ from the
    * pooled mean?" against the SAME 24-split null ensemble (bits of
    * the shared mixer over o_orderkey — one ensemble, m tests, the
    * standard shared-permutation design), p = (1 + #extreme)/25 by
    * the add-one rule, and BH runs ENTIRELY in integers: with
    * α = 1/5 and m = 25, p₍ₖ₎ ≤ αk/m ⟺ 5·(extreme₍ₖ₎+1) ≤ k. The
    * comparable statistic is the SCALED MEAN GAP |⌊10⁶·(S₁m₂−S₂m₁)/
    * (m₁m₂)⌋| (the q163 truncating-division total-order trick —
    * normalizing by m₁m₂ is what makes a nation-sized observed split
    * comparable against 50/50 null splits); products ride the d19→
    * DECIMAL(38,0) chain and the quotient is back in BIGINT by
    * construction (≤ 10⁶ × the cents gap). Emits per nation: its
    * order count, |g|, the extreme count, the exact rational p, the
    * BH rank k, the per-rank inequality flag `bh_pass`, the global
    * cutoff k* (−1 = nothing survives — the expected null-fixture
    * answer, which makes this the A/A audit of the whole testing
    * pipeline) and the actual step-up DECISION `rejected` = (k ≤ k*):
    * BH rejects every rank below the cutoff, including ranks whose
    * own inequality fails, so the two flags genuinely differ.
    *
    * Scale: ONE pass over the fact join (48 conditional sums for the
    * ensemble + the per-nation rollup), then everything is 24-row ×
    * 25-row arithmetic; windows run on the 25-nation rollup (fixture-
    * fixed key domain). The dim join is a broadcast.
    */
  val q298BhFdr: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      def d19(c: Column) = c.cast("decimal(19,0)")
      // num/den as named columns + one `div` select: IntegralDivide
      // TRUNCATES like DuckDB's `//` (the q163 measured pairing), where
      // Decimal.divide would round at its result scale and drift by one
      def gNum(m1: Column, s1: Column, m: Column, sAll: Column): Column =
        ((d19(s1) * d19(m - m1) - d19(sAll - s1) * d19(m1)) *
          lit(1000000L)).cast("decimal(38,0)")
      def gDen(m1: Column, m: Column): Column =
        (d19(m1) * d19(m - m1)).cast("decimal(38,0)")
      val cust = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nation")))
      val base = Tables.orders(s, dir)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("nation"),
          mix(col("o_orderkey").cast("long") + lit(31337L)).as("h"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
        .localCheckpoint(true)
      val tot = base.agg(count(lit(1)).as("m"), sum(col("x")).as("s"))
      val permAggs = (0 until 24).flatMap { j =>
        val bit = shiftright(col("h"), j) % 2L
        Seq(sum(bit).as(s"m1_$j"), sum(bit * col("x")).as(s"s1_$j"))
      }
      val perms = base.agg(permAggs.head, permAggs.tail: _*)
        .select(expr("stack(24, " +
          (0 until 24).map(j => s"${j}L, m1_$j, s1_$j").mkString(", ") +
          ") AS (j, m1, s1)"))
        .crossJoin(broadcast(tot))
        .select(col("j"),
          gNum(col("m1"), col("s1"), col("m"), col("s")).as("gnum"),
          gDen(col("m1"), col("m")).as("gden"))
        .select(col("j"), expr("abs(gnum div gden)").as("g_abs"))
        .localCheckpoint(true)
      val nat = base.groupBy(col("nation"))
        .agg(count(lit(1)).as("m1"), sum(col("x")).as("s1"))
        .crossJoin(broadcast(tot))
        .select(col("nation"), col("m1"),
          gNum(col("m1"), col("s1"), col("m"), col("s")).as("gnum"),
          gDen(col("m1"), col("m")).as("gden"))
        .select(col("nation"), col("m1"),
          expr("abs(gnum div gden)").as("g_abs_n"))
      val counted = nat.crossJoin(broadcast(perms))
        .groupBy(col("nation"), col("m1"), col("g_abs_n"))
        .agg(sum(when(col("g_abs") >= col("g_abs_n"), 1L).otherwise(0L))
          .as("extreme"))
      val ranked = counted.select(col("*"),
          row_number().over(Window.orderBy(col("extreme"), col("nation")))
            .cast("long").as("k"))
        .select(col("nation"), col("m1"), col("g_abs_n"), col("extreme"),
          (col("extreme") + 1L).as("p_num"), lit(25L).as("p_den"), col("k"),
          when(lit(5L) * (col("extreme") + 1L) <= col("k"), 1L)
            .otherwise(0L).as("bh_pass"))
      val kstar = ranked.agg(
        coalesce(max(when(col("bh_pass") === 1L, col("k"))), lit(-1L))
          .as("k_star"))
      // `bh_pass` is the PER-RANK inequality 5(extreme+1) ≤ k, NOT the
      // rejection decision: BH step-up rejects ALL ranks k ≤ k*, even
      // those whose own inequality fails. `rejected` is the decision.
      ranked.crossJoin(broadcast(kstar))
        .select(col("*"),
          when(col("k") <= col("k_star"), 1L).otherwise(0L).as("rejected"))
        .orderBy(col("k"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT nation, xor(x3, x3 >> 13) AS h, x FROM (
          SELECT nation,
                 xor(x1, x1 >> 15) * 1597334677 % 2147483647 AS x3, x
          FROM (SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
                       (CAST(o.o_orderkey AS BIGINT) + 31337)
                         * 2654435761 % 2147483647 AS x1,
                       CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
                FROM orders o JOIN customer c
                  ON o.o_custkey = c.c_custkey) t1) t2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(x) AS BIGINT) AS s FROM base),
      js AS (SELECT CAST(unnest(range(0, 24)) AS BIGINT) AS j),
      perm AS (SELECT j,
                      CAST(sum((h >> CAST(j AS INTEGER)) % 2) AS BIGINT) AS m1,
                      CAST(sum(((h >> CAST(j AS INTEGER)) % 2) * x) AS BIGINT)
                        AS s1
               FROM base, js GROUP BY 1),
      pg AS (SELECT j,
                    abs(CAST((CAST(s1 AS HUGEINT) * (m - m1)
                              - CAST(s - s1 AS HUGEINT) * m1) * 1000000
                         // (CAST(m1 AS HUGEINT) * (m - m1)) AS BIGINT))
                      AS g_abs
             FROM perm, tot),
      nat AS (SELECT nation, CAST(count(*) AS BIGINT) AS m1,
                     CAST(sum(x) AS BIGINT) AS s1
              FROM base GROUP BY 1),
      ng AS (SELECT nation, m1,
                    abs(CAST((CAST(s1 AS HUGEINT) * (m - m1)
                              - CAST(s - s1 AS HUGEINT) * m1) * 1000000
                         // (CAST(m1 AS HUGEINT) * (m - m1)) AS BIGINT))
                      AS g_abs_n
             FROM nat, tot),
      cnt AS (SELECT nation, m1, g_abs_n,
                     CAST(sum(CASE WHEN pg.g_abs >= g_abs_n
                                   THEN 1 ELSE 0 END) AS BIGINT) AS extreme
              FROM ng, pg GROUP BY 1, 2, 3),
      ranked AS (SELECT nation, m1, g_abs_n, extreme,
                        CAST(extreme + 1 AS BIGINT) AS p_num,
                        CAST(25 AS BIGINT) AS p_den,
                        CAST(row_number() OVER (ORDER BY extreme, nation)
                          AS BIGINT) AS k
                 FROM cnt),
      flags AS (SELECT *,
                       CAST(CASE WHEN 5 * p_num <= k THEN 1 ELSE 0 END
                         AS BIGINT) AS bh_pass
                FROM ranked),
      kstar AS (SELECT CAST(coalesce(
                  max(CASE WHEN bh_pass = 1 THEN k END), -1) AS BIGINT)
                  AS k_star
                FROM flags)
      SELECT nation, m1, g_abs_n, extreme, p_num, p_den, k, bh_pass, k_star,
             CAST(CASE WHEN k <= k_star THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
      FROM flags, kstar ORDER BY k"""))

  /** DIFFERENCE-IN-DIFFERENCES estimator (the two-period two-group
    * canonical form; Card & Krueger 1994 made it the applied-econ
    * workhorse) — the experimentation family's missing estimator next
    * to q218 CUPED (variance reduction) and q219 quantile effects:
    * customers split into treat/control by BIT 0 of the shared integer
    * mixer (offset 909090909 for domain separation — deterministic,
    * so the "assignment" replays exactly), periods split at
    * 1998-01-01, outcome = order value cents. DiD = (x̄₁₁−x̄₁₀) −
    * (x̄₀₁−x̄₀₀) over the four (treat, post) cell means, shipped as
    * ONE exact rational: num = (s₁₁n₁₀−s₁₀n₁₁)·n₀₁n₀₀ −
    * (s₀₁n₀₀−s₀₀n₀₁)·n₁₁n₁₀ over den = n₁₁n₁₀n₀₁n₀₀, both on the
    * q109/q277 DECIMAL(38,0) digit-string chain (s·n ≈ 2e17 at sf0.1
    * and the den alone crosses 2⁶³ near sf100 — BIGINT was never an
    * option here). The four cells' raw (n, s) ship alongside so
    * any reader can recompute.
    *
    * Scale: ONE map-side-combined global aggregate (8 conditional
    * sums) — the fact table is touched once and the shuffle is 8
    * values at any SF. On the null fixture (assignment independent of
    * everything) DiD ≈ 0, which is the audit: a curation pipeline
    * runs exactly this as the A/A check before trusting the
    * assignment hash.
    */
  val q295DidEstimator: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      def d19(c: Column) = c.cast("decimal(19,0)")
      val base = Tables.orders(s, dir).select(
        (mix(col("o_custkey").cast("long") + lit(909090909L)) % 2L).as("t"),
        when(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"), 1L)
          .otherwise(0L).as("p"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      def cell(t: Int, p: Int, c: Column): Column =
        sum(when(col("t") === t.toLong && col("p") === p.toLong, c)
          .otherwise(0L))
      val wide = base.agg(
        cell(0, 0, lit(1L)).as("n00"), cell(0, 0, col("x")).as("s00"),
        cell(0, 1, lit(1L)).as("n01"), cell(0, 1, col("x")).as("s01"),
        cell(1, 0, lit(1L)).as("n10"), cell(1, 0, col("x")).as("s10"),
        cell(1, 1, lit(1L)).as("n11"), cell(1, 1, col("x")).as("s11"))
      wide.select(col("n00"), col("s00"), col("n01"), col("s01"),
        col("n10"), col("s10"), col("n11"), col("s11"),
        ((d19(col("s11")) * d19(col("n10")) -
          d19(col("s10")) * d19(col("n11"))) *
          (d19(col("n01")) * d19(col("n00"))) -
          (d19(col("s01")) * d19(col("n00")) -
            d19(col("s00")) * d19(col("n01"))) *
            (d19(col("n11")) * d19(col("n10"))))
          .cast("decimal(38,0)").cast("string").as("did_num"),
        (d19(col("n11")) * d19(col("n10")) * d19(col("n01")) *
          d19(col("n00"))).cast("decimal(38,0)").cast("string")
          .as("did_den"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT xor(x3, x3 >> 13) % 2 AS t, p, x FROM (
          SELECT xor(x1, x1 >> 15) * 1597334677 % 2147483647 AS x3, p, x
          FROM (SELECT (CAST(o_custkey AS BIGINT) + 909090909)
                         * 2654435761 % 2147483647 AS x1,
                       CASE WHEN CAST(o_orderdate AS DATE) >=
                                 DATE '1998-01-01' THEN 1 ELSE 0 END AS p,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS x
                FROM orders) t1) t2),
      wide AS (SELECT
        CAST(sum(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        CAST(sum(CASE WHEN t = 0 AND p = 0 THEN x ELSE 0 END) AS BIGINT) AS s00,
        CAST(sum(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        CAST(sum(CASE WHEN t = 0 AND p = 1 THEN x ELSE 0 END) AS BIGINT) AS s01,
        CAST(sum(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        CAST(sum(CASE WHEN t = 1 AND p = 0 THEN x ELSE 0 END) AS BIGINT) AS s10,
        CAST(sum(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        CAST(sum(CASE WHEN t = 1 AND p = 1 THEN x ELSE 0 END) AS BIGINT) AS s11
        FROM base)
      SELECT n00, s00, n01, s01, n10, s10, n11, s11,
             CAST(CAST((CAST(s11 AS HUGEINT) * n10
                        - CAST(s10 AS HUGEINT) * n11)
                       * (CAST(n01 AS HUGEINT) * n00)
                       - (CAST(s01 AS HUGEINT) * n00
                          - CAST(s00 AS HUGEINT) * n01)
                         * (CAST(n11 AS HUGEINT) * n10)
                  AS DECIMAL(38,0)) AS VARCHAR) AS did_num,
             CAST(CAST(CAST(n11 AS HUGEINT) * n10 * n01 * n00
                  AS DECIMAL(38,0)) AS VARCHAR) AS did_den
      FROM wide"""))

  /** KATZ CENTRALITY, exact integer truncation (Katz 1953) on the
    * co-purchase graph — the third centrality lens: q85 PageRank
    * normalizes per-step (a random surfer), q201 HITS couples two
    * roles, Katz COUNTS ATTENUATED WALKS — score(x) = Σ_k α^k ·
    * |walks of length k ending at x|. Truncated at 4 hops with
    * α = 1/4 and multiplied through by 4⁴, every quantity is an
    * exact BIGINT: v_k(x) = Σ_{y∈N(x)} v_{k−1}(y) is the pure
    * walk-count recurrence (v_0 ≡ 1) and katz_x256 = 64·v₁ + 16·v₂ +
    * 4·v₃ + v₄ — no float ever forms, so the cross-engine compare is
    * bit-exact where the PageRank family must round. Emits the top-20
    * vertices with the per-hop walk counts that compose their score.
    * Walk counts grow ≤ m·dmax^{k−1}; ~4e16 at the 10× sweep point —
    * BIGINT headroom documented, DECIMAL(38,0) is the next stop (the
    * q109 rule) if a 100× graph is ever swept.
    *
    * Scale: four rounds of ONE edge-join + vertex-keyed sum each
    * (map-side combined, localCheckpoint per round — the q85 lineage
    * rule); the final composition is a 4-way join on the vertex key.
    * Round 15 (guide §2.4/§3.1, the q300 Pregel treatment): the seed
    * round is folded into the degree rollup (v₁(x) = |N(x)| exactly —
    * the old shape paid a distinct + a join to sum v₀ ≡ 1), the
    * walk-count vector broadcasts into the checkpointed adjacency each
    * round (size-gated via [[Rounds.gate]]: the edge list never
    * re-shuffles or re-sorts, the one kept shuffle per round is the
    * map-side-combined vertex sum), and the 4-way composition join
    * broadcasts the three later rounds instead of sort-merging four
    * vertex tables. Past the gate the plan degrades to the pre-r15
    * key-partitioned shape with no code edit.
    * Oracle: chained CTEs, sym MATERIALIZED (4 references — the q269
    * rule), each v_k single-reference.
    */
  val q294KatzCentrality: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val sym = Rounds.symmetric(
          coEdges(s, dir).select(col("u").as("x"), col("v").as("y")), "x", "y")
        .localCheckpoint(true)
      // v1 IS the degree: the k=1 step of the recurrence sums v0 ≡ 1
      // over each neighborhood — one count rollup replaces the old
      // distinct-vertex checkpoint + first edge join (same key set:
      // every x in sym has deg ≥ 1, matching the oracle's v1 CTE)
      val v1 = sym.groupBy(col("x")).agg(count(lit(1)).as("v"))
        .localCheckpoint(true)
      val bc = Rounds.gate(dir, v1.count()) // |V| bounds every broadcast below
      var vk = v1
      var rounds = Vector(vk.withColumnRenamed("v", "v1"))
      for (k <- 2 to 4) {
        vk = sym.join(bc(vk.withColumnRenamed("x", "y")), Seq("y"))
          .groupBy(col("x")).agg(sum(col("v")).as("v"))
          .localCheckpoint(true)
        rounds = rounds :+ vk.withColumnRenamed("v", s"v$k")
      }
      val joined = rounds.reduce((a, b) => a.join(bc(b), Seq("x")))
      joined.select(col("x"), col("v1"), col("v2"), col("v3"), col("v4"),
          (col("v1") * 64L + col("v2") * 16L + col("v3") * 4L + col("v4"))
            .as("katz_x256"))
        .orderBy(col("katz_x256").desc, col("x"))
        .limit(20)
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      sym AS MATERIALIZED (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
      v1 AS (SELECT x, CAST(count(*) AS BIGINT) AS v FROM sym GROUP BY 1),
      v2 AS (SELECT s.x, CAST(sum(p.v) AS BIGINT) AS v
             FROM sym s JOIN v1 p ON p.x = s.y GROUP BY 1),
      v3 AS (SELECT s.x, CAST(sum(p.v) AS BIGINT) AS v
             FROM sym s JOIN v2 p ON p.x = s.y GROUP BY 1),
      v4 AS (SELECT s.x, CAST(sum(p.v) AS BIGINT) AS v
             FROM sym s JOIN v3 p ON p.x = s.y GROUP BY 1)
      SELECT v1.x, v1.v AS v1, v2.v AS v2, v3.v AS v3, v4.v AS v4,
             CAST(v1.v * 64 + v2.v * 16 + v3.v * 4 + v4.v AS BIGINT)
               AS katz_x256
      FROM v1 JOIN v2 ON v2.x = v1.x JOIN v3 ON v3.x = v1.x
              JOIN v4 ON v4.x = v1.x
      ORDER BY katz_x256 DESC, v1.x LIMIT 20"""),
    headline = true)

  /** COUNT-MIN SKETCH frequency audit (Cormode & Muthukrishnan 2005) —
    * the missing member of the sketch quartet: m18 Misra–Gries gives
    * deterministic heavy hitters, q259 KMV / q48 HLL estimate
    * DISTINCTS, the Theta family does set algebra — Count-Min is the
    * POINT-FREQUENCY estimator, the structure a 100 TB ingest keeps
    * per partition/day and merges by plain counter ADDITION (linear
    * sketch: cm(A ⊎ B) = cm(A) + cm(B), spec'd in CountMinSpec along
    * with the one-sided-error guarantee est ≥ truth). d=4 rows × w=64
    * counters; row hashes are the arithmetic family
    * ((2i+3)·k + 10007·i) mod P mod 64 — pure BIGINT ops both engines
    * replay bit-equally (the polyhash/q264 convention; P = 2³¹−1).
    * Emits the audit the operator exists for: the top-20 customers by
    * exact order count with their CM estimate and the (provably ≥ 0)
    * overcount — the Markov bound says overcount ≤ e/w · N with
    * probability 1 − e^{-d} per key.
    *
    * Scale: the sketch build is ONE hash-agg whose key domain is
    * FIXED at 4·64 = 256 cells — partial aggregation shrinks every
    * task's contribution to ≤256 rows regardless of SF, so the
    * shuffle is metadata-sized at any scale; the probe side is a
    * broadcast of those 256 cells against the top-k rollup. Estimate
    * error grows as N/w, which is the documented knob (w scales to
    * 2^16+ in production; 64 keeps the fixture audit's overcounts
    * visibly non-trivial).
    */
  val q279CountMin: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").cast("long").as("k"))
      def cellOf(k: Column, i: Column): Column =
        graft.functions.CountMin.cell(k, i)
      val is = expr("array(0L, 1L, 2L, 3L)")
      val cells = o.select(col("k"), explode(is).as("i"))
        .select(col("i"), cellOf(col("k"), col("i")).as("cell"))
        .groupBy(col("i"), col("cell")).agg(count(lit(1)).as("c"))
      val exact = o.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      val top = exact.orderBy(col("exact_cnt").desc, col("k")).limit(20)
      top.select(col("k"), col("exact_cnt"), explode(is).as("i"))
        .select(col("k"), col("exact_cnt"), col("i"),
          cellOf(col("k"), col("i")).as("cell"))
        .join(broadcast(cells), Seq("i", "cell"))
        .groupBy(col("k"), col("exact_cnt"))
        .agg(min(col("c")).as("cm_est"))
        .select(col("k").as("o_custkey"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("o_custkey"))
    },
    oracle = Some("""
      WITH ks AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
      g AS (SELECT k, i FROM ks,
            (SELECT CAST(unnest([0,1,2,3]) AS BIGINT) AS i)),
      cells AS (SELECT i, ((2*i+3)*k + i*10007) % 2147483647 % 64 AS cell,
                       CAST(count(*) AS BIGINT) AS c
                FROM g GROUP BY 1, 2),
      exact AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt
                FROM ks GROUP BY 1),
      top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, k LIMIT 20)
      SELECT t.k AS o_custkey, t.exact_cnt,
             CAST(min(c.c) AS BIGINT) AS cm_est,
             CAST(min(c.c) - t.exact_cnt AS BIGINT) AS overcount
      FROM top t JOIN cells c
        ON c.cell = ((2*c.i+3)*t.k + c.i*10007) % 2147483647 % 64
      GROUP BY 1, 2
      ORDER BY exact_cnt DESC, o_custkey"""))

  /** PAGE–HINKLEY mean-shift statistic (Page 1954; Hinkley 1971) over
    * the daily revenue series — the sequential drift detector a
    * training-data pipeline runs on every feed, q-family sibling of
    * the CUSUM queries: PH_t = m_t − min_{s≤t} m_s where
    * m_t = Σ_{i≤t}(x_i − x̄). All-integer replay: both engines compute
    * the SCALED walk m'_t = Σ n·x_i − t·S (multiply through by
    * n = |days| so the global mean x̄ = S/n never divides), in cents —
    * n·x_i ≲ 2.6e11 and |m'| ≤ n·S ≈ 6e14 at sf0.1, BIGINT-safe
    * through sf100 (n·S ≈ 6e17); past that the q109 DECIMAL(38,0)
    * escalation applies. δ is fixed at 0 (the pure mean-shift form) so
    * the statistic stays exact. Emits the top-10 alarm days by
    * (ph desc, day): the day index, its revenue cents, the scaled
    * deviation walk and the PH excursion.
    *
    * Scale: one (date)-keyed cents rollup (map-side combined; day
    * domain calendar-bounded ≤ |days| rows) feeds a prefix-sum +
    * running-min window over that bounded rollup — the
    * ExplainSpec-allowlisted class whose fact-scale swap is
    * [[PrefixScan]] (q166's kernel); the fact table itself is
    * touched exactly once.
    */
  val q281PageHinkley: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("bigint").as("t"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("t")).agg(sum(col("cents")).as("x"))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      val w = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .select(col("t"), col("x"),
          (sum(col("x") * col("n")).over(w) -
            sum(lit(1L)).over(w) * col("s")).as("m"))
        .select(col("t"), col("x"), col("m"),
          (col("m") - min(col("m")).over(w)).as("ph"))
        .orderBy(col("ph").desc, col("t")).limit(10)
        .select(col("t").as("day_idx"), col("x").as("rev_cents"),
          col("m").as("dev_walk"), col("ph"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS x
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS s FROM daily),
      walk AS (SELECT t, x,
                      CAST(sum(x * n) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - count(*) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          * s AS BIGINT) AS m
               FROM daily, tot),
      ph AS (SELECT t, x, m,
                    CAST(m - min(m) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS ph
             FROM walk)
      SELECT t AS day_idx, x AS rev_cents, m AS dev_walk, ph
      FROM ph ORDER BY ph DESC, t LIMIT 10"""))

  /** AMS/TUG-OF-WAR F₂ SKETCH (Alon, Matias & Szegedy 1996) over the
    * customer order-frequency vector — the SECOND-MOMENT member of
    * the sketch family (q279 Count-Min answers point frequencies,
    * this answers Σf² — the SELF-JOIN SIZE, the statistic a
    * cost-based optimizer wants for join-cardinality estimates and a
    * skew monitor wants for "how concentrated is this key?"). 16
    * independent estimators: row j's ±1 sign for key k is BIT j of
    * the q264/q275 two-round multiply-mod-P xor-shift mixer (input
    * offset 777000777 for domain separation from the ring/HRW uses),
    * Z_j = Σ_rows sign_j(custkey) — ONE pass over the fact table, no
    * pre-aggregation, because Σ_rows sign(k) ≡ Σ_keys f_k·sign(k) —
    * and est_j = Z_j². E[Z²] = F₂ exactly (2-wise independent signs
    * suffice for the mean; the variance bound wants 4-wise — a
    * degree-3 polynomial mixer, documented as the production swap).
    * Emits the 16 per-row estimates next to the exact F₂ plus the
    * j = −1 nearest-rank median row (the AMS median-of-estimators
    * step, rank 8 of 16 under the (est, j) total order). Z ≤ N rows
    * so est ≤ N² — BIGINT-safe through sf100 (2.25e16); the q109
    * DECIMAL escalation applies beyond.
    *
    * Scale: the sketch is LINEAR (merge = per-j addition of Z, the
    * q279 CountMinSpec law) and the plan is one 16-sum map-side-
    * combined global aggregate — a 16-value shuffle at any SF; the
    * exact-F₂ rollup (one custkey-keyed count + one sum of squares)
    * exists only as the audit's oracle side and is itself two
    * map-side-combined shuffles.
    */
  val q286AmsF2: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      val h = Tables.orders(s, dir)
        .select(mix(col("o_custkey").cast("long") + lit(777000777L)).as("h"))
      val z = h.agg(
        sum(shiftright(col("h"), 0) % 2L * 2L - 1L).as("z0"),
        (1 to 15).map(j =>
          sum(shiftright(col("h"), j) % 2L * 2L - 1L).as(s"z$j")): _*)
      val stacked = z.select(expr(
        "stack(16, " + (0 to 15).map(j => s"${j}L, z$j").mkString(", ") +
          ") AS (j, z)"))
      val f2 = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("exact_f2"))
      val perJ = stacked
        .select(col("j"), col("z"), (col("z") * col("z")).as("est"))
        .crossJoin(broadcast(f2))
      val medRow = perJ
        .select(col("*"),
          row_number().over(Window.orderBy(col("est"), col("j"))).as("rn"))
        .filter(col("rn") === 8)
        .select(lit(-1L).as("j"), lit(0L).as("z"), col("est"),
          col("exact_f2"))
      perJ.unionByName(medRow).orderBy(col("j"))
    },
    oracle = Some("""
      WITH ks AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
      m1 AS (SELECT (k + 777000777) * 2654435761 % 2147483647 AS x FROM ks),
      m2 AS (SELECT xor(x, x >> 15) AS x FROM m1),
      m3 AS (SELECT x * 1597334677 % 2147483647 AS x FROM m2),
      h AS (SELECT xor(x, x >> 13) AS h FROM m3),
      js AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS j),
      z AS (SELECT j, CAST(sum((h >> CAST(j AS INTEGER)) % 2 * 2 - 1)
                        AS BIGINT) AS z
            FROM h, js GROUP BY 1),
      f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
             FROM (SELECT CAST(count(*) AS BIGINT) AS c
                   FROM ks GROUP BY k)),
      est AS (SELECT j, z, z * z AS est FROM z),
      med AS (SELECT est FROM (
                SELECT est, row_number() OVER (ORDER BY est, j) AS rn
                FROM est)
              WHERE rn = 8)
      SELECT j, z, CAST(est AS BIGINT) AS est, exact_f2 FROM est, f2
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
             CAST(med.est AS BIGINT), exact_f2 FROM med, f2
      ORDER BY j"""))

  /** SAX SYMBOLIZATION (Lin, Keogh, Lonardi & Chiu 2003) of the daily
    * order-count series — the time-series DISCRETIZATION step the
    * symbolic family (q274 winnowing, q263 BPE) needs before any
    * string-algorithm reuse on series data: 128 days
    * (the q163-style calendar window) → 16 PAA segments of 8 days → a 4-symbol alphabet by
    * RANK quartiles. Two deliberate exactness substitutions versus
    * the paper: PAA means stay the scaled integer sum·10⁶ div n (the
    * q163 scaled-key convention — no division), and breakpoints are the EMPIRICAL
    * quartiles via ntile(4) under the (paa_scaled, seg) total order
    * instead of Gaussian ones (the paper's N(0,1) breakpoints assume
    * z-normalization, which would put transcendentals in the replay
    * path; rank quartiles are the standard equi-depth variant and
    * both engines' ntile splits identically under a total order).
    * Emits one row per segment: days covered, total, scaled mean and
    * the symbol 0–3.
    *
    * Scale: one day-keyed count rollup (map-side combined,
    * calendar-bounded), one 16-key segment rollup, one 16-row window
    * — the fact table is touched once; longer horizons slide the
    * 128-day frame (the q163 calendar rule).
    */
  val q288SaxSymbols: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("bigint").as("t"))
        .filter(col("t") >= 0L && col("t") < 128L)
        .groupBy(col("t")).agg(count(lit(1)).as("y"))
      val seg = daily.groupBy(expr("t div 8L").as("seg"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("tot"))
        .select(col("seg"), col("n_days"), col("tot"),
          expr("(tot * 1000000L) div n_days").as("paa_scaled"))
      seg.select(col("*"),
          (ntile(4).over(Window.orderBy(col("paa_scaled"), col("seg"))) - 1)
            .cast("long").as("sym"))
        .orderBy(col("seg"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS y
        FROM orders
        WHERE date_diff('day', DATE '1995-01-01',
                CAST(o_orderdate AS DATE)) BETWEEN 0 AND 127
        GROUP BY 1),
      seg AS (SELECT t // 8 AS seg, CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(y) AS BIGINT) AS tot
              FROM daily GROUP BY 1)
      SELECT seg, n_days, tot,
             CAST(tot * 1000000 // n_days AS BIGINT) AS paa_scaled,
             CAST(ntile(4) OVER (ORDER BY tot * 1000000 // n_days, seg) - 1
               AS BIGINT) AS sym
      FROM seg ORDER BY seg"""))

  /** RANDOMIZATION (PERMUTATION) TEST (Fisher 1935; the two-sample
    * randomization form of Pitman 1937) on the F-vs-O order-value
    * gap — the INFERENCE leg of the exact distribution suite (q166 KS
    * / q167 U / q277 CvM measure the gap; this prices its surprise):
    * 24 deterministic re-labelings, each assigning rows to pseudo-
    * group A by BIT j of the shared integer mixer over o_orderkey
    * (the random-split form of the test — split sizes float freely
    * and the statistic normalizes for them). The statistic is the
    * all-integer scaled mean gap T = m₂·S₁ − m₁·S₂ (= m₁m₂·(x̄₁−x̄₂)
    * in cents·rows — never divides); the observed labeling ships as
    * row j = −1 and every row carries extreme = 1 when |T_j| ≥
    * |T_obs|, so Σ extreme over the 24 permutation rows IS the
    * randomization p-value numerator. T rides the q109/q277
    * DECIMAL(38,0) chain from the start — the 100× sweep measured
    * m·S ≈ 3.5e22 crossing 2⁶³ exactly as the BIGINT draft's
    * scaladoc predicted, so the draft lasted one sweep — and ships
    * as the canonical digit string; m·S crosses 10³⁸ only past
    * 10¹⁹ row-cents mass, far beyond any earthly fixture.
    *
    * Scale: ONE pass — 24 bit-sums + 24 bit-weighted sums + the
    * observed pair as conditional aggregates of a single map-side-
    * combined global rollup (the q286 stack shape); no explode, no
    * 24× row blowup, shuffle payload 50 longs at any SF.
    */
  val q289PermutationTest: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      val base = Tables.orders(s, dir)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(
          mix(col("o_orderkey").cast("long") + lit(424242L)).as("h"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("gobs"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      val aggs =
        Seq(count(lit(1)).as("m"), sum(col("x")).as("s"),
          sum(col("gobs")).as("m1_obs"),
          sum(col("gobs") * col("x")).as("s1_obs")) ++
        (0 until 24).flatMap { j =>
          val bit = shiftright(col("h"), j) % 2L
          Seq(sum(bit).as(s"m1_$j"), sum(bit * col("x")).as(s"s1_$j"))
        }
      val wide = base.agg(aggs.head, aggs.tail: _*)
      val stacked = wide.select(col("m"), col("s"), expr(
        "stack(25, -1L, m1_obs, s1_obs, " +
          (0 until 24).map(j => s"${j}L, m1_$j, s1_$j").mkString(", ") +
          ") AS (j, m1, s1)"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val t = stacked.select(col("j"), col("m1"), col("s1"),
        (d19(col("m") - col("m1")) * d19(col("s1")) -
          d19(col("m1")) * d19(col("s") - col("s1")))
          .cast("decimal(38,0)").as("tval"))
      val obs = t.filter(col("j") === -1L)
        .select(abs(col("tval")).as("t_abs_obs"))
      t.crossJoin(broadcast(obs))
        .select(col("j"), col("m1"), col("s1"),
          col("tval").cast("string").as("t"),
          when(abs(col("tval")) >= col("t_abs_obs"), 1L).otherwise(0L)
            .as("extreme"))
        .orderBy(col("j"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT CAST(o_orderkey AS BIGINT) + 424242 AS k0,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS gobs,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x
        FROM orders WHERE o_orderstatus IN ('F', 'O')),
      m1s AS (SELECT xor(x3, x3 >> 13) AS h, gobs, x FROM (
                SELECT xor(x1, x1 >> 15) * 1597334677 % 2147483647 AS x3,
                       gobs, x
                FROM (SELECT k0 * 2654435761 % 2147483647 AS x1, gobs, x
                      FROM base) t1) t2),
      js AS (SELECT CAST(unnest(range(0, 24)) AS BIGINT) AS j),
      perm AS (SELECT j,
                      CAST(sum((h >> CAST(j AS INTEGER)) % 2) AS BIGINT) AS m1,
                      CAST(sum(((h >> CAST(j AS INTEGER)) % 2) * x) AS BIGINT)
                        AS s1
               FROM m1s, js GROUP BY 1),
      obsr AS (SELECT CAST(-1 AS BIGINT) AS j,
                      CAST(sum(gobs) AS BIGINT) AS m1,
                      CAST(sum(gobs * x) AS BIGINT) AS s1
               FROM m1s),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(x) AS BIGINT) AS s FROM m1s),
      t AS (SELECT j, m1, s1,
                   CAST(CAST(m - m1 AS HUGEINT) * s1
                        - CAST(m1 AS HUGEINT) * (s - s1)
                     AS DECIMAL(38,0)) AS tval
            FROM (SELECT * FROM perm UNION ALL SELECT * FROM obsr), tot),
      ob AS (SELECT abs(tval) AS t_abs_obs FROM t WHERE j = -1)
      SELECT j, m1, s1, CAST(tval AS VARCHAR) AS t,
             CAST(CASE WHEN abs(tval) >= t_abs_obs THEN 1 ELSE 0 END
               AS BIGINT) AS extreme
      FROM t, ob ORDER BY j"""))

  /** SEQUENTIAL POISSON SAMPLING (Ohlsson 1998) — the ORDER-SAMPLING
    * member of the PPS family: q184 draws a πps sample SYSTEMATICALLY
    * (dollar-unit walk over the cumulated measure — needs the global
    * prefix sum), this draws it by RANKING: each order gets the key
    * u/w (u uniform, w = value cents) and the n smallest keys are the
    * sample — inclusion probability ∝ w asymptotically (Ohlsson's
    * result), no prefix sum, no fixed take-every stride, and the
    * sample is STABLE under data arrival order. u is the shared
    * integer mixer over o_orderkey (offset 511511511 for domain
    * separation), and the key comparison is the q163/q287 SCALED
    * TRUNCATING DIVISION (u·10⁶ div w — IntegralDivide, bit-equal to
    * DuckDB's `//`) with the o_orderkey tiebreak, so the drawn sample
    * is deterministic and identical cross-engine. Emits the n = 50
    * sampled orders with rank, weight, u and the scaled key.
    *
    * Scale: ONE map pass + TakeOrderedAndProject(50) — top-k by key
    * needs no global sort and no prefix exchange (the property that
    * makes order sampling the distributed-friendly πps method); the
    * row_number window runs over the already-limited 50 rows.
    */
  val q302SequentialPoisson: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      def mix(x0: Column): Column = {
        val x1 = (x0 * lit(2654435761L)) % lit(2147483647L)
        val x2 = x1.bitwiseXOR(shiftright(x1, 15))
        val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
        x3.bitwiseXOR(shiftright(x3, 13))
      }
      val keyed = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w_cents"),
          mix(col("o_orderkey").cast("long") + lit(511511511L)).as("u"))
        .filter(col("w_cents") > 0L)
        .select(col("o_orderkey"), col("w_cents"), col("u"),
          expr("(u * 1000000L) div w_cents").as("key_q"))
      val top = keyed.orderBy(col("key_q"), col("o_orderkey")).limit(50)
      top.select(
          row_number().over(Window.orderBy(col("key_q"), col("o_orderkey")))
            .cast("long").as("rank"),
          col("o_orderkey"), col("w_cents"), col("u"), col("key_q"))
        .orderBy(col("rank"))
    },
    oracle = Some("""
      WITH keyed AS (
        SELECT o_orderkey, w_cents, u, (u * 1000000) // w_cents AS key_q
        FROM (
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
                 xor(x3, x3 >> 13) AS u
          FROM (SELECT o_orderkey, o_totalprice,
                       xor(x1, x1 >> 15) * 1597334677 % 2147483647 AS x3
                FROM (SELECT o_orderkey, o_totalprice,
                             (CAST(o_orderkey AS BIGINT) + 511511511)
                               * 2654435761 % 2147483647 AS x1
                      FROM orders) t1) t2)
        WHERE w_cents > 0),
      top AS (SELECT * FROM keyed ORDER BY key_q, o_orderkey LIMIT 50)
      SELECT CAST(row_number() OVER (ORDER BY key_q, o_orderkey) AS BIGINT)
               AS rank,
             o_orderkey, w_cents, u, key_q
      FROM top ORDER BY rank"""))

  /** COUNT SKETCH (Charikar, Chen & Farach-Colton 2002) — the SIGNED
    * frequency estimator completing the point-frequency pair with q279
    * Count-Min: each of d = 5 rows adds sign sᵢ(k) = ±1 into bucket
    * hᵢ(k) of w = 64 counters, and the estimate is the MEDIAN over
    * rows of sᵢ(k)·C[i][hᵢ(k)] — UNBIASED (collisions cancel in
    * expectation, so `err` here takes both signs) where Count-Min's
    * min-of-unsigned is one-sided (q279's `overcount` is provably
    * ≥ 0); variance ∝ F₂/w ties it to the q286 AMS machinery, whose
    * ±1 trick this reuses per-bucket. Hashes are the arithmetic
    * family ((2i+5)k + 20011i and (2i+7)k + 30011i mod P mod ...) —
    * pure BIGINT both engines replay bit-equally. The median of the
    * 5 exact integers is position-3 of the sorted list on BOTH
    * engines (array_sort/list_sort — no float percentile anywhere).
    * Emits the top-20 customers by exact order count with estimate
    * and signed error.
    *
    * Scale: the sketch build is ONE hash-agg onto a FIXED 5×64-cell
    * domain — partial aggregation caps every task's contribution at
    * 320 rows at any SF; the probe is a broadcast of those 320 cells
    * against the top-k rollup.
    */
  val q303CountSketch: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val is = expr("array(0L, 1L, 2L, 3L, 4L)")
      def cellOf(k: Column, i: Column): Column =
        ((lit(2L) * i + lit(5L)) * k + lit(20011L) * i) % lit(2147483647L) % lit(64L)
      def sgnOf(k: Column, i: Column): Column =
        lit(2L) * (((lit(2L) * i + lit(7L)) * k + lit(30011L) * i)
          % lit(2147483647L) % lit(2L)) - lit(1L)
      val ks = Tables.orders(s, dir)
        .select(col("o_custkey").cast("long").as("k"))
      val g = ks.select(col("k"), explode(is).as("i"))
        .select(col("k"), col("i"), cellOf(col("k"), col("i")).as("cell"),
          sgnOf(col("k"), col("i")).as("sgn"))
      val cells = g.groupBy(col("i"), col("cell"))
        .agg(sum(col("sgn")).as("c"))
      val top = ks.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("k")).limit(20)
      top.select(col("k"), col("exact_cnt"), explode(is).as("i"))
        .select(col("k"), col("exact_cnt"), col("i"),
          cellOf(col("k"), col("i")).as("cell"),
          sgnOf(col("k"), col("i")).as("sgn"))
        .join(broadcast(cells), Seq("i", "cell"))
        .groupBy(col("k"), col("exact_cnt"))
        .agg(element_at(array_sort(collect_list(col("sgn") * col("c"))), 3)
          .as("cs_est"))
        .select(col("k").as("o_custkey"), col("exact_cnt"), col("cs_est"),
          (col("cs_est") - col("exact_cnt")).as("err"))
        .orderBy(col("exact_cnt").desc, col("o_custkey"))
    },
    oracle = Some("""
      WITH ks AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
      g AS (SELECT k, i,
                   ((2*i+5)*k + 20011*i) % 2147483647 % 64 AS cell,
                   2 * (((2*i+7)*k + 30011*i) % 2147483647 % 2) - 1 AS sgn
            FROM ks, (SELECT CAST(unnest([0,1,2,3,4]) AS BIGINT) AS i)),
      cells AS (SELECT i, cell, CAST(sum(sgn) AS BIGINT) AS c
                FROM g GROUP BY 1, 2),
      top AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM ks GROUP BY 1 ORDER BY exact_cnt DESC, k LIMIT 20),
      probe AS (SELECT t.k, t.exact_cnt, i,
                       ((2*i+5)*t.k + 20011*i) % 2147483647 % 64 AS cell,
                       2 * (((2*i+7)*t.k + 30011*i) % 2147483647 % 2) - 1
                         AS sgn
                FROM top t, (SELECT CAST(unnest([0,1,2,3,4]) AS BIGINT) AS i)),
      est AS (SELECT p.k, p.exact_cnt,
                     list_sort(list(p.sgn * c.c))[3] AS cs_est
              FROM probe p JOIN cells c ON c.i = p.i AND c.cell = p.cell
              GROUP BY 1, 2)
      SELECT k AS o_custkey, exact_cnt, cs_est,
             CAST(cs_est - exact_cnt AS BIGINT) AS err
      FROM est ORDER BY exact_cnt DESC, o_custkey"""))

  /** MATRIX PROFILE / all-pairs distance profile (Yeh et al. 2016's
    * matrix-profile formulation, the exact-distance special case; the
    * z-normalization is deliberately omitted so every distance is an
    * EXACT integer — motif and discord structure survives, and the
    * q63 fixed-order-IEEE class of problems never arises) over the
    * daily revenue series: for each 16-day window, the minimum
    * squared Euclidean distance to any NON-OVERLAPPING window
    * (exclusion zone |t−t'| ≥ 16) and its nearest-neighbor index —
    * the lowest values are the series' MOTIFS (repeated regimes), the
    * highest its DISCORDS (anomalous fortnights), the time-series
    * curation signal the SAX (q288) symbols approximate. Distances
    * ride the q109/q277 DECIMAL(38,0) chain ((rₜ−rₜ')² per day sums
    * 16-fold; cents² crosses 2⁶³ near sf100) and ship as digit
    * strings; argmin ties break on the smaller t' via lexicographic
    * struct-min, which the oracle replays as a row_number window (the
    * q94 cross-algorithm rule).
    *
    * Scale: the day domain is CALENDAR-BOUNDED (fixture dates span a
    * fixed 7-year range, so ~2370 windows at ANY SF — the q256
    * bounded-domain class): the only fact-sized work is the one
    * map-side-combined daily rollup; the all-pairs stage is a
    * CONSTANT ~5.6M pairs × 16-fold, SF-invariant by construction.
    * Partitionless windows run over that bounded rollup (ExplainSpec
    * allowlist entry names the domain).
    */
  val q304MatrixProfile: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
      val idx = daily.select(
        row_number().over(Window.orderBy(col("d"))).cast("long").as("t"),
        col("r"))
      val w16 = Window.orderBy(col("t")).rowsBetween(Window.currentRow, 15)
      val sub = idx.select(col("t"),
          collect_list(col("r")).over(w16).as("a"),
          count(lit(1)).over(w16).as("n"))
        .filter(col("n") === 16L).drop("n")
        .localCheckpoint(true) // calendar-bounded (~2370 rows at any SF)
      val x = sub.select(col("t").as("t"), col("a").as("ax"))
      val y = sub.select(col("t").as("t2"), col("a").as("ay"))
      // UNROLLED 16-term sum, not aggregate(zip_with(...)): higher-order
      // functions run interpreted (no doGenCode) and the lambda fold
      // measured 21 s for the constant 5.6M-pair stage; the unrolled
      // expression stays inside whole-stage codegen
      val d2expr = (0 until 16).map(i =>
        s"CAST(ax[$i] - ay[$i] AS DECIMAL(19,0)) " +
          s"* CAST(ax[$i] - ay[$i] AS DECIMAL(19,0))").mkString(" + ")
      // symmetry halving: d² is symmetric, so only the upper triangle
      // (t2 ≥ t+16) pays the 16-term fold; the lower triangle is the
      // mirrored copy of the MATERIALIZED half (localCheckpoint —
      // without it each union branch would recompute the fold)
      val half = x.crossJoin(y) // bounded² — SF-invariant, never fact-sized
        .filter(col("t2") - col("t") >= 16L)
        .select(col("t"), col("t2"), expr(d2expr).as("d2"))
        .localCheckpoint(true)
      val pairs = half.unionByName(
        half.select(col("t2").as("t"), col("t").as("t2"), col("d2")))
      pairs.groupBy(col("t"))
        .agg(min(struct(col("d2"), col("t2"))).as("m"))
        .select(col("t"), col("m.d2").cast("string").as("mp_d2"),
          col("m.t2").as("nn_t"))
        .orderBy(col("t"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS r
        FROM orders GROUP BY 1),
      idx AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, r
              FROM daily),
      sub AS (SELECT t, a FROM (
                SELECT t,
                       list(r) OVER (ORDER BY t
                         ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS a,
                       count(*) OVER (ORDER BY t
                         ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS n
                FROM idx)
              WHERE n = 16),
      pairs AS (
        SELECT x.t AS t, y.t AS t2,
               list_reduce(list_prepend(CAST(0 AS DECIMAL(38,0)),
                 list_transform(range(1, 17), i ->
                   CAST(CAST(x.a[i] - y.a[i] AS DECIMAL(19,0))
                        * CAST(x.a[i] - y.a[i] AS DECIMAL(19,0))
                     AS DECIMAL(38,0)))),
                 (acc, v) -> acc + v) AS d2
        FROM sub x, sub y WHERE abs(x.t - y.t) >= 16),
      mp AS (SELECT t, d2, t2 FROM (
               SELECT t, t2, d2, row_number() OVER (
                 PARTITION BY t ORDER BY d2, t2) AS rn
               FROM pairs)
             WHERE rn = 1)
      SELECT t, CAST(d2 AS VARCHAR) AS mp_d2, t2 AS nn_t
      FROM mp ORDER BY t"""))

  /** COCHRAN–ARMITAGE TREND TEST (Cochran 1954; Armitage 1955) — the
    * ordered-category member of the inference family: χ² (q88) asks
    * "are outcome and category associated AT ALL", this asks the
    * sharper dose-response question "does the RETURN RATE trend
    * monotonically with order priority 1-URGENT … 5-LOW" — one degree
    * of freedom spent exactly on the ordering, which is why it
    * detects trends χ² dilutes across 4 df. Outcome = the order has
    * a returned lineitem (EXISTS r-flag — one semi-join); weights
    * wᵢ = the priority ordinal. Emits the per-category table
    * (ord, n, r) with the EXACT trend numerator T = Σwᵢ(rᵢN − nᵢR)
    * and the squared z-statistic as the exact rational z² = T²N /
    * (R(N−R)(NΣw²nᵢ − (Σwnᵢ)²)) — all three on the q109/q277
    * DECIMAL(38,0) digit-string chain (T² ≈ 10²² already at sf0.1;
    * the 38-digit budget holds to ≈ sf300, the next stop is the q289
    * string-chain escalation). z² vs χ²₁'s 3.84 is the trend verdict.
    *
    * Scale: one orderkey semi-join (the only fact-sized work) + a
    * 5-key map-side-combined rollup; everything after is 5-row
    * arithmetic behind broadcasts.
    */
  val q309CochranArmitage: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val ret = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey")).distinct()
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          substring(col("o_orderpriority"), 1, 1).cast("long").as("ord"))
        .join(ret.withColumn("is_ret", lit(1L)), Seq("o_orderkey"), "left")
        .select(col("ord"), coalesce(col("is_ret"), lit(0L)).as("is_ret"))
      val cat = base.groupBy(col("ord"))
        .agg(count(lit(1)).as("n"), sum(col("is_ret")).as("r"))
        .localCheckpoint(true) // feeds the totals AND the final join
      def d38(c: Column) = c.cast("decimal(38,0)")
      // T needs N and R inside the category sum — compute them on one
      // pass over the 5-row rollup, then join the totals back
      val totals = cat.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
        sum(col("ord") * col("n")).as("swn"),
        sum(col("ord") * col("ord") * col("n")).as("sw2n"))
      val stats = cat.crossJoin(broadcast(totals))
        .select(
          sum(d38(col("ord")) * (d38(col("r")) * d38(col("nn")) -
            d38(col("n")) * d38(col("rr")))).as("t"),
          first(col("nn")).as("nn"), first(col("rr")).as("rr"),
          first(col("swn")).as("swn"), first(col("sw2n")).as("sw2n"))
        .select(col("t"),
          (col("t") * col("t") * d38(col("nn"))).cast("decimal(38,0)")
            .as("z2_num"),
          (d38(col("rr")) * d38(col("nn") - col("rr")) *
            (d38(col("nn")) * d38(col("sw2n")) -
              d38(col("swn")) * d38(col("swn")))).cast("decimal(38,0)")
            .as("z2_den"))
      cat.crossJoin(broadcast(stats))
        .select(col("ord"), col("n"), col("r"),
          col("t").cast("string").as("trend_t"),
          col("z2_num").cast("string").as("z2_num"),
          col("z2_den").cast("string").as("z2_den"))
        .orderBy(col("ord"))
    },
    oracle = Some("""
      WITH ret AS (SELECT DISTINCT l_orderkey FROM lineitem
                   WHERE l_returnflag = 'R'),
      base AS (SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS ord,
                      CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END
                        AS is_ret
               FROM orders o LEFT JOIN ret r ON r.l_orderkey = o.o_orderkey),
      cat AS (SELECT ord, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(is_ret) AS BIGINT) AS r
              FROM base GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(r) AS BIGINT) AS rr,
                     CAST(sum(ord * n) AS BIGINT) AS swn,
                     CAST(sum(ord * ord * n) AS BIGINT) AS sw2n
              FROM cat),
      st AS (SELECT CAST(sum(CAST(ord AS HUGEINT) *
                       (CAST(r AS HUGEINT) * nn - CAST(n AS HUGEINT) * rr))
                     AS DECIMAL(38,0)) AS t,
                    any_value(nn) AS nn, any_value(rr) AS rr,
                    any_value(swn) AS swn, any_value(sw2n) AS sw2n
             FROM cat, tot),
      z AS (SELECT t,
                   CAST(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * nn
                     AS DECIMAL(38,0)) AS z2_num,
                   CAST(CAST(rr AS HUGEINT) * (nn - rr) *
                        (CAST(nn AS HUGEINT) * sw2n
                         - CAST(swn AS HUGEINT) * swn)
                     AS DECIMAL(38,0)) AS z2_den
            FROM st)
      SELECT cat.ord, cat.n, cat.r,
             CAST(z.t AS VARCHAR) AS trend_t,
             CAST(z.z2_num AS VARCHAR) AS z2_num,
             CAST(z.z2_den AS VARCHAR) AS z2_den
      FROM cat, z ORDER BY cat.ord"""))

  /** MANN–KENDALL TREND TEST (Mann 1945; Kendall's S over time) — the
    * significance HALF of the robust-trend pairing whose estimate half
    * is q163's Theil–Sen slope (the two are partners in every
    * environmental/ops monitoring stack: Sen answers "how steep",
    * Mann–Kendall answers "is it real"): S = Σ_{i<j} sgn(rⱼ − rᵢ)
    * over the daily revenue series, with the EXACT tie-corrected null
    * variance Var(S) = [N(N−1)(2N+5) − Σₚ tₚ(tₚ−1)(2tₚ+5)]/18 and the
    * continuity-corrected z² as exact rationals — z² = 18(|S|−1)² /
    * var_num (q49/q60: no square root or float ever forms; the
    * caller compares against χ²₁ quantiles). Distinct from q276,
    * which computes Kendall's τ-b BETWEEN two cross-sectional
    * rankings; here one series is TIME itself, which is what turns
    * the pair census into a trend test.
    *
    * Scale: the day domain is CALENDAR-BOUNDED (the q256/q304 class),
    * so the i<j pair census is a constant ~2.8M-pair stage at ANY SF
    * and every integer fits BIGINT forever (N³ ≈ 1.4·10¹⁰); the only
    * fact-sized work is the one map-side-combined daily rollup.
    */
  val q310MannKendall: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
      // partitionless row_number over the calendar-bounded daily rollup
      // (ExplainSpec.windowAllowlist entry; the round-11 listener
      // capture lints this pre-barrier plan too); the eager barrier
      // exists because the result feeds both crossJoin sides
      val idx = daily.select(
        row_number().over(Window.orderBy(col("d"))).cast("long").as("t"),
        col("r"))
        .localCheckpoint(true)
      val x = idx.select(col("t").as("ti"), col("r").as("ri"))
      val y = idx.select(col("t").as("tj"), col("r").as("rj"))
      val sStat = x.crossJoin(y).filter(col("tj") > col("ti")) // bounded²
        .agg(sum(when(col("rj") > col("ri"), 1L)
          .when(col("rj") < col("ri"), -1L).otherwise(0L)).as("s_stat"))
      val ties = daily.groupBy(col("r")).agg(count(lit(1)).as("tp"))
        .agg(coalesce(sum(col("tp") * (col("tp") - 1L) *
          (lit(2L) * col("tp") + 5L)), lit(0L)).as("tie_term"))
      val n = daily.agg(count(lit(1)).as("n_days"))
      n.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("s_stat"),
          (col("n_days") * (col("n_days") - 1L) *
            (lit(2L) * col("n_days") + 5L) - col("tie_term")).as("var_num"),
          lit(18L).as("var_den"))
        .select(col("n_days"), col("s_stat"), col("var_num"), col("var_den"),
          // Mann–Kendall defines z = 0 at S = 0: the continuity
          // correction |S|−1 applies only to nonzero S (round-11
          // ADVICE fix — 18·(|S|−1)² would report z²=18 for a
          // perfectly trendless series).
          when(col("s_stat") === 0L, lit(0L))
            .otherwise(lit(18L) *
              (abs(col("s_stat")) - 1L) * (abs(col("s_stat")) - 1L))
            .as("z2_num"),
          col("var_num").as("z2_den"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS r
        FROM orders GROUP BY 1),
      idx AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, r
              FROM daily),
      s AS (SELECT CAST(sum(CASE WHEN y.r > x.r THEN 1
                                 WHEN y.r < x.r THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
            FROM idx x JOIN idx y ON y.t > x.t),
      ties AS (SELECT CAST(coalesce(sum(tp * (tp - 1) * (2 * tp + 5)), 0)
                 AS BIGINT) AS tie_term
               FROM (SELECT count(*) AS tp FROM daily GROUP BY r)),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
      SELECT n.n_days, s.s_stat,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                  - ties.tie_term AS BIGINT) AS var_num,
             CAST(18 AS BIGINT) AS var_den,
             CAST(CASE WHEN s.s_stat = 0 THEN 0
                       ELSE 18 * (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1)
                  END AS BIGINT) AS z2_num,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                  - ties.tie_term AS BIGINT) AS z2_den
      FROM n, s, ties"""))

  /** LOUVAIN LOCAL-MOVING round (Blondel/Guillaume/Lambiotte/Lefebvre
    * 2008) over the WEIGHTED co-purchase graph — the modularity-
    * OPTIMIZATION step the community family was missing: q164 grows
    * communities by neighbor-majority vote and q252 only SCORES a
    * given partition; Louvain's phase 1 moves each node to the
    * neighbor community with the largest modularity GAIN. This entry
    * runs the deterministic PARALLEL-SYNCHRONOUS first sweep from
    * singletons (every node evaluates its neighbors under PRE-MOVE
    * labels — the standard distributed variant, since sequential
    * node-by-node moving doesn't exist at 1000 executors): for
    * isolated i joining singleton {j} the gain is
    * ΔQ = w_ij/W − k_i·k_j/(2W²), so scaled by 2W² the decision
    * statistic is the EXACT INTEGER 2·W·w_ij − k_i·k_j (W = total
    * edge weight, k = weighted degree); node i adopts argmax_j with
    * ties to the smallest j, and stays singleton unless the gain is
    * strictly positive — every engine replays the identical rule.
    * Emits the q252 report shape over the RESULTING partition
    * (weighted: w_in/d_sum are weight sums, q_num = 4W·w_in − d_sum²
    * over q_den = 4W² — never-rounded rationals): top-10 communities
    * by size plus the −1 global row whose q_num/q_den IS the
    * partition's modularity.
    *
    * Scale: rides the session-cached co-pair kernel; degrees and the
    * gain join are one pass over the (src)-keyed edge list; the
    * argmax is a src-partitioned window (never partitionless); the
    * rollup is community-keyed. BIGINT headroom: k_i·k_j ≤ (2W)²/4
    * with W ≈ 1.8e8 at the 100× sweep — 3.2e16 ≪ 2⁶³.
    */
  val q313LouvainMove: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val co = coPairCounts(s, dir) // (p1 < p2, co) — weighted edges
      val edges = co.select(col("p1").as("src"), col("p2").as("dst"),
          col("co").as("w"))
        .unionByName(co.select(col("p2").as("src"), col("p1").as("dst"),
          col("co").as("w")))
      val m = co.agg(sum(col("co")).as("m")) // W
      val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("k"))
      val gain = edges
        .join(deg.select(col("src"), col("k").as("k_src")), "src")
        .join(deg.select(col("src").as("dst"), col("k").as("k_dst")), "dst")
        .crossJoin(broadcast(m))
        .select(col("src"), col("dst"),
          (lit(2L) * col("m") * col("w") - col("k_src") * col("k_dst"))
            .as("g"))
      val labels = gain
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src"))
            .orderBy(col("g").desc, col("dst"))))
        .filter(col("rn") === 1)
        .select(col("src").as("v"),
          when(col("g") > 0, col("dst")).otherwise(col("src")).as("lbl"))
        .localCheckpoint(true) // feeds three rollup consumers
      val dc = deg.select(col("src").as("v"), col("k"))
        .join(labels, "v")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("k")).as("d_sum"))
      val win = co
        .join(labels.select(col("v").as("p1"), col("lbl").as("c1")), "p1")
        .join(labels.select(col("v").as("p2"), col("lbl").as("c2")), "p2")
        .filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("community")).agg(sum(col("co")).as("w_in"))
      val comm = dc.join(win, Seq("community"), "left")
        .select(col("community"), col("n_nodes"),
          coalesce(col("w_in"), lit(0L)).as("w_in"), col("d_sum"))
        .crossJoin(broadcast(m))
        .withColumn("q_num",
          lit(4L) * col("m") * col("w_in") - col("d_sum") * col("d_sum"))
        .withColumn("q_den", lit(4L) * col("m") * col("m"))
        .localCheckpoint(true) // feeds the top-10 cut AND the global sum
      val top = comm
        .orderBy(col("n_nodes").desc, col("community")).limit(10)
        .select(col("community"), col("n_nodes"), col("w_in"),
          col("d_sum"), col("q_num"), col("q_den"))
      val glob = comm.groupBy(col("q_den"))
        .agg(sum(col("n_nodes")).as("n_nodes"), sum(col("w_in")).as("w_in"),
          sum(col("d_sum")).as("d_sum"), sum(col("q_num")).as("q_num"))
        .select(lit(-1L).as("community"), col("n_nodes"), col("w_in"),
          col("d_sum"), col("q_num"), col("q_den"))
      top.unionByName(glob).orderBy(col("community"))
    },
    oracle = Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                    CAST(count(*) AS BIGINT) AS w
             FROM op a JOIN op b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2),
      edges AS (SELECT p1 AS src, p2 AS dst, w FROM co
                UNION ALL SELECT p2, p1, w FROM co),
      mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM co),
      deg AS (SELECT src AS v, CAST(sum(w) AS BIGINT) AS k
              FROM edges GROUP BY 1),
      gain AS (SELECT e.src, e.dst,
                      CAST(2 * mm.m * e.w - da.k * db.k AS BIGINT) AS g
               FROM edges e JOIN deg da ON da.v = e.src
                            JOIN deg db ON db.v = e.dst
               CROSS JOIN mm),
      best AS (SELECT src, dst, g FROM (
                 SELECT src, dst, g, row_number() OVER (PARTITION BY src
                          ORDER BY g DESC, dst) AS rn FROM gain)
               WHERE rn = 1),
      lab AS (SELECT src AS v,
                     CASE WHEN g > 0 THEN dst ELSE src END AS lbl
              FROM best),
      dc AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                    CAST(sum(d.k) AS BIGINT) AS d_sum
             FROM lab l JOIN deg d ON d.v = l.v GROUP BY 1),
      ein AS (SELECT la.lbl AS community, CAST(sum(c.w) AS BIGINT) AS w_in
              FROM co c JOIN lab la ON la.v = c.p1
                        JOIN lab lb ON lb.v = c.p2
              WHERE la.lbl = lb.lbl GROUP BY 1),
      comm AS (SELECT d.community, d.n_nodes,
                      CAST(coalesce(e.w_in, 0) AS BIGINT) AS w_in, d.d_sum,
                      CAST(4 * mm.m * coalesce(e.w_in, 0)
                           - d.d_sum * d.d_sum AS BIGINT) AS q_num,
                      CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
               FROM dc d LEFT JOIN ein e ON e.community = d.community
               CROSS JOIN mm)
      SELECT * FROM (
        SELECT community, n_nodes, w_in, d_sum, q_num, q_den
        FROM comm ORDER BY n_nodes DESC, community LIMIT 10)
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS community,
             CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
             CAST(sum(w_in) AS BIGINT) AS w_in,
             CAST(sum(d_sum) AS BIGINT) AS d_sum,
             CAST(sum(q_num) AS BIGINT) AS q_num,
             CAST(max(q_den) AS BIGINT) AS q_den
      FROM comm
      ORDER BY community"""))

  /** WEISFEILER–LEHMAN COLOR REFINEMENT (Weisfeiler & Lehman 1968; the
    * 1-WL test under every WL graph kernel and the expressiveness
    * ceiling of message-passing GNNs) over the co-purchase graph — the
    * structural-FINGERPRINT primitive the graph family lacked: two
    * synchronous refinement rounds where every node's color becomes a
    * hash of (own color, SORTED multiset of neighbor colors), starting
    * from degree colors. The per-round color-class census (how many
    * distinct roles, how large the biggest) is the WL signature used
    * for graph dedup/isomorphism screening. Hashing is the repo's
    * cross-engine integer polyhash (acc·31 + x mod 2³¹−1) folded
    * left-to-right over [own :: sorted neighbors] — Spark `aggregate`
    * HOF ≡ DuckDB `list_reduce`, both engines replay the identical
    * fold, so colors are value-exact (the q45 contract extended to
    * integer lists). Emits per round: node count, distinct-color
    * count, largest color class, and the mod-P color checksum.
    *
    * Scale: each round is ONE edge join + a node-keyed collect_list
    * rollup — neighbor lists are degree-bounded and the fold is
    * per-node; two fixed rounds by construction (refinement stabilizes
    * in ≤ diameter+1 rounds on this diameter-2 graph). The interpreted
    * aggregate lambda rides a node-sized table, not the fact scan.
    */
  val q314WlRefinement: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val edges = Rounds.symmetric(coPairCounts(s, dir)
          .select(col("p1").as("src"), col("p2").as("dst")), "src", "dst")
        .localCheckpoint(true) // feeds degree init + one join per round
      var colors = edges.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("c"))
      val census = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def censusOf(r: Int, cdf: DataFrame): DataFrame =
        cdf.groupBy(col("c")).agg(count(lit(1)).as("n"))
          .agg(lit(r.toLong).as("round"),
            sum(col("n")).as("n_nodes"),
            count(lit(1)).as("n_colors"),
            max(col("n")).as("largest_class"),
            (sum(col("c") % P) % P).as("color_sum"))
      census += censusOf(0, colors)
      for (r <- 1 to 2) {
        val ns = edges
          .join(colors.select(col("v").as("dst"), col("c").as("nc")), "dst")
          .groupBy(col("src").as("v"))
          .agg(sort_array(collect_list(col("nc"))).as("ns"))
        colors = ns.join(colors, "v")
          .select(col("v"), expr(
            s"""aggregate(concat(array(c), ns), CAST(0 AS BIGINT),
                 (acc, x) -> (acc * 31 + x) % $P)""").as("c"))
          .localCheckpoint(true) // fixed-iteration lineage rule
        census += censusOf(r, colors)
      }
      census.reduce(_ unionByName _).orderBy(col("round"))
    },
    oracle = Some {
      val P = 2147483647L
      s"""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
                FROM op a JOIN op b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
                UNION ALL SELECT p2, p1 FROM pairs),
      c0 AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS c
             FROM edges GROUP BY 1),
      n1 AS (SELECT e.src AS v, list_sort(list(x.c)) AS ns
             FROM edges e JOIN c0 x ON x.v = e.dst GROUP BY 1),
      c1 AS (SELECT n1.v,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_prepend(o.c, n1.ns)),
                      (acc, x) -> (acc * 31 + x) % $P) AS c
             FROM n1 JOIN c0 o ON o.v = n1.v),
      n2 AS (SELECT e.src AS v, list_sort(list(x.c)) AS ns
             FROM edges e JOIN c1 x ON x.v = e.dst GROUP BY 1),
      c2 AS (SELECT n2.v,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_prepend(o.c, n2.ns)),
                      (acc, x) -> (acc * 31 + x) % $P) AS c
             FROM n2 JOIN c1 o ON o.v = n2.v),
      h0 AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM c0 GROUP BY 1),
      h1 AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM c1 GROUP BY 1),
      h2 AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM c2 GROUP BY 1)
      SELECT CAST(0 AS BIGINT) AS round, CAST(sum(n) AS BIGINT) AS n_nodes,
             CAST(count(*) AS BIGINT) AS n_colors,
             CAST(max(n) AS BIGINT) AS largest_class,
             CAST(sum(c % $P) % $P AS BIGINT) AS color_sum FROM h0
      UNION ALL
      SELECT 1, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
             CAST(max(n) AS BIGINT), CAST(sum(c % $P) % $P AS BIGINT) FROM h1
      UNION ALL
      SELECT 2, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
             CAST(max(n) AS BIGINT), CAST(sum(c % $P) % $P AS BIGINT) FROM h2
      ORDER BY round"""
    })

  /** FLAJOLET–MARTIN probabilistic counting (FM 1985; PCSA — the
    * 16-estimator STOCHASTIC-AVERAGING form, §3 of the paper) — HLL's
    * ancestor and the remaining member of the distinct-count sketch
    * family (HLL q48, KMV q259, theta q175, linear counting q316):
    * the hash's LOW 4 BITS route each key to exactly ONE of 16
    * bitmaps (hash-partitioned substreams — each key updates one
    * estimator, the property that makes the variance analysis hold;
    * ADVICE r11 fixed the earlier form, which OR'd every key into
    * all 16 bitmaps with affine-correlated hashes — 16 averaged
    * correlated FULL sketches, not PCSA), the REMAINING bits set the
    * single-bit pattern 1 << ρ(body), and the estimate is
    * 16·2^(ΣR/16)/0.77351 from R = each bitmap's lowest UNSET bit
    * (each substream holds ~n/16 keys, so the per-bitmap 2^R
    * estimates average in the exponent and the m/φ factor restores
    * the total). Unlike the engine-specific Datasketches entries, the
    * hash here is the repo's own LCG arithmetic replayed verbatim by
    * DuckDB, so the bitmaps — and therefore R — are VALUE-EXACT
    * cross-engine and the entry is fully oracle-backed (the q86
    * replayed-hash rule applied to FM): emitted are the exact
    * distinct count, ΣR over the 16 estimators, and the mod-P bitmap
    * checksum; the final 2^(R/16) exponentiation stays client-side
    * per the transcendental rule. Trailing-zero rank and lowest-unset
    * bit are branch-free bit tricks identical on both engines:
    * ρ(h) = popcount(h ⊕ (h−1)) − 1 (h forced nonzero by a 2²⁴
    * sentinel bit), R(b) = popcount(b ⊕ (b+1)) − 1 (an untouched
    * bitmap reads R=0, exactly FM's empty-estimator convention).
    *
    * Scale: ONE map-side-combinable bit_or aggregate over the fact
    * scan — 16 longs of state per group, the same shape a 100 TB
    * distinct-count rollup ships; merges are associative ORs.
    */
  val q315FmPcsa: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"))
      val withBits = ev
        .withColumn("hbase", expr(s"(user_id % $P) * 2654435761 % $P"))
        .withColumn("est", expr("hbase % 16"))
        .withColumn("body", expr("hbase div 16 % 16777216 + 16777216"))
        .withColumn("bit", expr(
          "shiftleft(CAST(1 AS BIGINT), bit_count(body ^ (body - 1)) - 1)"))
      val agg = withBits.groupBy(col("event_type"))
        .agg(expr("bit_or(if(est = 0, bit, CAST(0 AS BIGINT)))").as("m0"),
          (1 until 16).map(e =>
            expr(s"bit_or(if(est = $e, bit, CAST(0 AS BIGINT)))")
              .as(s"m$e")): _*)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val rSum = (0 until 16).map(e =>
        expr(s"bit_count(m$e ^ (m$e + 1)) - 1").cast("long")).reduce(_ + _)
      val ckSum = (0 until 16).map(e => col(s"m$e") % P).reduce(_ + _) % P
      agg.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"), rSum.as("r_sum"),
          ckSum.as("bitmap_checksum"))
        .orderBy(col("event_type"))
    },
    oracle = Some {
      val P = 2147483647L
      val maps = (0 until 16).map { e =>
        s"""bit_or(CASE WHEN est = $e THEN bit
                        ELSE CAST(0 AS BIGINT) END) AS m$e"""
      }
      val rSum = (0 until 16).map(e =>
        s"(CAST(bit_count(xor(m$e, m$e + 1)) AS BIGINT) - 1)").mkString(" + ")
      val ck = (0 until 16).map(e => s"m$e % $P").mkString(" + ")
      s"""
      WITH h AS (SELECT event_type,
                        (user_id % $P) * 2654435761 % $P AS hbase
                 FROM events),
      h2 AS (SELECT event_type, hbase % 16 AS est,
                    (hbase // 16) % 16777216 + 16777216 AS body
             FROM h),
      h3 AS (SELECT event_type, est,
                    CAST(1 AS BIGINT)
                      << (bit_count(xor(body, body - 1)) - 1) AS bit
             FROM h2),
      m AS (SELECT event_type,
                   ${maps.mkString(",\n                   ")}
            FROM h3 GROUP BY 1),
      x AS (SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1)
      SELECT m.event_type, x.n_exact,
             CAST($rSum AS BIGINT) AS r_sum,
             CAST(($ck) % $P AS BIGINT) AS bitmap_checksum
      FROM m JOIN x ON x.event_type = m.event_type
      ORDER BY 1"""
    })

  /** LINEAR COUNTING (Whang/Vander-Zanden/Taylor 1990) — the
    * small-cardinality regime's distinct-count sketch (where FM/HLL
    * bias is worst, linear counting is near-exact; production systems
    * switch estimators on fill factor): hash every key into an m=4096
    * slot bitmap per group, count empty slots z, estimate
    * n̂ = m·ln(m/z). The hash is the same replayable LCG arithmetic as
    * q315, so z is VALUE-EXACT cross-engine and the entry is fully
    * oracle-backed; emitted are m, z, the occupied count and the
    * exact distinct count (the estimator-quality audit layout, q149's
    * shape) — the ln stays client-side. Scale: one
    * map-side-combinable distinct-slot rollup; the bitmap is m bits
    * of state per group however many rows stream through.
    */
  val q316LinearCounting: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
      val slots = ev.select(col("event_type"),
          expr(s"((user_id % $P) * 2654435761 % $P + 7919) % 4096").as("slot"))
        .distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("occupied"))
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(slots, "event_type")
        .select(col("event_type"), lit(4096L).as("m"),
          (lit(4096L) - col("occupied")).as("z"),
          col("occupied"), col("n_exact"))
        .orderBy(col("event_type"))
    },
    oracle = Some(s"""
      WITH o AS (SELECT event_type,
                        CAST(count(DISTINCT ((user_id % 2147483647)
                          * 2654435761 % 2147483647 + 7919) % 4096)
                          AS BIGINT) AS occupied
                 FROM events GROUP BY 1),
      x AS (SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1)
      SELECT o.event_type, CAST(4096 AS BIGINT) AS m,
             CAST(4096 - o.occupied AS BIGINT) AS z,
             o.occupied, x.n_exact
      FROM o JOIN x ON x.event_type = o.event_type
      ORDER BY 1"""))

  /** APPROXIMATE NEIGHBORHOOD FUNCTION (ANF — Palmer/Gibbons/Faloutsos
    * 2002; HyperBall is its HLL-register successor) over the
    * co-purchase graph: how many nodes are within r hops of each node,
    * for ALL nodes at once — the effective-diameter/centrality
    * question exact per-node BFS cannot answer at 100 TB (it is |V|
    * BFS runs), answered by giving every node an FM bit-pattern and
    * OR-merging neighbor patterns per round: mask_r(v) = mask_{r-1}(v)
    * | OR_{u∈Γ(v)} mask_{r-1}(u) — set-union becomes an 8-long bit_or,
    * associative and map-side combinable, one edge join per round.
    * Hashes are the q315 replayable LCG, so every mask is VALUE-EXACT
    * cross-engine (fully oracle-backed where real ANF deployments are
    * unverifiable): emitted per round r ∈ {0,1,2} are ΣR over nodes
    * and estimators (the neighborhood-function sufficient statistic;
    * N̂(r) = Σ 2^(R/8)/0.77351 client-side), the mask checksum, and n.
    *
    * Scale: r rounds × (one edge join + one node-keyed 8-column
    * bit_or) — the canonical all-nodes reachability sketch; state is
    * 8 longs per node, never a reach SET (q300's frontier BFS keeps
    * exact sets for 4 landmarks; this keeps sketches for ALL nodes).
    */
  val q317Anf: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val edges = Rounds.symmetric(coPairCounts(s, dir)
          .select(col("p1").as("src"), col("p2").as("dst")), "src", "dst")
        .localCheckpoint(true)
      def maskExprs(idCol: String): Seq[org.apache.spark.sql.Column] =
        (0 until 8).map { e =>
          val h = s"""((($idCol % $P) * 2654435761 % $P) * ${2 * e + 1}
                       + ${12345 * (e + 1)}) % 16777216 + 16777216"""
          expr(s"shiftleft(CAST(1 AS BIGINT), bit_count(($h) ^ (($h) - 1)) - 1)")
            .as(s"b$e")
        }
      var masks = edges.select(col("src").as("v")).distinct()
        .select(col("v") +: maskExprs("v"): _*)
      def censusOf(r: Int, m: DataFrame): DataFrame = {
        val rSum = (0 until 8).map(e =>
          expr(s"bit_count(b$e ^ (b$e + 1)) - 1").cast("long")).reduce(_ + _)
        val ck = (0 until 8).map(e => col(s"b$e") % P).reduce(_ + _) % P
        m.select(rSum.as("r"), ck.as("c"))
          .agg(lit(r.toLong).as("round"), count(lit(1)).as("n_nodes"),
            sum(col("r")).as("r_sum"), (sum(col("c")) % P).as("mask_checksum"))
      }
      val census = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      census += censusOf(0, masks)
      for (r <- 1 to 2) {
        val masksNext = edges
          .join(masks.withColumnRenamed("v", "dst"), "dst")
          .groupBy(col("src").as("v"))
          .agg(expr("bit_or(b0)").as("n0"),
            (1 until 8).map(e => expr(s"bit_or(b$e)").as(s"n$e")): _*)
          .join(masks, "v")
          .select(col("v") +:
            (0 until 8).map(e => (col(s"b$e").bitwiseOR(col(s"n$e"))).as(s"b$e")): _*)
          .localCheckpoint(true) // fixed-iteration lineage rule
        masks = masksNext
        census += censusOf(r, masks)
      }
      census.reduce(_ unionByName _).orderBy(col("round"))
    },
    oracle = Some {
      val P = 2147483647L
      def hs(idCol: String): Seq[String] = (0 until 8).map { e =>
        s"""((($idCol % $P) * 2654435761 % $P) * ${2 * e + 1}
             + ${12345 * (e + 1)}) % 16777216 + 16777216"""
      }
      val m0 = hs("v").zipWithIndex.map { case (h, e) =>
        s"(CAST(1 AS BIGINT) << (bit_count(xor(($h), ($h) - 1)) - 1)) AS b$e"
      }
      def roundCte(r: Int): String = {
        val ors = (0 until 8).map(e => s"bit_or(x.b$e) AS n$e")
        val merged = (0 until 8).map(e => s"o.b$e | n.n$e AS b$e")
        s"""n$r AS (SELECT e.src AS v, ${ors.mkString(", ")}
               FROM edges e JOIN m${r - 1} x ON x.v = e.dst GROUP BY 1),
      m$r AS (SELECT o.v, ${merged.mkString(", ")}
              FROM m${r - 1} o JOIN n$r n ON n.v = o.v)"""
      }
      def census(r: Int): String = {
        val rSum = (0 until 8).map(e =>
          s"(CAST(bit_count(xor(b$e, b$e + 1)) AS BIGINT) - 1)").mkString(" + ")
        val ck = (0 until 8).map(e => s"b$e % $P").mkString(" + ")
        s"""SELECT CAST($r AS BIGINT) AS round,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum($rSum) AS BIGINT) AS r_sum,
             CAST(sum(($ck) % $P) % $P AS BIGINT) AS mask_checksum
           FROM m$r"""
      }
      s"""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
                FROM op a JOIN op b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
                UNION ALL SELECT p2, p1 FROM pairs),
      m0 AS (SELECT v, ${m0.mkString(", ")}
             FROM (SELECT DISTINCT src AS v FROM edges)),
      ${roundCte(1)},
      ${roundCte(2)}
      ${census(0)}
      UNION ALL
      ${census(1)}
      UNION ALL
      ${census(2)}
      ORDER BY round"""
    })

  /** RANDOMIZED RESPONSE (Warner 1965; the k-ary generalized form is
    * the canonical LOCAL differential-privacy mechanism — RAPPOR's
    * core): each event reports its TRUE type with probability 12/16
    * and one of the k−1 other types with probability 1/16 each (k=5
    * event types; uniformity over others holds when (k−1) divides 4,
    * which the fixture's domain satisfies — and because BOTH the
    * debias constants (16·c−n)/11 and that uniformity argument
    * hardcode k=5, the plan ASSERTS k=5 at runtime via assert_true,
    * so a changed event_type domain fails loudly instead of shipping
    * a silently-biased estimator — ADVICE r11), using the repo's
    * replayable LCG on event_id as the coin — so the privatized
    * counts are VALUE-EXACT cross-engine and the mechanism is fully
    * oracle-backed, which no real randomized deployment can be but
    * which makes the DEBIASING arithmetic auditable: with
    * E[c_t] = (11·n_t + n)/16 the unbiased estimate is
    * n̂_t = (16·c_t − n)/11, emitted as the never-rounded rational
    * (est_num, est_den) next to the true and reported counts.
    *
    * Scale: one map over the fact stream (broadcast k-row type-index
    * table both ways) + two map-side-combinable type rollups; the
    * type index is built relationally (a k×k theta join, no window).
    */
  val q320RandomizedResponse: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val P = 2147483647L
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"))
      val types = ev.select(col("event_type").as("t")).distinct()
      val idx = types.as("a")
        .join(types.as("b"), col("b.t") < col("a.t"), "left")
        .groupBy(col("a.t").as("t")).agg(count(col("b.t")).as("idx"))
      val k = types.agg(count(lit(1)).as("k"))
        // the 12/16 + 1/16-each mechanism and the (16c-n)/11 debias are
        // k=5 constants: fail loudly on any other domain (ADVICE r11)
        .filter(expr("assert_true(k = 5, 'q320: debias (16c-n)/11 and " +
          "spread (r-12)%(k-1) hardcode k=5; rederive the constants " +
          "before running on a different event_type domain') IS NULL"))
      val reported = ev
        .join(broadcast(idx.withColumnRenamed("t", "event_type")), "event_type")
        .crossJoin(broadcast(k))
        .withColumn("r", expr(s"(event_id % $P) * 2654435761 % $P % 16"))
        .withColumn("ridx", when(col("r") < 12, col("idx"))
          .otherwise((col("idx") + 1 + (col("r") - 12) % (col("k") - 1))
            % col("k")))
        .join(broadcast(idx.select(col("idx").as("ridx"), col("t").as("rt"))),
          "ridx")
      val trueCounts = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      val repCounts = reported.groupBy(col("rt").as("event_type"))
        .agg(count(lit(1)).as("n_reported"))
      val n = ev.agg(count(lit(1)).as("n"))
      trueCounts.join(repCounts, Seq("event_type"), "left")
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("n_true"),
          coalesce(col("n_reported"), lit(0L)).as("n_reported"),
          (lit(16L) * coalesce(col("n_reported"), lit(0L)) - col("n"))
            .as("est_num"),
          lit(11L).as("est_den"))
        .orderBy(col("event_type"))
    },
    oracle = Some(s"""
      WITH ev AS (SELECT event_id, event_type FROM events),
      ty AS (SELECT DISTINCT event_type AS t FROM ev),
      idx AS (SELECT a.t, CAST(count(b.t) AS BIGINT) AS idx
              FROM ty a LEFT JOIN ty b ON b.t < a.t GROUP BY 1),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
      rep AS (SELECT e.event_id, e.event_type,
                     (e.event_id % 2147483647) * 2654435761
                       % 2147483647 % 16 AS r,
                     i.idx, kk.k
              FROM ev e JOIN idx i ON i.t = e.event_type CROSS JOIN kk),
      rr AS (SELECT CASE WHEN r < 12 THEN idx
                         ELSE (idx + 1 + (r - 12) % (k - 1)) % k
                    END AS ridx
             FROM rep),
      rc AS (SELECT i.t AS event_type, CAST(count(*) AS BIGINT) AS n_reported
             FROM rr JOIN idx i ON i.idx = rr.ridx GROUP BY 1),
      tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
             FROM ev GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev)
      SELECT tc.event_type, tc.n_true,
             CAST(coalesce(rc.n_reported, 0) AS BIGINT) AS n_reported,
             CAST(16 * coalesce(rc.n_reported, 0) - nn.n AS BIGINT) AS est_num,
             CAST(11 AS BIGINT) AS est_den
      FROM tc LEFT JOIN rc ON rc.event_type = tc.event_type
      CROSS JOIN nn
      ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  val all: Map[String, QuerySpec] = Map(
    "q01_pricing_summary" -> q01PricingSummary,
    "q02_global_counts" -> q02GlobalCounts,
    "q03_event_type_counts" -> q03EventTypeCounts,
    "q04_part_stats" -> q04PartStats,
    "q05_customer_order_stats" -> q05CustomerOrderStats,
    "q06_user_activity" -> q06UserActivity,
    "q07_user_event_types" -> q07UserEventTypes,
    "q08_success_profile" -> q08SuccessProfile,
    "q09_top_users" -> q09TopUsers,
    "q10_events_per_min" -> q10EventsPerMin,
    "q11_distinct_users_by_type" -> q11DistinctUsersByType,
    "q12_brand_revenue" -> q12BrandRevenue,
    "q13_customer_geo" -> q13CustomerGeo,
    "q14_part_pairs" -> q14PartPairs,
    "q15_customers_without_orders" -> q15CustomersWithoutOrders,
    "q16_customers_with_finished_orders" -> q16CustomersWithFinishedOrders,
    "q17_latest_order_per_customer" -> q17LatestOrderPerCustomer,
    "q18_order_value_drift" -> q18OrderValueDrift,
    "q19_top5_orders_per_status" -> q19Top5OrdersPerStatus,
    "q20_running_spend" -> q20RunningSpend,
    "q21_recent_orders" -> q21RecentOrders,
    "q22_arith_sample" -> q22ArithSample,
    "q23_split_balance" -> q23SplitBalance,
    "q24_status_union" -> q24StatusUnion,
    "q25_status_intersect" -> q25StatusIntersect,
    "q26_status_except" -> q26StatusExcept,
    "q27_json_extract" -> q27JsonExtract,
    "q28_string_funcs" -> q28StringFuncs,
    "q29_monthly_orders" -> q29MonthlyOrders,
    "q30_recent_window" -> q30RecentWindow,
    "q31_price_tiers" -> q31PriceTiers,
    "q32_lenient_parse" -> q32LenientParse,
    "q33_logloss_baseline" -> q33LoglossBaseline,
    "q48_approx_distinct" -> q48ApproxDistinct,
    "q53_rollup" -> q53Rollup,
    "q54_pivot" -> q54Pivot,
    "q55_explode_tokens" -> q55ExplodeTokens,
    "q56_percentiles" -> q56Percentiles,
    "q58_stratified_split" -> q58StratifiedSplit,
    "q61_approx_percentiles" -> q61ApproxPercentiles,
    "q81_cube_revenue" -> q81CubeRevenue,
    "q82_anomaly_minutes" -> q82AnomalyMinutes,
    "q83_zorder_layout" -> q83ZOrderLayout,
    "q84_price_histogram" -> q84PriceHistogram,
    "q131_log2_histogram" -> q131Log2Histogram,
    "q133_rolling_wau" -> q133RollingWau,
    "q136_profile_drift" -> q136ProfileDrift,
    "q137_association_rules" -> q137AssociationRules,
    "q85_pagerank" -> q85PageRank,
    "q87_ewma_daily_orders" -> q87EwmaDailyOrders,
    "q88_chisq_contingency" -> q88ChiSquareContingency,
    "q89_fuzzy_name_match" -> q89FuzzyNameMatch,
    "q90_data_quality_audit" -> q90DataQualityAudit,
    "q91_cdc_merge" -> q91CdcMerge,
    "q92_scd2_versions" -> q92Scd2Versions,
    "q93_gini_order_value" -> q93GiniOrderValue,
    "q94_triangle_count" -> q94TriangleCount,
    "q95_item_similarity" -> q95ItemSimilarity,
    "q96_event_transitions" -> q96EventTransitions,
    "q97_balance_deciles" -> q97BalanceDeciles,
    "q98_daily_autocorr" -> q98DailyAutocorr,
    "q99_regional_revenue" -> q99RegionalRevenue,
    "q100_supplier_id_parse" -> q100SupplierIdParse,
    "q101_priority_multiset" -> q101PriorityMultiset,
    "q102_order_value_frames" -> q102OrderValueFrames,
    "q103_robust_stats" -> q103RobustStats,
    "q104_fuzzy_name_rule" -> q104FuzzyNameRule,
    "q105_topk_values" -> q105TopKValues,
    "q106_hopping_windows" -> q106HoppingWindows,
    "q107_reaggregation" -> q107Reaggregation,
    "q108_rank_rationals" -> q108RankRationals,
    "q109_trend_ols" -> q109TrendOls,
    "q110_activity_streaks" -> q110ActivityStreaks,
    "q111_degree_stats" -> q111DegreeStats,
    "q127_kcore_decomposition" -> q127KCoreDecomposition,
    "q128_table_stats" -> q128TableStats,
    "q113_weighted_median" -> q113WeightedMedian,
    "q114_rolling_revenue" -> q114RollingRevenue,
    "q115_revenue_shares" -> q115RevenueShares,
    "q116_supplier_division" -> q116SupplierDivision,
    "q117_frequent_triples" -> q117FrequentTriples,
    "q118_nation_reconciliation" -> q118NationReconciliation,
    "q142_order_count_distribution" -> q142CustomerOrderDistribution,
    "q143_small_qty_revenue" -> q143SmallQuantityRevenue,
    "q144_top_quarter_supplier" -> q144TopQuarterSupplier,
    "q145_sole_return_suppliers" -> q145SoleReturnSuppliers,
    "q146_churned_rich_customers" -> q146ChurnedRichCustomers,
    "q150_gap_fill_locf" -> q150GapFillLocf,
    "q151_returned_revenue_customers" -> q151ReturnedRevenueCustomers,
    "q152_bi_nation_trade" -> q152BiNationTrade,
    "q153_disjunctive_revenue" -> q153DisjunctiveRevenue,
    "q154_revenue_share_parts" -> q154RevenueShareParts,
    "q155_large_volume_orders" -> q155LargeVolumeOrders,
    "q156_priority_class_counts" -> q156PriorityClassCounts,
    "q157_table_digest" -> q157TableDigest,
    "q158_status_priority_agg" -> q158StatusPriorityAgg,
    "q159_cheapest_supplier" -> q159CheapestSupplier,
    "q160_k_anonymity_audit" -> q160KAnonymityAudit,
    "q161_join_cardinality_audit" -> q161JoinCardinalityAudit,
    "q162_pareto_frontier" -> q162ParetoFrontier,
    "q163_theil_sen_trend" -> q163TheilSenTrend,
    "q164_label_propagation" -> q164LabelPropagation,
    "q166_ks_statistic" -> q166KsStatistic,
    "q167_mann_whitney_u" -> q167MannWhitneyU,
    "q168_time_weighted_revenue" -> q168TimeWeightedRevenue,
    "q169_benford_audit" -> q169BenfordAudit,
    "q171_kll_sketch_merge" -> q171KllSketchMerge,
    "q176_inter_event_gaps" -> q176InterEventGaps,
    "q177_order_reconciliation" -> q177OrderReconciliation,
    "q178_rfm_segmentation" -> q178RfmSegmentation,
    "q179_touch_attribution" -> q179TouchAttribution,
    "q180_snapshot_diff" -> q180SnapshotDiff,
    "q181_dow_seasonality" -> q181DowSeasonality,
    "q182_discount_quantity_corr" -> q182DiscountQuantityCorr,
    "q183_mode_per_group" -> q183ModePerGroup,
    "q184_pps_sample" -> q184PpsSample,
    "q185_open_orders_per_day" -> q185OpenOrdersPerDay,
    "q186_holt_smoothing" -> q186HoltSmoothing,
    "q187_hierarchy_flatten" -> q187HierarchyFlatten,
    "q188_equidepth_histogram" -> q188EquiDepthHistogram,
    "q189_funnel_latency" -> q189FunnelLatency,
    "q190_shipping_priority" -> q190ShippingPriority,
    "q191_priority_checking" -> q191PriorityChecking,
    "q192_forecast_revenue" -> q192ForecastRevenue,
    "q193_market_share" -> q193MarketShare,
    "q194_nation_year_profit" -> q194NationYearProfit,
    "q195_promo_revenue" -> q195PromoRevenue,
    "q196_supplier_relationship" -> q196SupplierRelationship,
    "q197_part_promotion" -> q197PartPromotion,
    "q198_event_trigrams" -> q198EventTrigrams,
    "q199_cohort_ltv" -> q199CohortLtv,
    "q200_supplier_lead_time" -> q200SupplierLeadTime,
    "q201_hits_scores" -> q201HitsScores,
    "q202_cusum_changepoint" -> q202CusumChangepoint,
    "q203_forecast_accuracy" -> q203ForecastAccuracy,
    "q205_linear_interpolation" -> q205LinearInterpolation,
    "q206_ranking_metrics" -> q206RankingMetrics,
    "q207_recursive_closure" -> q207RecursiveClosure,
    "q209_grouping_sets" -> q209GroupingSets,
    "q210_hilbert_layout" -> q210HilbertLayout,
    "q211_rolling_ols" -> q211RollingOls,
    "q212_tukey_fences" -> q212TukeyFences,
    "q213_poisson_bootstrap" -> q213PoissonBootstrap,
    "q216_clamped_balance" -> q216ClampedBalance,
    "q217_simpsons_audit" -> q217SimpsonsAudit,
    "q218_cuped_stats" -> q218CupedStats,
    "q219_quantile_effect" -> q219QuantileEffect,
    "q220_survival_stats" -> q220SurvivalStats,
    "q221_seasonal_anomaly" -> q221SeasonalAnomaly,
    "q222_bfs_distances" -> q222BfsDistances,
    "q223_activity_histogram" -> q223ActivityHistogram,
    "q224_native_sessions" -> q224NativeSessions,
    "q225_trending_parts" -> q225TrendingParts,
    "q226_market_concentration" -> q226MarketConcentration,
    "q227_native_unpivot" -> q227NativeUnpivot,
    "q229_sla_compliance" -> q229SlaCompliance,
    "q235_lateral_topk" -> q235LateralTopk,
    "q236_variant_shred" -> q236VariantShred,
    "q241_half_life_trending" -> q241HalfLifeTrending,
    "q242_group_topk" -> q242GroupTopK,
    "q243_clustering_buckets" -> q243ClusteringBuckets,
    "q245_pit_features" -> q245PitFeatures,
    "q246_watermark_lag" -> q246WatermarkLag,
    "q249_dense_rank_ties" -> q249DenseRankTies,
    "q250_gini_relevance" -> q250GiniRelevance,
    "q251_sssp_weighted" -> q251SsspWeighted,
    "q252_modularity" -> q252Modularity,
    "q254_rank_fractions" -> q254RankFractions,
    "q255_jaro_winkler_match" -> q255JaroWinklerMatch,
    "q256_markov_attribution" -> q256MarkovAttribution,
    "q258_link_prediction" -> q258LinkPrediction,
    "q261_sequential_patterns" -> q261SequentialPatterns,
    "q262_damerau_scores" -> q262DamerauScores,
    "q264_rendezvous_sharding" -> q264RendezvousSharding,
    "q265_spearman_ranks" -> q265SpearmanRanks,
    "q266_mondrian_anon" -> q266MondrianAnon,
    "q267_interval_union" -> q267IntervalUnion,
    "q269_bradley_terry" -> q269BradleyTerry,
    "q270_dau_overlap" -> q270DauOverlap,
    "q271_fd_discovery" -> q271FdDiscovery,
    "q272_ind_discovery" -> q272IndDiscovery,
    "q273_shapley_attribution" -> q273ShapleyAttribution,
    "q275_consistent_ring" -> q275ConsistentRing,
    "q276_kendall_tau" -> q276KendallTau,
    "q277_cramer_von_mises" -> q277CramerVonMises,
    "q278_haar_synopsis" -> q278HaarSynopsis,
    "q279_count_min" -> q279CountMin,
    "q286_ams_f2" -> q286AmsF2,
    "q288_sax_symbols" -> q288SaxSymbols,
    "q289_permutation_test" -> q289PermutationTest,
    "q290_greedy_matching" -> q290GreedyMatching,
    "q294_katz_centrality" -> q294KatzCentrality,
    "q295_did_estimator" -> q295DidEstimator,
    "q298_bh_fdr" -> q298BhFdr,
    "q300_two_sweep_diameter" -> q300TwoSweepDiameter,
    "q302_sequential_poisson" -> q302SequentialPoisson,
    "q303_count_sketch" -> q303CountSketch,
    "q304_matrix_profile" -> q304MatrixProfile,
    "q309_cochran_armitage" -> q309CochranArmitage,
    "q310_mann_kendall" -> q310MannKendall,
    "q313_louvain_move" -> q313LouvainMove,
    "q314_wl_refinement" -> q314WlRefinement,
    "q315_fm_pcsa" -> q315FmPcsa,
    "q320_randomized_response" -> q320RandomizedResponse,
    "q316_linear_counting" -> q316LinearCounting,
    "q317_anf" -> q317Anf,
    "q291_butterfly_census" -> q291ButterflyCensus,
    "q281_page_hinkley" -> q281PageHinkley,
  ) ++ PipelineCatalog.all ++ graft.ml.MlCatalog.all

  /** Drop every session-keyed shared intermediate (persisted DFs,
    * trained models) so a repeated run re-pays the full compute.
    * `catalog.clearCache()` sweeps the CacheManager too — anonymous
    * `.cache()` calls inside query bodies (ALS ratings, eval splits)
    * would otherwise plan-match across bench reps and skip the read.
    */
  def clearCaches(s: org.apache.spark.sql.SparkSession): Unit = {
    KernelCache.clear(s)
    s.catalog.clearCache()
  }
}
