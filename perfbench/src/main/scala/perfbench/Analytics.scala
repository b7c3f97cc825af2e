package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.queries.Catalog

/** One dashboard refresh: the reference dashboard's panel queries, then
  * the item-graph family with its shared-cache payer (q14) first, after
  * clearing the session caches. Each result is written to parquet under
  * `checkDir/<pass>/<query>`, with every query's DuckDB oracle SQL in
  * `checkDir/oracle_sql.json`, which run.py compares outside the timed
  * region.
  */
object Analytics {

  val panel: Seq[String] = Seq("q01_pricing_summary", "q03_event_type_counts",
    "q04_part_stats", "q05_customer_order_stats", "q08_success_profile",
    "q10_events_per_min", "q18_order_value_drift", "q21_recent_orders",
    "q29_monthly_orders", "q31_price_tiers", "q242_group_topk")

  val graph: Seq[String] = Seq("q14_part_pairs", "q85_pagerank",
    "q95_item_similarity", "q290_greedy_matching", "q294_katz_centrality",
    "q300_two_sweep_diameter")

  def refresh(c: Ctx, i: Int, traced: Boolean, checkDir: String): Pass = {
    val spark = c.spark
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.render(
      (panel ++ graph).flatMap(q => Catalog.all(q).oracle.map(q -> _)).toMap))
    Catalog.clearCaches(spark)
    val ops = mutable.ArrayBuffer.empty[Op]
    val t = System.nanoTime()
    var panelS = 0.0
    c.tr.span("refresh") {
      (panel ++ graph).foreach { q =>
        c.op(ops, q)(Catalog.all(q).fn(spark, c.data)
          .write.mode("overwrite").parquet(s"$checkDir/$i/$q"))
        if (q == panel.last) panelS = (System.nanoTime() - t) / 1e9
      }
    }
    val wall = (System.nanoTime() - t) / 1e9
    Pass(i, traced, wall, ops.toSeq,
      Map("dashboard_refresh_s" -> panelS, "graph_refresh_s" -> (wall - panelS)))
  }
}
