package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Pipeline
import graft.ml.MlCatalog
import graft.queries.Catalog

/** `retrain`: one pass of the reference's retrain DAG per op group —
  * freshness check, ingest (first-writer-wins upsert of the seeded
  * existing/incoming `orders` split, written to parquet), knowledge base,
  * ALS train + factor export + save/reload, GBT train + evaluation (m05),
  * registry append. Session caches are cleared before every pass, so each
  * pass retrains from scratch.
  *
  * Checks (after each measured pass, outside the timed stages): the
  * freshness count equals the events table; the upsert output equals `orders`;
  * kb_pairs/kb_popular/kb_profile hold 50/50/1 rows; the ALS factors are
  * non-empty; m05's AUC and logloss are within `M05Band` of the values
  * the generated tables give (`M05Auc`, `M05LogLoss`); the registry holds
  * one active `als` row. m05's metrics must also be identical in every
  * pass of the run, which only a traced run can fail: an untraced run
  * makes one pass.
  */
object Retrain {

  /** m05 on gen.py's tables, which do not depend on the seed (the label is
    * independent of the features, so the AUC sits near chance), measured
    * on local[4]; the band is docs/GBT_CONTRACT.md's, which absorbs the
    * split's dependence on the executor count.
    */
  val M05Auc = 0.508654
  val M05LogLoss = 0.641434
  val M05Band = 0.05

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val out = s"${c.work}/artifacts"
    val nEvents = Tables.events(spark, c.data).count()
    val orders = spark.read.parquet(s"${c.data}/orders.parquet")
    val nOrders = orders.count()
    val emptyRegistry = Seq.empty[(String, Long, Double)]
      .toDF("model_name", "created_at", "metric")
    var firstM05: Option[Row] = None

    def pass(i: Int, traced: Boolean, check: Boolean = true): Pass = {
      Catalog.clearCaches(spark)
      val ops = mutable.ArrayBuffer.empty[Op]
      var m05: Option[Row] = None
      val t = System.nanoTime()
      c.tr.span("pass") {
        val fresh = c.op(ops, "etl.freshness")(
          Pipeline.checkDataFreshness(Tables.events(spark, c.data)))
        c.check(ops, "etl.freshness", fresh.exists(_._1 == nEvents),
          s"freshness total ${fresh.map(_._1)} != $nEvents events")
        c.op(ops, "etl.ingest")(
          Pipeline.ingest(
            spark.read.parquet(s"${c.data}/orders_existing.parquet"),
            spark.read.parquet(s"${c.data}/orders_incoming.parquet"),
            Seq("o_orderkey"))
            .write.mode("overwrite").parquet(s"$out/orders"))
        c.op(ops, "etl.kb")(Pipeline.knowledgeBase(spark, c.data, out))
        c.op(ops, "ml.als")(Pipeline.trainAndExport(spark, c.data, out))
        m05 = c.op(ops, "ml.gbt")(
          MlCatalog.all("m05_gbt_eval").fn(spark, c.data).head())
        val auc = m05.map(_.getDouble(0)).getOrElse(Double.NaN)
        c.op(ops, "etl.registry")(
          Pipeline.registerRun(spark, emptyRegistry, out, "als", auc, i.toLong))
      }
      val wall = (System.nanoTime() - t) / 1e9
      if (firstM05.isEmpty) firstM05 = m05
      if (check) checkPass(ops, m05)
      val m05Extra = m05.map(r => Map("m05_auc" -> r.getDouble(0),
        "m05_logloss" -> r.getDouble(1))).getOrElse(Map.empty)
      Pass(i, traced, wall, ops.toSeq,
        Map("artifact_bytes" -> c.dirBytes(out).toDouble) ++ m05Extra)
    }

    /** Output checks, outside the timed stages. */
    def checkPass(ops: mutable.Buffer[Op], m05: Option[Row]): Unit = {
      val upserted = spark.read.parquet(s"$out/orders")
      c.check(ops, "etl.ingest",
        upserted.count() == nOrders && upserted.exceptAll(orders).isEmpty,
        "upsert output differs from orders")
      def rows(t: String): Long = spark.read.parquet(s"$out/$t").count()
      c.check(ops, "etl.kb",
        rows("kb_pairs") == 50 && rows("kb_popular") == 50 && rows("kb_profile") == 1,
        s"kb rows ${rows("kb_pairs")}/${rows("kb_popular")}/${rows("kb_profile")}, want 50/50/1")
      c.check(ops, "ml.als", rows("als_user_factors") > 0, "no ALS factors")
      c.check(ops, "ml.gbt",
        m05.exists(r => math.abs(r.getDouble(0) - M05Auc) <= M05Band &&
          math.abs(r.getDouble(1) - M05LogLoss) <= M05Band && firstM05.contains(r)),
        s"m05 $m05: AUC and logloss must be within $M05Band of " +
          s"($M05Auc, $M05LogLoss) and match the first pass $firstM05")
      val active = spark.read.parquet(s"$out/registry_active")
      c.check(ops, "etl.registry",
        active.count() == 1 && active.filter(col("model_name") === "als").count() == 1,
        "registry must hold exactly one active als row")
    }

    // untraced runs measure the first pass, cold, as a daily retrain
    // application runs: a warm-up pass would not fit the run budget. Traced
    // runs warm up twice: a JVM's second pass is still ~20% faster than its
    // first, and the traced/untraced pair should sit past that drop
    val warm = c.warmUp(0, 2)(pass(_, traced = false, check = false))
    val setupS = c.elapsedS
    Outcome(setupS, c.measure(warm.size)(pass(_, _)), warm)
  }
}
