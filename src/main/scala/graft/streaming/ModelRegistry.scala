package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.ScoringStream.EventState

/** A broadcast-friendly linear scorer over the per-(user,item) counter
  * vector — the engine's stand-in for the reference's LightGBM binary
  * (`core-logic/run_consumer.py:216-232`): a weight per action counter
  * plus the derived total, squashed through a logistic.
  *
  * Two evaluation paths, guaranteed identical arithmetic:
  *  - [[score]] for driver/processor-side scalars (the stateful
  *    operator's per-event emit and the recommender's kernel), and
  *  - [[scoreCol]] as a Catalyst column expression over counter
  *    columns.
  * Either way the weights travel inside each batch's plan (literals,
  * or the kernel's closure) — the distributed-correct version of the
  * reference's global-variable model swap: executors never hold stale
  * state, and each batch scores with the weights it planned with.
  */
case class LinearModel(
    wClick: Double, wView: Double, wPurchase: Double,
    wSignup: Double, wError: Double, wTotal: Double, bias: Double) {

  /** The logistic over six counters as doubles: the one scalar form.
    * [[scoreCol]] runs the same operations in the same order, and
    * `StrictMath.exp` is what Catalyst's `exp` calls, so both paths agree
    * bit for bit.
    */
  def score(nClick: Double, nView: Double, nPurchase: Double,
      nSignup: Double, nError: Double, total: Double): Double = {
    val z = wClick * nClick + wView * nView + wPurchase * nPurchase +
      wSignup * nSignup + wError * nError + wTotal * total + bias
    1.0 / (1.0 + StrictMath.exp(-z))
  }

  def score(s: EventState): Double =
    score(s.nClick.toDouble, s.nView.toDouble, s.nPurchase.toDouble,
      s.nSignup.toDouble, s.nError.toDouble, s.total.toDouble)

  /** The same logistic over counter COLUMNS (any numeric type). */
  def scoreCol(nClick: Column, nView: Column, nPurchase: Column,
      nSignup: Column, nError: Column, total: Column): Column = {
    val z = lit(wClick) * nClick + lit(wView) * nView +
      lit(wPurchase) * nPurchase + lit(wSignup) * nSignup +
      lit(wError) * nError + lit(wTotal) * total + lit(bias)
    lit(1.0) / (lit(1.0) + exp(-z))
  }
}

object LinearModel {
  /** The fixed fallback weights the stream boots with before any
    * trained artifact lands in the registry.
    */
  val default: LinearModel =
    LinearModel(-0.1, -0.2, -0.5, -0.3, 0.4, 0.05, 0.0)
}

/** Model persistence + hot reload (ST4/ST7/M9).
  *
  * The reference trains LightGBM offline (`train_module.py`), writes
  * `lgb_model_binary.txt`, and the consumer mtime-polls + swaps it every
  * 10 s (`run_consumer.py:40-76`). Here the artifact is a one-row
  * parquet of weights; [[ModelWatcher]] is the mtime poll; the swap
  * point is foreachBatch (see [[Recommender.recommendSink]]) so
  * in-flight batches finish on the old model and the next batch plans
  * with the new weights — zero-downtime on a real cluster.
  */
object ModelRegistry {

  def write(spark: SparkSession, path: String, m: LinearModel): Unit = {
    import spark.implicits._
    Seq(m).toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  def read(spark: SparkSession, path: String): LinearModel = {
    import spark.implicits._
    spark.read.parquet(path).as[LinearModel].head()
  }

  /** M9/ST4: a genuinely TRAINED stream scorer. Fits a Spark-ML
    * logistic regression over per-user action counters from the events
    * fixture — label = "never purchased" (the fail-shaped outcome;
    * purchase count itself is excluded from the features to keep the
    * problem non-degenerate) — and exports the coefficients as the
    * [[LinearModel]] the stream scores with. The reference's
    * train-offline → export → consumer-scores-online loop
    * (`train_module.py:330-343` → `run_consumer.py:216-232`) with
    * parquet weights instead of a LightGBM file.
    */
  def trainFromEvents(spark: SparkSession, dir: String): LinearModel = {
    // session grain = (user, day): coarse enough to accumulate counters,
    // fine enough that both label classes occur at every fixture SF
    val counters = graft.Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumn("total",
        col("click") + col("view") + col("purchase") + col("signup") + col("error"))
      .withColumn("label", when(col("purchase") === 0, 1.0).otherwise(0.0))
    val feats = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("click", "view", "signup", "error", "total"))
      .setOutputCol("features")
      .transform(counters)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setStandardization(false)
      .fit(feats.select(col("label"), col("features")).cache())
    val c = lr.coefficients
    LinearModel(
      wClick = c(0), wView = c(1), wPurchase = 0.0,
      wSignup = c(2), wError = c(3), wTotal = c(4), bias = lr.intercept)
  }
}

/** ST7: the consumer's hot-reload poll. Driver-side only (foreachBatch
  * runs on the driver); checks the artifact's modification time through
  * the Hadoop FileSystem API (works for local paths AND object stores)
  * and swaps the current model when it advances. `@volatile` because
  * streaming query threads and the caller may race a read with a swap.
  */
final class ModelWatcher(spark: SparkSession, path: String,
    initial: LinearModel = LinearModel.default) {

  @volatile private var model: LinearModel = initial
  @volatile private var lastFingerprint: (Long, Long, Int) = (0L, 0L, 0)
  @volatile private var reloadCount: Int = 0

  def current: LinearModel = model
  def reloads: Int = reloadCount

  /** Check the artifact fingerprint (max mtime, total length, file
    * count — not mtime alone: a rewrite landing within the same
    * filesystem timestamp tick would be invisible to a strict
    * mtime comparison); reload + swap when it changes. Returns true
    * when a swap happened. Missing/unreadable artifacts keep the
    * current model (the reference's try/except keep-going semantics).
    */
  def poll(): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) false
      else {
        val st = fs.getFileStatus(p)
        val parts =
          if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
        val fp = (parts.map(_.getModificationTime).max,
          parts.map(_.getLen).sum, parts.length)
        if (fp != lastFingerprint) {
          model = ModelRegistry.read(spark, path)
          lastFingerprint = fp
          reloadCount += 1
          true
        } else false
      }
    } catch { case scala.util.control.NonFatal(_) => false }
}
