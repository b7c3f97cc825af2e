package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier,
  LogisticRegression}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.regression.IsotonicRegression
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.PrefixScan
import graft.queries.{KernelCache, QuerySpec}

/** The reference's ML operator surface (SURVEY.md §2.10) re-expressed on
  * `spark.ml`:
  *
  *  - M1 StringIndexer (reference `batch_als_train.py:127-143`)
  *  - M2-M5 ALS train / evaluate / factor export
  *    (`batch_als_train.py:154-248`): same estimator contract, ratings
  *    derived from the fixture fact table (customer × part purchase
  *    counts) instead of the Postgres interactions table.
  *  - M6 LabelEncoder parity: `stringOrderType="alphabetAsc"` matches
  *    sklearn's lexicographic ordering (`train_module.py:283-292`).
  *  - M7/M8 gradient-boosted binary classifier + AUC/logloss/accuracy
  *    (`train_module.py:313-369`; GBTClassifier stands in for LightGBM
  *    — same feature/label/metric contract).
  *  - M12 confusion matrix / ROC points as pure aggregations
  *    (`dashboard/app.py:1571-1635` simulates these; we compute real
  *    ones).
  *
  * Scale: ALS is the one genuinely iterative-distributed op — Spark's
  * implementation block-partitions both factor matrices and shuffles
  * per iteration; `coldStartStrategy="drop"` keeps evaluation defined.
  * Everything else is embarrassingly parallel scoring + small-key aggs.
  *
  * ALS/GBT trainings are seeded but their outputs still depend on
  * partitioning, so those queries carry no DuckDB oracle (driver falls
  * back to the rows-only check); the deterministic metric-shaped ops
  * (indexer mapping, confusion matrix, ROC) are fully oracle-checked.
  */
object MlCatalog {

  /** customer × part implicit ratings (purchase counts) from the fact
    * tables: the `interactions` analogue. One shuffle (groupBy).
    */
  private def ratings(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .agg(count(lit(1)).cast("float").as("rating"))
      .select(col("user").cast("int"), col("item").cast("int"), col("rating"))
  }

  /** One ALS model per (session, fixture dir) — Verify runs several ALS
    * queries back-to-back and must not retrain for each.
    */
  private val alsCache = KernelCache[String, ALSModel]("als_model")

  /** ALS estimator with the REFERENCE's hyperparameters as the default
    * contract (batch_als_train.py:154-165: rank 50, maxIter 10,
    * regParam 0.01, implicit prefs, nonnegative, coldStart drop,
    * seeded); callers may override rank/maxIter for fixture-sized
    * training runs.
    */
  def alsEstimator(rank: Int = 50, maxIter: Int = 10): ALS =
    new ALS()
      .setRank(rank).setMaxIter(maxIter).setRegParam(0.01)
      .setImplicitPrefs(true).setNonnegative(true)
      .setColdStartStrategy("drop")
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setSeed(42L)

  /** Partitions (or blocks) for `rows` input rows at `rowsPerPart`
    * each, at least one. The ML fits size their layout with it from
    * the input's row count, never from the core count: randomSplit
    * membership, the split-finding sample and ALS's blocking are all
    * partitioning-dependent, so a core-derived count would make the
    * model vary with the box rather than with the fixture.
    */
  private[graft] def parts(rows: Long, rowsPerPart: Long): Int =
    math.max(1L, (rows + rowsPerPart - 1) / rowsPerPart).toInt

  /** GBT input partitions for `rows` lineitem rows: sf0.1's 600,000
    * rows over the 16 partitions the round-14 sweep measured best
    * (see [[gbtData]]), so sf0.1 keeps 16 and smaller fixtures fewer.
    */
  private[graft] def gbtParts(rows: Long): Int = parts(rows, 37500L)

  /** ALS user and item blocks for `ratings` rating rows: sf0.1's
    * 599,351 ratings over Spark's default of 10 blocks, so sf0.1 keeps
    * 10 and smaller fixtures fewer. At fixture scale a block is a
    * per-iteration task whose fixed cost dwarfs its solve.
    */
  private[graft] def alsBlocks(ratings: Long): Int = parts(ratings, 60000L)

  /** The fixture-scaled ALS fit: rank 50→16, maxIter 10→5 (the sf≤0.1
    * ratings table is far below the reference's interaction volume),
    * blocked by [[alsBlocks]] from the full ratings table's row count.
    */
  private def alsFit(train: DataFrame, ratingRows: Long): ALSModel =
    alsEstimator(rank = 16, maxIter = 5).setNumBlocks(alsBlocks(ratingRows)).fit(train)

  private def alsModel(s: SparkSession, dir: String): ALSModel =
    alsCache(s, dir) {
      val r = ratings(s, dir).cache()
      try alsFit(r, r.count())
      finally r.unpersist() // fit is eager; only the model's factors live on
    }

  /** Runs `body`, then unpersists every RDD it left persisted — both
    * explicit `.cache()`s and estimator-internal persists (ALS final
    * factors, GBT node-id caches). The queries wrapped here return a
    * SMALL LOCAL result (a one-row metrics DF) that no longer references
    * the cached inputs, so dropping them is safe; without this, each
    * Verify/Bench pass leaked the training splits into executor memory
    * (at 100 TB that is real cache pressure, not hygiene).
    */
  private def scopedCaches[T](s: SparkSession)(body: => T): T = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val after = s.sparkContext.getPersistentRDDs
      (after.keySet -- before).foreach(id => after(id).unpersist(blocking = false))
    }
  }

  /** M5 factor export (batch_als_train.py:217-234): id + JSON-encoded
    * factor vector, the reference's exact sink shape (to_json of the
    * features array). Rows-only check: factor values are partitioning-
    * dependent.
    */
  val m01AlsUserFactors: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      alsModel(s, dir).userFactors
        .select(col("id").as("user_id"), to_json(col("features")).as("factors"))
        .orderBy(col("user_id")),
    oracle = None)

  /** M2/M9 batch recommendation: top-5 items per user via
    * `recommendForAllUsers` (the distributed top-k the streaming loop
    * approximates per-event). Rows-only check.
    */
  val m02AlsRecommendations: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      alsModel(s, dir).recommendForAllUsers(5)
        // JSON-encode the item list (same sink shape as m01): the
        // harness's rows-only check needs flat sortable scalars, and
        // the reference exports recommendation lists as JSON too
        .select(col("user").as("user_id"),
          to_json(expr("transform(recommendations, r -> r.item)")).as("items"))
        .orderBy(col("user_id")),
    oracle = None)

  /** M3/M4 train/test evaluation: randomSplit(0.8/0.2, seed 42) —
    * the reference's exact split contract (batch_als_train.py:151) —
    * then RMSE+MAE on both (batch_als_train.py:169-189). The model is
    * fit on the TRAIN split only (the cached full-data model would
    * contaminate the held-out metrics). One metrics row; rows-only
    * check.
    */
  val m03AlsEval: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      scopedCaches(s) {
        val r = ratings(s, dir)
        val Array(train, test) = r.randomSplit(Array(0.8, 0.2), seed = 42L)
        val model = alsFit(train.cache(), r.count())
        val trainPred = model.transform(train).cache()
        val testPred = model.transform(test).cache()
        def m(df: DataFrame, metric: String): Double =
          new RegressionEvaluator().setMetricName(metric)
            .setLabelCol("rating").setPredictionCol("prediction").evaluate(df)
        Seq((m(trainPred, "rmse"), m(trainPred, "mae"), m(testPred, "rmse"), m(testPred, "mae")))
          .toDF("train_rmse", "train_mae", "test_rmse", "test_mae")
      }
    },
    oracle = None)

  /** M1/M6 StringIndexer with alphabetAsc — sklearn LabelEncoder parity
    * (SURVEY.md §7.4 risk 2). Alphabetical ordering makes the mapping
    * deterministic and SQL-expressible: index = dense_rank - 1.
    */
  val m04StringIndexer: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val c = Tables.customer(s, dir)
      val idx = new StringIndexer().setInputCol("c_mktsegment")
        .setOutputCol("seg_idx").setStringOrderType("alphabetAsc")
        .fit(c)
      idx.transform(c)
        .select(col("c_mktsegment"), col("seg_idx").cast("long").as("seg_idx"))
        .distinct()
        .orderBy(col("seg_idx"))
    },
    oracle = Some("""
      SELECT c_mktsegment,
             dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS seg_idx
      FROM (SELECT DISTINCT c_mktsegment FROM customer) t
      ORDER BY seg_idx"""))

  /** M7/M8 gradient-boosted binary classifier: predict "returned"
    * (l_returnflag = 'R') from 5 numeric line-level features PLUS the
    * indexed part-brand categorical — the reference's per-item
    * categorical signal (train_module.py:313-338, `course_id_int`
    * categorical at :333); report AUC + logloss + accuracy@0.6 — the
    * reference's metric triple (train_module.py:345-369). Rows-only
    * check (tree ensembles are partitioning-sensitive); the ScalaTest
    * asserts AUC > 0.5 and categorical-AUC ≥ numeric-only-AUC.
    */
  val m05GbtEval: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      scopedCaches(s) {
        Seq(classifierMetrics(gbtScored(s, dir, categorical = true)))
          .toDF("valid_auc", "valid_logloss", "valid_accuracy_at_06")
      }
    },
    oracle = None,
    // rows-only timing line in the committed bench: the single most
    // expensive catalog entry (full GBT train per rep) must sit under
    // a committed envelope, not only in sweep snapshots
    headline = true)

  /** The return classifier's metric triple — AUC, logloss and
    * accuracy@0.6 (train_module.py:345-369) — over a scored frame's
    * `label`, `rawPrediction` and `probability` columns, from ONE pass
    * over the frame: a per-margin rollup of (g rows, pos positives).
    *
    * AUC: `BinaryClassificationEvaluator` is NOT reproducible within a
    * session: its curve runs through an RDD sortByKey whose
    * RangePartitioner samples boundaries with an rdd.id-derived seed,
    * so the numBins=1000 downsampling chunks AND the final FP reduction
    * grouping both shift between calls — MlSpec caught the AUC
    * wobbling by 1 ulp across two evaluations of the SAME cached scored
    * frame. This computes the identical
    * quantity — the exact trapezoidal ROC area with tie groups as
    * diagonal segments — via the midrank form of the Mann-Whitney U
    * statistic: AUC = (Σ_{positives} midrank − P(P+1)/2) / (P·N),
    * ranks ascending by the class-1 raw margin. Doubled midranks are
    * integers (a tie group of size g ending at ascending cumulative
    * count c has 2·midrank = 2c − g + 1), so the rank sum is
    * integer-exact and partition-order-independent; the one floating
    * division happens once on the driver. DECIMAL(38,0) for the rank
    * sum per the q109 headroom rule (Σ ≤ 2·P·n crosses 2^63 near
    * n ≈ 2×10⁹ validation rows). The cumulative count comes from the
    * shared [[graft.operators.PrefixScan]] distributed
    * prefix-sum (range-partition on the margin, local cumsum, offsets
    * behind a broadcast join) — no single-task sort of the score grid
    * ever forms, and because ranks of distinct values are chunking-
    * independent integers, the value is bit-identical no matter where
    * the range sampler drops its boundaries.
    *
    * Logloss and accuracy: GBT and logistic regression both map the
    * class-1 margin through a sigmoid, so p is constant within a margin
    * group, which adds pos·(−log p) + (g − pos)·(−log(1 − p)) to the
    * loss (p clamped like sklearn's log_loss eps) and pos (p ≥ 0.6) or
    * g − pos to the correct count. The loss terms sum as DECIMAL(38,18),
    * independent of the order the range sampler leaves the groups in (a
    * double sum is not, and MlSpec asserts `m1 == m2`). An empty frame
    * yields NaN for all three; a one-class frame NaN AUC.
    */
  private[graft] def classifierMetrics(scored: DataFrame): (Double, Double, Double) = {
    val margin = element_at(vector_to_array(col("rawPrediction")), 2)
    val perScore = scored
      .groupBy(margin.as("margin"))
      .agg(count(lit(1)).as("g"), sum(col("label")).cast("long").as("pos"),
        max(classOneP).as("p"))
    val ranked = PrefixScan.runningSums(perScore, Seq("margin"), "c" -> col("g"))
    val eps = 1e-15
    def nll(q: Column): Column = -log(greatest(least(q, lit(1 - eps)), lit(eps)))
    val neg = col("g") - col("pos")
    val r = ranked.agg(
      sum(col("pos").cast(DecimalType(38, 0)) *
        (col("c") * 2 - col("g") + 1)).as("rank2"),
      sum(col("pos")).as("p"), sum(col("g")).as("n"),
      sum((col("pos") * nll(col("p")) + neg * nll(lit(1.0) - col("p")))
        .cast(DecimalType(38, 18))).as("loss"),
      sum(when(col("p") >= 0.6, col("pos")).otherwise(neg)).as("correct")).head()
    // an empty frame sums to NULL everywhere, the rank sum included
    if (r.isNullAt(2) || r.getLong(2) == 0) (Double.NaN, Double.NaN, Double.NaN)
    else {
      val p = r.getLong(1).toDouble
      val n = r.getLong(2).toDouble
      val auc =
        if (p == 0 || n - p == 0) Double.NaN
        else (r.getDecimal(0).doubleValue() / 2.0 - p * (p + 1) / 2.0) / (p * (n - p))
      (auc, r.getDecimal(3).doubleValue() / n, r.getLong(4).toDouble / n)
    }
  }

  /** Scored validation frame (label, rawPrediction, p) behind m05's
    * metrics and m11's calibration bins — train/score once, derive
    * both views. Session-memoized: the returned frame's LINEAGE holds
    * the FITTED model (fitting is driver-side and never re-runs), so
    * even after scopedCaches unpersists the `.cache()`, a re-derivation
    * only re-SCORES (map-only) — without the memo, m11 retrained the
    * whole GBT a second time (measured 43 s vs 13 s in the full-catalog
    * bench).
    */
  private val gbtScoredCache = KernelCache[(String, Boolean), DataFrame]("gbt_model")

  private[graft] def gbtScored(s: SparkSession, dir: String,
      categorical: Boolean): DataFrame =
    gbtScoredCache(s, (dir, categorical))(gbtScoredBuild(s, dir, categorical))

  /** The return classifier's feature columns in assembler order
    * (docs/GBT_CONTRACT.md); m22 names each permuted slot from it.
    */
  private[graft] val returnFeatureCols: Seq[String] = Seq("l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_linenumber", "brand_idx")

  /** The return classifier's feature contract over the caller's
    * lineitem frame: `label` (l_returnflag = 'R'), the part brand
    * reached through the q12-style broadcast lineitem ⟕ part join and
    * StringIndexer'd with alphabetAsc (M6 parity), and the `features`
    * vector over [[returnFeatureCols]], without `brand_idx` unless
    * `categorical`. The brand is the reference's categorical item
    * feature (train_module.py:313-338 trains LightGBM with
    * `course_id_int` categorical at :333) — a genuine per-item signal
    * next to the 5 numeric line-level features. GBTClassifier has no
    * native categorical channel, so the indexed value enters the
    * assembler as an ordinal split feature, the standard spark.ml
    * encoding for low-cardinality categoricals.
    */
  private[graft] def returnFeatures(dir: String, li: DataFrame,
      categorical: Boolean): DataFrame = {
    val withBrand = li
      .withColumn("label", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
      .join(broadcast(Tables.part(li.sparkSession, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val indexed = new StringIndexer().setInputCol("p_brand")
      .setOutputCol("brand_idx").setStringOrderType("alphabetAsc")
      .fit(withBrand).transform(withBrand)
    new VectorAssembler()
      .setInputCols(returnFeatureCols.filter(categorical || _ != "brand_idx").toArray)
      .setOutputCol("features")
      .transform(indexed)
  }

  /** The return classifier's estimator, pinned by docs/GBT_CONTRACT.md.
    * Measured dead end: `setCacheNodeIds(true)` fits the same model
    * bits, but `ml.gbt` ran 1.0–1.4 s slower cold in each of 3 retrain
    * A/B pairs.
    */
  private def returnGbt: GBTClassifier =
    new GBTClassifier()
      .setMaxIter(10).setMaxDepth(4).setStepSize(0.05).setSeed(42L)

  /** Class-1 probability of a scored frame's `probability` vector. */
  private val classOneP: Column = element_at(vector_to_array(col("probability")), 2)

  /** Featurized (train, valid) split shared by m05's model and scored
    * frame, m13's learning curve and m22's permutations, session-
    * memoized in the `gbt_model` family: before the memo every m05
    * featurized twice (model, then scored frame), fitting the brand
    * StringIndexer twice. The memo holds the two lazy frames only and
    * persists nothing; the fitted indexer is part of their plan.
    */
  private val gbtDataCache =
    KernelCache[(String, Boolean), (DataFrame, DataFrame)]("gbt_model")

  private[graft] def gbtData(s: SparkSession, dir: String,
      categorical: Boolean): (DataFrame, DataFrame) =
    gbtDataCache(s, (dir, categorical)) {
      // Round-14 (guide §1/§2.6): the whole GBT pipeline inherited the
      // parquet scan's 3 splits — profiled at sf0.1, the two featurize-
      // materialization jobs ran 3 tasks and all 40 boosting level-jobs
      // 6 tasks on a 32-core box (18.5 s wall, 15.7 s sum-of-jobs). A
      // round-robin repartition right after the scan parallelizes
      // featurization, split finding, every stats pass and the
      // evaluator sort. The level-pass cost is stats-array-bound, not
      // row-bound, so parallelism is non-monotone — sf0.1 wall seconds
      // 8→19.6, 16→10.9-12.2 (×3 runs), 24→15.3, 32→33, 64→23 (each
      // task allocates the full (node,feature,bin) DTStatsAggregator
      // and treeAggregate pays the merge fan-in). The count is
      // [[gbtParts]] of the lineitem rows (one count job): 16 at sf0.1,
      // as that sweep measured, and 2 at sf0.01 and on the retrain
      // benchmark's data, where a fixed 16 ran every boosting level as
      // 16 tasks of about 3k rows and a cold pass spent 5.4 s
      // deserializing tasks beside 8.3 s running them. Never
      // defaultParallelism: see [[parts]].
      //
      // Layout history of the sf0.001 AUC (docs/GBT_CONTRACT.md):
      // 0.528431 is the one-partition layout (the scan's own before
      // round 14, and this rule's since), 0.512286 the fixed 16-way
      // layout of rounds 14-15. Round 15 also tried persisting the
      // featurized pre-split frame and read the same pair (isolated
      // 0.5284, full suite 0.5123); re-run isolated after round 15 it
      // read 0.512286 with and without the persist, so the layout is
      // the one cause of that pair, not the persist. The persist was
      // reverted for a 1.04× bench delta that did not pay for a cached
      // model input; the DF-level train cache in [[gbtModel]] stays the
      // only cache.
      val li = Tables.lineitem(s, dir)
      val feats = returnFeatures(dir, li.repartition(gbtParts(li.count())), categorical)
      val Array(train, valid) = feats
        .select("label", "features").randomSplit(Array(0.8, 0.2), seed = 42L)
      (train, valid)
    }

  /** The FITTED m05 model itself, session-memoized — m22's permutation
    * importance must re-SCORE six perturbed validation frames with the
    * SAME model, which the scored-frame memo alone can't serve.
    */
  private val gbtModelCache =
    KernelCache[(String, Boolean), GBTClassificationModel]("gbt_model")

  private[graft] def gbtModel(s: SparkSession, dir: String,
      categorical: Boolean): GBTClassificationModel =
    gbtModelCache(s, (dir, categorical)) {
      val (train, _) = gbtData(s, dir, categorical)
      // unpersisted through the Dataset API once the eager fit is done:
      // the memoized frame is re-read by m13, whose own cache must not
      // find a stale entry for the same plan
      val tc = train.cache()
      try returnGbt.fit(tc)
      finally tc.unpersist()
    }

  private def gbtScoredBuild(s: SparkSession, dir: String,
      categorical: Boolean): DataFrame = {
    val (_, valid) = gbtData(s, dir, categorical)
    gbtModel(s, dir, categorical).transform(valid)
      .withColumn("p", classOneP)
      .cache()
  }

  /** Reliability-diagram sufficient statistics (calibration bins) for
    * the m05 GBT: validation predictions bucketed into 10 equal-width
    * probability bins, each emitting (n, n_pos, mean_p, frac_pos) —
    * the dashboard's calibration-curve feed and the input to a Platt/
    * isotonic recalibration step. Rows-only (model floats are not
    * DuckDB-replayable — same allowlist class as m05); MlSpec pins
    * the integer invariants (bins partition the validation set,
    * n_pos ≤ n, determinism under the fixed seed). Scale: scoring is
    * map-only; the bin rollup is a ≤10-key aggregation — map-side
    * combine flattens any validation volume.
    */
  val m11CalibrationBins: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      scopedCaches(s) {
        gbtScored(s, dir, categorical = true)
          .withColumn("bin", least(floor(col("p") * 10), lit(9.0)).cast("long"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(col("label")).cast("long").as("n_pos"),
            round(avg(col("p")), 6).as("mean_p"),
            round(avg(col("label")), 6).as("frac_pos"))
          .orderBy(col("bin"))
      },
    oracle = None)

  /** Isotonic (pool-adjacent-violators) recalibration of the m05 GBT
    * probabilities — the step beyond m11's reliability DIAGNOSIS: fit
    * the monotone step function g minimizing Σ(label − g(p))² over
    * the validation scores (`spark.ml.regression.IsotonicRegression`,
    * whose fit is the distributed parallel-PAV of Kearsley et al. —
    * per-partition PAV then a merge pass, so the fit scales out
    * instead of collecting scores to the driver). Emits the fitted
    * calibration map itself: one row per knot,
    * (knot, boundary = raw score, calibrated = g(boundary)) — the
    * artifact a serving layer ships beside the model. Rows-only by
    * the model-float allowlist class (m05's GBT scores underneath);
    * IsotonicSpec pins the semantics instead: a hand-computed PAV
    * pooling case, non-decreasing calibrated values across knots, and
    * the optimality invariant that the isotonic fit's Brier score on
    * the fit data is ≤ the raw model's (identity is in the feasible
    * set, so the argmin can never lose to it). Scale: scoring is
    * map-only over the validation set; the PAV fit shuffles once on
    * the score sort key; the emitted knot table is bounded by the
    * number of distinct pooled levels, not rows.
    */
  val m17IsotonicCalibration: QuerySpec = QuerySpec(
    fn = (s, dir) => scopedCaches(s) {
      import s.implicits._
      val scored = gbtScored(s, dir, categorical = true)
      val model = new IsotonicRegression()
        .setFeaturesCol("p").setLabelCol("label").setIsotonic(true)
        .fit(scored.select(col("label"), col("p")))
      model.boundaries.toArray.zip(model.predictions.toArray).zipWithIndex
        .map { case ((b, pr), i) => (i.toLong, b, pr) }
        .toSeq.toDF("knot", "boundary", "calibrated")
        .orderBy(col("knot"))
    },
    oracle = None)

  /** Misra–Gries heavy hitters over the document token stream — the
    * deterministic-guarantee frequent-items summary
    * ([[graft.functions.MisraGries]]: ≤ 32 live counters, mergeable
    * per Agarwal et al. 2012, undercount bounded by n/(k+1)) audited
    * beside the exact counts it approximates. Natural-text token
    * frequencies are Zipfian, so the head words sit far above the
    * n/(k+1) survival threshold at every fixture SF — the summary is
    * never empty. Emits one row per surviving counter with the exact
    * count, the stream length, and the bound verdict; `within_bound`
    * is true by THEOREM, re-checked here per row (and property-tested
    * against adversarial streams in MisraGriesSpec). Counter values
    * depend on partition merge order → rows-only m* class (the sketch
    * rule); the guarantee, not the values, is the contract. Scale:
    * one map-side pass with k-bounded state per task, a counters-only
    * exchange, and an exact-count join over only the ≤ k survivors —
    * the fact table is scanned twice but never shuffled whole (the
    * exact side shuffles ≤ |vocab| rollup rows; drop it at 100 TB
    * and the sketch alone costs one scan + k rows of traffic).
    */
  val m18MisraGries: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("tok"),
          graft.functions.VectorExpressions.polyHash(col("tok")).as("item"))
      val k = 32
      val mg = toks
        .agg(graft.functions.MisraGries.agg(col("item"), k).as("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("mg_cnt"))
      val exact = toks.groupBy(col("item"))
        .agg(count(lit(1)).as("exact_cnt"), min(col("tok")).as("token"))
      val n = toks.agg(count(lit(1)).as("n"))
      mg.join(exact, "item")
        .crossJoin(broadcast(n))
        .select(col("token"), col("item"), col("mg_cnt"), col("exact_cnt"),
          col("n"), lit(k.toLong).as("k"),
          (col("mg_cnt") <= col("exact_cnt") &&
            col("exact_cnt") - col("mg_cnt") <= col("n") / lit(k + 1))
            .as("within_bound"))
        .orderBy(col("exact_cnt").desc, col("item"))
    },
    oracle = None)

  /** Learning curve — validation AUC at 25/50/100% of the training
    * set (nested prefixes, so each budget strictly contains the
    * smaller one): the "do we need more data" ML-ops readout that
    * decides between labeling spend and model work (a flat curve says
    * the model is capacity- or feature-bound, a climbing one says
    * data-bound). Same features/params/seed as m05, so the 100% point
    * is m05's model retrained. Rows-only like every model-float entry
    * (m* allowlist class); MlSpec band-asserts shape + determinism of
    * the integer columns. Scale: 3 fits over nested samples — fitting
    * cost is the m05 profile ×, at most, 1.75.
    */
  private[graft] def learningCurve(s: SparkSession,
      dir: String): Seq[(Long, Long, Double)] = scopedCaches(s) {
    val (train, valid) = gbtData(s, dir, categorical = true)
    val Array(p25, p25b, p50) =
      train.randomSplit(Array(0.25, 0.25, 0.5), seed = 7L)
    val vc = valid.cache()
    Seq(25L -> p25, 50L -> p25.unionByName(p25b), 100L -> train).map {
      case (pct, t) =>
        val tc = t.cache()
        val (auc, _, _) = classifierMetrics(returnGbt.fit(tc).transform(vc))
        (pct, tc.count(), auc)
    }
  }

  val m13LearningCurve: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      learningCurve(s, dir).toDF("train_frac_pct", "n_train", "valid_auc")
    },
    oracle = None)

  /** K-FOLD CROSS-VALIDATION (k=5) — the variance readout a single
    * m05-style holdout can't give: per-fold validation AUC over
    * DETERMINISTIC arithmetic folds (fold = (7·orderkey + linenumber)
    * mod 5 — the q122 RNG-free rule, so folds are disjoint, covering,
    * and identical across runs/engines/partitionings, unlike
    * randomSplit, whose assignment is partition-dependent). Estimator
    * is logistic regression over m05's exact feature set — fast enough
    * for 5 fits, and it puts the BATCH LR surface next to the
    * streaming one (ModelRegistry trains the same family per
    * microbatch). Rows-only (model floats, the m* class); MlSpec
    * asserts fold disjointness/coverage via the integer columns and a
    * sane AUC band. Scale: 5 fits over 4/5 slices each — feature
    * assembly is one pass, fold filters are map-side.
    */
  private[graft] def crossValidation(s: SparkSession,
      dir: String): Seq[(Long, Long, Long, Double)] = scopedCaches(s) {
    val all = foldedFeatures(s, dir).cache()
    (0 until 5).map { f =>
      val train = all.filter(col("fold") =!= f)
      val valid = all.filter(col("fold") === f)
      val (auc, _, _) = classifierMetrics(foldLr.fit(train).transform(valid))
      (f.toLong, train.count(), valid.count(), auc)
    }
  }

  /** m14/m19's features over the folds (7·orderkey + linenumber) mod 5. */
  private[graft] def foldedFeatures(s: SparkSession, dir: String): DataFrame =
    returnFeatures(dir, Tables.lineitem(s, dir).withColumn("fold",
      pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(5)).cast("int")),
      categorical = true)
      .select("fold", "label", "features")

  /** m14/m19's estimator: the streaming scorer's logistic regression. */
  private[graft] def foldLr: LogisticRegression =
    new LogisticRegression().setMaxIter(20).setRegParam(0.01)

  /** SPLIT-CONFORMAL prediction sets (Vovk et al. 2005; Papadopoulos
    * et al. 2002 inductive form) over the lineitem return classifier —
    * the distribution-free finite-sample coverage guarantee no
    * recalibration (m11/m17) gives: with calibration nonconformity
    * scores s_i = 1 − p̂(y_i|x_i) and q̂ = the ⌈(n+1)(1−α)⌉-th
    * smallest s_i, the set {y : 1 − p̂(y|x) ≤ q̂} contains the true
    * label with probability ≥ 1−α for ANY score function — the
    * guarantee comes from exchangeability alone. Folds are the m14
    * arithmetic split ((7·orderkey+linenumber) mod 5 — q122 RNG-free
    * rule): 0-2 train the m14-family logistic regression, fold 3
    * calibrates, fold 4 measures empirical coverage. Emits one row
    * per α ∈ {0.1, 0.2}: n_cal, the exact-order-statistic q̂, and the
    * test-fold audit (covered / singleton / both / empty set counts)
    * — binary labels make |set| ∈ {0,1,2} the full selective-
    * classification readout (singletons are confident decisions,
    * "both" rows are abstentions, empties are distribution-shift
    * alarms). Rows-only m* class (model floats); ConformalSpec pins
    * q̂ against a locally recomputed order statistic, the ≥ 1−α−slack
    * empirical coverage, the set-size partition, and determinism.
    * Scale: one LR fit, two map-only scoring passes, the order
    * statistic via TakeOrdered over the calibration fold (k rows
    * cross the driver, never the fold), and a test-fold rollup to 4
    * counters — nothing fact-sized shuffles.
    */
  private[graft] def conformal(s: SparkSession, dir: String)
      : Seq[(Long, Long, Double, Long, Long, Long, Long, Long)] = scopedCaches(s) {
    val all = foldedFeatures(s, dir).cache()
    val model = foldLr.fit(all.filter(col("fold") <= 2))
    // nonconformity of the TRUE label: 1 − p̂(y|x)
    val cal = model.transform(all.filter(col("fold") === 3))
      .select(when(col("label") === 1.0, lit(1.0) - classOneP).otherwise(classOneP)
        .as("s"))
      .cache()
    val test = model.transform(all.filter(col("fold") === 4))
      .select(col("label"), classOneP.as("p")).cache()
    val nCal = cal.count()
    Seq(0.10, 0.20).map { alpha =>
      val rank = math.ceil((nCal + 1) * (1.0 - alpha)).toLong
      val qhat =
        if (rank > nCal) 1.0 // degenerate: every candidate label included
        else cal.orderBy(col("s")).limit(rank.toInt)
          .agg(max(col("s"))).head().getDouble(0)
      val in1 = lit(1.0) - col("p") <= qhat
      val in0 = col("p") <= qhat
      val r = test.agg(
        count(lit(1)).as("n_test"),
        sum(when(col("label") === 1.0, in1.cast("long"))
          .otherwise(in0.cast("long"))).as("covered"),
        sum((in1 && in0).cast("long")).as("both"),
        sum((!in1 && !in0).cast("long")).as("empty")).head()
      val nTest = r.getLong(0)
      val both = r.getLong(2); val empty = r.getLong(3)
      ((alpha * 100).round, nCal, qhat, nTest, r.getLong(1),
        nTest - both - empty, both, empty)
    }
  }

  val m19ConformalSets: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      conformal(s, dir).toDF("alpha_pct", "n_cal", "qhat", "n_test",
        "covered", "singleton", "both", "empty")
    },
    oracle = None)

  /** PCA explained-variance curve over the embedding table — the
    * dimensionality audit COMPLEMENTING q238's Matryoshka truncation
    * audit: q238 measures what PREFIX truncation of the stored vectors
    * costs on neighbor structure; this measures what an OPTIMAL linear
    * re-basis could capture at each rank, so the gap between the two
    * curves is exactly the headroom a Matryoshka re-training would buy
    * the index. Fits `spark.ml.feature.PCA` (k = 16 of dim 64) and
    * emits (component, explained_var, cum_var) with the cumulative sum
    * folded on the DRIVER over the k-row spectrum (no window over a
    * local relation). Rows-only by the sketch rule — eigenvalues of a
    * float covariance are not cross-engine-replayable arithmetic;
    * MlSpec pins determinism across refits, the non-increasing
    * spectrum, and the cum ≤ 1 invariant. Scale: covariance
    * accumulation is one treeAggregate over d×d partial Grams (d=64 →
    * 4 KB per task); the eigendecomposition is driver-side on the d×d
    * matrix — independent of row count, the classic tall-skinny shape.
    */
  /** ZCA WHITENING audit over the embedding table (Bell & Sejnowski
    * 1997; applied to sentence embeddings by Su et al. 2021,
    * "Whitening Sentence Representations") — the geometry
    * intervention m15's variance curve only diagnoses: anisotropic
    * embedding spaces concentrate cosine mass in a few directions, and
    * whitening x ↦ U·diag(1/√λ)·Uᵀ·(x−μ) maps the sample covariance
    * to the IDENTITY (the defining invariant, spec-pinned: Σ_w ≈ I
    * after the transform). Whether that HELPS retrieval is an
    * empirical question — whitening equalizes between-class directions
    * too — so the entry emits the measurement rather than asserting a
    * direction: label-consistency@10 (fraction of each vector's 10
    * cosine nearest neighbors sharing its label) for the RAW and the
    * WHITENED space side by side, as integer sufficient statistics.
    * Distributed shape: the d×d covariance is one treeAggregate
    * (RowMatrix.computeCovariance — the m15 tall-skinny pattern), the
    * 64×64 eigendecomposition is driver-side (breeze eigSym,
    * row-count-independent), the transform is a broadcast
    * matrix-vector map, and both kNN passes ride the adaptive
    * multi-probe hyperplane-LSH candidate cut (round 10; each space
    * indexes its OWN geometry — whitening moves the hyperplane
    * margins, so the raw-space buckets are rebuilt on the whitened
    * vectors). The all-pairs cross join survives only as
    * [[whiteningAuditExact]], the fixture-only recall oracle
    * WhiteningSpec floors the cut against. Rows-only m* class
    * (eigenvectors are float); WhiteningSpec pins Σ_w ≈ I, mean ≈ 0,
    * and refit determinism.
    */
  private def embeddingBase(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label").cast("long"))
      .localCheckpoint(true)

  /** The ZCA transform alone — exposed so WhiteningSpec can verify the
    * defining Σ_w ≈ I / mean ≈ 0 invariants on the output frame.
    */
  private[graft] def whitenedEmbeddings(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val base = embeddingBase(s, dir)
    val rdd = base.select(col("embedding")).rdd
      .map(r => OldVectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray))
    val rm = new RowMatrix(rdd)
    val d = rm.numCols().toInt
    val mean = rm.computeColumnSummaryStatistics().mean.toArray
    // mllib Matrix.toArray is column-major, as is breeze's constructor
    // (and the covariance is symmetric anyway)
    val cov = new breeze.linalg.DenseMatrix(
      d, d, rm.computeCovariance().toArray)
    val es = breeze.linalg.eigSym(cov)
    val w = {
      val u = es.eigenvectors
      val scale = es.eigenvalues.map(l => 1.0 / math.sqrt(math.max(l, 1e-9)))
      u * breeze.linalg.diag(scale) * u.t
    }
    val wRows = Array.tabulate(d, d)((i, j) => w(i, j))
    val bcW = s.sparkContext.broadcast((wRows, mean))
    import s.implicits._
    base.map { r =>
      val x = r.getSeq[Float](1).toArray
      val (m, mu) = (bcW.value._1, bcW.value._2)
      val y = Array.tabulate(x.length)(i => {
        var acc = 0.0
        var j = 0
        while (j < x.length) { acc += m(i)(j) * (x(j) - mu(j)); j += 1 }
        acc.toFloat
      })
      (r.getLong(0), y, r.getLong(2))
    }.toDF("vec_id", "embedding", "label")
  }

  /** cos-scored top-10 label-consistency rollup over a given candidate
    * pair set (a_id, b_id). The pair SOURCE is the only thing the two
    * audit forms disagree on.
    */
  private def consistencyOver(df: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val a = df.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("label").as("la"))
    val b = df.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("label").as("lb"))
    val dot = graft.functions.VectorExpressions.dotF(col("ea"), col("eb"))
    val na = graft.functions.VectorExpressions.normF(col("ea"))
    val nb = graft.functions.VectorExpressions.normF(col("eb"))
    val scored = cand.join(a, "a_id").join(b, "b_id")
      .withColumn("cos", dot / (na * nb))
    val top = graft.plans.GroupTopK.topKPerKey(scored,
      Seq(col("a_id")), Seq(col("cos").desc, col("b_id")), 10)
    val r = top.agg(count(lit(1)),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** PRODUCTION form: both consistency passes ride the adaptive
    * multi-probe hyperplane-LSH candidate cut (each space gets its own
    * index — whitening changes the geometry), so no data-sized cross
    * join exists in m20's plan (the q165/q204 recomposition, extended
    * here in round 10). The brute-force form below stays as the
    * fixture-only recall oracle WhiteningSpec compares against.
    */
  private[graft] def whiteningAudit(s: SparkSession,
      dir: String): Seq[(String, Long, Long, Long, Long)] = {
    val base = embeddingBase(s, dir)
    val whitened = whitenedEmbeddings(s, dir).localCheckpoint(true)
    def cut(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      consistencyOver(df, graft.queries.PipelineCatalog.annCandidatesOf(df))
    val (pr, mr) = cut(base)
    val (pw, mw) = cut(whitened)
    val n = base.count()
    Seq(("raw", n, 10L, mr, pr), ("zca", n, 10L, mw, pw))
  }

  /** Fixture-only RECALL ORACLE (all-pairs cross join) — never benched,
    * never in the catalog; WhiteningSpec floors the cut form against it.
    */
  private[graft] def whiteningAuditExact(s: SparkSession,
      dir: String): Seq[(String, Long, Long, Long, Long)] = {
    val base = embeddingBase(s, dir)
    val whitened = whitenedEmbeddings(s, dir).localCheckpoint(true)
    def exact(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val allPairs = df.select(col("vec_id").as("a_id"))
        .crossJoin(df.select(col("vec_id").as("b_id")))
        .filter(col("a_id") =!= col("b_id"))
      consistencyOver(df, allPairs)
    }
    val (pr, mr) = exact(base)
    val (pw, mw) = exact(whitened)
    val n = base.count()
    Seq(("raw", n, 10L, mr, pr), ("zca", n, 10L, mw, pw))
  }

  val m20WhiteningAudit: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      whiteningAudit(s, dir)
        .toDF("space", "n_vectors", "k", "label_matches", "pairs")
    },
    oracle = None)

  val m15PcaVariance: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.feature.PCA
      import org.apache.spark.ml.functions.array_to_vector
      val e = Tables.embeddings(s, dir)
        .select(array_to_vector(col("embedding")).as("features"))
      val model = new PCA().setInputCol("features").setOutputCol("pc")
        .setK(16).fit(e)
      val ev = model.explainedVariance.toArray
      val cum = ev.scanLeft(0.0)(_ + _).tail
      ev.zip(cum).zipWithIndex
        .map { case ((v, c), i) => (i.toLong + 1L, v, c) }
        .toSeq.toDF("component", "explained_var", "cum_var")
    },
    oracle = None)

  /** PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) — the MEMORY half of
    * the ANN scaling story the family was missing: q40/q204 cut
    * candidate COUNT, m09-IVF cuts probe count, but at 100 TB the raw
    * float vectors themselves don't fit — PQ stores each 64-dim float
    * vector (256 B) as M=8 sub-codes into per-subspace codebooks of
    * K=16 seeded-KMeans centroids (4-bit codes: 4 B bit-packed /
    * 8 B byte-aligned per 256 B vector — 64×/32×), and scoring
    * uses the asymmetric-distance (ADC) trick: per probe ONE 8×16
    * lookup table of exact sub-distances, every candidate then costs 8
    * table adds — no float vector is touched during the scan. The ADC
    * pass keeps a 50-candidate shortlist per probe and an EXACT L2
    * re-rank runs on the survivors only (the production PQ shape:
    * floats for 50 rows per probe, codes for the corpus); both cuts
    * run through the custom [[graft.plans.GroupTopK]] operator
    * (bounded heaps — the exact shape a 100 TB re-rank needs), and
    * recall@10 is measured against the per-probe exact L2 top-10 over
    * the full corpus. Emits one row
    * per probe (probe_id, n_hits of 10, adc candidate count); MlSpec
    * pins the recall floor, the 32× code-size arithmetic, and encode
    * determinism. Rows-only by the sketch rule (float KMeans).
    * Scale: codebooks are 8·16·8 floats (broadcast); codes table is
    * 8 B/vector; ADC scan is embarrassingly parallel over candidates.
    */
  val m16PqAnn: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val M = 8; val K = 16; val sub = 8
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")).cache()
      // per-subspace codebooks: seeded KMeans over the 8-dim slices
      val books: Array[Array[Array[Double]]] = (0 until M).map { m =>
        val slices = e.select(array_to_vector(
          slice(col("embedding"), m * sub + 1, sub)).as("features"))
        new KMeans().setK(K).setSeed(42L + m).setMaxIter(10)
          .fit(slices).clusterCenters.map(_.toArray)
      }.toArray
      val bBooks = s.sparkContext.broadcast(books)
      // encode: nearest sub-centroid per subspace → 8 small codes
      val encode = udf { (v: Seq[Float]) =>
        val bk = bBooks.value
        (0 until M).map { m =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < K) {
            var d = 0.0; var j = 0
            while (j < sub) {
              val diff = v(m * sub + j) - bk(m)(c)(j); d += diff * diff; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
      }
      val codes = e.select(col("vec_id").as("b_id"),
        encode(col("embedding")).as("codes"))
      // probes: the 50 smallest vec_ids; per probe the exact 8×16 ADC
      // lookup table of sub-distances to every centroid
      val lutUdf = udf { (v: Seq[Float]) =>
        val bk = bBooks.value
        val out = new Array[Double](M * K)
        var m = 0
        while (m < M) {
          var c = 0
          while (c < K) {
            var d = 0.0; var j = 0
            while (j < sub) {
              val diff = v(m * sub + j) - bk(m)(c)(j); d += diff * diff; j += 1
            }
            out(m * K + c) = d; c += 1
          }
          m += 1
        }
        out.toSeq
      }
      val probes = e.orderBy(col("vec_id")).limit(50)
        .select(col("vec_id").as("p_id"), col("embedding").as("pe"))
        .withColumn("lut", lutUdf(col("pe")))
      // ADC score every candidate, top-10 per probe via GroupTopK
      val adc = codes.crossJoin(broadcast(probes.select(col("p_id"), col("lut"))))
        .withColumn("adist", expr(
          s"aggregate(sequence(0, ${M - 1}), 0D, " +
            s"(acc, m) -> acc + element_at(lut, m * $K + element_at(codes, m + 1) + 1))"))
        .filter(col("b_id") =!= col("p_id"))
      // ADC shortlist (50 per probe) → EXACT re-rank on survivors only:
      // the production PQ shape — raw floats are touched for 50
      // candidates per probe, never the corpus
      val shortlist = graft.plans.GroupTopK.topKPerKey(adc,
          Seq(col("p_id")), Seq(col("adist"), col("b_id")), 50)
        .select(col("p_id"), col("b_id"))
      import graft.functions.VectorExpressions.dotF
      val raw = e.select(col("vec_id").as("b_id"), col("embedding").as("be"))
      val reranked = shortlist.join(raw, "b_id")
        .join(broadcast(probes.select(col("p_id"), col("pe"))), "p_id")
        .withColumn("d2", dotF(col("be"), col("be"))
          - lit(2.0) * dotF(col("be"), col("pe")) + dotF(col("pe"), col("pe")))
      val approxTop = graft.plans.GroupTopK.topKPerKey(reranked,
          Seq(col("p_id")), Seq(col("d2"), col("b_id")), 10)
        .select(col("p_id"), col("b_id"))
      // exact L2 top-10 over the full corpus (the recall oracle)
      val exact = raw
        .crossJoin(broadcast(probes.select(col("p_id"), col("pe"))))
        .filter(col("b_id") =!= col("p_id"))
        .withColumn("d2", dotF(col("be"), col("be"))
          - lit(2.0) * dotF(col("be"), col("pe")) + dotF(col("pe"), col("pe")))
      val exactTop = graft.plans.GroupTopK.topKPerKey(exact,
          Seq(col("p_id")), Seq(col("d2"), col("b_id")), 10)
        .select(col("p_id"), col("b_id"))
      approxTop.join(exactTop, Seq("p_id", "b_id"), "left_semi")
        .groupBy(col("p_id")).agg(count(lit(1)).as("n_hits"))
        .join(probes.select(col("p_id")), Seq("p_id"), "right")
        .select(col("p_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("p_id"))
    },
    oracle = None)

  val m14CrossValidation: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      crossValidation(s, dir).toDF("fold", "n_train", "n_valid", "valid_auc")
    },
    oracle = None)

  /** M12 confusion matrix of a deterministic rule-based classifier
    * (predict 'returned' when discount > 0.05) — real counts, fully
    * oracle-checked. One small-key shuffle.
    */
  val m06ConfusionMatrix: QuerySpec = QuerySpec(
    fn = (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("label", when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .withColumn("pred", when(col("l_discount") > 0.05, 1L).otherwise(0L))
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred")),
    oracle = Some("""
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS pred,
             count(*) AS n
      FROM lineitem
      GROUP BY 1, 2 ORDER BY label, pred"""))

  /** M12 ROC curve points for the same rule family (score = discount):
    * TPR/FPR at each distinct threshold via cumulative window sums —
    * the distributed formulation of sklearn's roc_curve (sort once,
    * no per-threshold pass).
    */
  val m07RocPoints: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("label", when(col("l_returnflag") === "R", 1L).otherwise(0L))
      val byScore = li.groupBy(col("l_discount").as("thr"))
        .agg(sum(col("label")).as("pos"),
          sum(lit(1L) - col("label")).as("neg"))
      val w = Window.orderBy(col("thr").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = li.agg(sum(col("label")).as("tot_pos"),
        sum(lit(1L) - col("label")).as("tot_neg"))
      byScore
        .withColumn("cum_pos", sum(col("pos")).over(w))
        .withColumn("cum_neg", sum(col("neg")).over(w))
        .crossJoin(tot)
        .select(col("thr"),
          round(col("cum_pos").cast("double") / col("tot_pos"), 6).as("tpr"),
          round(col("cum_neg").cast("double") / col("tot_neg"), 6).as("fpr"))
        .orderBy(col("thr").desc)
    },
    oracle = Some("""
      WITH l AS (SELECT l_discount AS thr,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
                 FROM lineitem),
      g AS (SELECT thr, sum(label) AS pos, sum(1 - label) AS neg
            FROM l GROUP BY thr),
      t AS (SELECT sum(label) AS tot_pos, sum(1 - label) AS tot_neg FROM l)
      SELECT thr,
             round(sum(pos) OVER (ORDER BY thr DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / tot_pos, 6) AS tpr,
             round(sum(neg) OVER (ORDER BY thr DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / tot_neg, 6) AS fpr
      FROM g, t
      ORDER BY thr DESC"""))

  /** M10 knowledge base, sub-op "success profile" is q08; sub-op
    * "co-occurrence" is q14; sub-op "popularity top-k" is q09 — see
    * Catalog. M11 ID-universe export: distinct users and items with a
    * stable role tag (the reference's ids_mapping.json,
    * train_module.py:427-442).
    */
  val m08IdUniverse: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val u = Tables.orders(s, dir).select(col("o_custkey").as("id"))
        .distinct().withColumn("role", lit("user"))
      val i = Tables.lineitem(s, dir).select(col("l_partkey").as("id"))
        .distinct().withColumn("role", lit("item"))
      u.unionByName(i).orderBy(col("role"), col("id"))
    },
    oracle = Some("""
      SELECT id, role FROM (
        SELECT DISTINCT o_custkey AS id, 'user' AS role FROM orders
        UNION ALL
        SELECT DISTINCT l_partkey AS id, 'item' AS role FROM lineitem)
      ORDER BY role, id"""))

  /** IVF approximate nearest neighbor — the second scale path beside
    * hyperplane-LSH (q40): a k-means coarse quantizer (spark.ml,
    * seeded) builds 16 inverted lists (each vector indexed under its
    * nearest centroid); a query probes its nprobe=2 nearest lists and
    * runs exact cosine top-3 inside them — the standard IVF
    * search. nlist SCALES WITH THE CORPUS — max(16, ceil(√(n/4))),
    * the textbook √n sizing — because a fixed list count makes probe
    * volume n·nprobe·(n/nlist), i.e. quadratic: the round-6 10×
    * sweep measured exactly that (43 s at 20k vectors with nlist=16
    * → list length 1250). With √n lists the probe volume is
    * O(n^1.5) and each list fits an executor at any n; raise nprobe
    * for recall. Gate-stable: n ≤ 2000 keeps nlist at 16, so the
    * sf0.001/sf0.01 outputs (and the DedupSpec recall band) are
    * unchanged. Rows-only check (k-means centers are
    * partitioning-dependent); recall vs the exact pairs is spec'd.
    */
  val m09IvfAnn: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import graft.functions.VectorExpressions.{dotF, normF}
      val e = Tables.embeddings(s, dir)
        .withColumn("features", array_to_vector(col("embedding")))
        .withColumn("nrm", normF(col("embedding")))
        .cache()
      val nVecs = e.count()
      val nlist = math.max(16, math.ceil(math.sqrt(nVecs / 4.0)).toInt)
      val km = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("list_id")
        .fit(e)
      // inverted lists: each vector indexed under its nearest centroid
      val indexed = km.transform(e)
        .select(col("vec_id").as("b_id"), col("embedding").as("be"),
          col("nrm").as("nb"), col("list_id"))
        .repartition(s.sparkContext.defaultParallelism, col("list_id"))
      // query side: probe the 2 nearest centroids (multi-probe);
      // centers stay exact doubles (mixed-precision kernel), with
      // their squared norms precomputed on the driver
      val centers = km.clusterCenters.zipWithIndex
        .map { case (v, i) =>
          val arr = v.toArray
          (i, arr, arr.map(x => x * x).sum)
        }.toSeq
        .toDF("list_id", "center", "c2")
      val wProbe = Window.partitionBy(col("a_id")).orderBy(col("dist2"), col("list_id"))
      val probes = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
          col("nrm").as("na"))
        .crossJoin(broadcast(centers))
        .withColumn("dist2",
          col("na") * col("na") -
            lit(2.0) * graft.functions.VectorExpressions.dotFD(col("ae"), col("center")) +
            col("c2"))
        .withColumn("probe_rank", row_number().over(wProbe))
        .filter(col("probe_rank") <= 2)
        .select(col("a_id"), col("ae"), col("na"), col("list_id"))
      val sim = probes.join(indexed, "list_id")
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("cosine",
          round(dotF(col("ae"), col("be")) / (col("na") * col("nb")), 6))
      val w = Window.partitionBy(col("a_id"))
        .orderBy(col("cosine").desc, col("b_id"))
      sim.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("a_id").as("vec_id"), col("rank"),
          col("b_id").as("neighbor"), col("cosine"))
        .orderBy(col("vec_id"), col("rank"))
    },
    oracle = None)

  /** S16 Spark ML model persistence (`batch_als_train.py:196-207`):
    * save with overwrite, reload, factor-for-factor parity.
    */
  def saveAndReloadAls(s: SparkSession, dir: String, path: String): Boolean = {
    val m = alsModel(s, dir)
    m.write.overwrite().save(path)
    val loaded = ALSModel.load(path)
    val a = m.userFactors.orderBy("id").collect().map(_.toString)
    val b = loaded.userFactors.orderBy("id").collect().map(_.toString)
    a.sameElements(b)
  }

  /** S17 on the reference's FULL registry row: a deterministic synthetic
    * `model_training_history` with the 21-column shape of
    * `sql/init.sql:55-77` (metrics, JSON `hyperparameters`,
    * `training_duration_seconds`, `data_snapshot_timestamp`,
    * `is_active`, `notes`), derived arithmetically from the `nation`
    * fixture — 25 training runs alternating the reference's two model
    * names — so a DuckDB oracle can replay it row-for-row. Every float
    * is an integer-division double (one identical IEEE op on both
    * engines ⇒ bit-equal by construction, no rounding needed).
    * `is_active` is left to the consumer: it is DERIVED state (the W1
    * latest-per-model window), not stored state — see q64.
    */
  def modelTrainingHistory(s: SparkSession, dir: String): DataFrame = {
    val k = col("n_nationkey").cast("int")
    Tables.nation(s, dir)
      .select(
        (k + 1).as("id"),
        when(k % 2 === 0, "spark_als").otherwise("lgbm_dropout").as("model_name"),
        concat(lit("20240101_"), lpad(k.cast("string"), 6, "0")).as("model_version"),
        (lit(1000) + k * 37).as("training_samples"),
        (lit(250) + k * 9).as("validation_samples"),
        ((lit(700) + (k * 7) % 100).cast("double") / 1000.0).as("train_auc"),
        ((lit(650) + (k * 13) % 100).cast("double") / 1000.0).as("valid_auc"),
        ((lit(300) + (k * 11) % 80).cast("double") / 1000.0).as("train_logloss"),
        ((lit(350) + (k * 17) % 80).cast("double") / 1000.0).as("valid_logloss"),
        ((lit(800) + (k * 3) % 50).cast("double") / 1000.0).as("train_accuracy"),
        ((lit(780) + (k * 5) % 50).cast("double") / 1000.0).as("valid_accuracy"),
        lit(6).as("num_features"),
        (lit(50) + k).as("num_courses"),
        lit(1500).as("num_users"),
        to_json(struct((lit(16) + (k % 3) * 8).as("rank"),
          lit(5).as("max_iter"), lit(42).as("seed"))).as("hyperparameters"),
        (lit(60) + k * 3).cast("double").as("training_duration_seconds"),
        expr("timestampadd(HOUR, n_nationkey, TIMESTAMP'2024-01-01 00:00:00')")
          .as("data_snapshot_timestamp"),
        expr("timestampadd(HOUR, n_nationkey, TIMESTAMP'2024-01-01 12:00:00')")
          .as("created_at"),
        concat(lit("run "), (k + 1).cast("string")).as("notes"))
      .withColumn("artifact_path",
        concat(lit("/models/"), col("model_name"), lit("/"), col("model_version")))
  }

  /** W1 + W2 over the real registry shape: flag the active model per
    * model_name (latest created_at — exactly what
    * [[graft.io.Writers.activeModels]] selects) and the run-over-run
    * validation-AUC drift (the reference dashboard's retraining-history
    * view, `dashboard/app.py` model history panel). One shuffle on
    * model_name; both windows share it. Raw double drift: the
    * subtraction of two bit-equal doubles is itself bit-equal.
    */
  val q64ModelRegistry: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      val wActive = Window.partitionBy(col("model_name")).orderBy(col("created_at").desc)
      val wLag = Window.partitionBy(col("model_name")).orderBy(col("created_at"))
      modelTrainingHistory(s, dir)
        .withColumn("is_active", row_number().over(wActive) === 1)
        .withColumn("auc_drift",
          col("valid_auc") - lag(col("valid_auc"), 1).over(wLag))
        .orderBy(col("model_name"), col("created_at"))
    },
    oracle = Some("""
      WITH r AS (
        SELECT n_nationkey + 1 AS id,
               CASE WHEN n_nationkey % 2 = 0 THEN 'spark_als'
                    ELSE 'lgbm_dropout' END AS model_name,
               '20240101_' || lpad(CAST(n_nationkey AS VARCHAR), 6, '0') AS model_version,
               1000 + n_nationkey * 37 AS training_samples,
               250 + n_nationkey * 9 AS validation_samples,
               CAST(700 + (n_nationkey * 7) % 100 AS DOUBLE) / 1000.0 AS train_auc,
               CAST(650 + (n_nationkey * 13) % 100 AS DOUBLE) / 1000.0 AS valid_auc,
               CAST(300 + (n_nationkey * 11) % 80 AS DOUBLE) / 1000.0 AS train_logloss,
               CAST(350 + (n_nationkey * 17) % 80 AS DOUBLE) / 1000.0 AS valid_logloss,
               CAST(800 + (n_nationkey * 3) % 50 AS DOUBLE) / 1000.0 AS train_accuracy,
               CAST(780 + (n_nationkey * 5) % 50 AS DOUBLE) / 1000.0 AS valid_accuracy,
               6 AS num_features,
               50 + n_nationkey AS num_courses,
               1500 AS num_users,
               '{"rank":' || CAST(16 + (n_nationkey % 3) * 8 AS VARCHAR) ||
                 ',"max_iter":5,"seed":42}' AS hyperparameters,
               CAST(60 + n_nationkey * 3 AS DOUBLE) AS training_duration_seconds,
               TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (n_nationkey) HOUR
                 AS data_snapshot_timestamp,
               TIMESTAMP '2024-01-01 12:00:00' + INTERVAL (n_nationkey) HOUR
                 AS created_at,
               'run ' || CAST(n_nationkey + 1 AS VARCHAR) AS notes,
               '/models/' ||
                 CASE WHEN n_nationkey % 2 = 0 THEN 'spark_als'
                      ELSE 'lgbm_dropout' END ||
                 '/20240101_' || lpad(CAST(n_nationkey AS VARCHAR), 6, '0')
                 AS artifact_path
        FROM nation)
      SELECT *,
             row_number() OVER (PARTITION BY model_name ORDER BY created_at DESC) = 1
               AS is_active,
             valid_auc - lag(valid_auc) OVER (PARTITION BY model_name ORDER BY created_at)
               AS auc_drift
      FROM r
      ORDER BY model_name, created_at"""))

  /** SemDeDup (Abbas et al. 2023, public method): semantic dedup that
    * clusters embeddings with k-means, then tests cosine near-duplicity
    * ONLY within clusters — the O(n²/k) curation shape used on web-scale
    * corpora where even LSH banding is too coarse. Recall is boosted the
    * standard multi-probe way: every vector is indexed under its 2
    * nearest centroids, and a pair is tested if the two vectors share
    * ANY list (boundary-straddling near-dups still meet). Pairs emit
    * with the same 0.45-cosine/round-6 contract as the exact q41, so
    * MlSpec can measure precision (must be 1.0 — every pair is
    * re-verified exactly) and recall against the q41 truth set.
    * Rows-only: k-means centers are partitioning-dependent, no
    * cross-engine oracle possible. Scale: centroid table broadcasts,
    * vectors shuffle once on list_id, per-list pair generation is
    * O(Σ list²) — k grows with corpus so lists stay executor-sized.
    */
  val m10SemDedup: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import graft.functions.VectorExpressions.{dotF, dotFD, normF}
      val e = Tables.embeddings(s, dir)
        .withColumn("features", array_to_vector(col("embedding")))
        .withColumn("nrm", normF(col("embedding")))
      val km = new KMeans().setK(8).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("c0")
        .fit(e)
      val centers = km.clusterCenters.zipWithIndex
        .map { case (v, i) =>
          val arr = v.toArray
          (i, arr, arr.map(x => x * x).sum)
        }.toSeq.toDF("list_id", "center", "c2")
      // multi-probe assignment: every vector under its 2 nearest centroids
      val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("list_id"))
      val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"))
        .crossJoin(broadcast(centers))
        .withColumn("dist2",
          col("nrm") * col("nrm") - lit(2.0) * dotFD(col("embedding"), col("center")) + col("c2"))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= 2)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
        .repartition(s.sparkContext.defaultParallelism, col("list_id"))
      val a = assigned.select(col("list_id"), col("vec_id").as("d1"),
        col("embedding").as("ae"), col("nrm").as("na"))
      val b = assigned.select(col("list_id"), col("vec_id").as("d2"),
        col("embedding").as("be"), col("nrm").as("nb"))
      a.join(b, "list_id").filter(col("d1") < col("d2"))
        .withColumn("cosine",
          round(dotF(col("ae"), col("be")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.45)
        .select(col("d1"), col("d2"), col("cosine")).distinct()
        .orderBy(col("d1"), col("d2"))
    },
    oracle = None)

  /** JOHNSON–LINDENSTRAUSS random-projection distortion audit
    * (JL 1984; the ±1 sign-matrix form of Achlioptas 2003, the
    * database-friendly construction): project the 64-dim corpus to
    * d'=16 with a SEEDED ±1 matrix and measure, over the 2016 pairs
    * of the first 64 vectors, the squared-distance ratio
    * ‖Rx_i−Rx_j‖²/(d'·‖x_i−x_j‖²) — the quantity the lemma bounds
    * near 1. This is the audit every LSH/IVF/PQ consumer in the m09/
    * m16/q40 family implicitly trusts when it hashes projections: it
    * puts the measured distortion HISTOGRAM (ratio deciles) in the
    * output, spec-pinned to the concentration the lemma promises at
    * d'=16 (loose — that is the point; the spec records the measured
    * floor, guarantee-style like m18). Deterministic end-to-end: the
    * sign matrix comes from scala.util.Random(42) (a pinned LCG), the
    * 16 projections are [[VectorExpressions.dotFD]] codegen dots
    * against literal arrays, and pair distances fold in fixed order.
    * Scale: projection is MAP-ONLY (16 dots/row — this is how the
    * corpus-wide projection would run at 100 TB); the pair audit is
    * a fixed 64-vector probe, constant at any SF. Rows-only by the
    * sketch rule (ratio buckets are float-derived).
    */
  val m21JlProjection: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import graft.functions.VectorExpressions.{dotF, dotFD, normF}
      val rnd = new scala.util.Random(42)
      val signs = Array.fill(16)(Array.fill(64)(
        if (rnd.nextBoolean()) 1.0 else -1.0))
      val projCols = signs.zipWithIndex.map { case (r, j) =>
        dotFD(col("embedding"), typedLit(r.toSeq)).as(s"y$j") }
      val base = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 64)
        .select(Seq(col("vec_id"), col("embedding"),
          normF(col("embedding")).as("nrm")) ++ projCols: _*)
      val a = base.select(
        Seq(col("vec_id").as("ida"), col("embedding").as("ea"),
          col("nrm").as("na")) ++
          (0 until 16).map(j => col(s"y$j").as(s"a$j")): _*)
      val b = base.select(
        Seq(col("vec_id").as("idb"), col("embedding").as("eb"),
          col("nrm").as("nb")) ++
          (0 until 16).map(j => col(s"y$j").as(s"b$j")): _*)
      val d2p = (0 until 16).map(j =>
        (col(s"a$j") - col(s"b$j")) * (col(s"a$j") - col(s"b$j")))
        .reduce(_ + _)
      a.crossJoin(b).filter(col("ida") < col("idb"))
        .withColumn("d2", col("na") * col("na") + col("nb") * col("nb")
          - lit(2.0) * dotF(col("ea"), col("eb")))
        .filter(col("d2") > 0.0)
        .withColumn("ratio", d2p / (lit(16.0) * col("d2")))
        .groupBy(floor(col("ratio") * 10).cast("long").as("decile"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("decile"))
    },
    oracle = None)

  /** PERMUTATION FEATURE IMPORTANCE for the m05 GBT (Breiman 2001's
    * OOB importance, in the model-agnostic validation-set form Fisher/
    * Rudin/Dominici 2019 standardized): re-score the SAME fitted model
    * on the validation set with ONE feature's column permuted across
    * rows — the AUC drop is that feature's importance, measured on the
    * model as deployed (unlike impurity importances, which live inside
    * the trees and inflate high-cardinality features). The permutation
    * is DETERMINISTIC and scale-correct: rows hash-repartition on a
    * salted integer mixer of a layout-stable row id, and each
    * partition applies a cyclic shift in (mixer, id) order (lead(1)
    * with the partition head wrapped around via a min-struct rollup —
    * no global-sort window anywhere; a per-partition cyclic shift is a
    * label-independent permutation, which is all PFI requires). Each
    * feature gets its own salt so the six permutations are
    * independent. Emits per feature: base AUC, permuted AUC, drop.
    * Rows-only m* class; MlSpec pins base-AUC equality with m05, the
    * permutation's multiset preservation, and determinism.
    *
    * Scale: the model is broadcast state; each of the 6 passes is one
    * hash exchange of the validation rows + map-only scoring + the
    * AUC rollup — no training anywhere (the fitted model is
    * session-memoized via [[gbtModel]]).
    */
  /** K-MEANS (Lloyd 1982 iterations under the k-means|| seeded init,
    * Bahmani et al. 2012 — Spark ML's default) over the embedding
    * table — the baseline clustering primitive the ANN/dedup family
    * composes around (m09's IVF coarse quantizer, m10's SemDedup
    * clusters) but never exposed directly. k=8, seed=42, maxIter=20.
    * Emits one row per cluster (a cluster emptied by Lloyd iterations
    * still appears, with n_vecs=0) — size and the center's L2 norm in
    * floored integer MILLIONTHS (the q85 scaled-integer convention;
    * exact float centers are layout-sensitive reduction sums and stay
    * out of the contract) — plus a −1 summary row carrying n, k and
    * the training cost (inertia) in floored millionths. Rows-only m*
    * class: Lloyd aggregates float sums whose low bits depend on
    * reduction order, so there is no cross-engine-exact oracle; MlSpec
    * pins the invariants instead (k clusters, sizes partition n,
    * inertia below the global-variance bound that k=1 would give).
    *
    * Scale: each Lloyd iteration is one map over rows (nearest of k
    * broadcast centers) + a k-row centroid rollup — the canonical
    * linear-scan clustering; k and maxIter bound the work, never n².
    */
  val m23Kmeans: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val data = Tables.embeddings(s, dir)
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      val model = new KMeans().setK(8).setSeed(42L).setMaxIter(20)
        .fit(data)
      val cost = model.summary.trainingCost
      val sizes = model.transform(data)
        .groupBy(col("prediction").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"))
      val norms = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i.toLong, math.floor(math.sqrt(c.toArray.map(x => x * x).sum) * 1e6).toLong)
      }
      import s.implicits._
      val normDf = norms.toSeq.toDF("cluster", "center_norm_micros")
      val summary = Seq((-1L, data.count(), math.floor(cost * 1e6).toLong))
        .toDF("cluster", "n_vecs", "center_norm_micros")
      // left-join FROM normDf (always all k centers): a cluster left
      // empty by Lloyd iterations must surface as n_vecs=0, not vanish
      // from the report (ADVICE r11)
      normDf.join(sizes, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          col("center_norm_micros"))
        .unionByName(summary)
        .orderBy(col("cluster"))
    },
    oracle = None)

  val m22PermutationImportance: QuerySpec = QuerySpec(
    fn = (s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.functions.array_to_vector
      scopedCaches(s) {
        val (_, valid0) = gbtData(s, dir, categorical = true)
        val valid = valid0
          .withColumn("k", monotonically_increasing_id())
          .withColumn("fa", vector_to_array(col("features")))
          .cache()
        val model = gbtModel(s, dir, categorical = true)
        def mix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          // BIGINT headroom at the TARGET SF (the q109 rule):
          // monotonically_increasing_id carries the partition id in bits
          // 33+, so on multi-partition input the raw id reaches ~1e11 and
          // id * 2654435761 crosses 2^63 (ANSI overflow — caught by the
          // round-11 sf0.1 BENCH_ALL, masked before by sf0.01's
          // single-file = single-partition read). Bounding the input to
          // 31 bits first keeps every product under 2^62; cross-partition
          // h collisions only reorder ties, which (h, k) breaks on the
          // unique k — the permutation stays label-independent.
          val c0 = c % lit(2147483647L)
          val x1 = (c0 * lit(2654435761L)) % lit(2147483647L)
          val x2 = x1.bitwiseXOR(shiftright(x1, 15))
          val x3 = (x2 * lit(1597334677L)) % lit(2147483647L)
          x3.bitwiseXOR(shiftright(x3, 13))
        }
        val base = classifierMetrics(model.transform(valid))._1
        val p = s.sparkContext.defaultParallelism
        val rows = returnFeatureCols.zipWithIndex.map { case (name, i) =>
          val salted = valid
            .withColumn("h", mix(col("k") + lit(1000003L * (i + 1))))
            .repartition(p, col("h"))
            .withColumn("pid", spark_partition_id())
            .withColumn("fv", element_at(col("fa"), i + 1))
            .localCheckpoint(true) // pid feeds the head rollup AND lead
          val w = Window.partitionBy(col("pid"))
            .orderBy(col("h"), col("k"))
          // cyclic shift: every row takes its successor's value, the
          // partition-last row takes the partition head's
          val heads = salted.groupBy(col("pid"))
            .agg(min(struct(col("h"), col("k"), col("fv"))).as("m"))
            .select(col("pid"), col("m.fv").as("head_fv"))
          val permuted = salted
            .withColumn("nf", lead(col("fv"), 1).over(w))
            .join(broadcast(heads), "pid")
            .withColumn("pf", coalesce(col("nf"), col("head_fv")))
            .withColumn("features", array_to_vector(expr(
              s"transform(fa, (x, j) -> CASE WHEN j = $i THEN pf ELSE x END)")))
            .select(col("label"), col("features"))
          (name, base, classifierMetrics(model.transform(permuted))._1)
        }
        rows.toDF("feature", "base_auc", "perm_auc")
          .withColumn("auc_drop", col("base_auc") - col("perm_auc"))
          .orderBy(col("feature"))
      }
    },
    oracle = None)

  val all: Map[String, QuerySpec] = Map(
    "m21_jl_projection" -> m21JlProjection,
    "m22_permutation_importance" -> m22PermutationImportance,
    "m23_kmeans" -> m23Kmeans,
    "m01_als_user_factors" -> m01AlsUserFactors,
    "m02_als_recommendations" -> m02AlsRecommendations,
    "m03_als_eval" -> m03AlsEval,
    "m04_string_indexer" -> m04StringIndexer,
    "m05_gbt_eval" -> m05GbtEval,
    "m06_confusion_matrix" -> m06ConfusionMatrix,
    "m07_roc_points" -> m07RocPoints,
    "m08_id_universe" -> m08IdUniverse,
    "m09_ivf_ann" -> m09IvfAnn,
    "m10_semdedup" -> m10SemDedup,
    "m11_calibration_bins" -> m11CalibrationBins,
    "m13_learning_curve" -> m13LearningCurve,
    "m14_cross_validation" -> m14CrossValidation,
    "m15_pca_variance" -> m15PcaVariance,
    "m16_pq_ann" -> m16PqAnn,
    "m17_isotonic_calibration" -> m17IsotonicCalibration,
    "m18_misra_gries" -> m18MisraGries,
    "m19_conformal_sets" -> m19ConformalSets,
    "m20_whitening_audit" -> m20WhiteningAudit,
    "q64_model_registry" -> q64ModelRegistry,
  )
}
