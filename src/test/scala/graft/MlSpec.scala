package graft

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ml.MlCatalog

/** M7/M8 GBT contract (reference train_module.py:313-369) and the
  * cache-hygiene guarantee the ML queries now carry: a Verify-style
  * pass must not leak persisted training splits into executor memory.
  */
class MlSpec extends SparkSpec {

  private def gbtMetrics(categorical: Boolean): (Double, Double, Double) =
    MlCatalog.classifierMetrics(MlCatalog.gbtScored(spark, sf0001, categorical))

  test("GBT classifier beats chance and the categorical item feature does not hurt (M7/M8)") {
    val (aucCat, logloss, acc) = gbtMetrics(categorical = true)
    val (aucNum, _, _) = gbtMetrics(categorical = false)
    assert(aucCat > 0.5, s"categorical-feature AUC $aucCat not better than chance")
    assert(logloss > 0.0 && acc > 0.0 && acc <= 1.0)
    // the reference's per-item categorical (train_module.py:333) is the
    // signal that drives its per-course predictions; with it the model
    // must do at least as well as the numeric-only ablation
    assert(aucCat >= aucNum,
      s"categorical AUC $aucCat below numeric-only AUC $aucNum")
  }

  test("calibration bins partition the validation set with sane counts (m11)") {
    val scoredN = MlCatalog.gbtScored(spark, sf0001, categorical = true).count()
    val bins = MlCatalog.all("m11_calibration_bins").fn(spark, sf0001).collect()
    assert(bins.nonEmpty && bins.length <= 10)
    val byBin = bins.map(r => r.getAs[Long]("bin") ->
      ((r.getAs[Long]("n"), r.getAs[Long]("n_pos")))).toMap
    assert(byBin.keys.forall(b => b >= 0 && b <= 9))
    assert(byBin.values.map(_._1).sum == scoredN,
      "bins must partition the validation set")
    assert(byBin.values.forall { case (n, pos) => pos >= 0 && pos <= n })
    // deterministic under the fixed seed
    val again = MlCatalog.all("m11_calibration_bins").fn(spark, sf0001).collect()
    assert(bins.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("GBT contract metrics are deterministic and match docs/GBT_CONTRACT.md") {
    val m1 = gbtMetrics(categorical = true)
    val m2 = gbtMetrics(categorical = true)
    // seeded determinism: identical training twice in one session
    assert(m1 == m2, s"seeded GBT training not reproducible: $m1 vs $m2")
    // committed-band tie to docs/GBT_CONTRACT.md (guards hyperparameter
    // drift; band absorbs randomSplit's partitioning sensitivity)
    val (auc, logloss, acc) = m1
    assert(math.abs(auc - 0.528431) < 0.05, s"auc $auc drifted from committed 0.528431")
    assert(math.abs(logloss - 0.648658) < 0.05, s"logloss $logloss drifted from 0.648658")
    assert(math.abs(acc - 0.647875) < 0.05, s"accuracy $acc drifted from 0.647875")
  }

  test("m13 learning curve: nested budgets, sane AUC band, no leaked caches") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = MlCatalog.all("m13_learning_curve").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(25L, 50L, 100L))
    // nested prefixes: each budget strictly contains the smaller one
    assert(rows(0)._2 < rows(1)._2 && rows(1)._2 < rows(2)._2,
      s"train sizes not increasing: ${rows.map(_._2).toSeq}")
    // AUC stays in a sane band at every budget (the fixture's weak
    // signal pins ~0.53 at 100% per docs/GBT_CONTRACT.md)
    rows.foreach { case (pct, _, auc) =>
      assert(auc > 0.45 && auc <= 1.0, s"auc $auc out of band at $pct%")
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "m13 leaked persisted RDDs")
  }

  test("m14 cross-validation: deterministic disjoint covering folds, sane AUC band") {
    val rows = MlCatalog.all("m14_cross_validation").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0L to 4L), s"folds: ${rows.map(_._1).toSeq}")
    // disjoint + covering: every row is in exactly one validation fold,
    // so n_train + n_valid is the SAME total for every fold
    val totals = rows.map(r => r._2 + r._3).distinct
    assert(totals.length == 1, s"fold totals differ: ${rows.toSeq}")
    assert(rows.map(_._3).sum == totals.head,
      s"validation folds don't partition the data: ${rows.toSeq}")
    rows.foreach { case (f, _, nv, auc) =>
      assert(nv > 0, s"empty fold $f")
      assert(auc > 0.45 && auc <= 1.0, s"auc $auc out of band at fold $f")
    }
    // arithmetic folds: identical integer columns on a second run
    val again = MlCatalog.all("m14_cross_validation").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == rows.map(r => (r._1, r._2, r._3)).toSeq)
  }

  test("m15 PCA variance: non-increasing spectrum, cum <= 1, deterministic refit") {
    val rows = MlCatalog.all("m15_pca_variance").fn(spark, sf0001)
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length == 16)
    assert(rows.map(_._1).toSeq == (1L to 16L))
    val ev = rows.map(_._2)
    assert(ev.forall(v => v >= 0.0 && v <= 1.0))
    assert(ev.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      s"spectrum not sorted: ${ev.mkString(", ")}")
    assert(rows.last._3 <= 1.0 + 1e-9)
    // cum_var is the running sum of explained_var
    rows.foldLeft(0.0) { case (acc, (_, v, c)) =>
      assert(math.abs(acc + v - c) < 1e-12); acc + v
    }
    // covariance eigendecomposition is deterministic given the same rows
    val again = MlCatalog.all("m15_pca_variance").fn(spark, sf0001)
      .orderBy("component").collect().map(_.getDouble(1))
    assert(ev.zip(again).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("m16 PQ-ANN: recall floor after exact re-rank, full probe set, deterministic") {
    val rows = MlCatalog.all("m16_pq_ann").fn(spark, sf0001)
      .orderBy("p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 50, "every probe must emit exactly one row")
    assert(rows.forall { case (_, h) => h >= 0L && h <= 10L })
    val mean = rows.map(_._2).sum.toDouble / rows.length
    // measured 6.76/10 on the fixture (4-bit sub-codes, 50-deep
    // shortlist); floor leaves headroom for KMeans tie jitter
    assert(mean >= 5.5, s"mean recall@10 collapsed: $mean")
    val again = MlCatalog.all("m16_pq_ann").fn(spark, sf0001)
      .orderBy("p_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == again.toSeq, "seeded PQ must be deterministic")
  }

  test("activeModels selects the latest run per model on the full registry row (S17/W1)") {
    val reg = MlCatalog.modelTrainingHistory(spark, sf0001)
    // the reference's full init.sql:55-77 shape: 21 columns, of which
    // is_active is DERIVED state (the W1 window) — 20 stored + 1 derived
    assert(reg.columns.length == 20 && !reg.columns.contains("is_active"))
    val q64 = MlCatalog.q64ModelRegistry.fn(spark, sf0001)
    assert(q64.columns.contains("is_active") && q64.columns.contains("auc_drift"))
    val active = graft.io.Writers.activeModels(reg)
      .select("model_name", "model_version").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // 25 runs, even nationkey → spark_als (latest k=24), odd → lgbm (k=23)
    assert(active == Map(
      "spark_als" -> "20240101_000024",
      "lgbm_dropout" -> "20240101_000023"))
  }

  test("m22 permutation importance: base AUC matches m05, drops bounded, deterministic") {
    val rows = MlCatalog.all("m22_permutation_importance").fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.map(_._1).sorted === Array("brand_idx", "l_discount",
      "l_extendedprice", "l_linenumber", "l_quantity", "l_tax"))
    // base AUC is the SAME fitted model m05 evaluates
    val (m05Auc, _, _) = gbtMetrics(categorical = true)
    rows.foreach { case (f, base, perm, drop) =>
      assert(math.abs(base - m05Auc) < 1e-9,
        s"$f base $base != m05 AUC $m05Auc")
      assert(perm > 0.0 && perm < 1.0, s"$f perm AUC $perm out of range")
      assert(math.abs(drop - (base - perm)) < 1e-12)
      // permuting one feature of a weak-signal model cannot move AUC
      // beyond the signal itself — a loose sanity band, not a claim
      assert(math.abs(drop) < 0.25, s"$f drop $drop implausible")
    }
    // refit-free determinism: the permutation is mixer-driven
    val again = MlCatalog.all("m22_permutation_importance").fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(again.toSeq === rows.map(r => (r._1, r._3)).toSeq,
      "permuted AUCs changed across re-runs")
  }

  test("m23 k-means: k clusters partition n, inertia beats the k=1 bound") {
    val rows = MlCatalog.all("m23_kmeans").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (summary, clusters) = rows.partition(_._1 == -1L)
    assert(summary.length == 1 && clusters.length == 8,
      s"expected 8 clusters + 1 summary, got ${rows.toSeq}")
    val n = summary.head._2
    assert(clusters.map(_._2).sum == n, "cluster sizes do not partition n")
    assert(clusters.forall(_._2 > 0), "empty cluster emitted")
    // inertia (sum of squared distances to assigned centers) must beat
    // the k=1 baseline: total squared distance to the global mean
    val inertia = summary.head._3.toDouble / 1e6
    val e = Tables.embeddings(spark, sf0001)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
    val k1 = e.groupBy(col("d"))
      .agg(sum(col("x") * col("x")).as("sx2"), sum(col("x")).as("sx"),
        count(lit(1)).as("m"))
      .select(sum(col("sx2") - col("sx") * col("sx") / col("m")).as("tss"))
      .head().getDouble(0)
    assert(inertia > 0 && inertia < k1,
      s"inertia $inertia outside (0, k=1 bound $k1)")
  }

  test("ML entries and a direct conformal call leave no persisted RDDs behind (scoped caches)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq("m03_als_eval", "m05_gbt_eval", "m13_learning_curve", "m14_cross_validation",
      "m19_conformal_sets", "m22_permutation_importance")
      .foreach(MlCatalog.all(_).fn(spark, sf0001).collect())
    MlCatalog.conformal(spark, sf0001)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("classifierMetrics is NaN on an empty scored frame") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Vector, Vector)]
      .toDF("label", "rawPrediction", "probability")
    val (auc, logloss, acc) = MlCatalog.classifierMetrics(empty)
    assert(auc.isNaN && logloss.isNaN && acc.isNaN, s"($auc, $logloss, $acc)")
  }

  test("classifierMetrics' one pass equals the two-pass reference (AUC and accuracy exact)") {
    import spark.implicits._
    val m05 = MlCatalog.gbtScored(spark, sf0001, categorical = true)
    val folds = MlCatalog.foldedFeatures(spark, sf0001)
    val lrFold = MlCatalog.foldLr.fit(folds.filter(col("fold") =!= 0))
      .transform(folds.filter(col("fold") === 0))
    // 2000 rows over 7 margins, labels independent of the margin: every
    // tie group mixes both classes, and p straddles the 0.6 threshold
    val margins = Seq(-0.6, -0.3, 0.0, 0.1, 0.2, 0.25, 0.5)
    val ties = (0 until 2000).map { i =>
      val m = margins(i * 3 % margins.length)
      val p = 1.0 / (1.0 + math.exp(-2 * m))
      (if (i % 5 == 0) 1.0 else 0.0, Vectors.dense(-m, m), Vectors.dense(1 - p, p))
    }.toDF("label", "rawPrediction", "probability")
    val oneClass = m05.filter(col("label") === 0.0)
    Seq("m05" -> m05, "m14 fold 0" -> lrFold, "ties" -> ties, "one class" -> oneClass)
      .foreach { case (name, scored) =>
        val (auc, logloss, acc) = MlCatalog.classifierMetrics(scored)
        val (rAuc, rLogloss, rAcc) = MlSpec.Reference.metrics(scored)
        assert(auc == rAuc || (auc.isNaN && rAuc.isNaN), s"$name auc $auc vs $rAuc")
        assert(acc == rAcc, s"$name accuracy $acc vs $rAcc")
        assert(math.abs(logloss - rLogloss) <= 1e-12 * math.abs(rLogloss),
          s"$name logloss $logloss vs $rLogloss")
      }
    assert(MlCatalog.classifierMetrics(oneClass)._1.isNaN)
  }
}

object MlSpec {

  /** The two-pass formulation `MlCatalog` evaluated with before the
    * per-margin fold: the midrank AUC over its own rollup, then a
    * row-level aggregate for logloss and accuracy@0.6 — kept as the
    * reference `classifierMetrics` must equal.
    */
  object Reference {
    def metrics(scored: DataFrame): (Double, Double, Double) = {
      val eps = 1e-15
      val p = element_at(vector_to_array(col("probability")), 2)
      val r = scored.agg(
        (-avg(col("label") * log(greatest(least(p, lit(1 - eps)), lit(eps))) +
          (lit(1.0) - col("label")) *
            log(greatest(least(lit(1.0) - p, lit(1 - eps)), lit(eps)))))
          .as("logloss"),
        avg(when((p >= 0.6) === (col("label") === 1.0), 1.0).otherwise(0.0))
          .as("accuracy"))
        .head()
      (auc(scored), r.getDouble(0), r.getDouble(1))
    }

    def auc(scored: DataFrame): Double = {
      val margin = element_at(vector_to_array(col("rawPrediction")), 2)
      val perScore = scored
        .groupBy(margin.as("margin"))
        .agg(count(lit(1)).as("g"), sum(col("label")).cast("long").as("pos"))
      val ranked = graft.operators.PrefixScan
        .runningSums(perScore, Seq("margin"), "c" -> col("g"))
      val r = ranked.agg(
        sum(col("pos").cast(DecimalType(38, 0)) *
          (col("c") * 2 - col("g") + 1)).as("rank2"),
        sum(col("pos")).as("p"), sum(col("g")).as("n")).head()
      if (r.isNullAt(2) || r.getLong(2) == 0) Double.NaN
      else {
        val rank2 = r.getDecimal(0).doubleValue()
        val p = r.getLong(1).toDouble
        val n = r.getLong(2).toDouble
        if (p == 0 || n - p == 0) Double.NaN
        else (rank2 / 2.0 - p * (p + 1) / 2.0) / (p * (n - p))
      }
    }
  }
}
