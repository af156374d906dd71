package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.VerifyUtils.scalarMatch

/** Tolerance-verified companions for the stock seeded estimators — the
  * reference's own save-then-compare methodology (0.5% scalar relative
  * tolerance, reference `Utils.scala:164-184`) applied as DRIVER-VISIBLE
  * checks: each check runs the exact stock fit its query always ran,
  * derives a companion metric (an oracle-checked deterministic twin's
  * metric, a closed-form bound, or a self-consistency identity), and
  * emits `(metric, ok)` verdict rows whose oracle is the constant truth
  * table. A seeded fit whose trajectory no external engine can replay
  * still gets a machine-adjudicated pass/fail — not a rows-only shrug.
  *
  * Threshold discipline: every inequality below was probed at sf0.01 AND
  * sf0.1 and carries slack beyond the observed value; a check that fails
  * is a real regression (fit diverged, metric broke), not noise.
  */
object Checks {

  /** Spark's order of strings: their UTF-8 bytes, unsigned. */
  private[graft] val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** Value-verdict frame (metric, value): boolean checks as 1.0/0.0,
    * DuckDB-recomputable companion metrics as their rounded values —
    * paired with [[graft.core.VerifyUtils.valueVerdictSql]] so the
    * external engine hash-matches the metric VALUES, not constants.
    * Rows are sorted by metric on the driver: Spark would run a sort of
    * the local rows as jobs of their own. */
  private[graft] def verdictsV(spark: SparkSession,
      rows: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    rows.sortBy(_._1)(utf8Order).toDF("metric", "value")
  }

  private[graft] def b2d(b: Boolean): Double = if (b) 1.0 else 0.0
  private def r4v(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
  private def r6v(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def termMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** KMeans|| (k=8, 20 iters) must cluster at least as tightly as the
    * oracle-checked 4-center/5-iter deterministic Lloyd. Probed
    * invariant, not a theorem: KMeans|| converges to a LOCAL optimum and
    * nothing guarantees it dominates a specific k=4 solution — but more
    * centers + better init + more iterations dominated it with wide
    * margin at every probed SF (wssse ratio ≈ 0.81 at sf0.01/sf0.1), so
    * the 1.005 slack on top is a regression trip-wire, not a proof. */
  def kmeans(spark: SparkSession, embeddings: DataFrame,
      lloydMemoKey: Option[String] = None): DataFrame = {
    val data = Supervised.embeddingFeatures(embeddings)
    val m = new org.apache.spark.ml.clustering.KMeans()
      .setK(8).setMaxIter(20).setSeed(2020L).fit(data)
    val sizes = m.summary.clusterSizes
    val wssse = m.summary.trainingCost
    val lloyd =
      Unsupervised.lloydCenters(embeddings, 4, 5, lloydMemoKey, wssse = true)
    val wssseLloyd = lloyd.wssse.get
    verdictsV(spark, Seq(
      "kmeans_clusters_in_range" ->
        b2d(sizes.length >= 2 && sizes.length <= 8),
      "kmeans_sizes_sum_n" -> b2d(sizes.sum == lloyd.n),
      "kmeans_wssse_le_lloyd4" -> b2d(wssse <= wssseLloyd * 1.005),
      // the companion bound itself — DuckDB recomputes it by replaying
      // the deterministic Lloyd chain and summing squared distances
      "kmeans_wssse_lloyd4" -> r4v(wssseLloyd)))
  }

  /** PCA explained-variance self-consistency: each ratio must equal the
    * Rayleigh quotient of the data PROJECTED onto that component (an
    * identity of a correct eigensolve, checked at the reference's 0.5%),
    * ratios descend, and the top component captures at least as much
    * variance as the best single axis (optimality lower bound). */
  def pca(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    val data = Supervised.embeddingFeatures(embeddings)
    val m = new org.apache.spark.ml.feature.PCA()
      .setK(k).setInputCol("features").setOutputCol("pc").fit(data)
    val evs = m.explainedVariance.toArray
    val projVars = m.transform(data)
      .select(posexplode(
        org.apache.spark.ml.functions.vector_to_array(col("pc")))
        .as(Seq("j", "v")))
      .groupBy("j").agg(var_samp("v").as("s")).orderBy("j")
      .collect().map(_.getDouble(1))
    // per-axis rounding discipline (round-9 advice): round each axis
    // variance to 1e-8 before summing/maxing so both engines aggregate
    // identical operands and the final 1e-6 boundary cannot flap on
    // cross-engine VAR_SAMP ulp drift
    val featVars = data
      .select(posexplode(
        org.apache.spark.ml.functions.vector_to_array(col("features")))
        .as(Seq("j", "v")))
      .groupBy("j").agg(var_samp("v").as("s"))
      .collect().map(r => math.floor(r.getDouble(1) * 1e8 + 0.5) / 1e8)
    val tot = featVars.sum
    verdictsV(spark, Seq(
      "pca_ev_descending" ->
        b2d(evs.sliding(2).forall(p => p(0) >= p(1) - 1e-9)),
      "pca_ev_sum_le_1" -> b2d(evs.sum <= 1.0 + 1e-9),
      "pca_rayleigh_halfpct" ->
        b2d(evs.zip(projVars).forall { case (e, pv) =>
          scalarMatch(e, pv / tot) }),
      "pca_top_ge_best_axis" -> b2d(evs(0) >= featVars.max / tot - 1e-9),
      // DuckDB-recomputed ingredients of the bounds above: the total
      // feature variance and the best single axis's share of it
      "pca_total_variance" -> r6v(tot),
      "pca_best_axis_share" -> r6v(featVars.max / tot)))
  }

  /** Sparse PCA differential: the COO sparse-row path must reproduce the
    * dense PCA spectrum of the same matrix element-for-element (1e-6 —
    * the reference's matrix tolerance, `Utils.scala:231-253`). */
  def spca(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    val coo = embeddings.select(col("vec_id").as("row"),
        posexplode(col("embedding")).as(Seq("col", "value")))
      .filter(col("value") =!= 0.0f)
    val nnz = coo.count()
    val sparseEv = Spca.fit(spark, coo, numCols = 64, k = k)
      .collect().map(_.getDouble(1))
    val data = Supervised.embeddingFeatures(embeddings)
    val denseEv = new org.apache.spark.ml.feature.PCA()
      .setK(k).setInputCol("features").setOutputCol("pc").fit(data)
      .explainedVariance.toArray
    // the spectrum's denominator (total variance, per-axis rounded at
    // 1e-8 like the pca check) — the one ingredient of the explained-
    // variance ratios an external engine can recompute exactly
    val tot = data
      .select(posexplode(
        org.apache.spark.ml.functions.vector_to_array(col("features")))
        .as(Seq("j", "v")))
      .groupBy("j").agg(var_samp("v").as("s"))
      .collect().map(r => math.floor(r.getDouble(1) * 1e8 + 0.5) / 1e8)
      .sum
    verdictsV(spark, Seq(
      "spca_ev_descending" ->
        b2d(sparseEv.sliding(2).forall(p => p(0) >= p(1) - 1e-9)),
      "spca_matches_dense_pca_1e6" ->
        b2d(sparseEv.length == denseEv.length &&
          sparseEv.zip(denseEv).forall { case (a, b) =>
            // both sides round to 1e-6 (Spca floors; PCA is raw), so
            // agreement is bounded by the rounding grid
            math.abs(a - b) <= 2e-6 }),
      // DuckDB-recomputed ingredients (round-10 directive #3): the COO
      // nonzero count the sparse path factorizes and the total variance
      "spca_coo_nnz" -> nnz.toDouble,
      "spca_total_variance" -> r6v(tot)))
  }

  /** SVD spectrum sanity against the exactly-computable Frobenius
    * energy: σ descending and nonnegative, Σσ² never exceeds ‖A‖²_F,
    * and σ₁² is at least the average per-column energy (the best rank-1
    * approximation cannot be worse than an axis). */
  def svd(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    val data = Supervised.embeddingFeatures(embeddings)
    val rows = data.select("features").rdd.map(r =>
      org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0)))
    val s = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows)
      .computeSVD(k, computeU = false).s.toArray
    val fro2 = data.select(sum(aggregate(
        org.apache.spark.ml.functions.vector_to_array(col("features")),
        lit(0.0), (acc, v) => acc + v * v)))
      .head().getDouble(0)
    verdictsV(spark, Seq(
      "svd_s_descending" ->
        b2d(s.sliding(2).forall(p => p(0) >= p(1) - 1e-9)),
      "svd_s_nonneg" -> b2d(s.forall(_ >= 0.0)),
      "svd_energy_le_frobenius" ->
        b2d(s.map(x => x * x).sum <= fro2 * (1 + 1e-9)),
      "svd_top_ge_avg_column_energy" ->
        b2d(s(0) * s(0) >= fro2 / 64.0 * (1 - 1e-9)),
      // ‖A‖²_F — the exact bound constant, recomputed by DuckDB as a
      // plain sum of squares over the embedding lists
      "svd_frobenius_energy" -> r4v(fro2)))
  }

  /** Shared skill check for the binary classifiers on lineitem: training
    * accuracy must not lose to the majority-class prior (a fit that
    * does has diverged), coefficients stay finite. */
  private def binaryClassifierChecks(spark: SparkSession,
      lineitem: DataFrame, name: String,
      fitted: DataFrame): DataFrame = {
    val t = termMap(fitted)
    val p = Supervised.lineitemFeatures(lineitem)
      .select(avg("bin_label")).head().getDouble(0)
    val prior = math.max(p, 1 - p)
    verdictsV(spark, Seq(
      s"${name}_acc_ge_majority_prior" ->
        b2d(t("accuracy") >= prior - 0.005),
      s"${name}_params_finite" ->
        b2d(t.values.forall(v => !v.isNaN && !v.isInfinite)),
      // the prior itself — plain SQL over lineitem for the oracle
      s"${name}_majority_prior" -> r6v(prior)))
  }

  def logreg(spark: SparkSession, lineitem: DataFrame): DataFrame =
    binaryClassifierChecks(spark, lineitem, "logreg",
      Supervised.logisticRegression(spark, lineitem))

  def svc(spark: SparkSession, lineitem: DataFrame): DataFrame =
    binaryClassifierChecks(spark, lineitem, "svc",
      Supervised.linearSvc(spark, lineitem))

  def gbt(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val t = termMap(Supervised.gbt(spark, lineitem))
    val p = Supervised.lineitemFeatures(lineitem)
      .select(avg("bin_label")).head().getDouble(0)
    verdictsV(spark, Seq(
      "gbt_acc_ge_majority_prior" ->
        b2d(t("accuracy") >= math.max(p, 1 - p) - 0.005),
      "gbt_num_trees" -> t("num_trees"), // oracle pins the literal 5.0
      "gbt_majority_prior" -> r6v(math.max(p, 1 - p))))
  }

  /** Multi-class tree fits on embeddings: training accuracy from the
    * confusion matrix must beat the majority-class share (the zero-skill
    * classifier), and the confusion totals must cover every row. */
  def dtree(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    val conf = Supervised.decisionTree(spark, embeddings).collect()
    val n = embeddings.count()
    val total = conf.map(_.getLong(2)).sum
    val correct = conf.filter(r => r.getLong(0) == r.getLong(1))
      .map(_.getLong(2)).sum
    val maxShare = embeddings.groupBy("label").count()
      .agg(max("count")).head().getLong(0).toDouble / n
    verdictsV(spark, Seq(
      "dtree_confusion_covers_corpus" -> b2d(total == n),
      "dtree_acc_gt_majority_share" ->
        b2d(correct.toDouble / total >= maxShare - 0.005),
      "dtree_majority_share" -> r6v(maxShare),
      "dtree_corpus_rows" -> n.toDouble))
  }

  def rf(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    val out = Supervised.randomForest(spark, embeddings).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val acc = out.toMap.apply("accuracy")
    val imps = out.filter(_._1.startsWith("importance_")).map(_._2)
    val n = embeddings.count()
    val maxShare = embeddings.groupBy("label").count()
      .agg(max("count")).head().getLong(0).toDouble / n
    verdictsV(spark, Seq(
      "rf_acc_gt_majority_share" -> b2d(acc >= maxShare - 0.005),
      "rf_importances_unit_range" ->
        b2d(imps.forall(v => v >= 0.0 && v <= 1.0) &&
          imps.sum <= 1.0 + 1e-6),
      "rf_majority_share" -> r6v(maxShare)))
  }

  /** Tree-family regressors: training RMSE can never LOSE to the
    * predict-the-mean baseline (label stddev) — a training-set
    * regression tree's leaf means only ever reduce squared error, so
    * rmse > sd means the fit diverged. The features genuinely explain
    * little here (extendedprice is dominated by the unobserved unit
    * price: probed rmse/sd ≈ 0.9994–0.9996 at both SFs), so the
    * baseline bound is the honest invariant, not a skill claim. */
  private def regressorCheck(spark: SparkSession, lineitem: DataFrame,
      name: String, fitted: DataFrame): DataFrame = {
    val rmse = fitted.head().getDouble(1)
    val sd = Supervised.lineitemFeatures(lineitem)
      .select(stddev_samp("label")).head().getDouble(0)
    verdictsV(spark, Seq(
      s"${name}_rmse_finite" -> b2d(!rmse.isNaN && !rmse.isInfinite),
      s"${name}_rmse_le_mean_baseline" -> b2d(rmse <= sd * (1 + 1e-4)),
      // the baseline bound itself — STDDEV_SAMP(l_extendedprice) in SQL
      s"${name}_label_sd" -> r4v(sd)))
  }

  def dtreeReg(spark: SparkSession, lineitem: DataFrame): DataFrame =
    regressorCheck(spark, lineitem, "dtree_reg",
      Supervised.decisionTreeRegressor(spark, lineitem))

  def rfReg(spark: SparkSession, lineitem: DataFrame): DataFrame =
    regressorCheck(spark, lineitem, "rf_reg",
      Supervised.randomForestRegressor(spark, lineitem))

  def gbtReg(spark: SparkSession, lineitem: DataFrame): DataFrame =
    regressorCheck(spark, lineitem, "gbt_reg",
      Supervised.gbtRegressor(spark, lineitem))

  /** Stock rank-4 ALS vs the oracle-checked rank-1 deterministic ALS:
    * four factors and the same regularization cannot fit the SAME
    * observed ratings materially worse than one. */
  def als(spark: SparkSession, events: DataFrame,
      fixed: Option[DataFrame] = None): DataFrame = {
    def rmseOf(df: DataFrame): (Double, Long) = {
      val rows = df.collect()
      (rows.filter(_.getLong(0) == -1L).head.getDouble(2),
        rows.length - 1L)
    }
    val (rmseStock, nStock) = rmseOf(TextModels.als(spark, events))
    val (rmseFixed, nFixed) =
      rmseOf(fixed.getOrElse(TextModels.alsFixed(spark, events)))
    verdictsV(spark, Seq(
      "als_rmse_le_rank1_companion" -> b2d(rmseStock <= rmseFixed * 1.05),
      "als_predicts_all_observed_pairs" -> b2d(nStock == nFixed),
      // the rank-1 companion rmse — DuckDB recomputes it by replaying
      // the deterministic ALS chain (the ml_als_fixed oracle's rm CTE)
      "als_rmse_rank1" -> rmseFixed))
  }

  /** EM LDA: the describeTopics surface must be a valid topic model —
    * k topics, top-5 term indices in vocabulary, per-topic term WEIGHTS
    * positive, non-increasing (they are the sorted top of a
    * distribution) and summing under 1. (EM's raw topicsMatrix holds
    * unnormalized expected counts, so the normalized describeTopics
    * weights are the checkable surface.) */
  def lda(spark: SparkSession, docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = TextModels.tokenized(docs)
    val cv = new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setVocabSize(64).fit(toks)
    val m = new org.apache.spark.ml.clustering.LDA()
      .setK(k).setMaxIter(10).setSeed(2020L).setOptimizer("em")
      .fit(cv.transform(toks))
    val topics = m.describeTopics(5).collect()
    val vocab = cv.vocabulary.length
    val idxOk = topics.forall(r =>
      r.getSeq[Int](1).forall(i => i >= 0 && i < vocab))
    val weightsOk = topics.forall { r =>
      val w = r.getSeq[Double](2)
      w.forall(v => v > 0.0 && v <= 1.0) &&
        w.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12) &&
        w.sum <= 1.0 + 1e-9
    }
    verdictsV(spark, Seq(
      "lda_top_weights_valid_distribution" -> b2d(weightsOk),
      "lda_shape_k_topics_top5_in_vocab" ->
        b2d(topics.length == k && idxOk &&
          topics.forall(_.getSeq[Int](1).length == 5)),
      // the vocabulary size the index bound is checked against — DuckDB
      // recomputes it as LEAST(cap, COUNT(DISTINCT token)) over the same
      // whitespace tokenization (round-10 directive #3)
      "lda_vocab_size" -> vocab.toDouble))
  }
}
