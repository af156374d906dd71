package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** queries()/oracleSql() wiring for the ML layer. SQL-expressible stats
  * (pairwise covariance/correlation, summary) carry DuckDB oracles;
  * deterministic twins (lloydFixed, alsFixed, nmfFixed, the rule
  * fixtures, the 2-D closed forms) replay exactly in SQL; and the stock
  * seeded fits run through [[Checks]] — the same fit the query always
  * ran, adjudicated by companion-metric tolerance verdicts against a
  * constant-truth oracle (the reference's 0.5% save-then-compare
  * methodology made driver-visible). */
object MlQueries {

  private def verdictSql(metrics: String*): String =
    graft.core.VerifyUtils.verdictSql(metrics: _*)

  private def valueVerdictSql(bools: Seq[String], values: Seq[String],
      ctePrefix: String = ""): String =
    graft.core.VerifyUtils.valueVerdictSql(bools, values, ctePrefix)

  private def li(s: SparkSession, d: String) = Tables(s, d, "lineitem")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")
  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")

  /** Memoized deterministic rank-1 ALS — shared by ml_als_fixed (its own
    * output) and the ml_als verdict (its rank-1 companion), so the
    * 5-iteration chain runs once per suite pass. */
  private def alsFixedShared(s: SparkSession, d: String) =
    graft.core.QueryCache.df(s, s"als_fixed:$d")(
      TextModels.alsFixed(s, ev(s, d)))

  // --- DuckDB-recomputable companion-metric SELECTs (value verdicts) ---

  /** max(p, 1−p) of bin_label = (l_returnflag = 'R') — plain SQL. */
  private def priorSel(metric: String): String =
    s"SELECT '$metric' AS metric, " +
      "FLOOR(GREATEST(p, 1 - p) * 1000000 + 0.5) / 1000000 AS value " +
      "FROM (SELECT AVG(CASE WHEN l_returnflag = 'R' " +
      "THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS p " +
      "FROM lineitem) pp"

  /** Majority class share over embeddings.label — plain SQL. */
  private def shareSel(metric: String): String =
    s"SELECT '$metric' AS metric, " +
      "FLOOR(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) " +
      "* 1000000 + 0.5) / 1000000 AS value " +
      "FROM (SELECT COUNT(*) AS c FROM embeddings GROUP BY label) gshare"

  /** STDDEV_SAMP(l_extendedprice) — the regressors' mean baseline. */
  private def labelSdSel(metric: String): String =
    s"SELECT '$metric' AS metric, " +
      "FLOOR(STDDEV_SAMP(l_extendedprice) * 10000 + 0.5) / 10000 AS value " +
      "FROM lineitem"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_cov_pairs" -> ((s, d) => Stats.covPairs(li(s, d))),
    "ml_corr_pairs" -> ((s, d) => Stats.corrPairs(li(s, d))),
    "ml_summary" -> ((s, d) => Stats.summary(li(s, d))),
    "ml_corr_matrix" -> ((s, d) => Stats.corrMatrix(s, emb(s, d), "pearson")),
    "ml_spearman_matrix" -> ((s, d) => Stats.corrMatrix(s, emb(s, d), "spearman")),
    "ml_cov_matrix" -> ((s, d) => Stats.covMatrix(s, emb(s, d))),
    "ml_linreg" -> ((s, d) => Supervised.linearRegression(s, li(s, d))),
    // the stock seeded fits run inside Checks.* — same estimator, same
    // data, plus the companion-metric verdict the driver adjudicates
    "ml_logreg" -> ((s, d) => Checks.logreg(s, li(s, d))),
    "ml_svc" -> ((s, d) => Checks.svc(s, li(s, d))),
    "ml_dtree" -> ((s, d) => Checks.dtree(s, emb(s, d))),
    "ml_rf" -> ((s, d) => Checks.rf(s, emb(s, d))),
    "ml_gbt" -> ((s, d) => Checks.gbt(s, li(s, d))),
    "ml_dtree_reg" -> ((s, d) => Checks.dtreeReg(s, li(s, d))),
    "ml_rf_reg" -> ((s, d) => Checks.rfReg(s, li(s, d))),
    "ml_gbt_reg" -> ((s, d) => Checks.gbtReg(s, li(s, d))),
    "ml_logreg_rule" -> ((s, d) => Supervised.logRegRule(s, emb(s, d))),
    "ml_svc_rule" -> ((s, d) => Supervised.svcRule(s, emb(s, d))),
    "ml_dtree_rule" -> ((s, d) => Supervised.decisionTreeRule(s, emb(s, d))),
    "ml_rf_rule" -> ((s, d) => Supervised.randomForestRule(s, emb(s, d))),
    "ml_gbt_rule" -> ((s, d) => Supervised.gbtRule(s, emb(s, d))),
    "ml_dtree_reg_rule" -> ((s, d) => Supervised.decisionTreeRegRule(s, emb(s, d))),
    "ml_rf_reg_rule" -> ((s, d) => Supervised.randomForestRegRule(s, emb(s, d))),
    "ml_gbt_reg_rule" -> ((s, d) => Supervised.gbtRegRule(s, emb(s, d))),
    "ml_pca2" -> ((s, d) => Unsupervised.pca2(s, emb(s, d))),
    "ml_svd2" -> ((s, d) => Unsupervised.svd2(s, emb(s, d))),
    // the Lloyd twin is memoized per sfDir: ml_kmeans's companion and
    // ml_lloyd_fixed's own output share one 5-iteration run
    "ml_kmeans" -> ((s, d) => Checks.kmeans(s, emb(s, d), Some(d))),
    "ml_lloyd_fixed" -> ((s, d) =>
      Unsupervised.lloydFixed(s, emb(s, d), memoKey = Some(d))),
    "ml_pca" -> ((s, d) => Checks.pca(s, emb(s, d))),
    "ml_svd" -> ((s, d) => Checks.svd(s, emb(s, d))),
    "ml_idf" -> ((s, d) => TextModels.idf(s, docs(s, d))),
    "ml_als" -> ((s, d) =>
      Checks.als(s, ev(s, d), Some(alsFixedShared(s, d)))),
    "ml_als_fixed" -> ((s, d) => alsFixedShared(s, d)),
    "ml_lda" -> ((s, d) => Checks.lda(s, docs(s, d))),
    "ml_nmf_topics" -> ((s, d) => TextModels.nmfFixed(s, docs(s, d))),
    "ml_prefixspan" -> ((s, d) => TextModels.prefixSpan(s, ev(s, d))),
    "ml_knn" -> ((s, d) => {
      val e = emb(s, d)
      // pruned exact search (two-pass backtracking bound) — same result
      // as brute force without the |Q|×|C| fan-out
      knn.Knn.fit(s, e).searchExact(
        e.filter(org.apache.spark.sql.functions.col("vec_id") < 10), k = 5)
    }),
    "ml_knn_class" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val e = emb(s, d)
      // exact-path vote: deterministic, so the confusion matrix is
      // oracle-checkable end to end
      knn.Knn.fit(s, e)
        .classifyExact(e.filter(col("vec_id") < 500), k = 5, labels = e)
        .join(e.select(col("vec_id").as("query_id"), col("label")), Seq("query_id"))
        .groupBy(col("label").cast("long").as("label"),
          col("prediction").cast("long").as("prediction"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("label", "prediction")
    }),
    "ml_knn_prob" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, d)
      // the classifier's probability surface (reference
      // KNNClassifier.scala:144-190): per-class vote fractions over the
      // exact 5-NN — integer votes / k, so every cell oracle-checks
      val out = knn.Knn.fit(s, e)
        .classifyExact(e.filter(col("vec_id") < 500), k = 5, labels = e)
      // p_<class> columns derived from the vote output, not hard-coded:
      // voteResult only emits columns for classes present in the corpus,
      // so a corpus missing a class must not fail at analysis time
      val probCols = out.columns.filter(_.startsWith("p_"))
        .sortBy(_.stripPrefix("p_").toLong)
      out.select(col("query_id") +:
        col("prediction").cast("long").as("prediction") +:
        probCols.toSeq.map(col): _*)
        .orderBy("query_id")
    }),
    "ml_simrank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val indexed = new org.apache.spark.ml.feature.StringIndexer()
        .setInputCol("event_type").setOutputCol("item")
        .fit(ev(s, d)).transform(ev(s, d))
      val ratings = indexed.groupBy(
          (col("user_id") % 100).cast("long").as("user"),
          col("item").cast("long").as("item"))
        .agg(count(lit(1)).cast("double").as("weight"))
      SimRank.userSimilarity(s, ratings).limit(50)
    }),
    "ml_dbscan" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val pts = emb(s, d).select(col("vec_id").as("id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      clustering.Dbscan.fitPredict(s, pts, eps = 0.05, minPoints = 5)
    }),
    "ml_spca2" -> ((s, d) => {
      // 2-column sparse-PCA companion: same COO → sparse-row path as
      // ml_spca, but the 2×2 eigensystem closed form is oracle-checkable
      import org.apache.spark.sql.functions._
      val coo = emb(s, d).select(col("vec_id").as("row"),
          posexplode(slice(col("embedding"), 1, 2)).as(Seq("col", "value")))
        .filter(col("value") =!= 0.0f)
      Spca.fit(s, coo, numCols = 2, k = 2)
    }),
    "ml_spca" -> ((s, d) => Checks.spca(s, emb(s, d))))

  /** (vec_id, i, v) unpivot of the 64-dim embedding column — shared CTE
    * of the matrix oracles. i is 1-based here; emitted 0-based to match
    * the Spark flattenUpper output. */
  /** Per-dimension unpivot of the embedding vectors, `dims` leading
    * dimensions (64 = the pinned full width; the fuzz grid slices). */
  private def unpivotCte(dims: Int = 64): String =
    "WITH x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v " +
      s"FROM embeddings, generate_series(1, $dims) t(i)) "

  private def upperMatrix(valueExpr: String, src: String): String =
    s"SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j, " +
      s"FLOOR($valueExpr * 1000000 + 0.5) / 1000000 AS v " +
      s"FROM $src a JOIN $src b ON a.vec_id = b.vec_id AND a.i <= b.i " +
      "GROUP BY a.i, b.i ORDER BY i, j"

  /** Upper-triangle Pearson / covariance / Spearman matrix oracles over
    * the `dims` leading embedding dimensions — the pinned
    * ml_corr_matrix / ml_cov_matrix / ml_spearman_matrix shapes,
    * parameterized for the fuzz grid. */
  private[graft] def corrMatrixSql(dims: Int = 64): String =
    unpivotCte(dims) + upperMatrix("CORR(a.v, b.v)", "x")

  private[graft] def covMatrixSql(dims: Int = 64): String =
    unpivotCte(dims) + upperMatrix("COVAR_SAMP(a.v, b.v)", "x")

  private[graft] def spearmanMatrixSql(dims: Int = 64): String =
    unpivotCte(dims) +
      ", rk AS (SELECT vec_id, i, AVG(rn) OVER (PARTITION BY i, v) AS v FROM " +
      "(SELECT vec_id, i, v, ROW_NUMBER() OVER (PARTITION BY i ORDER BY v) AS rn FROM x) q) " +
      upperMatrix("CORR(a.v, b.v)", "rk")

  /** The unrolled deterministic-Lloyd CTE chain (x/xd/c0/a_i/m_i/c_i up
    * to c$iters): one (assign, update, centers) triple per iteration —
    * the shared prefix of the ml_lloyd_fixed oracle and the composed
    * trained-IVF oracle (llm_ann_ivf_trained), which appends the
    * assignment/probe/rank stages on top of the trained centroids.
    * LIST_DISTANCE sums left to right like the Spark-side kernel;
    * centers are rounded to 1e-6 per iteration on both sides so
    * group-summation order cannot drift; clusters that lose every point
    * keep their previous center. MATERIALIZED per the
    * DuckDB-inlines-CTEs-per-reference lesson. */
  private[graft] def lloydCentroidCte(k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH x AS MATERIALIZED (SELECT vec_id, " +
      "LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv FROM embeddings)"
    sb ++= ", xd AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v " +
      s"FROM embeddings, generate_series(1, $dim) t(i))"
    sb ++= ", c0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, " +
      "LIST_TRANSFORM(xv, v -> FLOOR(v * 1000000 + 0.5) / 1000000) AS cv " +
      s"FROM (SELECT vec_id, xv FROM x ORDER BY vec_id LIMIT $k) t0)"
    for (i <- 1 to iters) {
      sb ++= s", a$i AS MATERIALIZED (SELECT vec_id, cluster FROM " +
        "(SELECT x.vec_id, c.cluster, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
        s"ORDER BY LIST_DISTANCE(x.xv, c.cv), c.cluster) AS rn FROM x CROSS JOIN c${i - 1} c) q " +
        "WHERE rn = 1)"
      sb ++= s", m$i AS MATERIALIZED (SELECT a.cluster, d.i, " +
        "FLOOR(AVG(d.v) * 1000000 + 0.5) / 1000000 AS m " +
        s"FROM a$i a JOIN xd d ON d.vec_id = a.vec_id GROUP BY a.cluster, d.i)"
      sb ++= s", c$i AS MATERIALIZED (SELECT p.cluster, " +
        "CASE WHEN COUNT(m.m) = 0 THEN p.cv ELSE LIST(m.m ORDER BY m.i) END AS cv " +
        s"FROM c${i - 1} p LEFT JOIN m$i m ON m.cluster = p.cluster " +
        "GROUP BY p.cluster, p.cv)"
    }
    sb.toString
  }

  private[graft] def lloydSql(k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder(lloydCentroidCte(k, iters, dim))
    sb ++= " SELECT cluster, dim, value FROM (" +
      s"SELECT c.cluster, CAST(t.i - 1 AS INTEGER) AS dim, c.cv[t.i] AS value " +
      s"FROM c$iters c, generate_series(1, $dim) t(i) " +
      "UNION ALL " +
      s"SELECT cluster, CAST(-1 AS INTEGER) AS dim, CAST(COUNT(*) AS DOUBLE) AS value " +
      s"FROM a$iters GROUP BY cluster) u ORDER BY cluster, dim"
    sb.toString
  }

  /** Separable-rule fixture shared by the supervised prediction oracles:
    * labels derive from embedding[1] with the |x| ≤ 0.03 band excluded, so
    * a correctly-fit model's training predictions equal the rule itself. */
  private val ruleCte =
    "WITH d AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x " +
      "FROM embeddings WHERE ABS(CAST(embedding[1] AS DOUBLE)) > 0.03) "

  // CAST keeps DuckDB on DOUBLE (bare 1.0 literals widen CASE to DECIMAL)
  private val clsRuleSql = ruleCte +
    "SELECT vec_id, CAST(CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) " +
    "AS prediction FROM d ORDER BY vec_id"

  private val regRuleSql = ruleCte +
    "SELECT vec_id, CAST(CASE WHEN x < 0 THEN 10.0 ELSE 20.0 END AS DOUBLE) " +
    "AS prediction FROM d ORDER BY vec_id"

  /** Tree-family fixture: coarse integer feature floor(5x), full table
    * (no margin needed — split candidates sit between integer levels). */
  private val treeRuleCte =
    "WITH d AS (SELECT vec_id, FLOOR(CAST(embedding[1] AS DOUBLE) * 5) AS f " +
      "FROM embeddings) "

  private val treeClsRuleSql = treeRuleCte +
    "SELECT vec_id, CAST(CASE WHEN f >= 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) " +
    "AS prediction FROM d ORDER BY vec_id"

  private val treeRegRuleSql = treeRuleCte +
    "SELECT vec_id, CAST(CASE WHEN f < 0 THEN 10.0 ELSE 20.0 END AS DOUBLE) " +
    "AS prediction FROM d ORDER BY vec_id"

  /** Closed-form 2×2 eigensystem CTE: a/b/c is the (co)variance or Gram
    * matrix of embedding dims (off, off+1), l1/l2 its eigenvalues,
    * eigenvector for λ ∝ (b, λ−a). */
  private def eig2Sql(a: String, b: String, c: String, fromSql: String,
      rowSql: String, off: Int = 1): String = {
    // mirror of Unsupervised.pca2/svd2's bound: DuckDB yields NULL for
    // an out-of-range index instead of erroring, so an invalid off must
    // be rejected before it can silently diverge from the engine
    require(off >= 1, s"off is a 1-based dim index, got $off")
    s"WITH d AS (SELECT CAST(embedding[$off] AS DOUBLE) AS x, " +
      s"CAST(embedding[${off + 1}] AS DOUBLE) AS y FROM embeddings), " +
      s"s AS (SELECT $a AS a, $b AS b, $c AS c FROM $fromSql), " +
      "e AS (SELECT a, b, c, " +
      "(a + c) / 2 + SQRT((a - c) * (a - c) / 4 + b * b) AS l1, " +
      "(a + c) / 2 - SQRT((a - c) * (a - c) / 4 + b * b) AS l2 FROM s), " +
      "v AS (SELECT a, b, c, l1, l2, " +
      "SQRT(b * b + (l1 - a) * (l1 - a)) AS n1, " +
      "SQRT(b * b + (l2 - a) * (l2 - a)) AS n2 FROM e) " +
      rowSql
  }

  /** PCA-on-2-dims closed-form replica (the pinned ml_pca2 shape),
    * parameterized over the leading dim of the (off, off+1) pair for
    * the fuzz grid. */
  private[graft] def pca2Sql(off: Int = 1): String =
    eig2Sql("VAR_SAMP(x)", "COVAR_SAMP(x, y)", "VAR_SAMP(y)", "d",
      "SELECT component, FLOOR(ev * 1000000 + 0.5) / 1000000 AS explained_variance, " +
        "FLOOR(ld1 * 1000000 + 0.5) / 1000000 AS abs_load_1, " +
        "FLOOR(ld2 * 1000000 + 0.5) / 1000000 AS abs_load_2 FROM (" +
        "SELECT 0 AS component, l1 / (a + c) AS ev, ABS(b) / n1 AS ld1, " +
        "ABS(l1 - a) / n1 AS ld2 FROM v " +
        "UNION ALL SELECT 1, l2 / (a + c), ABS(b) / n2, ABS(l2 - a) / n2 FROM v) u " +
        "ORDER BY component", off)

  /** SVD-on-2-dims closed-form replica (the pinned ml_svd2 shape),
    * parameterized over the leading dim for the fuzz grid. */
  private[graft] def svd2Sql(off: Int = 1): String =
    eig2Sql("SUM(x * x)", "SUM(x * y)", "SUM(y * y)", "d",
      "SELECT idx AS index, FLOOR(SQRT(l) * 1000000 + 0.5) / 1000000 AS singular_value, " +
        "FLOOR(ld1 * 1000000 + 0.5) / 1000000 AS abs_load_1, " +
        "FLOOR(ld2 * 1000000 + 0.5) / 1000000 AS abs_load_2 FROM (" +
        "SELECT 0 AS idx, l1 AS l, ABS(b) / n1 AS ld1, ABS(l1 - a) / n1 AS ld2 FROM v " +
        "UNION ALL SELECT 1, l2, ABS(b) / n2, ABS(l2 - a) / n2 FROM v) u " +
        "ORDER BY index", off)

  /** Cramer-OLS replica (the pinned ml_linreg shape), parameterized
    * over the 3-feature subset + label for the fuzz grid: regParam 0
    * with ≤4096 features resolves Spark's LinearRegression to the
    * closed-form normal-equation solver, so OLS via Cramer's rule on
    * the centered 3×3 system reproduces the fit exactly at any column
    * choice. The internal symbol names (q/d/t/y sums) are fixed; only
    * the source columns interpolate. */
  private[graft] def cramerOlsSql(
      f1: String = "l_quantity", f2: String = "l_discount",
      f3: String = "l_tax", label: String = "l_extendedprice"): String =
    (s"WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
      s"AVG($f1) AS mq, AVG($f2) AS md, AVG($f3) AS mt, " +
      s"AVG($label) AS my, " +
      s"SUM($f1*$f1) AS qq, SUM($f1*$f2) AS qd, " +
      s"SUM($f1*$f3) AS qt, SUM($f2*$f2) AS dd, " +
      s"SUM($f2*$f3) AS dt, SUM($f3*$f3) AS tt, " +
      s"SUM($f1*$label) AS qy, " +
      s"SUM($f2*$label) AS dy, " +
      s"SUM($f3*$label) AS ty FROM lineitem), " +
      "m AS (SELECT n, mq, md, mt, my, " +
      "qq - n*mq*mq AS a, qd - n*mq*md AS b, qt - n*mq*mt AS cc, " +
      "dd - n*md*md AS e, dt - n*md*mt AS f, tt - n*mt*mt AS g, " +
      "qy - n*mq*my AS r1, dy - n*md*my AS r2, ty - n*mt*my AS r3 FROM s), " +
      "k AS (SELECT mq, md, mt, my, " +
      "(r1*(e*g - f*f) - b*(r2*g - f*r3) + cc*(r2*f - e*r3)) / " +
      "(a*(e*g - f*f) - b*(b*g - f*cc) + cc*(b*f - e*cc)) AS b1, " +
      "(a*(r2*g - f*r3) - r1*(b*g - f*cc) + cc*(b*r3 - r2*cc)) / " +
      "(a*(e*g - f*f) - b*(b*g - f*cc) + cc*(b*f - e*cc)) AS b2, " +
      "(a*(e*r3 - r2*f) - b*(b*r3 - r2*cc) + r1*(b*f - e*cc)) / " +
      "(a*(e*g - f*f) - b*(b*g - f*cc) + cc*(b*f - e*cc)) AS b3 FROM m), " +
      "kk AS (SELECT b1, b2, b3, my - b1*mq - b2*md - b3*mt AS b0 FROM k), " +
      s"rm AS (SELECT SQRT(AVG(POW($label - " +
      s"(b0 + b1*$f1 + b2*$f2 + b3*$f3), 2))) AS rmse " +
      "FROM lineitem, kk) " +
      "SELECT term, FLOOR(value * 10000 + 0.5) / 10000 AS value FROM (" +
      "SELECT 'coef_0' AS term, b1 AS value FROM kk " +
      "UNION ALL SELECT 'coef_1', b2 FROM kk " +
      "UNION ALL SELECT 'coef_2', b3 FROM kk " +
      "UNION ALL SELECT 'intercept', b0 FROM kk " +
      "UNION ALL SELECT 'rmse', rmse FROM rm) u ORDER BY term")

  /** Unrolled bipartite-SimRank oracle: the BlockMatrix product chain
    * (S_i ← c·ŴcᵀS_uŴc, S_u ← c·ŴrS_iŴrᵀ, diag reset, |v|≥threshold
    * pruning — see [[SimRank.userSimilarity]]) as join+group-by matrix
    * multiplies over (i,j,v) triples, one CTE pair per multiply. The
    * StringIndexer item encoding is frequency-desc with alphabetical
    * tiebreak = ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type). */
  private[graft] def simrankSql(iters: Int, damp: Double = 0.6,
      threshold: Double = 1e-4): String = {
    val sb = new StringBuilder
    sb ++= "WITH ev AS MATERIALIZED (SELECT user_id % 100 AS uu, event_type FROM events)"
    sb ++= ", itm AS MATERIALIZED (SELECT event_type, " +
      "ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) - 1 AS item " +
      "FROM events GROUP BY event_type)"
    sb ++= ", r AS MATERIALIZED (SELECT ev.uu, itm.item, " +
      "CAST(COUNT(*) AS DOUBLE) AS w FROM ev JOIN itm USING (event_type) " +
      "GROUP BY ev.uu, itm.item)"
    sb ++= ", rs AS (SELECT uu, SUM(w) AS s FROM r GROUP BY uu)"
    sb ++= ", cs AS (SELECT item, SUM(w) AS s FROM r GROUP BY item)"
    sb ++= ", wr AS MATERIALIZED (SELECT r.uu, r.item, r.w / rs.s AS v " +
      "FROM r JOIN rs USING (uu))"
    sb ++= ", wc AS MATERIALIZED (SELECT r.uu, r.item, r.w / cs.s AS v " +
      "FROM r JOIN cs USING (item))"
    // the generate_series TVF rejects subquery bounds; scalar range() + UNNEST doesn't
    sb ++= ", un AS (SELECT UNNEST(range(0, (SELECT MAX(uu) FROM r) + 1)) AS id)"
    sb ++= ", im AS (SELECT UNNEST(range(0, (SELECT MAX(item) FROM r) + 1)) AS id)"
    sb ++= ", su0 AS (SELECT id AS a, id AS b, CAST(1 AS DOUBLE) AS v FROM un)"
    for (i <- 1 to iters) {
      // S_i = damp · Wcᵀ S_u Wc, diag 1, pruned
      sb ++= s", ia$i AS MATERIALIZED (SELECT wc.item AS a, su.b, " +
        s"SUM(wc.v * su.v) AS v FROM wc JOIN su${i - 1} su ON su.a = wc.uu " +
        "GROUP BY wc.item, su.b)"
      sb ++= s", si$i AS MATERIALIZED (SELECT a, b, v FROM (" +
        s"SELECT x.a, w2.item AS b, $damp * SUM(x.v * w2.v) AS v " +
        s"FROM ia$i x JOIN wc w2 ON w2.uu = x.b GROUP BY x.a, w2.item) q " +
        s"WHERE a <> b AND ABS(v) >= $threshold " +
        "UNION ALL SELECT id, id, CAST(1 AS DOUBLE) FROM im)"
      // S_u = damp · Wr S_i Wrᵀ, diag 1, pruned
      sb ++= s", ua$i AS MATERIALIZED (SELECT wr.uu AS a, si.b, " +
        s"SUM(wr.v * si.v) AS v FROM wr JOIN si$i si ON si.a = wr.item " +
        "GROUP BY wr.uu, si.b)"
      sb ++= s", su$i AS MATERIALIZED (SELECT a, b, v FROM (" +
        s"SELECT x.a, w2.uu AS b, $damp * SUM(x.v * w2.v) AS v " +
        s"FROM ua$i x JOIN wr w2 ON w2.item = x.b GROUP BY x.a, w2.uu) q " +
        s"WHERE a <> b AND ABS(v) >= $threshold " +
        "UNION ALL SELECT id, id, CAST(1 AS DOUBLE) FROM un)"
    }
    sb ++= s" SELECT a AS u1, b AS u2, FLOOR(v * 10000 + 0.5) / 10000 AS score " +
      s"FROM su$iters WHERE a < b AND v >= $threshold " +
      "ORDER BY score DESC, u1, u2 LIMIT 50"
    sb.toString
  }

  /** Unrolled deterministic rank-1 ALS oracle: one (x, y) CTE pair per
    * iteration, factors floor-rounded 1e-6 per half-step like the Spark
    * side; ratings pass through the same float32 narrowing. */
  /** The deterministic rank-1 ALS chain through the `p`/`rm` CTEs — the
    * shared prefix of the ml_als_fixed replay oracle and the ml_als
    * value-verdict oracle (which recomputes the rank-1 companion rmse). */
  private def alsFixedCte(iters: Int, lambda: Double = 0.1): String = {
    val sb = new StringBuilder
    sb ++= "WITH itm AS MATERIALIZED (SELECT event_type, " +
      "ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) - 1 AS item " +
      "FROM events GROUP BY event_type)"
    sb ++= ", r AS MATERIALIZED (SELECT CAST(e.user_id AS INTEGER) AS u, " +
      "CAST(itm.item AS INTEGER) AS it, " +
      "CAST(CAST(AVG(e.value) AS REAL) AS DOUBLE) AS rating " +
      "FROM events e JOIN itm USING (event_type) GROUP BY 1, 2)"
    sb ++= ", y0 AS (SELECT DISTINCT it, CAST(1.0 AS DOUBLE) AS y FROM r)"
    for (i <- 1 to iters) {
      sb ++= s", x$i AS MATERIALIZED (SELECT u, FLOOR(SUM(rating * y) / " +
        s"(SUM(y * y) + $lambda) * 1000000 + 0.5) / 1000000 AS x " +
        s"FROM r JOIN y${i - 1} USING (it) GROUP BY u)"
      sb ++= s", y$i AS MATERIALIZED (SELECT it, FLOOR(SUM(rating * x) / " +
        s"(SUM(x * x) + $lambda) * 1000000 + 0.5) / 1000000 AS y " +
        s"FROM r JOIN x$i USING (u) GROUP BY it)"
    }
    sb ++= s", p AS (SELECT r.u, r.it, r.rating, x.x * y.y AS p " +
      s"FROM r JOIN x$iters x USING (u) JOIN y$iters y USING (it))"
    sb ++= ", rm AS (SELECT SQRT(AVG((rating - p) * (rating - p))) AS rmse FROM p)"
    sb.toString
  }

  private[graft] def alsFixedSql(iters: Int, lambda: Double = 0.1): String =
    alsFixedCte(iters, lambda) +
      " SELECT CAST(u AS BIGINT) AS \"user\", CAST(it AS BIGINT) AS item, " +
      "FLOOR(p * 10000 + 0.5) / 10000 AS pred FROM p " +
      "UNION ALL SELECT -1, -1, FLOOR(rmse * 10000 + 0.5) / 10000 FROM rm " +
      "ORDER BY \"user\", item"

  /** Unrolled Lee–Seung NMF oracle: one CTE block per iteration — WᵀV,
    * WᵀW, WᵀWH then the H update, VHᵀ, HHᵀ, WHHᵀ then the W update —
    * factors floor-rounded 1e-6 per half-update like the Spark side. */
  private[graft] def nmfSql(k: Int, iters: Int, vocabSize: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH tok AS MATERIALIZED (SELECT doc_id, " +
      "UNNEST(string_split(text, ' ')) AS term FROM documents)"
    sb ++= s", vocab AS MATERIALIZED (SELECT term, r FROM (SELECT term, " +
      "ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) - 1 AS r " +
      s"FROM tok GROUP BY term) q WHERE r < $vocabSize)"
    sb ++= ", v AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS v " +
      "FROM tok JOIN vocab USING (term) GROUP BY doc_id, term)"
    sb ++= s", tp AS (SELECT UNNEST(range(0, $k)) AS t)"
    sb ++= ", w0 AS MATERIALIZED (SELECT d.doc_id, tp.t, " +
      "CAST(1.0 + ((d.doc_id + tp.t) % 3) * 0.25 AS DOUBLE) AS w " +
      "FROM (SELECT DISTINCT doc_id FROM documents) d CROSS JOIN tp)"
    sb ++= ", h0 AS MATERIALIZED (SELECT tp.t, vocab.term, " +
      "CAST(1.0 + ((vocab.r + tp.t) % 3) * 0.25 AS DOUBLE) AS h " +
      "FROM vocab CROSS JOIN tp)"
    for (i <- 1 to iters) {
      sb ++= s", wtv$i AS MATERIALIZED (SELECT w.t, v.term, SUM(w.w * v.v) AS wtv " +
        s"FROM w${i - 1} w JOIN v ON v.doc_id = w.doc_id GROUP BY w.t, v.term)"
      sb ++= s", wtw$i AS (SELECT a.t, b.t AS t2, SUM(a.w * b.w) AS g " +
        s"FROM w${i - 1} a JOIN w${i - 1} b ON b.doc_id = a.doc_id GROUP BY a.t, b.t)"
      sb ++= s", wtwh$i AS (SELECT g.t, h.term, SUM(g.g * h.h) AS d " +
        s"FROM wtw$i g JOIN h${i - 1} h ON h.t = g.t2 GROUP BY g.t, h.term)"
      sb ++= s", h$i AS MATERIALIZED (SELECT h.t, h.term, " +
        "FLOOR(h.h * COALESCE(wtv.wtv, 0) / d.d * 1000000 + 0.5) / 1000000 AS h " +
        s"FROM h${i - 1} h LEFT JOIN wtv$i wtv ON wtv.t = h.t AND wtv.term = h.term " +
        s"JOIN wtwh$i d ON d.t = h.t AND d.term = h.term)"
      sb ++= s", vht$i AS MATERIALIZED (SELECT v.doc_id, h.t, SUM(v.v * h.h) AS vht " +
        s"FROM v JOIN h$i h USING (term) GROUP BY v.doc_id, h.t)"
      sb ++= s", hht$i AS (SELECT a.t, b.t AS t2, SUM(a.h * b.h) AS g " +
        s"FROM h$i a JOIN h$i b USING (term) GROUP BY a.t, b.t)"
      sb ++= s", whht$i AS (SELECT w.doc_id, g.t, SUM(w.w * g.g) AS d " +
        s"FROM w${i - 1} w JOIN hht$i g ON g.t2 = w.t GROUP BY w.doc_id, g.t)"
      sb ++= s", w$i AS MATERIALIZED (SELECT w.doc_id, w.t, " +
        "FLOOR(w.w * COALESCE(vht.vht, 0) / d.d * 1000000 + 0.5) / 1000000 AS w " +
        s"FROM w${i - 1} w LEFT JOIN vht$i vht ON vht.doc_id = w.doc_id AND vht.t = w.t " +
        s"JOIN whht$i d ON d.doc_id = w.doc_id AND d.t = w.t)"
    }
    sb ++= s" SELECT t AS topic, term, FLOOR(h * 10000 + 0.5) / 10000 AS weight " +
      s"FROM h$iters ORDER BY topic, term"
    sb.toString
  }

  val oracle: Map[String, String] = Map(
    // value verdicts for the Checks-wrapped stock fits: boolean checks
    // as constant 1.0 rows (the fit's own seeded trajectory stays
    // Spark-side), companion METRICS as values DuckDB recomputes from
    // the parquet tables itself (round-9 upgrade — the external engine
    // verifies the verdict's ingredients, not just the row shape)
    "ml_kmeans" -> valueVerdictSql(
      Seq("kmeans_clusters_in_range", "kmeans_sizes_sum_n",
        "kmeans_wssse_le_lloyd4"),
      // per-row rounding of the squared distance to whole 1e-6 units
      // BEFORE the sum, the units summed as integers and the total
      // rounded half up to 1e-4 in integers: the same exact value on
      // both engines, whatever order either sums in
      Seq("SELECT 'kmeans_wssse_lloyd4' AS metric, " +
        "((SUM(CAST(FLOOR(POWER(LIST_DISTANCE(x.xv, c.cv), 2) " +
        "* 1000000 + 0.5) AS BIGINT)) + 50) // 100) " +
        "/ 10000.0 AS value FROM a5 a JOIN x ON x.vec_id = a.vec_id " +
        "JOIN c5 c ON c.cluster = a.cluster"),
      ctePrefix = lloydCentroidCte(k = 4, iters = 5, dim = 64)),
    "ml_pca" -> valueVerdictSql(
      Seq("pca_ev_descending", "pca_ev_sum_le_1", "pca_rayleigh_halfpct",
        "pca_top_ge_best_axis"),
      // per-axis 1e-8 rounding BEFORE the sum/max (round-9 advice):
      // identical aggregated operands on both engines
      Seq("SELECT 'pca_total_variance' AS metric, " +
        "FLOOR(SUM(s) * 1000000 + 0.5) / 1000000 AS value FROM " +
        "(SELECT FLOOR(VAR_SAMP(CAST(embedding[i] AS DOUBLE)) " +
        "* 100000000 + 0.5) / 100000000 AS s " +
        "FROM embeddings, generate_series(1, 64) t(i) GROUP BY i) av",
        "SELECT 'pca_best_axis_share' AS metric, " +
        "FLOOR(MAX(s) / SUM(s) * 1000000 + 0.5) / 1000000 AS value FROM " +
        "(SELECT FLOOR(VAR_SAMP(CAST(embedding[i] AS DOUBLE)) " +
        "* 100000000 + 0.5) / 100000000 AS s " +
        "FROM embeddings, generate_series(1, 64) t(i) GROUP BY i) av2")),
    "ml_spca" -> valueVerdictSql(
      Seq("spca_ev_descending", "spca_matches_dense_pca_1e6"),
      Seq("SELECT 'spca_coo_nnz' AS metric, " +
        "CAST(COUNT(*) AS DOUBLE) AS value FROM " +
        "(SELECT UNNEST(embedding) AS v FROM embeddings) u WHERE v <> 0",
        "SELECT 'spca_total_variance' AS metric, " +
        "FLOOR(SUM(s) * 1000000 + 0.5) / 1000000 AS value FROM " +
        "(SELECT FLOOR(VAR_SAMP(CAST(embedding[i] AS DOUBLE)) " +
        "* 100000000 + 0.5) / 100000000 AS s " +
        "FROM embeddings, generate_series(1, 64) t(i) GROUP BY i) sv")),
    "ml_svd" -> valueVerdictSql(
      Seq("svd_energy_le_frobenius", "svd_s_descending", "svd_s_nonneg",
        "svd_top_ge_avg_column_energy"),
      Seq("SELECT 'svd_frobenius_energy' AS metric, " +
        "FLOOR(SUM(v * v) * 10000 + 0.5) / 10000 AS value FROM " +
        "(SELECT UNNEST(LIST_TRANSFORM(embedding, " +
        "x -> CAST(x AS DOUBLE))) AS v FROM embeddings) fr")),
    "ml_logreg" -> valueVerdictSql(
      Seq("logreg_acc_ge_majority_prior", "logreg_params_finite"),
      Seq(priorSel("logreg_majority_prior"))),
    "ml_svc" -> valueVerdictSql(
      Seq("svc_acc_ge_majority_prior", "svc_params_finite"),
      Seq(priorSel("svc_majority_prior"))),
    "ml_gbt" -> valueVerdictSql(
      Seq("gbt_acc_ge_majority_prior"),
      Seq(priorSel("gbt_majority_prior"),
        "SELECT 'gbt_num_trees' AS metric, CAST(5.0 AS DOUBLE) AS value")),
    "ml_dtree" -> valueVerdictSql(
      Seq("dtree_acc_gt_majority_share", "dtree_confusion_covers_corpus"),
      Seq(shareSel("dtree_majority_share"),
        "SELECT 'dtree_corpus_rows' AS metric, " +
          "CAST(COUNT(*) AS DOUBLE) AS value FROM embeddings")),
    "ml_rf" -> valueVerdictSql(
      Seq("rf_acc_gt_majority_share", "rf_importances_unit_range"),
      Seq(shareSel("rf_majority_share"))),
    "ml_dtree_reg" -> valueVerdictSql(
      Seq("dtree_reg_rmse_finite", "dtree_reg_rmse_le_mean_baseline"),
      Seq(labelSdSel("dtree_reg_label_sd"))),
    "ml_rf_reg" -> valueVerdictSql(
      Seq("rf_reg_rmse_finite", "rf_reg_rmse_le_mean_baseline"),
      Seq(labelSdSel("rf_reg_label_sd"))),
    "ml_gbt_reg" -> valueVerdictSql(
      Seq("gbt_reg_rmse_finite", "gbt_reg_rmse_le_mean_baseline"),
      Seq(labelSdSel("gbt_reg_label_sd"))),
    "ml_als" -> valueVerdictSql(
      Seq("als_predicts_all_observed_pairs", "als_rmse_le_rank1_companion"),
      Seq("SELECT 'als_rmse_rank1' AS metric, " +
        "FLOOR(rmse * 10000 + 0.5) / 10000 AS value FROM rm"),
      ctePrefix = alsFixedCte(iters = 5)),
    "ml_lda" -> valueVerdictSql(
      Seq("lda_shape_k_topics_top5_in_vocab",
        "lda_top_weights_valid_distribution"),
      Seq("SELECT 'lda_vocab_size' AS metric, " +
        "CAST(LEAST(64, COUNT(DISTINCT term)) AS DOUBLE) AS value FROM " +
        "(SELECT UNNEST(string_split(text, ' ')) AS term " +
        "FROM documents) tok")),
    "ml_simrank" -> simrankSql(iters = 5),
    "ml_nmf_topics" -> nmfSql(k = 3, iters = 3, vocabSize = 64),
    "ml_als_fixed" -> alsFixedSql(iters = 5),
    "ml_lloyd_fixed" -> lloydSql(k = 4, iters = 5, dim = 64),
    "ml_logreg_rule" -> clsRuleSql,
    "ml_svc_rule" -> clsRuleSql,
    "ml_dtree_rule" -> treeClsRuleSql,
    "ml_rf_rule" -> treeClsRuleSql,
    "ml_gbt_rule" -> treeClsRuleSql,
    "ml_dtree_reg_rule" -> treeRegRuleSql,
    "ml_rf_reg_rule" -> treeRegRuleSql,
    "ml_gbt_reg_rule" -> treeRegRuleSql,
    "ml_spca2" -> eig2Sql("VAR_SAMP(x)", "COVAR_SAMP(x, y)", "VAR_SAMP(y)", "d",
      "SELECT component, FLOOR(ev * 1000000 + 0.5) / 1000000 AS explained_variance FROM (" +
        "SELECT 0 AS component, l1 / (a + c) AS ev FROM v " +
        "UNION ALL SELECT 1, l2 / (a + c) FROM v) u ORDER BY component"),
    // PCA on 2 features: explained variance = λ_i / trace, loadings from
    // the closed-form eigenvectors (sample covariance, matching Spark)
    "ml_pca2" -> pca2Sql(),
    // SVD of the n×2 matrix: σ_i = sqrt(Gram eigenvalues), V from the
    // same closed form (uncentered sums — Gram, not covariance)
    "ml_svd2" -> svd2Sql(),
    // regParam 0 with 3 features resolves to the closed-form normal-
    // equation solver, so OLS via Cramer's rule on the centered 3×3
    // system reproduces the fit exactly
    "ml_linreg" -> cramerOlsSql(),
    "ml_corr_matrix" -> corrMatrixSql(),
    "ml_cov_matrix" -> covMatrixSql(),
    // Spearman = Pearson over average ranks (ties averaged, as in the
    // mllib SpearmanCorrelation rank assignment)
    "ml_spearman_matrix" -> spearmanMatrixSql(),
    // vocabulary = all distinct whitespace tokens (fixture vocab < 64 =
    // the CountVectorizer cap), idf = ln((m+1)/(df+1))
    "ml_idf" ->
      ("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents), " +
        "cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term), " +
        "top AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 64), " +
        "df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term), " +
        "m AS (SELECT COUNT(*) AS m FROM documents) " +
        "SELECT t.term, FLOOR(LN((m.m + 1.0) / (df.df + 1.0)) * 10000 + 0.5) / 10000 " +
        "AS idf FROM top t JOIN df USING (term), m ORDER BY term"),
    "ml_cov_pairs" ->
      ("SELECT FLOOR(COVAR_SAMP(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS cov_qty_price, " +
        "FLOOR(COVAR_SAMP(l_discount, l_tax) * 100000000 + 0.5) / 100000000 AS cov_disc_tax " +
        "FROM lineitem"),
    "ml_corr_pairs" ->
      ("SELECT FLOOR(CORR(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000 AS corr_qty_price, " +
        "FLOOR(CORR(l_discount, l_tax) * 1000000 + 0.5) / 1000000 AS corr_disc_tax " +
        "FROM lineitem"),
    "ml_summary" ->
      ("SELECT COUNT(l_quantity) AS cnt, " +
        "FLOOR(AVG(l_quantity) * 10000 + 0.5) / 10000 AS mean, " +
        "FLOOR(STDDEV_SAMP(l_quantity) * 10000 + 0.5) / 10000 AS std, " +
        "MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem"),
    // exact k-NN (self excluded) majority vote, min-label tiebreak,
    // grouped into the confusion matrix
    "ml_knn_class" -> knnClassSql(kVote = 5),
    // same 5-NN vote, but the per-query probability surface: winner +
    // per-class vote fraction (votes/5, floor-rounded to 4 dp)
    "ml_knn_prob" ->
      ("WITH q AS (SELECT vec_id AS query_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe " +
        "FROM embeddings WHERE vec_id < 500), " +
        "c AS (SELECT vec_id AS nid, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce, " +
        "label AS nl FROM embeddings), " +
        "s AS (SELECT query_id, nid, nl, LIST_DISTANCE(qe, ce) AS dist FROM q CROSS JOIN c " +
        "WHERE nid <> query_id), " +
        "rk AS (SELECT query_id, nl, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(dist * 1000000 + 0.5) / 1000000, nid) AS rn FROM s), " +
        "votes AS (SELECT query_id, nl, COUNT(*) AS v FROM rk WHERE rn <= 5 GROUP BY query_id, nl), " +
        "pred AS (SELECT query_id, nl AS prediction FROM " +
        "(SELECT query_id, nl, v, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY v DESC, nl) AS rn FROM votes) t WHERE rn = 1) " +
        "SELECT p.query_id, CAST(p.prediction AS BIGINT) AS prediction, " +
        (0 to 9).map(cl =>
          s"FLOOR(COALESCE(SUM(CASE WHEN v.nl = $cl THEN v.v END), 0) / 5.0 " +
            s"* 10000 + 0.5) / 10000 AS p_$cl").mkString(", ") +
        " FROM pred p JOIN votes v USING (query_id) " +
        "GROUP BY p.query_id, p.prediction ORDER BY query_id"),
    // grid DBSCAN ≡ brute-force DBSCAN at this scale: core = ≥minPts
    // in-eps neighbors (self incl.), cluster = min core id over the
    // core-core reachability closure, border inherits the min
    // neighbor-core label
    "ml_dbscan" -> dbscanSql(eps = 0.05, minPts = 5),
    // PrefixSpan (single-item itemsets, maxPatternLength 3) = a-priori
    // subsequence counting: support of a pattern = #users with ordered
    // positions matching it; threshold = ceil(minSup · #users)
    "ml_prefixspan" -> prefixSpanSql(minSup = 0.2),
    "ml_knn" -> knnSql(k = 5, nq = 10))

  /** Exact top-k neighbor oracle over the first `nq` query vectors —
    * the pinned ml_knn shape, parameterized for the fuzz grid. */
  private[graft] def knnSql(k: Int, nq: Int): String =
    "WITH q AS (SELECT vec_id AS query_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe " +
      s"FROM embeddings WHERE vec_id < $nq), " +
      "c AS (SELECT vec_id AS neighbor_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce " +
      "FROM embeddings), " +
      "s AS (SELECT query_id, neighbor_id, LIST_DISTANCE(qe, ce) AS dist FROM q CROSS JOIN c), " +
      "rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(dist * 1000000 + 0.5) / 1000000, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(dist * 10000 + 0.5) / 10000 AS dist FROM s) " +
      s"SELECT query_id, rank, neighbor_id, dist FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"

  /** Exact kVote-NN (self excluded) majority vote, min-label tiebreak,
    * grouped into the confusion matrix — the pinned ml_knn_class shape,
    * parameterized for the fuzz grid. */
  private[graft] def knnClassSql(kVote: Int): String =
    "WITH q AS (SELECT vec_id AS query_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe, " +
      "label FROM embeddings WHERE vec_id < 500), " +
      "c AS (SELECT vec_id AS nid, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce, " +
      "label AS nl FROM embeddings), " +
      "s AS (SELECT query_id, nid, nl, LIST_DISTANCE(qe, ce) AS dist FROM q CROSS JOIN c " +
      "WHERE nid <> query_id), " +
      "rk AS (SELECT query_id, nl, ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(dist * 1000000 + 0.5) / 1000000, nid) AS rn FROM s), " +
      s"votes AS (SELECT query_id, nl, COUNT(*) AS v FROM rk WHERE rn <= $kVote GROUP BY query_id, nl), " +
      "pred AS (SELECT query_id, nl AS prediction FROM " +
      "(SELECT query_id, nl, v, ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY v DESC, nl) AS rn FROM votes) t WHERE rn = 1) " +
      "SELECT CAST(q.label AS BIGINT) AS label, CAST(p.prediction AS BIGINT) AS prediction, " +
      "COUNT(*) AS cnt FROM pred p JOIN q ON q.query_id = p.query_id " +
      "GROUP BY q.label, p.prediction ORDER BY label, prediction"

  /** Brute-force DBSCAN oracle (core = ≥minPts in-eps neighbors, self
    * included; min-core-id components; borders inherit the min
    * neighbor-core label) — the pinned ml_dbscan shape, parameterized
    * for the fuzz grid. */
  private[graft] def dbscanSql(eps: Double, minPts: Int): String =
    "WITH RECURSIVE p AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x, " +
      "CAST(embedding[2] AS DOUBLE) AS y FROM embeddings), " +
      "pr AS (SELECT a.id AS a, b.id AS b FROM p a JOIN p b ON " +
      s"(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= $eps * $eps), " +
      s"core AS (SELECT a AS id FROM (SELECT a, COUNT(*) AS n FROM pr GROUP BY a) t WHERE n >= $minPts), " +
      "ce AS (SELECT pr.a, pr.b FROM pr JOIN core ca ON ca.id = pr.a " +
      "JOIN core cb ON cb.id = pr.b WHERE pr.a <> pr.b), " +
      "r AS (SELECT id AS node, id AS reach FROM core " +
      "UNION SELECT r.node, ce.b FROM r JOIN ce ON ce.a = r.reach), " +
      "comp AS (SELECT node AS id, MIN(reach) AS label FROM r GROUP BY node), " +
      "border AS (SELECT pr.a AS id, MIN(comp.label) AS blabel FROM pr " +
      "JOIN core ON core.id = pr.b JOIN comp ON comp.id = pr.b " +
      "WHERE pr.a NOT IN (SELECT id FROM core) GROUP BY pr.a) " +
      "SELECT p.id, CAST(CASE WHEN comp.id IS NOT NULL THEN 0 " +
      "WHEN border.id IS NOT NULL THEN 1 ELSE -1 END AS INTEGER) AS point_type, " +
      "CAST(COALESCE(comp.label, border.blabel, -1) AS BIGINT) AS label " +
      "FROM p LEFT JOIN comp ON comp.id = p.id LEFT JOIN border ON border.id = p.id " +
      "ORDER BY p.id"

  /** A-priori subsequence-counting PrefixSpan oracle (single-item
    * itemsets, maxPatternLength 3) — the pinned ml_prefixspan shape,
    * parameterized for the fuzz grid. `where` optionally restricts the
    * event rows (the fuzz grid's deterministic input subsets — on the
    * full synthetic corpus every pattern clears every threshold, so
    * minSup alone does not discriminate). */
  private[graft] def prefixSpanSql(minSup: Double,
      where: String = ""): String =
    "WITH ev AS (SELECT user_id AS u, event_type AS t, " +
      "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS pos " +
      s"FROM events${if (where.isEmpty) "" else " " + where}), " +
      s"m AS (SELECT CAST(CEIL($minSup * COUNT(DISTINCT u)) AS BIGINT) AS mc FROM ev), " +
      "l1 AS (SELECT t AS pattern, COUNT(DISTINCT u) AS freq FROM ev GROUP BY t), " +
      "l2 AS (SELECT a.t || ';' || b.t AS pattern, COUNT(DISTINCT a.u) AS freq " +
      "FROM ev a JOIN ev b ON a.u = b.u AND a.pos < b.pos GROUP BY a.t, b.t), " +
      "l3 AS (SELECT a.t || ';' || b.t || ';' || c.t AS pattern, COUNT(DISTINCT a.u) AS freq " +
      "FROM ev a JOIN ev b ON a.u = b.u AND a.pos < b.pos " +
      "JOIN ev c ON b.u = c.u AND b.pos < c.pos GROUP BY a.t, b.t, c.t) " +
      "SELECT pattern, freq FROM " +
      "(SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3) all_p, m " +
      "WHERE freq >= m.mc ORDER BY pattern"
}
