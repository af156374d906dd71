package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.sources.Tables

class MlSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val lineitem = Tables(spark, sf0001, "lineitem")
  private lazy val embeddings = Tables(spark, sf0001, "embeddings")

  test("corr matrix: unit diagonal, symmetric range, matches SQL corr on a pair") {
    val m = Stats.corrMatrix(spark, embeddings, "pearson").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m((0, 0)) == 1.0 && m((5, 5)) == 1.0)
    assert(m.values.forall(v => v >= -1.0 && v <= 1.0))
    // differential: matrix entry (0,1) vs SQL corr over exploded columns
    val sql = embeddings.select(
      $"embedding".getItem(0).cast("double").as("a"),
      $"embedding".getItem(1).cast("double").as("b"))
      .agg(org.apache.spark.sql.functions.corr($"a", $"b")).head().getDouble(0)
    assert(math.abs(m((0, 1)) - math.floor(sql * 1e6 + 0.5) / 1e6) <= 1e-6)
  }

  test("spearman matrix: unit diagonal and bounded") {
    val m = Stats.corrMatrix(spark, embeddings.limit(100), "spearman").collect()
    assert(m.filter(r => r.getInt(0) == r.getInt(1)).forall(_.getDouble(2) == 1.0))
  }

  test("cov matrix diagonal equals per-column variance") {
    val m = Stats.covMatrix(spark, embeddings).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val v = embeddings.select($"embedding".getItem(3).cast("double").as("x"))
      .agg(org.apache.spark.sql.functions.var_samp($"x")).head().getDouble(0)
    assert(math.abs(m((3, 3)) - v) < 1e-6)
  }

  test("linear regression recovers a planted linear relationship") {
    // label = 3*x0 - 2*x1 + 1, features = (x0, x1, x2)
    val data = (1 to 200).map { i =>
      val (x0, x1, x2) = (i % 7 * 1.0, i % 5 * 1.0, i % 3 * 1.0)
      (org.apache.spark.ml.linalg.Vectors.dense(x0, x1, x2), 3 * x0 - 2 * x1 + 1)
    }.toDF("features", "label")
    val m = new org.apache.spark.ml.regression.LinearRegression().fit(data)
    assert(math.abs(m.coefficients(0) - 3) < 1e-4)
    assert(math.abs(m.coefficients(1) + 2) < 1e-4)
    assert(math.abs(m.intercept - 1) < 1e-3)
  }

  test("supervised runners produce stable summaries on real data") {
    val lr = Supervised.linearRegression(spark, lineitem).collect()
    assert(lr.length == 5) // 3 coefs + intercept + rmse
    val dt = Supervised.decisionTree(spark, embeddings)
    assert(dt.count() > 0)
    val rf = Supervised.randomForest(spark, embeddings).collect()
    val acc = rf.find(_.getString(0) == "accuracy").get.getDouble(1)
    assert(acc > 0.1) // better than random over 10 classes
  }

  test("KMeans fit overloads (plain / ParamMap / ParamPair / Array[ParamMap]) agree") {
    // the reference drives all four estimator fit overloads
    // (`KMeansRunner.scala:136-154`); identical params must yield
    // identical centers through every entry point
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.param.ParamMap
    val data = embeddings.select(
      org.apache.spark.ml.functions.array_to_vector($"embedding")
        .as("features")).localCheckpoint()
    def centers(m: org.apache.spark.ml.clustering.KMeansModel) =
      m.clusterCenters.map(_.toArray.toSeq).toSeq.sortBy(_.toString)
    val plain = centers(
      new KMeans().setSeed(2020L).setK(4).setMaxIter(5).fit(data))
    // est leaves k/maxIter at defaults; the overloads must supply them.
    // ParamMaps are keyed by THIS estimator's param instances (foreign
    // params are silently dropped by fit)
    val est = new KMeans().setSeed(2020L)
    val viaMap = centers(
      est.fit(data, ParamMap(est.k -> 4).put(est.maxIter, 5)))
    val viaPairs = centers(est.fit(data, est.k -> 4, est.maxIter -> 5))
    // Array[ParamMap] overload fits one model per map
    val viaArray = est.fit(data,
      Array(ParamMap(est.k -> 4).put(est.maxIter, 5),
        ParamMap(est.k -> 4).put(est.maxIter, 5)))
      .map(m => centers(m.asInstanceOf[org.apache.spark.ml.clustering.KMeansModel]))
    assert(plain == viaMap)
    assert(plain == viaPairs)
    assert(viaArray.size == 2 && viaArray.forall(_ == plain))
  }

  test("kmeans partitions all points and reports cost") {
    val r = Unsupervised.kmeans(spark, embeddings, k = 4).collect()
    val sizes = r.filter(_.getString(0).startsWith("cluster_size_"))
    assert(sizes.length == 4)
    assert(sizes.map(_.getDouble(1)).sum == embeddings.count())
    assert(r.exists(x => x.getString(0) == "wssse" && x.getDouble(1) > 0))
  }

  // deterministic Lloyd on degenerate inputs: (vec_id, embedding) rows,
  // None for a null embedding
  private def vecs(rows: (Long, Option[Seq[Float]])*) =
    rows.toDF("vec_id", "embedding")

  private def lloydRows(df: org.apache.spark.sql.DataFrame, k: Int,
      iters: Int): Seq[(Long, Int, Double)] =
    Unsupervised.lloydFixed(spark, df, k, iters).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq

  test("lloyd skips a null embedding: no mean, no size, no wssse") {
    val df = vecs((0L, Some(Seq(0f, 0f))), (1L, Some(Seq(10f, 10f))),
      (2L, None), (3L, Some(Seq(1f, 0f))))
    assert(lloydRows(df, 2, 2) == Seq((0L, -1, 2.0), (0L, 0, 0.5),
      (0L, 1, 0.0), (1L, -1, 1.0), (1L, 0, 10.0), (1L, 1, 10.0)))
    val run = Unsupervised.lloydCenters(df, 2, 2, wssse = true)
    assert(run.n == 3 && run.wssse.contains(0.5))
  }

  test("lloyd rejects k < 1 naming k") {
    val df = vecs((0L, Some(Seq(1f))))
    val e = intercept[IllegalArgumentException](lloydRows(df, 0, 5))
    assert(e.getMessage.contains("k = 0"), e.getMessage)
  }

  test("lloyd with fewer rows than k returns one center per row") {
    val df = vecs((0L, Some(Seq(1f))), (1L, Some(Seq(2f))),
      (2L, Some(Seq(4f))))
    assert(lloydRows(df, 5, 3) == Seq((0L, -1, 1.0), (0L, 0, 1.0),
      (1L, -1, 1.0), (1L, 0, 2.0), (2L, -1, 1.0), (2L, 0, 4.0)))
  }

  test("lloyd on an empty frame gives no centers and no size rows") {
    assert(lloydRows(vecs(), 4, 5).isEmpty)
    val run = Unsupervised.lloydCenters(vecs(), 4, 5, wssse = true)
    assert(run.centers.isEmpty && run.n == 0 && run.wssse.contains(0.0))
  }

  test("lloyd puts a vector with a NaN component in cluster 0") {
    // every distance to it is NaN, a tie the lower index wins; cluster
    // 0's mean then turns NaN in that dim, so from the second pass on
    // every finite vector is nearer cluster 1
    val df = vecs((0L, Some(Seq(0f, 0f))), (1L, Some(Seq(10f, 10f))),
      (2L, Some(Seq(1f, 0f))), (3L, Some(Seq(Float.NaN, 5f))),
      (4L, Some(Seq(9f, 10f))))
    val rows = lloydRows(df, 2, 3)
    assert(rows.filter(_._2 == -1) == Seq((0L, -1, 1.0), (1L, -1, 4.0)))
    val c0 = rows.filter(r => r._1 == 0 && r._2 >= 0).map(_._3)
    assert(c0.head.isNaN && c0(1) == 5.0)
    assert(rows.filter(r => r._1 == 1 && r._2 >= 0).map(_._3) == Seq(5.0, 5.0))
  }

  test("pca explained variance is positive and decreasing") {
    val ev = Unsupervised.pca(spark, embeddings, k = 6).collect()
      .map(_.getDouble(1))
    assert(ev.forall(_ > 0))
    assert(ev.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("svd singular values are positive and decreasing") {
    val sv = Unsupervised.svd(spark, embeddings, k = 6).collect()
      .map(_.getDouble(1))
    assert(sv.forall(_ > 0))
    assert(sv.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("idf matches the ln((m+1)/(df+1)) formula for a term") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c d")).toDF("doc_id", "text")
    val r = TextModels.idf(spark, docs).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    def f(df: Int) = math.floor(math.log(4.0 / (df + 1)) * 1e4 + 0.5) / 1e4
    assert(r("a") == f(3) && r("b") == f(2) && r("d") == f(1))
  }

  test("als reconstructs observed ratings reasonably") {
    val events = Tables(spark, sf0001, "events")
    val out = TextModels.als(spark, events).collect()
    val rmse = out.find(r => r.getLong(0) == -1L).get.getDouble(2)
    assert(rmse >= 0 && rmse < 200) // value scale ~[0, 200]
    assert(out.length > 10)
  }

  test("deterministic rank-1 als fits observed ratings and reruns bit-equal") {
    val events = Tables(spark, sf0001, "events")
    val out = TextModels.alsFixed(spark, events).collect()
    val rmse = out.find(r => r.getLong(0) == -1L).get.getDouble(2)
    // rank-1 with unit init is a coarse factorization but must beat the
    // raw value scale by a wide margin
    assert(rmse >= 0 && rmse < 200)
    assert(out.length > 10)
    val again = TextModels.alsFixed(spark, events).collect()
    assert(again.map(_.toString).sorted.toSeq ==
      out.map(_.toString).sorted.toSeq)
  }

  test("lda produces k topics with 5 terms each") {
    val docs = Tables(spark, sf0001, "documents").limit(100)
    val out = TextModels.lda(spark, docs, k = 3).collect()
    assert(out.length == 15)
    assert(out.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1, 2))
  }

  test("prefixspan finds planted frequent sequences") {
    // classic toy: every user does signup -> purchase
    val ev = (1 to 20).flatMap { u =>
      Seq((u.toLong * 10, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:01"), u.toLong, "signup", 1.0, "{}"),
        (u.toLong * 10 + 1, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:02"), u.toLong, "purchase", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val pats = TextModels.prefixSpan(spark, ev, minSupport = 0.9).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pats("signup") == 20)
    assert(pats("purchase") == 20)
    assert(pats("signup;purchase") == 20)
    assert(!pats.contains("purchase;signup"))
  }

  test("ml oracle SQL matches DSL via Spark SQL") {
    Tables.registerAll(spark, sf0001)
    // DuckDB-dialect oracles (LIST_DISTANCE, generate_series TVF, list
    // indexing, string_split) are covered by the DuckDB gate itself plus
    // CustomMlSpec's brute-force differential / MlSpec formula checks
    val duckdbOnly = Set("ml_knn", "ml_corr_matrix", "ml_cov_matrix",
      "ml_spearman_matrix", "ml_idf", "ml_knn_class", "ml_knn_prob",
      "ml_dbscan",
      "ml_prefixspan", "ml_lloyd_fixed",
      // value-verdict oracles whose companion-metric SELECT is DuckDB
      // dialect (list fns / generate_series / unrolled CTE chains;
      // ml_spca/ml_lda gained UNNEST/string_split value rows in r10)
      "ml_kmeans", "ml_pca", "ml_svd", "ml_als", "ml_spca", "ml_lda",
      // list-indexing (1-based in DuckDB) rule/eigen fixtures
      "ml_logreg_rule", "ml_svc_rule", "ml_dtree_rule", "ml_rf_rule",
      "ml_gbt_rule", "ml_dtree_reg_rule", "ml_rf_reg_rule",
      "ml_gbt_reg_rule", "ml_pca2", "ml_svd2", "ml_spca2", "ml_simrank",
      "ml_als_fixed", "ml_nmf_topics")
    for (name <- MlQueries.oracle.keys if !duckdbOnly(name)) {
      val dsl = MlQueries.all(name)(spark, sf0001).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      val sql = spark.sql(MlQueries.oracle(name)).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(dsl == sql, s"$name differs")
    }
  }
}
