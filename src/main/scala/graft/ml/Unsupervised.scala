package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.PCA
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Unsupervised surface (SURVEY §2.B B1, B9, B11): KMeans, PCA, SVD.
  * Reference: `ml/KMeansRunner.scala:134-161`, `ml/PCARunner.scala:124-190`,
  * `ml/SVDRunner.scala:147-155`.
  *
  * KMeans cost comes from `summary.trainingCost` (Spark-4 replacement for
  * the removed `computeCost`, SURVEY §7 risk 7). PCA/SVD spectra are
  * rounded; eigenvector signs are indeterminate so only magnitudes
  * (variances / singular values) are emitted (SURVEY §7 risk 6).
  *
  * Every deterministic k-means in graft trains through one Lloyd kernel
  * here ([[lloyd]]): like stock MLlib it iterates over cached vectors
  * with one aggregate job per iteration, and its argmin takes either of
  * the two rules the pinned oracles fix (exact distances for k ≤ 64,
  * 1e-6-rounded ones past that).
  */
object Unsupervised {

  private def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  /** Lloyd clustering over embeddings; output = per-cluster sizes plus the
    * WSSSE metric row. */
  def kmeans(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    val data = Supervised.embeddingFeatures(embeddings)
    val m = new KMeans().setK(k).setMaxIter(20).setSeed(2020L).fit(data)
    val sizes = m.summary.predictions
      .groupBy(col("prediction").cast("long").as("cluster"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(concat(lit("cluster_size_"), col("cluster")).as("term"), col("value"))
    import spark.implicits._
    sizes.union(Seq(("wssse", r4(m.summary.trainingCost))).toDF("term", "value"))
      .orderBy("term")
  }

  /** One deterministic Lloyd run: the previous and final centers (the
    * `c_{iters-1}`, `c_iters` pair the DuckDB oracle unrolls), the sizes
    * of the last assignment (to `prev`), the number of vectors trained
    * on, and, when asked for, the WSSSE of that assignment against the
    * final centers, rounded to 1e-4. */
  private[graft] final case class LloydRun(prev: Array[Array[Double]],
      centers: Array[Array[Double]], sizes: Array[Long], n: Long,
      wssse: Option[Double])

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  // the IEEE operation sequence of graft_euclid, of the zip_with /
  // aggregate chain and of DuckDB's LIST_DISTANCE: difference-based
  // squares summed left to right from 0.0
  private def sqDist(x: Array[Double], c: Array[Double]): Double = {
    require(x.length == c.length,
      s"Lloyd vectors differ in dimension: ${x.length} vs ${c.length}")
    var s = 0.0
    for (j <- x.indices) { val d = x(j) - c(j); s += d * d }
    s
  }

  /** Index of the center nearest x. The exact rule compares raw
    * distances with NaN above every number, as Spark orders doubles; the
    * rounded rule compares `floor(d·1e6+0.5)` saturated at 2^30−1, the
    * key of `Similarity`'s packed argmin (a NaN distance floors to 0
    * there, as Spark's `floor` does). Either way the lower index wins a
    * tie. */
  private def nearest(cs: Array[Array[Double]], x: Array[Double],
      rounded: Boolean): Int = {
    def key(c: Array[Double]) = {
      val d = math.sqrt(sqDist(x, c))
      if (rounded) math.min(math.floor(d * 1e6 + 0.5).toLong, (1L << 30) - 1).toDouble
      else d
    }
    var best = 0
    var bestKey = key(cs(0))
    for (i <- 1 until cs.length) {
      val k = key(cs(i))
      if (k < bestKey || bestKey.isNaN && !k.isNaN) { best = i; bestKey = k }
    }
    best
  }

  /** The Lloyd kernel behind every deterministic k-means in graft:
    * [[lloydFixed]], the k-means check's companion bound, the trained
    * IVF quantizers and the SemDeDup cells (`Similarity.lloydAssign`).
    * It reads `(vec_id, embedding)` once into a persisted RDD of double
    * arrays, starts from the k lowest `vec_id`s (of `initFrom` when
    * given, else of `emb`), and runs each iteration as one
    * `treeAggregate` of per-cluster sums and counts against broadcast
    * centers. Means are rounded to 1e-6, so cross-engine summation
    * order cannot drift; a center that loses every vector keeps its
    * position. A null embedding, or one with a null element, is
    * skipped: it adds to no mean, no size and no WSSSE. Fewer vectors
    * than k give that many centers; none give none. The driver only
    * ever holds k×dim doubles. */
  private[graft] def lloyd(emb: DataFrame, k: Int, iters: Int,
      rounded: Boolean = false, wssse: Boolean = false,
      initFrom: Option[DataFrame] = None): LloydRun = {
    require(k >= 1 && iters >= 1,
      s"Lloyd needs k >= 1 and iters >= 1, got k = $k, iters = $iters")
    def vectors(df: DataFrame) = df
      .filter(col("embedding").isNotNull && !exists(col("embedding"), _.isNull))
      .select(col("vec_id").cast("long"), transform(col("embedding"), _.cast("double")))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val data = vectors(emb).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centers = initFrom.fold(data)(vectors)
        .takeOrdered(k)(Ordering.by[(Long, Array[Double]), Long](_._1))
        .map(_._2.map(r6))
      var prev = centers
      // the accumulator holds, per cluster, its dim sums and then its count
      val w = centers.headOption.fold(0)(_.length) + 1
      var sizes = Array.empty[Long]
      for (_ <- 1 to iters if centers.nonEmpty) {
        prev = centers
        val bc = data.sparkContext.broadcast(prev)
        val acc = data.treeAggregate(new Array[Double](prev.length * w))(
          { case (acc, (_, x)) =>
            val a = nearest(bc.value, x, rounded) * w
            for (j <- x.indices) acc(a + j) += x(j)
            acc(a + w - 1) += 1
            acc
          },
          (a, b) => { for (j <- a.indices) a(j) += b(j); a })
        sizes = Array.tabulate(prev.length)(c => acc(c * w + w - 1).toLong)
        centers = Array.tabulate(prev.length)(c =>
          if (sizes(c) == 0) prev(c)
          else Array.tabulate(w - 1)(j => r6(acc(c * w + j) / sizes(c))))
      }
      // each squared distance is rounded to whole 1e-6 units and the
      // units are summed as Longs, as the DuckDB oracle does, then the
      // total rounds half up to 1e-4 in integers: no order of double
      // additions can move a tie. The Long of floor maps NaN to 0, as
      // Spark's floor did in the SQL form
      val cost = if (!wssse) None else {
        val bc = data.sparkContext.broadcast((prev, centers))
        val units = data.map { case (_, x) =>
          val (p, f) = bc.value
          math.floor(sqDist(x, f(nearest(p, x, rounded))) * 1e6 + 0.5).toLong
        }.fold(0L)(_ + _)
        Some((units + 50) / 100 / 1e4)
      }
      LloydRun(prev, centers, sizes, sizes.sum, cost)
    } finally data.unpersist(blocking = true)
  }

  /** The exact-rule run that [[lloydFixed]], the k-means check and the
    * small-k IVF quantizers train with. Keyed runs are memoized on the
    * driver (ml_kmeans and ml_lloyd_fixed share one) and always carry
    * the WSSSE, so either caller may come first. */
  private[graft] def lloydCenters(embeddings: DataFrame, k: Int = 4,
      iters: Int = 5, memoKey: Option[String] = None,
      wssse: Boolean = false): LloydRun = {
    def run() = lloyd(embeddings, k, iters, wssse = wssse || memoKey.isDefined)
    memoKey.fold(run())(key =>
      graft.core.QueryCache.value(s"lloyd:$key:$k:$iters")(run()))
  }

  /** Deterministic Lloyd (centers = the k lowest vec_ids to start) — the
    * oracle-checkable complement to [[kmeans]], whose KMeans|| init is
    * seeded RNG state no external engine can replay. Output:
    * (cluster, dim, value) flattened centers plus one (cluster, -1, n)
    * size row per non-empty cluster of the last assignment. */
  def lloydFixed(spark: SparkSession, embeddings: DataFrame, k: Int = 4,
      iters: Int = 5, memoKey: Option[String] = None): DataFrame = {
    import spark.implicits._
    val run = lloydCenters(embeddings, k, iters, memoKey)
    val flat = run.centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, j) => (i.toLong, j, v) } }
    val sizes = run.sizes.zipWithIndex.collect {
      case (s, i) if s > 0 => (i.toLong, -1, s.toDouble) }
    // sorted on the driver: Spark would sort these local rows in jobs
    (flat ++ sizes).sortBy(r => (r._1, r._2)).toSeq
      .toDF("cluster", "dim", "value")
  }

  /** PCA top-k principal components; output = per-component explained
    * variance (sign-free). */
  def pca(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    import spark.implicits._
    val data = Supervised.embeddingFeatures(embeddings)
    val m = new PCA().setK(k).setInputCol("features").setOutputCol("pc").fit(data)
    m.explainedVariance.toArray.zipWithIndex
      .map { case (v, i) => (i, math.floor(v * 1e6 + 0.5) / 1e6) }
      .toSeq.toDF("component", "explained_variance").orderBy("component")
  }

  /** 2-feature PCA companion: with d=2 the covariance eigensystem has a
    * closed form (quadratic roots of the characteristic polynomial), so
    * the whole covariance→eigendecomposition path is oracle-checkable in
    * SQL — the same fit-the-real-estimator / re-derive-in-closed-form
    * trick as the Cramer OLS oracle. Signs are killed with abs(). */
  def pca2(spark: SparkSession, embeddings: DataFrame,
      off: Int = 1): DataFrame = {
    // slice() is 1-based; off < 1 errors inside Spark with an opaque
    // message, and off+1 past the embedding dim would diverge silently
    // from the DuckDB oracle (out-of-bounds index is NULL there) — the
    // dim bound is enforced by the PCA fit failing loudly on a short
    // slice, the lower bound here (r13 advice).
    require(off >= 1, s"off is a 1-based dim index, got $off")
    import spark.implicits._
    val data = embeddings.select(
      org.apache.spark.ml.functions.array_to_vector(
        slice(col("embedding"), off, 2)).as("features"))
    val m = new PCA().setK(2).setInputCol("features").setOutputCol("pc")
      .fit(data)
    val ev = m.explainedVariance.toArray
    (0 until 2).map(j => (j, r6(ev(j)),
        r6(math.abs(m.pc(0, j))), r6(math.abs(m.pc(1, j)))))
      .toDF("component", "explained_variance", "abs_load_1", "abs_load_2")
      .orderBy("component")
  }

  /** 2-column SVD companion: singular values / right vectors of the n×2
    * matrix come from the 2×2 Gram eigensystem — closed-form oracle. */
  def svd2(spark: SparkSession, embeddings: DataFrame,
      off: Int = 1): DataFrame = {
    require(off >= 1, s"off is a 1-based dim index, got $off")
    import spark.implicits._
    val rows = embeddings.select(slice(col("embedding"), off, 2).as("xy"))
      .rdd.map(r => OldVectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray))
    val svd = new RowMatrix(rows).computeSVD(2, computeU = false)
    val v = svd.V
    svd.s.toArray.zipWithIndex
      .map { case (s, j) => (j, r6(s),
        r6(math.abs(v(0, j))), r6(math.abs(v(1, j)))) }
      .toSeq.toDF("index", "singular_value", "abs_load_1", "abs_load_2")
      .orderBy("index")
  }

  /** Top-k singular values via mllib RowMatrix (distributed Gram matrix +
    * local eigendecomposition — the scalable tall-skinny path). */
  def svd(spark: SparkSession, embeddings: DataFrame, k: Int = 8): DataFrame = {
    import spark.implicits._
    val rows = Supervised.embeddingFeatures(embeddings)
      .select("features").rdd
      .map(r => OldVectors.fromML(r.getAs[org.apache.spark.ml.linalg.Vector](0)))
    val svd = new RowMatrix(rows).computeSVD(k, computeU = false)
    svd.s.toArray.zipWithIndex
      .map { case (v, i) => (i, r4(v)) }
      .toSeq.toDF("index", "singular_value").orderBy("index")
  }
}
