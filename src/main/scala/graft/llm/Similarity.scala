package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * The reference's exact-vs-approximate KNN split
  * (`ml/KNNRunner.scala:282-342` brute force vs the spill-tree estimator):
  *
  *  - [[bruteForceTopK]]: exact top-k by dot product/cosine. The query set
  *    is broadcast (it is small by construction), the corpus is never
  *    shuffled, and the per-query top-k is a window rank — so the cost is
  *    one scan of the corpus regardless of cluster size.
  *  - approximate indexes: sign-projection LSH, the [[IvfIndex]] of any
  *    depth (strided or trained level 0, residual levels), PQ and IVF+PQ;
  *    [[lshNeighbors]] is MLlib's `BucketedRandomProjectionLSH` join.
  *
  * Dot products run in double precision, accumulated left-to-right
  * (`aggregate` HOF), which matches DuckDB's `list_inner_product` on
  * double lists — making the brute-force path oracle-checkable.
  */
object Similarity {

  /** Sequential-order double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors of each query by (rounded) dot product,
    * ranked by [[topK]]. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    topK(corpusRows(corpus).join(q)
      .select(col("query_id"), col("neighbor_id"),
        dotExpr(queries.sparkSession, "qe", "ce").as("raw_dot")), k)
  }

  /** Deterministic sign-projection LSH: like [[lshNeighbors]] but the
    * projection vectors are ±1 patterns derived from a closed-form
    * parity (not an RNG stream), so any engine can rebuild the exact
    * buckets and the output is oracle-checkable. Candidates share a
    * (table, bucket) key — bucket = ⌊x·p_t / bucketLength⌋ — and are
    * verified against the true distance. The same shape scales the same
    * way: candidate cost is bucket co-occupancy, never |Q|×|C|. */
  def lshNeighborsDeterministic(queries: DataFrame, corpus: DataFrame,
      maxDist: Double, bucketLength: Double = 2.0, numTables: Int = 3,
      dim: Int = 64): DataFrame = {
    def signs(t: Int): Seq[Double] =
      (0 until dim).map(j =>
        if (((2 * t + 3) * j + 104729 * t + 12345) % 2 == 0) -1.0 else 1.0)
    val xd = transform(col("embedding"), v => v.cast("double"))
    def bucketed(df: DataFrame, idName: String): DataFrame = {
      val perTable = (0 until numTables).map { t =>
        val dot = aggregate(
          zip_with(xd, typedLit(signs(t)), (x, s) => x * s),
          lit(0.0), (a, v) => a + v)
        struct(lit(t).as("t"), floor(dot / bucketLength).as("b"))
      }
      df.select(col("vec_id").as(idName), col("embedding"),
          explode(array(perTable: _*)).as("tb"))
        .select(col(idName), col("embedding"),
          col("tb.t").as("t"), col("tb.b").as("b"))
    }
    val q = bucketed(queries, "query_id")
      .select(col("query_id"), col("embedding").as("qe"), col("t"), col("b"))
    val c = bucketed(corpus, "neighbor_id")
      .select(col("neighbor_id"), col("embedding").as("ce"), col("t"), col("b"))
    q.join(c, Seq("t", "b"))
      .select(col("query_id"), col("neighbor_id"),
        euclidExpr(queries.sparkSession, "qe", "ce").as("d"))
      .groupBy("query_id", "neighbor_id").agg(min("d").as("d"))
      .filter(col("d") <= maxDist)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("d") * 10000 + 0.5) / 10000).as("dist"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Coarse-centroid stride ladder: 31 up to 5,000 vectors (the pinned
    * sf0.01/sf0.1 sizes keep their historic stride), then doubling per
    * 4× corpus growth — stride ∝ √|C|, so cell count AND cell size
    * both grow as √|C|. Pure integer thresholds, replayed by the
    * oracle as a CASE over COUNT(*). */
  def adaptiveStride(n: Long): Int = {
    var s = 31
    var threshold = 5000L
    while (n >= threshold && s < 7936) { s *= 2; threshold *= 4 }
    s
  }

  /** Deployment-mode sizing switch (round-10 directive #1). The integer
    * CASE ladders above/below stay the DEFAULT — every pinned oracle
    * query replays them engine-exactly in DuckDB — but their step
    * geometry is locally quadratic between rungs (SCALE_r9 §×30:
    * ann_ivf 4.64×, ivfpq 4.33×, embed_dedup 4.18× runtime for 3× data
    * when the growth lands between rungs). A session that sets
    * `spark.conf.set("graft.sizing.mode", "smooth")` gets continuous
    * sizing on the auto-sized paths instead ([[ivfIndex]] /
    * [[ivfPqTopK]] coarse stride, [[cosineNearDupPairs]] /
    * [[incrementalCosineNearDups]] sign-LSH blocking) — the production
    * switch for index builds whose outputs no pinned oracle replays. */
  private[llm] def smoothSizing(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("graft.sizing.mode")
      .exists(_.trim.equalsIgnoreCase("smooth"))

  /** Continuous √N companion of [[adaptiveStride]], anchored at the
    * ladder's mid-rung points (31·√(n/2500)): stride — and with it both
    * cell count and cell size — grows as exactly √|C| instead of in 2×
    * steps per 4× rung, so build cost follows the FAISS N^1.5 envelope
    * at EVERY size, not only at rung boundaries. */
  def smoothStride(n: Long): Int =
    math.max(31, math.ceil(math.sqrt(0.3844 * n)).toInt)

  /** Continuous companion of [[adaptiveProjections]]: the real-valued
    * ladder position λ = 2 + log₂(n/1200) is realized FRACTIONALLY as
    * per-TABLE projection counts summing to round(numTables·λ) — e.g.
    * λ = 6.64 over 3 tables becomes (7, 7, 6). Candidate volume per
    * table is N²/2.2^h_t, so the total steps numTables times per corpus
    * doubling instead of once: the between-rung growth the integer
    * ladder pays (up to 2.2× locally — SCALE_r9 measured 4.18× runtime
    * for 3× data) shrinks to ≤ 2.2^(1/numTables) ≈ 1.3× ripple around
    * the N^(2−log₂2.2) ≈ N^0.86 envelope, in EXACT integer arithmetic —
    * no bucket-width modeling (a width-rescaling variant was measured
    * this round and under-delivered: Gaussian bucket co-occupancy is
    * not linear in width). Counts are clamped to [1, 32] (the
    * hash-group sanity bound of the uncapped ladder — past 10 the fold
    * hashes, see [[signBucketsExprPerTable]]); below the first rung
    * every table gets the ladder's 1, so pinned corpora are
    * unchanged. */
  def smoothProjections(n: Long, numTables: Int = 3): Seq[Int] = {
    // the ladder is h = 2 + floor(log2(n/1200)) past the first rung;
    // its continuous position is lambda = 2 + log2(n/1200)
    val lam =
      if (n < 1200) 1.0
      else 2.0 + math.log(n.toDouble / 1200.0) / math.log(2.0)
    val total = math.min(32 * numTables,
      math.max(numTables, math.round(numTables * lam).toInt))
    val base = total / numTables
    val rem = total % numTables
    (0 until numTables).map(t => if (t < rem) base + 1 else base)
  }

  /** Shared distance kernels: the BUILD-side cell assignment and the
    * PROBE-side query routing must stay bit-identical (rounding, native
    * fallback and all) or a persisted index silently disagrees with its
    * probes, so one definition serves both sides. */
  private def euclidExpr(spark: SparkSession, a: String, b: String): Column =
    if (spark.catalog.functionExists("graft_euclid"))
      expr(s"graft_euclid($a, $b)")
    else sqrt(aggregate(
      zip_with(col(a), col(b),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v))

  /** [[dot]] through the codegen'd `graft_dot` kernel when the session
    * carries GraftExtensions: the same IEEE sequence either way. */
  private def dotExpr(spark: SparkSession, a: String, b: String): Column =
    if (spark.catalog.functionExists("graft_dot"))
      expr(s"graft_dot($a, $b)")
    else dot(col(a), col(b))

  /** A codebook as a `(id, vec)` frame, each id its center's position.
    * Built from Rows against an explicit schema (the one `toDF` would
    * derive), which skips the reflective encoder a session's first
    * `toDF` pays for. */
  private def centersFrame(spark: SparkSession,
      centers: Seq[Array[Double]], id: String, vec: String): DataFrame =
    spark.createDataFrame(
      centers.zipWithIndex.map { case (c, i) => Row(i.toLong, c.toSeq) }.asJava,
      StructType(Seq(StructField(id, LongType, nullable = false),
        StructField(vec, ArrayType(DoubleType, containsNull = false)))))

  /** The argmin is COMPUTE-bound (rows × centers distance evals): a
    * small parquet corpus arriving as one scan partition would run it
    * on one core (measured: build+probe at the ×30 stress corpus, 29M
    * evals, 8.5–21 s → 3.5 s once spread). Fan out only when the eval
    * count can repay the exchange's fixed cost, past 4M evals (the
    * sf0.1 strided build is 129k evals and measured FASTER unspread:
    * 0.78 vs 1.0 s). */
  private def spread(df: DataFrame, evals: Long): DataFrame =
    if (evals > 4_000_000L) Dedup.fanOut(df) else df

  /** Packed argmin key: the cell assignment aggregates rows × centers
    * joined rows, and `min` over a STRUCT buffer cannot hash-aggregate
    * (ObjectHashAggregate falls back to sort-based past its key
    * threshold): at 4.3M vectors × 4,096 centroids the resulting sort
    * tried to spill the whole cross-product and filled the disk.
    * Packing the (rounded-distance, id) order into ONE BIGINT makes the
    * argmin a plain fixed-width `min`: HashAggregate with map-side
    * partial collapse, nothing rows×centers-sized sorted or spilled.
    * Ordering is identical to the struct form (lexicographic (d6i, id),
    * both non-negative). Bounds: id < 2^33 (8.6B; strided-cid vec_ids
    * beyond that should use the trained path, whose ids are dense) and
    * d6i clamped at 2^30−1 ≈ distance 1073.0 (ties at the clamp break by
    * id). Both are ENFORCED per row: an out-of-range id raises instead
    * of silently corrupting the packed order, and a NULL distance (null
    * embedding element / dimension mismatch) stays NULL, so `min` skips
    * it and a degenerate center never wins by masquerading as the
    * clamp value. */
  private def packedArgmin(d6i: Column, id: Column): Column = {
    val guardedId = when(id < 0 || id >= lit(1L << 33),
      raise_error(concat(lit("packedArgmin id out of [0, 2^33): "),
        id.cast("string")))).otherwise(id)
    when(d6i.isNull, lit(null).cast("long"))
      .otherwise(least(d6i, lit((1L << 30) - 1)) * lit(1L << 33) + guardedId)
  }

  private def unpackId(packed: Column): Column = pmod(packed, lit(1L << 33))

  /** The one cell assignment: for each group of `rows` (its `keys`), the
    * id of the codebook entry nearest the vector column `x`, as `out`.
    * The codebook `(id, vec)` is broadcast and meets the rows by cross
    * join, or on the `on` columns when each row may only take entries
    * sharing them. The argmin orders by the 1e-6-rounded distance, then
    * the lower id ([[packedArgmin]]): a map-side partial aggregate, so
    * the exchange carries keys and one BIGINT, never the payload. */
  private def assign(rows: DataFrame, keys: Seq[String], x: String,
      cents: DataFrame, id: String, vec: String, out: String,
      on: Seq[String] = Nil): DataFrame = {
    val d6i =
      floor(euclidExpr(rows.sparkSession, x, vec) * 1e6 + 0.5).cast("long")
    val joined =
      if (on.isEmpty) rows.join(broadcast(cents))
      else rows.join(broadcast(cents), on)
    joined.groupBy(keys.map(col): _*)
      .agg(min(packedArgmin(d6i, col(id))).as("mp"))
      .select(keys.map(col) :+ unpackId(col("mp")).as(out): _*)
  }

  /** `rows` plus `out`: the vector `x` minus the center each level's key
    * picks from `codebooks`, subtracted level by level in doubles. It is
    * what the next level trains, assigns and routes on. */
  private def residual(rows: DataFrame, codebooks: Seq[DataFrame],
      x: String, out: String): DataFrame = {
    val withCenters = codebooks.zipWithIndex.foldLeft(rows) {
      case (df, (cb, j)) =>
        val lv = level(j)
        df.join(broadcast(cb.select(col(lv.id), col(lv.vec))),
          col(lv.key) === col(lv.id))
    }
    val r = codebooks.indices.foldLeft(transform(col(x), _.cast("double"))) {
      (acc, j) => zip_with(acc, col(level(j).vec), (a, c) => a - c)
    }
    withCenters.select(rows.columns.map(col) :+ r.as(out): _*)
  }

  /** The rank stage every dot-scored top-k ends in: per query the k
    * best `raw_dot`, ordered by the 1e-6-rounded score with the lower
    * neighbor id first on a tie (stable across engines and
    * partitionings despite float ulp wobble); `sim` is the dot rounded
    * to 1e-4. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot6").desc, col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("raw_dot"),
        (floor(col("raw_dot") * 1e6 + 0.5) / 1e6).as("dot6"))
      .select(col("query_id"), col("neighbor_id"),
        row_number().over(w).as("rank"),
        (floor(col("raw_dot") * 10000 + 0.5) / 10000).as("sim"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** IVF (inverted-file) approximate top-k index, of any depth: FAISS's
    * coarse-quantize-then-scan re-expressed as joins. `codebooks` are
    * the levels' center tables, in order; `assignment` holds one
    * `(neighbor_id, ce, <level keys>)` row per corpus vector (the index
    * must store the vector). A query routes to its `nProbe` nearest
    * entries per level and meets the assignment on the composite key, so
    * candidate cost is |Q| · Π nProbe/|codebook| · |C| instead of
    * |Q|×|C|. Level 0 is a strided corpus subset ([[ivfIndex]]) or
    * Lloyd-trained ([[ivfTrainedIndex]]); each further level
    * ([[addLevel]]) is ONE SHARED codebook trained on the residuals
    * against the levels above (the FAISS residual quantizer), so the key
    * refines to up to Π|codebook| cells while broadcast state stays the
    * sum of the codebooks, never their product. Every level is
    * rounded-distance/id-tiebreak deterministic, so the whole index is
    * engine-replicable and oracle-checkable.
    *
    * `n` is the corpus row count when the build knew it (else −1); later
    * levels size their training subsample from it. */
  final case class IvfIndex(codebooks: Seq[DataFrame], assignment: DataFrame,
      n: Long = -1L) {
    def levels: Int = codebooks.size

    /** The index's first `l` levels. */
    def take(l: Int): IvfIndex = IvfIndex(codebooks.take(l),
      assignment.select(("neighbor_id" +: "ce" +: levelKeys(l)).map(col): _*),
      n)
  }

  /** Level `j`'s names: its codebook's `(id, vec)` columns, its key in
    * the assignment (a partition column when written) and its directory
    * in a written index. */
  private final case class Level(id: String, vec: String, key: String,
      dir: String)

  private def level(j: Int): Level = j match {
    case 0 => Level("cid", "cv", "cell", "centroids")
    case 1 => Level("sid", "sv", "sub", "subcentroids")
    case 2 => Level("tid", "tv", "sub2", "subcentroids3")
    case _ => Level(s"id$j", s"v$j", s"sub$j", s"subcentroids${j + 1}")
  }

  private def levelKeys(l: Int): Seq[String] = (0 until l).map(level(_).key)

  /** The strided coarse centroids `(cid, cv)`, the deterministic
    * `vec_id % stride = 0` subset, with the corpus count and the
    * stride. A FIXED stride makes nlist = |C|/stride, so the assignment
    * (|C|·nlist distances) is quadratic in the corpus (measured 15.4×
    * runtime at 10× data with stride 31); `centroidStride = 0` picks the
    * stride from the corpus via [[adaptiveStride]] (or [[smoothStride]]),
    * stride ∝ √|C| and nlist ∝ √|C| (the FAISS sizing rule), balancing
    * build (|C|^1.5) against probe (|Q| · nProbe · √|C|). */
  private def stridedCenters(corpus: DataFrame,
      centroidStride: Int): (DataFrame, Long, Int) = {
    val n = corpus.count()
    val stride =
      if (centroidStride > 0) centroidStride
      else if (smoothSizing(corpus.sparkSession)) smoothStride(n)
      else adaptiveStride(n)
    (corpus.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv")), n, stride)
  }

  private def corpusRows(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))

  /** A level-0 assignment with the vector payload: the payload REJOINS
    * by id after the fixed-width argmin (carrying it through the
    * aggregate forced a non-fixed-width buffer, see [[packedArgmin]]). */
  private def firstLevel(corpus: DataFrame, cents: DataFrame, n: Long,
      evals: Long): IvfIndex =
    IvfIndex(Seq(cents),
      assign(spread(corpusRows(corpus), evals), Seq("neighbor_id"), "ce",
        cents, "cid", "cv", "cell")
        .join(corpusRows(corpus), Seq("neighbor_id"))
        .select(col("neighbor_id"), col("ce"), col("cell")), n)

  /** One-level IVF index on the strided centroids ([[stridedCenters]]);
    * the oracle replays it engine-exactly. */
  def ivfIndex(corpus: DataFrame, centroidStride: Int = 0): IvfIndex = {
    val (cents, n, stride) = stridedCenters(corpus, centroidStride)
    firstLevel(corpus, cents, n, n * (n / stride))
  }

  /** IVF index on a TRAINED coarse quantizer: level 0 is the
    * deterministic Lloyd centers ([[trainCenters]]; `nlist = 0` sizes it
    * by [[adaptiveNlist]]), the FAISS-style production shape where
    * trained cells cut the per-cell candidate skew of striding; then one
    * [[addLevel]] per entry of `splits` (0 = [[adaptiveNsplit]]). The
    * training is engine-replicable, so the WHOLE index (training,
    * assignment, probe, rank) is oracle-checkable. */
  def ivfTrainedIndex(corpus: DataFrame, nlist: Int = 0,
      splits: Seq[Int] = Nil, iters: Int = 5): IvfIndex = {
    // the count sizes adaptive levels, the residual trainers' subsamples
    // and the fan-out guard; an explicit one-level build needs none
    val n = if (nlist > 0 && splits.isEmpty) -1L else corpus.count()
    val k = if (nlist > 0) nlist else adaptiveNlist(n)
    val cents = centersFrame(corpus.sparkSession,
      trainCenters(corpus, k, iters, n), "cid", "cv")
    splits.foldLeft(firstLevel(corpus, cents, n, n * k))(addLevel(_, _, iters))
  }

  /** The trained-level rule: exact distances on the whole corpus up to
    * 64 centers (the rule every pinned oracle replays), the subsampled
    * rounded-distance [[lloydCentersJoin]] past that. */
  private def trainCenters(emb: DataFrame, k: Int, iters: Int,
      n: Long): Array[Array[Double]] =
    if (k <= 64) graft.ml.Unsupervised.lloydCenters(emb, k, iters).centers
    else lloydCentersJoin(emb, k, iters, n)

  /** One more index level: a SHARED codebook of `nsplit` centers (0 =
    * [[adaptiveNsplit]] for this level) trained by [[lloydCentersJoin]]
    * on every vector's residual against the levels above, and each
    * vector's nearest entry as the next key. Sharing the codebook across
    * cells makes the level trainable as one distributed Lloyd run
    * instead of one fit per cell. ONE checkpoint carries the assignment
    * and the residual, so the level reads the levels above once. */
  def addLevel(index: IvfIndex, nsplit: Int = 0, iters: Int = 5): IvfIndex = {
    val l = index.levels
    val lv = level(l)
    // one row per corpus vector at every level, so n is the corpus count
    val n = if (index.n >= 0) index.n else index.assignment.count()
    val k = if (nsplit > 0) nsplit else adaptiveNsplit(n, l)
    val withResid =
      residual(index.assignment, index.codebooks, "ce", "resid")
        .localCheckpoint()
    val cents = centersFrame(index.assignment.sparkSession,
      lloydCentersJoin(withResid.select(col("neighbor_id").as("vec_id"),
        col("resid").as("embedding")), k, iters, n), lv.id, lv.vec)
    val key = assign(withResid.select("neighbor_id", "resid"),
      Seq("neighbor_id"), "resid", cents, lv.id, lv.vec, lv.key)
    IvfIndex(index.codebooks :+ cents,
      withResid.select(index.assignment.columns.map(col): _*)
        .join(key, Seq("neighbor_id")), n)
  }

  /** The probe routing alone: `(query_id, qe, <level keys>)`, each
    * query's `nProbe(l)` nearest level-`l` entries per key chosen above
    * it, ordered by rounded distance, then id. Level 0 routes the query;
    * each later level routes its residual `qr` against the centers
    * chosen above, carried down from level to level. Exposed so
    * measurement tooling can count the deterministic candidate volume. */
  private[graft] def probeKeys(queries: DataFrame, codebooks: Seq[DataFrame],
      nProbe: Seq[Int]): DataFrame = {
    require(nProbe.size == codebooks.size,
      s"one nProbe per level: ${nProbe.size} for ${codebooks.size} levels")
    val spark = queries.sparkSession
    val q0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    codebooks.zipWithIndex.foldLeft(q0) { case (q, (cb, l)) =>
      val lv = level(l)
      val kept = ("query_id" +: "qe" +: levelKeys(l)).map(col)
      val x = if (l == 0) "qe" else "qr"
      val next =
        if (l + 1 == codebooks.size) Nil
        else Seq(zip_with(if (l == 0) transform(col("qe"), _.cast("double"))
          else col("qr"), col(lv.vec), (a, c) => a - c).as("next"))
      q.join(broadcast(cb.select(col(lv.id), col(lv.vec))))
        .select(kept ++ next :+ col(lv.id) :+
          (floor(euclidExpr(spark, x, lv.vec) * 1e6 + 0.5) / 1e6).as("d"): _*)
        .withColumn("rn", row_number().over(
          Window.partitionBy(("query_id" +: levelKeys(l)).map(col): _*)
            .orderBy(col("d"), col(lv.id))))
        .filter(col("rn") <= nProbe(l))
        .select(kept ++ next.map(_ => col("next").as("qr")) :+
          col(lv.id).as(lv.key): _*)
    }
  }

  /** Top-k through an [[IvfIndex]] built in this session or read back
    * with [[ivfRead]]: route ([[probeKeys]]), meet the assignment on the
    * composite key, rank ([[topK]]). An empty `nProbe` takes the default
    * operating point: 4 for one level, else (8, 3) and then 2 per level.
    * (8, 3) measured recall@5 0.87 on the ×30 past-cap geometry model
    * (n = 60k, nlist = 20, nsplit = 3, `graft.tools.ResidualRecall`)
    * against 0.62 at (4, 2); coarse routing dominates the loss, so
    * widening spends its candidate budget on level 0 first.
    *
    * `staticPrune = true` is the persisted-index deployment path: the
    * probed keys (bounded by |Q|·Π nProbe) are collected and applied as
    * ONE literal set filter on a packed key over the partition columns,
    * so an index written by [[ivfWrite]] provably reads only the probed
    * cells' files (PlanSpec asserts the scan's partition count), with no
    * reliance on runtime DPP heuristics. The composite equi-join stays
    * the exact filter either way. */
  def ivfProbe(queries: DataFrame, index: IvfIndex, k: Int,
      nProbe: Seq[Int] = Nil, staticPrune: Boolean = false): DataFrame = {
    val probes =
      if (nProbe.nonEmpty) nProbe
      else if (index.levels == 1) Seq(4)
      else Seq(8, 3) ++ Seq.fill(index.levels - 2)(2)
    val keys = levelKeys(index.levels)
    val routed0 = probeKeys(queries, index.codebooks, probes)
    val routed = if (staticPrune) routed0.localCheckpoint() else routed0
    val target =
      if (staticPrune) probedOnly(index.assignment, routed, keys)
      else index.assignment
    topK(routed.join(target, keys)
      .select(col("query_id"), col("neighbor_id"),
        dotExpr(queries.sparkSession, "qe", "ce").as("raw_dot")), k)
  }

  /** The assignment restricted to the routed keys by one set-membership
    * filter on a packed key, not an OR chain (one conjunction per probed
    * key stalls or stack-overflows Catalyst on exactly the large-index
    * path static pruning exists for). Levels past the first share 48
    * bits, at most 16 each; level 0 keeps the rest of 63. A key outside
    * its bits could collide and silently read extra files, so it fails
    * loudly instead (the keys are on the driver: the check is free). An
    * empty query batch probes nothing. */
  private def probedOnly(assignment: DataFrame, routed: DataFrame,
      keys: Seq[String]): DataFrame = {
    val sub = math.min(16, 48 / math.max(1, keys.size - 1))
    val widths = (63 - sub * (keys.size - 1)) +: Seq.fill(keys.size - 1)(sub)
    val shifts = widths.scanRight(0)(_ + _).tail
    val packed = routed.select(keys.map(col): _*).distinct()
      .collect() // bounded: <= |Q| * prod(nProbe) keys
      .map(r => keys.indices.map { j =>
        val v = r.getLong(j)
        require(v >= 0 && (v >>> widths(j)) == 0,
          s"staticPrune packed key out of budget: ${keys(j)}=$v (< " +
            s"2^${widths(j)}) — rebuild the index with codebooks inside " +
            "the pack's bit budget")
        v << shifts(j)
      }.sum)
    if (packed.isEmpty) assignment.limit(0)
    else assignment.filter(keys.zip(shifts)
      .map { case (c, s) => shiftleft(col(c).cast("long"), s) }
      .reduce(_ + _).isInCollection(packed))
  }

  /** The distance-kernel identity of a session, which implementation
    * [[euclidExpr]] resolves to. Persisted with every written index and
    * checked on load: cell assignment and probe routing must use the
    * SAME kernel, and a probe session whose kernel differs from the
    * builder's must fail loudly instead of silently degrading recall if
    * the two ever diverge by an ulp at a rounding boundary. */
  private def kernelId(spark: SparkSession): String =
    if (spark.catalog.functionExists("graft_euclid")) "graft_euclid/1"
    else "builtin_hof_euclid/1"

  /** Persist an [[IvfIndex]] in its deployment layout: one directory per
    * codebook (`centroids`, `subcentroids`, `subcentroids3`, …), the
    * assignment PARTITIONED BY its level keys (so a static-pruned probe
    * reads only the probed cells' files), and a one-row `meta` recording
    * the building session's distance kernel. */
  def ivfWrite(index: IvfIndex, dir: String): Unit = {
    val spark = index.assignment.sparkSession
    import spark.implicits._
    index.codebooks.zipWithIndex.foreach { case (cb, j) =>
      cb.write.mode("overwrite").parquet(s"$dir/${level(j).dir}")
    }
    // a deeper index written here before would leave codebooks the
    // reader counts as levels
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Iterator.from(index.levels).map(j => new Path(root, level(j).dir))
      .takeWhile(fs.exists).foreach(fs.delete(_, true))
    index.assignment.write.mode("overwrite")
      .partitionBy(levelKeys(index.levels): _*).parquet(s"$dir/assign")
    Seq(kernelId(spark)).toDF("kernel")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted [[IvfIndex]]; its depth is the number of codebook
    * directories present. FAILS LOUDLY if the probing session's distance
    * kernel differs from the one that built the index ([[kernelId]]: a
    * silent mismatch could route queries to cells the stored assignment
    * never used). */
  def ivfRead(spark: SparkSession, dir: String): IvfIndex = {
    val stored = spark.read.parquet(s"$dir/meta")
      .select("kernel").head().getString(0)
    val here = kernelId(spark)
    require(stored == here,
      s"IVF index at $dir was built with distance kernel '$stored' but " +
        s"this session resolves '$here'; probing with a different kernel " +
        "can silently disagree with the stored cell assignment. Register " +
        "GraftExtensions (or rebuild the index) so build and probe share " +
        "one kernel.")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val levels = Iterator.from(0)
      .takeWhile(j => fs.exists(new Path(root, level(j).dir))).size
    IvfIndex((0 until levels).map(j => spark.read.parquet(s"$dir/${level(j).dir}")),
      spark.read.parquet(s"$dir/assign"))
  }

  /** Product-quantization (PQ) asymmetric-distance top-k — the
    * code-table member of the ANN family (brute / LSH / IVF / THIS),
    * mirroring the FAISS PQ-ADC shape: the embedding splits into `m`
    * subspaces, each corpus vector compresses to `m` small codes
    * (argmin against a per-subspace codebook), and a query scores a
    * candidate with `m` TABLE LOOKUPS + adds instead of a full
    * d-element dot product.
    *
    * Scale shape: the codebook is `m · ksub` subvectors (bounded,
    * broadcast as literals); encoding is one map-side pass over the
    * corpus (the exchange carries (id, m bytes), never embeddings);
    * scoring joins the broadcast query tables against the code columns
    * — per-pair cost is m lookups, so the exhaustive code scan stays
    * cheap as d grows. Everything is deterministic (strided codebook,
    * 1e-6-rounded argmin with index tiebreak, explicit left-to-right
    * subspace sum), so training + encoding + search oracle-check as one
    * SQL statement.
    *
    * Approximation note: ADC score = Σ_s dot(q_s, codebook[code_s]) —
    * exact dot against the QUANTIZED corpus vector. Recall vs exact
    * search is evaluated with [[recallAtK]] like the other ANN paths;
    * `rerank = R > 0` adds the FAISS-style refine stage — the ADC
    * shortlist of R candidates per query is re-scored with the exact
    * dot product (|Q|·R pairs, corpus payloads rejoin once by id), the
    * standard shape when the quantizer is coarse relative to the data. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 16, stride: Int = 31,
      rerank: Int = 0): DataFrame = {
    val (cents, sub) = pqCodebook(corpus, m, ksub, stride)
    val codes = pqCodes(corpus, cents, m, sub, ksub)
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .select(col("query_id") +: pqTableCols(cents, m, sub, ksub): _*))
    val scored = q.join(codes)
      .select(col("query_id"), col("neighbor_id"),
        pqAdcScore(m).as("raw_dot"))
    pqFinish(scored, queries, corpus, k, rerank)
  }

  /** Codebook: the first ksub strided corpus vectors (driver-side is
    * ksub × dim doubles — bounded like the IVF centroid set), inlined
    * as literals downstream. Returns (codewords, subspace width). */
  private def pqCodebook(corpus: DataFrame, m: Int, ksub: Int,
      stride: Int): (Array[Array[Double]], Int) = {
    val cents: Array[Array[Double]] = corpus
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(ksub)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(cents.length == ksub, s"corpus too small: ${cents.length} < $ksub codewords")
    val dim = cents(0).length
    require(dim % m == 0, s"m=$m must tile dim=$dim")
    (cents, dim / m)
  }

  private def subSlice(c: Column, s: Int, sub: Int): Column =
    transform(slice(c, s * sub + 1, sub), v => v.cast("double"))
  private def centSlice(cents: Array[Array[Double]], j: Int, s: Int,
      sub: Int): Array[Double] = cents(j).slice(s * sub, (s + 1) * sub)
  private def euclidToLit(x: Column, cw: Array[Double]): Column =
    sqrt(aggregate(zip_with(x, typedlit(cw.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v))
  private def dotToLit(x: Column, cw: Array[Double]): Column =
    aggregate(zip_with(x, typedlit(cw.toSeq), (a, b) => a * b),
      lit(0.0), (acc, v) => acc + v)

  /** Encode the corpus: per subspace, 1-based position of the (rounded)
    * minimum distance — ties resolve to the smallest codeword index,
    * the same order a ROW_NUMBER argmin with (dist, cid) keys replays.
    * Output (neighbor_id, code0..code{m−1}) — ids + m small ints, never
    * embeddings. */
  private def pqCodes(corpus: DataFrame, cents: Array[Array[Double]],
      m: Int, sub: Int, ksub: Int): DataFrame = {
    val codeCols = (0 until m).map { s =>
      val x = subSlice(col("ce"), s, sub)
      val ds = array((0 until ksub).map(j =>
        floor(euclidToLit(x, centSlice(cents, j, s, sub)) * 1e6 + 0.5) / 1e6): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int").as(s"code$s")
    }
    corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .select(col("neighbor_id") +: codeCols: _*)
  }

  /** Query tables: per subspace an array of raw dots against all ksub
    * codewords (codeword order = array order, so code+1 indexes it). */
  private def pqTableCols(cents: Array[Array[Double]], m: Int, sub: Int,
      ksub: Int): Seq[Column] =
    (0 until m).map { s =>
      val x = subSlice(col("qe"), s, sub)
      array((0 until ksub).map(j =>
        dotToLit(x, centSlice(cents, j, s, sub))): _*).as(s"t$s")
    }

  /** ADC score: m table lookups, summed in explicit subspace order so
    * every engine reproduces the same IEEE sequence. */
  private def pqAdcScore(m: Int): Column =
    (0 until m).map(s =>
      element_at(col(s"t$s"), col(s"code$s") + 1)).reduce(_ + _)

  /** Shared tail: rank the ADC scores (optionally after the FAISS-style
    * exact-dot refine over the top-`rerank` shortlist). */
  private def pqFinish(scored: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, rerank: Int): DataFrame = {
    if (rerank <= 0) topK(scored, k)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy((floor(col("raw_dot") * 1e6 + 0.5) / 1e6).desc,
          col("neighbor_id"))
      val short = scored
        .select(col("query_id"), col("neighbor_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= math.max(rerank, k))
        .select("query_id", "neighbor_id")
      val qe = broadcast(queries
        .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
      topK(short.join(corpusRows(corpus), Seq("neighbor_id"))
        .join(qe, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotExpr(queries.sparkSession, "qe", "ce").as("raw_dot")), k)
    }
  }

  /** IVF+PQ — the composed index every large-scale ANN deployment runs:
    * the IVF coarse quantizer bounds WHICH candidates a query touches
    * (nProbe/nlist of the corpus) and PQ bounds WHAT each candidate
    * costs (m table lookups on m-byte codes). Both stages are the
    * verified deterministic building blocks (the strided [[ivfIndex]]
    * cells and routing, the [[pqTopK]] codebook/encoding), so the whole
    * composed index (coarse assignment, encoding, probe, ADC scan,
    * optional exact refine) replays in one oracle SQL statement.
    *
    * Scale shape: the per-query candidate set is nProbe/nlist · |C|
    * ids+codes (no embeddings move for the ADC scan); only the refine
    * stage rejoins |Q|·R payload rows by id. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroidStride: Int = 0, nProbe: Int = 4,
      m: Int = 4, ksub: Int = 16, stride: Int = 31,
      rerank: Int = 0): DataFrame = {
    // coarse stride scales with the corpus ([[adaptiveStride]]); the PQ
    // codebook `stride` stays fixed — it only seeds ksub rows (LIMIT-16
    // semantics), so it has no scale exposure
    val (coarse, n, cStride) = stridedCenters(corpus, centroidStride)
    // coarse assignment without the payload: the exchange carries
    // (id, cell)
    val cells = assign(spread(corpusRows(corpus), n * (n / cStride)),
      Seq("neighbor_id"), "ce", coarse, "cid", "cv", "cell")
    val (cents, sub) = pqCodebook(corpus, m, ksub, stride)
    val codes = pqCodes(corpus, cents, m, sub, ksub).join(cells, Seq("neighbor_id"))
    val qCells = probeKeys(queries, Seq(coarse), Seq(nProbe))
      .select(col("query_id") +: col("cell") +:
        pqTableCols(cents, m, sub, ksub): _*)
    val scored = broadcast(qCells).join(codes, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcScore(m).as("raw_dot"))
      // a query may reach a neighbor through one cell only (cells
      // partition the corpus), so no dedup is needed before ranking
    pqFinish(scored, queries, corpus, k, rerank)
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space member
    * of the dedup family (exact / MinHash / SimHash / n-gram Jaccard /
    * THIS). Blocking reuses the deterministic parity-sign LSH tables
    * (candidates share a (table, bucket) key, so cost is bucket
    * co-occupancy, never |C|²); survivors are verified with the exact
    * cosine and kept at `tau`. Output (doc_a < doc_b, cos4).
    *
    * `nproj` is the number of sign projections CONCATENATED into each
    * table's bucket key. 0 (the default) picks it from the corpus size
    * via [[adaptiveProjections]] — one projection on a unit-norm corpus
    * is ~N(0,1), so a single `floor(p/2)` key yields only ~4 occupied
    * buckets and the candidate join degenerates to ~|C|²/4 per table
    * (measured: 268M candidates for 53k verified pairs at 20k vectors).
    * Concatenating floors multiplies the effective bucket count ~2.2×
    * per projection, so growing nproj by one per corpus doubling keeps
    * E[bucket co-occupancy] — and with it candidate volume — ~linear in
    * |C|. The price is the standard LSH recall trade: each projection
    * multiplies per-table collision odds (~0.87 per axis for cos 0.95
    * pairs, ~0.56 at cos 0.4), recovered by more tables — which the
    * default `numTables = 0` does automatically: [[adaptiveTables]]
    * holds 3 tables through the exact-fold range and adds one per two
    * projection steps past 10 (where the key fold switches to hashed
    * groups — see [[signBucketsExprPerTable]]), so the ladder climbs
    * to ~40B vectors with no manual escape hatch; past the 12-table
    * cap prefer the cell-blocked [[semDedup]] family. */
  def cosineNearDupPairs(emb: DataFrame, tau: Double,
      bucketLength: Double = 2.0, numTables: Int = 0,
      dim: Int = 64, nproj: Int = 0): DataFrame = {
    // numTables = 0 (the default) scales tables with the projection
    // ladder past its exact-fold range — 3 (the historic constant, and
    // every pinned oracle's value) anywhere below 614k vectors. With an
    // EXPLICIT nproj the ladder is overridden anyway, so auto table
    // count falls back to the constant 3 rather than forcing a corpus
    // count action the caller was avoiding (r11 advice).
    lazy val n = emb.count()
    val nT =
      if (numTables > 0) numTables
      else if (nproj > 0) 3
      else adaptiveTables(n)
    val perTable =
      if (nproj > 0) Seq.fill(nT)(nproj)
      else if (smoothSizing(emb.sparkSession)) smoothProjections(n, nT)
      else Seq.fill(nT)(adaptiveProjections(n))
    // candidate join carries ids only; embeddings rejoin once per
    // surviving pair, so each cosine is evaluated exactly once
    val ids = signBuckets(emb, bucketLength, nT, dim, perTable)
    val cand = ids.select(col("t"), col("b"), col("vec_id").as("doc_a"))
      .join(ids.select(col("t"), col("b"), col("vec_id").as("doc_b")),
        Seq("t", "b"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // verify stage: the pair dot runs through the codegen'd graft_dot
    // kernel when the session carries GraftExtensions (the HOF fallback
    // is CodegenFallback — interpreted lambdas dominated this query),
    // and each vector's norm is computed ONCE before the pair join
    // instead of per surviving pair. Same IEEE sequence either way:
    // sqrt(dot(x,x)) per side, then d / (na * nb).
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), col("embedding").as("ev"))
      .withColumn("nv", sqrt(dotExpr(spark, "ev", "ev")))
    cand
      .join(e.select(col("vec_id").as("doc_a"), col("ev").as("ea"),
        col("nv").as("na")), Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("ev").as("eb"),
        col("nv").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dotExpr(spark, "ea", "eb") / (col("na") * col("nb"))).as("c"))
      .filter(col("c") >= tau)
      .select(col("doc_a"), col("doc_b"),
        (floor(col("c") * 10000 + 0.5) / 10000).as("cos_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Projections-per-table ladder for the sign-LSH blocking: starts at
    * 1 (the richest-recall key — at sf0.01's 600 vectors every genuine
    * neighbor collides) and adds one projection per 2× corpus growth
    * past 1,200 rows, capping at 10 (the base-64 key fold's int64
    * capacity). On a unit-norm corpus each projection is ~N(0,1), so a
    * bucketLength-2 floor axis has effective bucket count 1/Σp² ≈ 2.2
    * (it is nearly a sign bit); one extra projection per corpus
    * doubling therefore keeps E[bucket co-occupancy] — the candidate
    * volume driver — ~flat (measured: 57M → 5.9M candidates at 20k
    * vectors moving h 3 → 6). Pure integer thresholds, so the DuckDB
    * oracle ladder (a CASE over COUNT(*)) is exactly replayable
    * cross-engine BELOW 614,400 rows — every oracle-checked corpus by
    * orders of magnitude. PAST that the ladder keeps climbing (round-11
    * rung — the last manual escape hatch): the base-64 key fold only
    * holds 10 floors in an int64, so [[signBucketsExprPerTable]]
    * switches to a hashed fold of ≤10-floor groups above 10
    * projections, and [[adaptiveTables]] adds tables to pay the
    * per-projection recall price. Capped at 32 projections (h = 32 is
    * reached at n ≈ 1200·2³⁰ ≈ 1.3T vectors — unreachable; the cap
    * only bounds the hash-group count). */
  def adaptiveProjections(n: Long): Int = {
    var h = 1
    var threshold = 1200L
    while (n >= threshold && h < 32) { h += 1; threshold *= 2 }
    h
  }

  /** Table-count ladder companion of the uncapped projection ladder:
    * 3 tables (the historic fixed value) through the exact-fold range,
    * then one extra table per TWO projection steps past 10. Each
    * projection multiplies a true pair's per-table collision odds by
    * ~0.87 (cos 0.95 on a unit-norm corpus), so two steps cost ×0.76
    * per table while one extra table at q ≈ 0.2–0.25 restores roughly
    * that factor of overall recall (1−(1−q)^T arithmetic) — candidate
    * volume then grows by the TABLE factor only (logarithmic in n),
    * not the N²/2.2¹⁰ cliff of the capped ladder. Cap 12 tables
    * (reached at h = 27, i.e. n ≈ 1200·2²⁵ ≈ 40B vectors): past that, route to the cell-blocked
    * [[semDedup]] family, whose candidate volume is corpus-linear by
    * construction. Integer thresholds (the projection ladder's own),
    * so the below-cap value is the constant 3 every pinned oracle
    * assumes. */
  def adaptiveTables(n: Long): Int =
    math.min(12, 3 + math.max(0, (adaptiveProjections(n) - 10 + 1) / 2))

  /** Parity-sign LSH bucket keys `(vec_id, t, b)` for a vector frame —
    * the blocking shared by [[cosineNearDupPairs]] and the incremental/
    * streaming probes. Pure per-row expressions (projection + dot with
    * a literal sign pattern), so the same Column tree composes into
    * append-mode streams unchanged. */
  /** The per-row `(t, b)` struct array behind [[signBuckets]] — exposed
    * within graft so the streaming probe can explode it while keeping
    * its event-time column. Each table's key `b` folds `nproj`
    * projection floors base-64 (floor + 32, clamped to [0,63] so
    * non-unit-norm inputs can never overflow the int64 fold; unit-norm
    * projections live in [-8,8] and never clamp): nproj=1 partitions
    * identically to the historic single-floor key, so the pinned
    * sf0.01 oracle output is unchanged there. Sign pattern u = t +
    * numTables·i extends the historic per-table pattern family (i=0
    * reduces to it) without re-keying existing tables. */
  private[graft] def signBucketsExpr(bucketLength: Double,
      numTables: Int, dim: Int, nproj: Int = 1): Column =
    signBucketsExprPerTable(bucketLength, numTables, dim,
      Seq.fill(numTables)(nproj))

  /** [[signBucketsExpr]] with a PER-TABLE projection count — the
    * fractional-ladder form [[smoothProjections]] produces. Table t
    * folds perTable(t) projection floors; the sign-pattern indexing
    * u = t + numTables·i is unchanged, so uniform counts reduce exactly
    * to the historic keys. */
  private[graft] def signBucketsExprPerTable(bucketLength: Double,
      numTables: Int, dim: Int, perTable: Seq[Int]): Column = {
    // Quadratic-parity sign patterns. The historic affine parity
    // ((2u+3)·j + 104729·u + 12345) % 2 is DEGENERATE: every
    // coefficient is odd, so it collapses to (j + u + 1) % 2 — all
    // patterns in the family are ± one vector, every table/projection
    // is ± one projection, and the bucket count can never grow
    // (measured: 12 occupied buckets at every corpus size and every
    // nproj). Any single affine map stays degenerate (offsets of one
    // quasi-periodic bit sequence — measured pairwise pattern
    // correlation 0.48 avg); the PRODUCT of two independent LCGs mod a
    // Mersenne prime is nonlinear in the seed and measures
    // random-equivalent (0.094 avg pairwise correlation vs 0.099 for
    // true random). Exact int64 arithmetic (max intermediate
    // ~(2^31)² < 2^63), so the DuckDB oracle replays it verbatim.
    def signs(u: Int): Seq[Double] =
      (0 until dim).map { j =>
        val s = u.toLong * 1024 + j
        val h1 = (48271L * s + 11L) % 2147483647L
        val h2 = (69621L * s + 101L) % 2147483647L
        if ((h1 * h2 % 2147483647L) % 2 == 0) -1.0 else 1.0
      }
    val xd = transform(col("embedding"), v => v.cast("double"))
    def floorOf(t: Int, i: Int): Column = {
      val d = aggregate(
        zip_with(xd, typedLit(signs(t + numTables * i)), (x, s) => x * s),
        lit(0.0), (a, v) => a + v)
      val f = floor(d / bucketLength).cast("long") + 32
      greatest(least(f, lit(63L)), lit(0L))
    }
    def fold(fs: Seq[Column]): Column =
      fs.foldLeft(lit(0L): Column)((acc, f) => acc * 64 + f)
    array((0 until numTables).map { t =>
      val floors = (0 until perTable(t)).map(i => floorOf(t, i))
      // ≤10 floors: the historic exact base-64 int64 fold — every
      // pinned oracle key is in this range and replays verbatim in
      // DuckDB. Past 10 the fold overflows, so the key becomes
      // xxhash64 over ≤10-floor group folds (round-11 rung): equal
      // floors still meet (the partitioning semantics LSH needs), a
      // hash collision can only ADD a candidate the exact-cosine
      // verify discards, and the ladder keeps one-projection-per-
      // doubling growing past 614k vectors instead of going quadratic.
      val b =
        if (floors.size <= 10) fold(floors)
        else xxhash64(floors.grouped(10).map(fold).toSeq: _*)
      struct(lit(t).as("t"), b.as("b"))
    }: _*)
  }

  private def signBuckets(emb: DataFrame, bucketLength: Double,
      numTables: Int, dim: Int, perTable: Seq[Int]): DataFrame =
    emb.select(col("vec_id"),
        explode(signBucketsExprPerTable(bucketLength, numTables, dim,
          perTable))
          .as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))

  /** Ingest-time SEMANTIC near-dup probe — the embedding-space twin of
    * [[graft.llm.Dedup.incrementalNearDups]]: an incoming batch of
    * vectors is checked against an EXISTING corpus with the same
    * sign-LSH blocking + exact-cosine verify as [[cosineNearDupPairs]].
    * Output `(new_id, corpus_id, cos_sim)` for every corpus vector the
    * batch near-duplicates at `tau`.
    *
    * Scale shape: asymmetric bucket equi-join (ids only, the tiny batch
    * side probes the corpus bucket table — at 100 TB the corpus side is
    * persisted once, like the MinHash index), candidates dedup before
    * the verify join, norms computed once per side, codegen'd
    * `graft_dot` verify. */
  def incrementalCosineNearDups(newEmb: DataFrame, corpusEmb: DataFrame,
      tau: Double, bucketLength: Double = 2.0, numTables: Int = 0,
      dim: Int = 64, nproj: Int = 0): DataFrame = {
    // both sides must key with the SAME table and per-table projection
    // counts for bucket keys to meet; the corpus side (the size that
    // drives candidate volume) picks them in auto mode — numTables = 0
    // scales tables past the exact-fold range like [[cosineNearDupPairs]]
    // (and, like there, an explicit nproj keeps the constant 3 tables
    // instead of forcing a corpus count — r11 advice)
    lazy val n = corpusEmb.count()
    val nT =
      if (numTables > 0) numTables
      else if (nproj > 0) 3
      else adaptiveTables(n)
    val perTable =
      if (nproj > 0) Seq.fill(nT)(nproj)
      else if (smoothSizing(corpusEmb.sparkSession))
        smoothProjections(n, nT)
      else Seq.fill(nT)(adaptiveProjections(n))
    val bNew = signBuckets(newEmb, bucketLength, nT, dim, perTable)
      .select(col("t"), col("b"), col("vec_id").as("new_id"))
    val bCor = signBuckets(corpusEmb, bucketLength, nT, dim, perTable)
      .select(col("t"), col("b"), col("vec_id").as("corpus_id"))
    val cand = bNew.join(bCor, Seq("t", "b"))
      .select("new_id", "corpus_id").dropDuplicates("new_id", "corpus_id")
    val spark = corpusEmb.sparkSession
    def withNorm(df: DataFrame) =
      df.select(col("vec_id"), col("embedding").as("ev"))
        .withColumn("nv", sqrt(dotExpr(spark, "ev", "ev")))
    cand
      .join(withNorm(newEmb).select(col("vec_id").as("new_id"),
        col("ev").as("ea"), col("nv").as("na")), Seq("new_id"))
      .join(withNorm(corpusEmb).select(col("vec_id").as("corpus_id"),
        col("ev").as("eb"), col("nv").as("nb")), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (dotExpr(spark, "ea", "eb") / (col("na") * col("nb"))).as("c"))
      .filter(col("c") >= tau)
      .select(col("new_id"), col("corpus_id"),
        (floor(col("c") * 10000 + 0.5) / 10000).as("cos_sim"))
      .orderBy("new_id", "corpus_id")
  }

  /** Cell-count ladder for the cluster-blocked family: targets ~1,000
    * vectors per Lloyd cell (the SemDeDup-paper operating point), so
    * within-cell candidate volume stays ~1,000·|C| instead of
    * |C|²/nlist. Floor 4 keeps tiny corpora meaningful; cap 4,096
    * bounds the broadcast centroid table at 4,096×dim doubles (~2 MB
    * at dim 64). The semDedup family only rides this FLAT ladder to
    * [[semFlatCellCap]] cells (~128k vectors) — past that its auto
    * path switches to [[semBalancedCells]] two-level blocking, whose
    * per-vector cost is ~2√cells instead of cells (see there). */
  def adaptiveNlist(n: Long): Int =
    math.max(4, math.min(4096, ((n + 999) / 1000).toInt))

  /** Balanced two-level cell sizing for the cluster-blocked dedup
    * family's scale path: k1 ≈ k2 ≈ √t so the composite (cell, sub)
    * key still covers the ~1,000-vectors-per-cell target t = ⌈n/1000⌉
    * cells, while per-vector assignment costs k1+k2 ≈ 2√t distance
    * evaluations instead of the flat ladder's t, and Lloyd training
    * runs at two √t-sized codebooks instead of one t-sized one. This
    * is the fix for the term the ×300 rung named (SCALE_r14 §5): with
    * flat cells ∝ n/1000, assignment+training is n²·c/1000 — quadratic
    * in the corpus — where the balanced split is ~n^1.5/√1000. Each
    * level caps at 4,096 (the [[adaptiveNlist]] broadcast bound),
    * carrying the operating point to 4,096² ≈ 16.8M effective cells
    * ≈ 16.8B vectors; past that, a third shared residual codebook
    * ([[addLevel]]) is the blocking to reach for. */
  def semBalancedCells(n: Long): (Int, Int) = {
    val t = math.max(1L, (n + 999) / 1000)
    val k1 = math.min(4096, math.ceil(math.sqrt(t.toDouble)).toInt)
    val k2 = math.min(4096, ((t + k1 - 1) / k1).toInt)
    (k1, k2)
  }

  /** Flat Lloyd cells up to this many target cells (~128k vectors at
    * the ~1,000/cell operating point); balanced residual-split cells
    * past it. At the cap the flat path's corpus×cells argmin is ~16M
    * joined rows — comfortably inside one stage — while the two-level
    * path is already ~5× cheaper one octave later. */
  private[graft] val semFlatCellCap = 128L

  /** Deterministic Lloyd cell assignment: (vec_id, cell) for every
    * corpus vector, the trained level 0 of [[ivfTrainedIndex]] without
    * the payload. Centroids are nlist-bounded and broadcast; the argmin
    * is the shared map-side [[assign]] over rounded distances, on
    * [[euclidExpr]], the distance the IVF probes route with, so the
    * exchange carries (id, cell) only. Shared by [[semDedup]] and
    * cluster-balanced sampling.
    *
    * `nlist = 0` (the default) sizes the cell count from the corpus via
    * [[adaptiveNlist]]; training follows [[trainCenters]] (exact on the
    * whole corpus up to 64 cells, the rule every pinned oracle replays;
    * past 64, [[lloydCentersJoin]] on a subsample of ~256 vectors per
    * centroid, while the assignment still covers the full corpus). */
  def lloydAssign(emb: DataFrame, nlist: Int = 0,
      iters: Int = 5): DataFrame = {
    val n = if (nlist > 0) -1L else emb.count()
    // auto mode that lands in the exact rule's range trains like an
    // explicit nlist, so the two agree wherever they overlap
    val k = if (nlist > 0) nlist else adaptiveNlist(n)
    val cents = centersFrame(emb.sparkSession,
      trainCenters(emb, k, iters, n), "cid", "cv")
    assign(emb.select(col("vec_id"), col("embedding").as("ce")),
      Seq("vec_id"), "ce", cents, "cid", "cv", "cell")
      .localCheckpoint()
  }

  /** Lloyd training for cell counts past 64 and for the residual
    * codebooks: the Lloyd kernel (`Unsupervised.lloyd`) with the
    * rounded-distance argmin of the cell assignment (`floor(d·1e6+0.5)`,
    * lower id wins), on a hash-systematic training subsample
    * (`xxhash64(vec_id) % m = 0`, never `DataFrame.sample`, whose output
    * depends on partition layout) capped at ~256 vectors per centroid.
    * The k lowest vec_ids of the whole frame seed it, subsampled or
    * not. Driver state is the k×dim center table (~2 MB at the 4,096
    * cap) — never corpus-sized. */
  private[graft] def lloydCentersJoin(emb: DataFrame, k: Int,
      iters: Int, nKnown: Long = -1L): Array[Array[Double]] = {
    // nKnown must be emb's EXACT row count when passed (it sizes the
    // hash-systematic training subsample — an approximate count could
    // change the sample and therefore the trained centers); callers in
    // the residual-index family know it because every residual frame is
    // one row per corpus vector
    val n = if (nKnown >= 0) nKnown else emb.count()
    val m = math.max(1L, n / (256L * k))
    if (m == 1) graft.ml.Unsupervised.lloyd(emb, k, iters, rounded = true).centers
    else graft.ml.Unsupervised.lloyd(
      emb.filter(xxhash64(col("vec_id")) % m === 0), k, iters,
      rounded = true, initFrom = Some(emb)).centers
  }

  /** Residual-split ladder for index level `level` ≥ 1: the number of
    * SHARED residual subcells that keeps ~1,000 vectors per EFFECTIVE
    * cell once the levels above saturate (4,096 coarse cells, then 256
    * per later level). Level 1 (past the [[adaptiveNlist]] 4,096-cell
    * cap) is 1 below ~4.1M vectors; level 2 engages past the two-level
    * key's ~1M effective cells (~1B vectors). Capped at 256 per level,
    * which bounds each broadcast at 256×dim doubles; level 2's cap
    * carries the operating point to ~268B vectors. */
  def adaptiveNsplit(n: Long, level: Int = 1): Int = {
    val cellsAbove = (1 until level).foldLeft(4096L)((c, _) =>
      math.min(c * 256, 1L << 52))
    val targetCells = (n + 999) / 1000
    math.max(1L, math.min(256L,
      (targetCells + cellsAbove - 1) / cellsAbove)).toInt
  }

  /** Cell assignment for the semDedup family — the routing layer over
    * the blocking ladder. An EXPLICIT `nlist` is the pinned-oracle
    * shape and always takes the flat [[lloydAssign]] path; auto
    * (`nlist = 0`) rides flat cells to [[semFlatCellCap]] target cells
    * and switches to [[semBalancedCells]] two-level blocking past it,
    * so the assignment+training term stays ~n^1.5/√1000 instead of the
    * flat ladder's n²/1000 (SCALE_r14 §5's named next ceiling). Both
    * paths return one (vec_id, cell) row per corpus vector with a
    * single equi-joinable cell key, so the pair kernel and the
    * diagnostics are blocking-agnostic. */
  private[graft] def semAssign(emb: DataFrame, nlist: Int,
      iters: Int, nKnown: Long = -1L): DataFrame =
    if (nlist > 0) lloydAssign(emb, nlist, iters)
    else {
      val n = if (nKnown >= 0) nKnown else emb.count()
      if ((n + 999) / 1000 <= semFlatCellCap)
        lloydAssign(emb, adaptiveNlist(n), iters)
      else {
        val (k1, k2) = semBalancedCells(n)
        twoLevelCells(emb, k1, k2, iters, n)
      }
    }

  /** The composite (cell, sub) two-level blocking key packed into the
    * single `cell` column the within-cell pair kernel blocks on —
    * sub < 2^16, so cell·2^16 + sub is injective. Deterministic end to
    * end (both levels are the rounded-distance / id-tiebreak Lloyd
    * kernels and the shared [[assign]]).
    *
    * LEAN build, deliberately NOT [[ivfTrainedIndex]] + [[addLevel]]
    * (the persistable ANN index): a first cut reused that build and
    * measured 138.9 s at 600k vectors vs 35.1 s for the FLAT 600-cell
    * assignment it was supposed to beat (quiet canaries both sides), a
    * 4× cost. The index build's constants are an oracle contract, not a
    * blocking necessity: at k1 ≤ 64 it trains with the exact
    * oracle-replayable rule on the full corpus (no subsample), and it
    * checkpoints corpus-sized payload frames (assignment with embeddings
    * and materialized residuals). Blocking needs none of that:
    *   - both codebooks train through the subsampled trainer
    *     ([[lloydCentersJoin]] — ≤256 training vectors per centroid);
    *     the residual codebook trains on the SAMPLE's residuals only,
    *     never a corpus-sized residual frame;
    *   - checkpoints carry (vec_id, cell) only, never the payload;
    *   - the second-level argmin runs against the k1·k2 COMBINED
    *     centers (wv = cv + sv: ||x−c−s|| ≡ ||x−(c+s)||), so residual
    *     vectors are never materialized per corpus row. The combined
    *     broadcast is k1·k2×dim doubles — ≤33 MB at dim 64 through
    *     256×256 cells (~65M vectors); past that the build switches to
    *     a materialized-residual second pass (ids + residual only) so
    *     broadcast state returns to two bounded center tables.
    * Measured A/B (quiet canaries, SCALE_r14 §7): 200k vectors 12.0 s
    * lean vs 12.6 flat (the crossover — the [[semFlatCellCap]] sits
    * just under it); 600k: 16.0 vs 39.1; 2M: 58.8 vs 323.1, the flat
    * path reading its n² signature (8.3× wall for 3.33× data) while
    * this build reads ~n^1.5 (3.7×). Occupancy and candidate volume
    * stay within 10% of flat at every point. */
  private[graft] def twoLevelCells(emb: DataFrame, k1: Int, k2: Int,
      iters: Int = 5, nKnown: Long = -1L): DataFrame = {
    val spark = emb.sparkSession
    val n = if (nKnown >= 0) nKnown else emb.count()
    val c1 = lloydCentersJoin(emb, k1, iters, n)
    val cents1 = centersFrame(spark, c1, "cid", "cv")
    val a1 = assign(
      spread(emb, n * k1).select(col("vec_id"), col("embedding").as("ce")),
      Seq("vec_id"), "ce", cents1, "cid", "cv", "cell")
      .localCheckpoint()
    // residual codebook: trained on the hash-systematic SAMPLE's
    // residuals ([[lloydCentersJoin]]'s own cap, applied before the
    // residual projection, so the HOF zip_with touches ~256·k2 rows)
    val m2 = math.max(1L, n / (256L * k2))
    val sampResid = residual(
      emb.filter(xxhash64(col("vec_id")) % m2 === 0).join(a1, Seq("vec_id")),
      Seq(cents1), "embedding", "resid")
      .select(col("vec_id"), col("resid").as("embedding"))
    val c2 = lloydCentersJoin(sampResid, k2, iters)
    val rows = spread(emb, n * k2).join(a1, Seq("vec_id"))
    // (vec_id, cell, sub)
    val subs =
      if (k1.toLong * k2 <= 65536L) {
        // combined-centers argmin: one native-kernel pass, no residuals;
        // entry cell·k2 + sub combines coarse center cell and residual
        // center sub, and meets only its cell's rows
        val comb = centersFrame(spark,
          for (cc <- c1.toSeq; sc <- c2.toSeq)
            yield cc.zip(sc).map { case (a, b) => a + b }, "wid", "wv")
          .withColumn("cell", floor(col("wid") / k2))
        assign(rows.select(col("vec_id"), col("embedding").as("ce"),
            col("cell")), Seq("vec_id", "cell"), "ce", comb, "wid", "wv",
          "wid", on = Seq("cell"))
          .select(col("vec_id"), col("cell"),
            (col("wid") - col("cell") * k2).as("sub"))
      } else {
        // past the combined broadcast's 2^16-cell bound: materialize
        // (vec_id, cell, residual) once, argmin against the bounded
        // k2-row residual codebook
        val resid = residual(rows, Seq(cents1), "embedding", "re")
          .select("vec_id", "cell", "re").localCheckpoint()
        assign(resid, Seq("vec_id", "cell"), "re",
          centersFrame(spark, c2, "sid", "sv"), "sid", "sv", "sub")
      }
    subs.select(col("vec_id"), (col("cell") * 65536 + col("sub")).as("cell"))
      .localCheckpoint()
  }

  /** Verified within-cell cosine pairs (doc_a < doc_b, cosine ≥ tau) —
    * the candidate kernel shared by [[semDedup]] and [[semDedupGroups]].
    * Candidates meet on the cell equi-key carrying ids only; embeddings
    * and once-computed norms rejoin per surviving candidate. */
  private def semDupPairs(assign: DataFrame, emb: DataFrame,
      tau: Double): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), col("embedding").as("ev"))
      .withColumn("nv", sqrt(dotExpr(spark, "ev", "ev")))
    val ids = assign.select(col("cell"), col("vec_id"))
    val cand = ids.select(col("cell"), col("vec_id").as("doc_a"))
      .join(ids.select(col("cell"), col("vec_id").as("doc_b")), Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
    cand
      .join(e.select(col("vec_id").as("doc_a"), col("ev").as("ea"),
        col("nv").as("na")), Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("ev").as("eb"),
        col("nv").as("nb")), Seq("doc_b"))
      // zero-norm vectors have no defined cosine — never duplicates
      // (also keeps ANSI mode from raising on the 0·0 divide)
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("doc_a"), col("doc_b"),
        (dotExpr(spark, "ea", "eb") / (col("na") * col("nb"))).as("c"))
      .filter(col("c") >= tau)
      .select(col("doc_a"), col("doc_b"))
  }

  /** SemDeDup — semantic deduplication by cluster-blocked cosine pruning
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): k-means the embedding space, then
    * compare ONLY within each cluster and drop every vector that has a
    * lower-id cluster-mate above `tau` (low-id-wins keep rule — a total
    * order, so the keep set is deterministic and engine-replicable; for
    * the paper's one-representative-per-GROUP rule see
    * [[semDedupGroups]]). The cluster-blocked member of the dedup family
    * (exact / MinHash / SimHash / LSH-cosine / THIS). Returns one row
    * per corpus vector: (vec_id, cell, keep).
    *
    * Training reuses the deterministic Lloyd trainer that backs
    * [[ivfTrainedIndex]] (1e-6-rounded iteration means, id-ordered init),
    * so clustering + assignment + pruning replay as ONE composed oracle
    * SQL statement.
    *
    * Scale shape: centroids are nlist-bounded and broadcast; assignment
    * is a map-side argmin (the exchange carries (id, cell) only); the
    * pair join is equi-keyed on `cell` — never all-pairs — and carries
    * ids only, embeddings rejoining once per candidate pair with norms
    * precomputed per vector. Within-cell candidates are the quadratic
    * term SemDeDup accepts by design; `nlist = 0` (the default) sizes
    * the cell count from the corpus via [[adaptiveNlist]] (~1,000
    * vectors per cell), so candidate volume stays ~1,000·|C| as the
    * corpus grows instead of |C|²/nlist at a pinned nlist — and past
    * [[semFlatCellCap]] cells the blocking switches to the balanced
    * two-level key ([[semAssign]]) so the assignment itself stays
    * subquadratic too. */
  def semDedup(emb: DataFrame, tau: Double, nlist: Int = 0,
      iters: Int = 5): DataFrame =
    semDedupKeep(emb, tau, nlist, iters).orderBy("vec_id")

  /** [[semDedup]] without the presentation sort, for callers that
    * materialize the keep set (the curation chain). */
  private[llm] def semDedupKeep(emb: DataFrame, tau: Double, nlist: Int,
      iters: Int): DataFrame = {
    // the input feeds the corpus count, every Lloyd iteration, the
    // assignment and both sides of the pair join: materialized ONCE, so
    // an upstream plan (a survivor join, say) runs once, not per use
    val (e, n) = graft.core.Observed.checkpointCounted(emb)
    semDedupFromAssign(semAssign(e, nlist, iters, n), e, tau)
  }

  /** The low-id-wins keep rule over any (vec_id, cell) blocking — the
    * blocking-agnostic half of [[semDedup]], split out so the flat and
    * two-level cell paths share one verified kernel (and so specs can
    * drive the rule with a forced blocking). */
  private[graft] def semDedupFromAssign(assign: DataFrame, emb: DataFrame,
      tau: Double): DataFrame = {
    val dups = semDupPairs(assign, emb, tau)
      .select(col("doc_b").as("vec_id")).distinct()
    assign
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup").isNull.as("keep"))
  }

  /** Blocking-quality diagnostics for [[semDedup]]'s cell structure —
    * the three numbers that decompose its runtime (round-13 directive
    * #5: the ×100 ladder read the semdedup stage ~linear-in-vectors
    * with a within-cell verify term; THESE are the terms): `n_cells`
    * and `max_occupancy` of the Lloyd assignment, `candidate_pairs`
    * = Σ_cell n·(n−1)/2 (the quadratic-risk term the adaptive nlist
    * bounds — healthy growth is ~linear in |C| at ~1,000 vectors/cell),
    * and `verified_pairs` = candidates that pass the exact cosine ≥
    * `tau` check (the output term — data reality, not engine cost).
    * One row; every aggregate is cell- or pair-bounded. A production
    * pipeline runs this beside the dedup to catch occupancy skew (one
    * hot cell going quadratic) before it becomes a wall-clock incident. */
  def semDedupStats(emb: DataFrame, tau: Double, nlist: Int = 0,
      iters: Int = 5): DataFrame = {
    val assign = semAssign(emb, nlist, iters)
    val occ = assign.groupBy("cell").agg(count(lit(1)).as("n"))
    val cellStats = occ.agg(count(lit(1)).as("n_cells"),
      max("n").as("max_occupancy"),
      sum(col("n") * (col("n") - 1) / 2).cast("long")
        .as("candidate_pairs"))
    val verified = semDupPairs(assign, emb, tau)
      .agg(count(lit(1)).as("verified_pairs"))
    // 1-row × 1-row: the only cross join is between two scalar frames
    cellStats.crossJoin(verified)
  }

  /** [[semDedup]] with the paper-faithful keep rule: ONE representative
    * per connected duplicate GROUP (transitive closure of the verified
    * pair graph, minimum id as the canonical representative), not
    * per-pair low-id. The two differ on star-shaped groups — in
    * {1~5, 3~5}, the pairwise rule keeps 3 (its only mate is higher),
    * the group rule collapses all three to representative 1. Returns
    * one row per corpus vector: (vec_id, cell, keep_id); keep_id = own
    * id for vectors with no duplicate.
    *
    * The closure runs on `Dedup.minLabelComponents` — min-label
    * propagation to quiescence over the pair graph, which is orders of
    * magnitude smaller than the corpus. */
  def semDedupGroups(emb: DataFrame, tau: Double, nlist: Int = 0,
      iters: Int = 5): DataFrame = {
    val assign = semAssign(emb, nlist, iters)
    val comp = Dedup.minLabelComponents(semDupPairs(assign, emb, tau))
    assign
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("keep"), col("vec_id")).as("keep_id"))
      .orderBy("vec_id")
  }

  /** In-engine ANN quality evaluation: recall@k of an approximate top-k
    * result against the exact brute-force ranking — the measurement a
    * production ANN deployment runs continuously (the reference's KNN
    * verify is the same set-containment idea, `KNNRunner.scala:181-218`).
    * Both inputs carry (query_id, neighbor_id, rank≤k); output is one
    * row: mean per-query |approx ∩ exact| / k. Distributed as one
    * id-equi-join + two aggregations. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hit"))
    // integer hit sum + ONE final division: an averaged-doubles form
    // would expose cross-engine float summation order at the rounding
    // boundary; Σhit / (k·n) is exact until the single divide
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("n_queries"))
      .select(
        (floor(col("hits").cast("double") / (col("n_queries") * k) * 1e4
          + 0.5) / 1e4).as("recall_at_k"),
        col("n_queries"))
      // an empty exact side must fail visibly (0 rows), not emit a
      // plausible-looking row with a null recall — a misconfigured
      // evaluation otherwise reads as a metric
      .filter(col("n_queries") > 0)
  }

  /** Approximate neighbors via random-projection LSH buckets: join cost is
    * bounded by bucket co-occupancy instead of |Q|×|C|. Seeded, so output
    * is deterministic. Returns pairs within `maxDist` (euclidean). */
  def lshNeighbors(queries: DataFrame, corpus: DataFrame,
      maxDist: Double, bucketLength: Double = 2.0,
      numHashTables: Int = 3): DataFrame = {
    val toVec = (df: DataFrame) => df.select(col("vec_id"),
      array_to_vector(col("embedding")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("buckets")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)
    val model = lsh.fit(toVec(corpus))
    model.approxSimilarityJoin(toVec(queries), toVec(corpus), maxDist, "dist")
      .select(
        col("datasetA.vec_id").as("query_id"),
        col("datasetB.vec_id").as("neighbor_id"),
        (floor(col("dist") * 10000 + 0.5) / 10000).as("dist"))
      .orderBy("query_id", "neighbor_id")
  }
}
