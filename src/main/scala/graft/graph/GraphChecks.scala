package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tolerance-verified companions for the stock GraphX fits whose
  * trajectories are engine artifacts (async LPA's vertex-activation
  * order, Louvain's tie-breaking, the replicated-view lag of the
  * vector-batched PPR, Word2Vec's HogWild updates) — the graph half of
  * [[graft.ml.Checks]]: run the stock op, compare a STABLE metric of
  * its output against the oracle-checked deterministic companion, emit
  * `(metric, ok)` verdict rows against a constant-truth oracle.
  * Thresholds probed at sf0.01 and sf0.1 with slack (see each check).
  */
object GraphChecks {

  private def b2d(b: Boolean): Double = graft.ml.Checks.b2d(b)

  /** Async GraphX LPA vs the oracle-checked synchronous twin: the
    * trajectory differs but the macroscopic outcome — how many
    * communities survive 5 rounds — must land in the same regime.
    * `syncDf` lets the query layer pass the memoized sweep that
    * graph_lpa_sync also emits (one sweep per suite pass, not two). */
  def lpa(spark: SparkSession, edges: DataFrame,
      iters: Int = 5, syncDf: Option[DataFrame] = None): DataFrame = {
    val g = GraphSource.toGraph(edges)
    val async = Builtins.labelPropagation(spark, g, iters)
    val sync = syncDf.getOrElse(
      Iterative.labelPropagationSync(spark, LocalGraph.fromEdges(edges), iters))
    // both surfaces are compared against the graph's own vertex count —
    // async.count == sync.count alone would pass if BOTH dropped the
    // same vertices (round-8 advice)
    val nVerts = edges.select(col("src").as("v"))
      .union(edges.select(col("dst"))).distinct().count()
    // one aggregate per side instead of a count job + a distinct-count
    // job each (exact countDistinct — same integers, half the actions).
    // Non-null invariant (r14 advice #1): countDistinct ignores NULLs
    // where the former distinct().count() counted one — safe here
    // because neither side can produce a null label: the async side is
    // GraphX vertex attrs seeded from vertex ids, the sync side's labels
    // are vertex ids in a non-nullable column.
    def rowAndLabelCounts(df: DataFrame): (Long, Double) = {
      val r = df.agg(count(lit(1)), countDistinct(col("label"))).head()
      (r.getLong(0), r.getLong(1).toDouble)
    }
    val (nodesAsync, nAsync) = rowAndLabelCounts(async)
    val (nodesSync, nSync) = rowAndLabelCounts(sync)
    // factor-3 band: both trajectories collapse the fixture graph to a
    // handful of communities (sf0.01 probed async=1 vs sync=2; sf0.1
    // in the same regime), so a tight ratio on single-digit counts
    // would flap — 3x separates "same regime" from "diverged"
    graft.ml.Checks.verdictsV(spark, Seq(
      "lpa_labels_every_node" ->
        b2d(nodesAsync == nVerts && nodesSync == nVerts),
      "lpa_community_count_within_3x_of_sync" ->
        b2d(nAsync <= nSync * 3.0 && nAsync * 3.0 >= nSync),
      // DuckDB-recomputed ingredients: the vertex count (plain SQL) and
      // the sync twin's community count (the unrolled lpa_sync chain)
      "lpa_vertex_count" -> nVerts.toDouble,
      "lpa_sync_community_count" -> nSync))
  }

  /** Stock Louvain vs the oracle-checked deterministic sweep: the
    * partitions differ, but BOTH are local-move optima of the same
    * objective — their modularity (computed by the oracle-checked
    * [[Iterative.modularity]]) must agree within 0.05 absolute.
    * `syncDf` lets the query layer pass the memoized sweep that
    * graph_louvain_sync also emits (round-8 verdict #3: the sweep ran
    * twice per suite pass, ~6 s of recompute). */
  def louvain(spark: SparkSession, und: DataFrame,
      syncDf: Option[DataFrame] = None): DataFrame = {
    val sym = und.select(col("src"), col("dst"), col("weight"))
      .union(und.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    def modOf(c: DataFrame): Double =
      Iterative.modularity(spark, sym,
        c.select(col("node"), col("community"))).head().getDouble(0)
    val mStock = modOf(Community.louvain(spark, und))
    val mSync = modOf(syncDf
      .getOrElse(Iterative.louvainSync(spark, LocalGraph.fromEdges(und), 8))
      .withColumnRenamed("comm", "community"))
    graft.ml.Checks.verdictsV(spark, Seq(
      "louvain_modularity_positive" -> b2d(mStock > 0.0),
      "louvain_modularity_within_05_of_sync" ->
        b2d(math.abs(mStock - mSync) <= 0.05),
      // the sync twin's modularity — DuckDB recomputes it by replaying
      // the unrolled sweep and scoring the final partition in SQL
      "louvain_sync_modularity" -> mSync))
  }

  /** Word2Vec over the biased walks: every walked vertex gets one
    * finite nonzero embedding of the declared dimension — the model
    * surface contract (the SAMPLER itself is oracle-checked via
    * graph_walks_det; the HogWild trainer is the only RNG left). */
  def node2vec(spark: SparkSession, edges: DataFrame): DataFrame = {
    val emb = Node2Vec.embeddings(spark, edges, p = 2.0, q = 0.5)
    // the query surface emits the first 4 rounded coordinates
    val dims = emb.columns.filter(_.matches("d\\d+"))
    val nVerts = edges.select(col("src").as("v"))
      .union(edges.select(col("dst"))).distinct().count()
    val normExpr = sqrt(dims.map(c => col(c) * col(c)).reduce(_ + _))
    val stats = emb.select(
        count(lit(1)).as("n"),
        sum(when(normExpr > 0.0 && !isnan(normExpr), 1L)
          .otherwise(0L)).as("ok"))
      .head()
    graft.ml.Checks.verdictsV(spark, Seq(
      "node2vec_emits_coordinates" -> b2d(dims.length == 4),
      "node2vec_covers_walked_vertices" ->
        b2d(stats.getLong(0) > 0 && stats.getLong(0) <= nVerts),
      "node2vec_vectors_finite_nonzero" ->
        b2d(stats.getLong(1) == stats.getLong(0)),
      // the coverage bound itself — DuckDB recomputes |V| from the edge
      // CTE (round-10 directive #3: value-verdict conversion)
      "node2vec_graph_vertices" -> nVerts.toDouble))
  }

  /** Vector-batched GraphX PPR vs the oracle-checked synchronous twin:
    * the replicated-view artifact displaces DISTRIBUTION mass (probed
    * L1 ≈ 0.20 at sf0.01, ≈ 0.45 at sf0.1 — scale-dependent, so L1 is
    * the wrong invariant) but preserves the RANKING the op exists to
    * produce — so the check is the reference's own ranking methodology
    * (top-k set overlap, `BetweennessRunner.scala:92-99`): per source,
    * at least 3 of the top-5 nodes agree with the sync twin (probed
    * 4,5,5,4 at sf0.01 and 5,3,5,3 at sf0.1), plus per-source rank
    * mass conserved at 1 within 1%. */
  def pprMulti(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], iters: Int = 10,
      syncDf: Option[DataFrame] = None): DataFrame = {
    val g = GraphSource.toGraph(edges)
    val async = Builtins.parallelPersonalizedPageRank(spark, g,
      sources, iters).localCheckpoint()
    val sync = syncDf.getOrElse(
      Iterative.parallelPersonalizedPageRankSync(spark, edges,
        sources, iters))
    val mass = async.groupBy("source").agg(sum("rank").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def ranked(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("rank"), asc("node"))
      df.withColumn("rn", row_number().over(w))
        .select("source", "node", "rn")
    }
    val ra = ranked(async)
    val rs = ranked(sync).withColumnRenamed("rn", "rn2")
    // ONE join + ONE aggregate serves BOTH verdict ingredients (r14 opt
    // round — the former separate top-5 semi-join re-evaluated both
    // row_number windows a second time):
    // - Spearman ρ of the FULL rankings per source (Pearson over the
    //   row_number ranks; total tiebreak ⇒ no tie correction needed):
    //   strictly tighter than the 3-of-5 top-5 overlap, which a fairly
    //   wrong ranking can pass (round-8 verdict #6). Probed per-source
    //   ρ: 0.9877–0.9903 at sf0.01, 0.9094–0.9347 at sf0.1 — pinned at
    //   0.85, under the worst observed value with slack.
    // - top-5 overlap = joined rows with rn ≤ 5 AND rn2 ≤ 5 — identical
    //   to the former semi-join count because row_number is unique per
    //   (source, node) side. The overlap map keeps only sources with
    //   ≥ 1 overlapping row, exactly the key set the semi-join yielded.
    val js = ra.join(rs, Seq("source", "node"))
      .groupBy("source")
      .agg(corr(col("rn").cast("double"), col("rn2").cast("double"))
        .as("rho"),
        sum(when(col("rn") <= 5 && col("rn2") <= 5, 1L).otherwise(0L))
          .as("ov"))
      .collect()
    // corr() is null for a source with < 2 joined rank rows (degenerate
    // graph): map null to 0.0 so such a source FAILS the ρ ≥ 0.85
    // verdict instead of crashing the query with an NPE
    val rho = js.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
    val overlap = js.filter(_.getLong(2) > 0L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // per-source ranked-node count: the async op must rank every vertex
    // of the graph for every source (a dropped vertex breaks both the
    // mass and the Spearman comparison silently)
    val nVerts = edges.select(col("src").as("v"))
      .union(edges.select(col("dst"))).distinct().count()
    val perSource = async.groupBy("source").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ml.Checks.verdictsV(spark, Seq(
      "ppr_multi_all_sources_ranked" ->
        b2d(mass.keySet == sources.toSet && overlap.keySet == sources.toSet),
      "ppr_multi_mass_normalized_1pct" ->
        b2d(sources.forall(s =>
          math.abs(mass.getOrElse(s, 0.0) - 1.0) <= 0.01)),
      "ppr_multi_top5_overlap_ge_3of5" ->
        b2d(sources.forall(s => overlap.getOrElse(s, 0L) >= 3L)),
      "ppr_multi_spearman_ge_085" ->
        b2d(sources.forall(s => rho.getOrElse(s, 0.0) >= 0.85)),
      "ppr_multi_ranks_all_vertices" ->
        b2d(sources.forall(s => perSource.getOrElse(s, 0L) == nVerts)),
      // |V| itself — DuckDB recomputes it from the edge CTE (round-10
      // directive #3: value-verdict conversion)
      "ppr_multi_vertex_count" -> nVerts.toDouble))
  }
}
