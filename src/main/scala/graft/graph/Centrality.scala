package graft.graph

import org.apache.spark.graphx.Graph
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Hints

/** Centrality (SURVEY §2.C C17 betweenness, C18 closeness) — closed-source
  * kernels in the reference (`BetweennessRunner.scala:84-99`,
  * `ClosenessRunner.scala:102-110`); re-derived: sampled Brandes (2001)
  * for betweenness, sampled-landmark harmonic closeness.
  *
  * Both are sampling-based like the reference's knobs (`k`/`p` for
  * betweenness, `ratio` for closeness): exact all-pairs is O(V·E) and not
  * a 100 TB option; cost scales linearly with the source sample.
  */
object Centrality {

  private def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6

  /** Harmonic closeness over a landmark sample: for each vertex, the mean
    * of 1/dist to the landmarks it reaches. `weighted = false` uses hop
    * distances (GraphX ShortestPaths); `weighted = true` runs a
    * multi-landmark weighted-SSSP Pregel where an edge's weight is its
    * traversal cost — the reference's `weighted` flag
    * (`ClosenessRunner.scala:25,44`). */
  def closeness(spark: SparkSession, g: Graph[Double, Double],
      landmarks: Seq[Long], weighted: Boolean = false): DataFrame = {
    import spark.implicits._
    val dists: org.apache.spark.rdd.RDD[(Long, Seq[(Long, Double)])] =
      if (!weighted)
        ShortestPaths.run(g, landmarks).vertices
          .map { case (v, m) =>
            (v, m.toSeq.map { case (l, d) => (l, d.toDouble) }) }
      else {
        val lm = landmarks.toSet
        // landmark→distance maps flow AGAINST edge direction (like
        // ShortestPaths), so each vertex learns its distance TO every
        // landmark it can reach along out-edges
        val init = g.mapVertices((v, _) =>
          if (lm(v)) Map(v -> 0.0) else Map.empty[Long, Double])
        def merge(a: Map[Long, Double], b: Map[Long, Double]) =
          (a.keySet ++ b.keySet).map(k =>
            k -> math.min(a.getOrElse(k, Double.MaxValue),
              b.getOrElse(k, Double.MaxValue))).toMap
        init.pregel(Map.empty[Long, Double])(
          (_, attr, msg) => merge(attr, msg),
          t => {
            val viaDst = t.dstAttr.map { case (l, d) => l -> (d + t.attr) }
            val improved = viaDst.filter { case (l, d) =>
              d < t.srcAttr.getOrElse(l, Double.MaxValue) }
            if (improved.nonEmpty) Iterator((t.srcId, improved))
            else Iterator.empty
          },
          merge).vertices.map { case (v, m) => (v, m.toSeq) }
      }
    dists
      .flatMap { case (v, m) =>
        // .toSeq first: mapping a Map to (v, _) pairs would collapse all
        // landmark entries onto the single key v
        m.filter { case (l, d) => l != v && d > 0 }
          .map { case (_, d) => (v, 1.0 / d) } }
      .toDF("node", "inv")
      .groupBy("node")
      .agg(r6(sum("inv") / landmarks.size).as("closeness"))
      .orderBy("node")
  }

  /** Sampled Brandes betweenness, all sources batched: one level-
    * synchronous forward pass computes (dist, σ = #shortest paths) keyed
    * by source, then dependencies δ accumulate backwards level by level:
    * δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ_w).
    * Scores are sums over the sample (ordered-pair convention — on a
    * symmetric graph this is 2× the unordered value).
    * Batching makes the job count O(diameter), not O(|sources|·diameter);
    * each level is one join; lineage truncated per level. */
  def betweenness(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long]): DataFrame = {
    import spark.implicits._
    // cached hash(src), not localCheckpoint'd: a cached plan KEEPS its
    // outputPartitioning while a checkpointed one comes back as a bare
    // LogicalRDD (probed on this Spark build, r14 opt round) — and e is
    // the join build side of EVERY forward level and every backward
    // level, so the preserved partitioning removes the e-side exchange
    // (the largest frame here) from ~2·diameter joins; only the small
    // per-level frontier/delta frames still shuffle.
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).cache()
    e.count()
    // per-level (dist, sigma) frames for the backward pass, plus ONE
    // accumulated checkpointed `seen` frame for the forward anti-join —
    // re-deriving seen as a union of every prior level frame made each
    // level's plan scan all previous levels again (O(diameter²) frame
    // scans on a high-diameter graph; flagged in round 3)
    var frames = Vector(sources.map(s => (s, s, 0, 1.0))
      .toDF("s", "node", "dist", "sigma").localCheckpoint())
    // per-level row counts ride each level's checkpoint materialization
    // as observed metrics ([[graft.core.Observed]]): they replace the
    // former limit(1).count() emptiness job AND size-gate the backward
    // pass's delta-side broadcast hints
    var counts = Vector(sources.size.toLong)
    var frontier = frames.head
    var seen = frontier.select(col("s"), col("node").as("dst"))
      .localCheckpoint()
    var level = 0
    var more = frontier.limit(1).count() > 0
    while (more) {
      level += 1
      val (next, n) = graft.core.Observed.checkpointCounted(frontier
        .join(e, frontier("node") === e("src"))
        .select(col("s"), col("dst"), col("sigma"))
        .join(seen, Seq("s", "dst"), "left_anti")
        .groupBy("s", "dst")
        .agg(sum("sigma").as("sigma"))
        .select(col("s"), col("dst").as("node"), lit(level).as("dist"),
          col("sigma")))
      if (n > 0) {
        frames :+= next
        counts :+= n
        frontier = next
        seen = seen
          .unionByName(next.select(col("s"), col("node").as("dst")))
          .localCheckpoint()
      } else more = false
    }
    val maxLevel = frames.length - 1
    // backward pass: dependencies accumulate level-by-level, each level's
    // delta frame checkpointed once (the round-1 version re-materialized
    // the full (s, node) delta set every level)
    var deltas = Vector.fill[DataFrame](maxLevel + 1)(null)
    deltas = deltas.updated(maxLevel,
      frames(maxLevel).withColumn("delta", lit(0.0)).localCheckpoint())
    var d = maxLevel - 1
    while (d >= 0) {
      // the per-successor term (1+δ_w)/σ_w depends only on w, so the
      // edge messages aggregate BEFORE the cur join (guide §2.3 —
      // aggregate before you shuffle): one e-join per level instead of
      // the former cur⋈e⋈delta double join, with σ_v attached to the
      // already-aggregated (s, node) frame by a small join afterwards.
      // A level-(d+1) neighbor of a level-d node is a successor by BFS
      // structure, so the inner-join-with-cur keeps exactly the succ(v)
      // sums; groups from non-level-d predecessors drop with the left
      // join, never polluting kept values. δ_v = σ_v · Σ t_w reshapes
      // the float arithmetic (was Σ σ_v/σ_w·(1+δ_w)) — ratified by the
      // r6-rounded oracle hash at sf0.001/sf0.01 and the fuzz grid.
      // the delta side carries the broadcast hint (size-gated on the
      // observed level count): with it built, e streams straight off its
      // src-partitioned cache and the (s, src) aggregate inherits that
      // distribution — zero exchange in the heavy path. Un-hinted, the
      // planner built e as the broadcast side instead and re-collected
      // all of e to the driver EVERY level (probed: wall 8.5-9.4 vs
      // 7.2-8.2 s hinted at sf0.1). Past the gate AQE plans the join
      // from runtime stats.
      val wNodes = deltas(d + 1)
        .select(col("s").as("ws"), col("node").as("w"),
          ((lit(1.0) + col("delta")) / col("sigma")).as("tw"))
      val msg = e
        .join(Hints.broadcastIfSmall(wNodes, counts(d + 1)),
          e("dst") === wNodes("w"))
        .groupBy(col("ws").as("s"), col("src").as("node"))
        .agg(sum("tw").as("tsum"))
      val cur = frames(d)
      deltas = deltas.updated(d,
        cur.join(msg, Seq("s", "node"), "left")
          .select(col("s"), col("node"), col("dist"), col("sigma"),
            coalesce(col("sigma") * col("tsum"), lit(0.0)).as("delta"))
          .localCheckpoint())
      d -= 1
    }
    // every frame below is checkpointed, so nothing downstream reads e
    e.unpersist(blocking = false)
    deltas.map(_.select(col("s"), col("node"), col("delta")))
      .reduce(_ unionByName _)
      .filter(col("node") =!= col("s"))
      .groupBy("node").agg(r6(sum("delta")).as("betweenness"))
      .orderBy("node")
  }
}
