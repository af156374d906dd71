package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Hints, Observed}

/** Community detection (SURVEY §2.C C11 Louvain, C21 WCE) — closed-source
  * kernels in the reference (`LouvainRunner.scala:92-99`,
  * `WCERunner.scala:80-84`); re-derived from the published algorithms
  * (Blondel et al. 2008 for Louvain).
  *
  * Louvain here is the distributed variant: synchronous local-move passes
  * (with a parity gate to break two-community oscillation) followed by
  * graph coarsening, repeated per level. Every pass is a fixed set of
  * joins/aggregations on (edges, communities) DataFrames — no driver-side
  * graph state; `localCheckpoint` truncates the growing plan lineage each
  * pass.
  */
object Community {

  /** Louvain. `edges` directed pairs are treated as the undirected
    * multigraph (pass both directions for an undirected graph). Returns
    * (node, community); an edge-free graph has no nodes and returns an
    * empty frame (its total weight 2m is zero, so no move is scored). */
  def louvain(spark: SparkSession, edges: DataFrame, passes: Int = 4,
      levels: Int = 2): DataFrame = {
    // symmetric view: every undirected edge contributes both directions
    // (per-pass partitioning is handled inside localMoves)
    val (sym, nSym) = Observed.checkpointCounted(
      edges.select(col("src"), col("dst"), col("weight"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
        .groupBy("src", "dst").agg(sum("weight").as("w")))

    // level loop: local moves, then coarsen; carry vid → community map
    var mapping = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
    var e = sym
    var lvl = 0
    var moving = nSym > 0
    while (lvl < levels && moving) {
      val (comm, moved, v) = localMoves(e, passes)
      moving = moved > 0
      if (moving) {
        // compose: node → old community → new community (comm is one
        // row per current-level node — broadcast while that count is in
        // range, shuffle join via AQE on a graph too big to replicate)
        mapping = mapping
          .join(Hints.broadcastIfSmall(comm.withColumnRenamed("node", "community")
            .withColumnRenamed("new_comm", "next"), v), Seq("community"))
          .select(col("node"), col("next").as("community"))
          .localCheckpoint()
        // coarsen: communities become nodes (skipped entirely once a
        // level stops moving — the coarse graph would be identical)
        e = e
          .join(Hints.broadcastIfSmall(comm.withColumnRenamed("node", "src")
            .withColumnRenamed("new_comm", "c_src"), v), Seq("src"))
          .join(Hints.broadcastIfSmall(comm.withColumnRenamed("node", "dst")
            .withColumnRenamed("new_comm", "c_dst"), v), Seq("dst"))
          .groupBy(col("c_src").as("src"), col("c_dst").as("dst"))
          .agg(sum("w").as("w"))
          .localCheckpoint()
      }
      lvl += 1
    }
    mapping.orderBy("node")
  }

  /** Synchronous local-move passes on one level; returns
    * ((node, new_comm), total moves, node count). Passes stop early once
    * a pass moves nothing — the moved count is an observed metric on the
    * pass's own checkpoint job (no extra action), against ~6 shuffles
    * for a wasted pass. */
  private def localMoves(e: DataFrame, passes: Int): (DataFrame, Long, Long) = {
    // zero-weight self-loops: every node's own community then arrives
    // through the normal per-pass kin aggregate (+0.0 changes no sum),
    // and the self-loop row tags its group with the node's current
    // community, so no second community join is needed. Partitioned by
    // SRC once: with the (small, per-level) community frame broadcast,
    // the kin aggregate, the per-node window and the final argmax all
    // inherit this distribution — one shuffle-free stage per pass.
    // cache, NOT localCheckpoint: a checkpointed frame comes back as a
    // bare LogicalRDD with its hash partitioning erased, so every pass
    // would re-exchange it — the cached plan keeps outputPartitioning
    val e2 = e.unionByName(
      e.select(col("src")).union(e.select(col("dst"))).distinct()
        .select(col("src"), col("src").as("dst"), lit(0.0).as("w")))
      .repartition(col("src")).cache()
    // 2m summed AFTER the cache materializes, so the sum job reads the
    // in-memory columnar blocks instead of re-deriving e (the self-loop
    // rows add +0.0, so summing e2 equals summing e exactly —
    // integer-valued weights make the sum order-independent in doubles).
    // NOT an observed metric on the count: Dataset.count() runs its own
    // ad-hoc QueryExecution, which never populates observedMetrics on
    // this frame (probed: metric read back 0.0 and the score division
    // threw DIVIDE_BY_ZERO under ANSI mode).
    e2.count()
    val m2 = e2.agg(sum("w")).head().getDouble(0)
    val byNode = Window.partitionBy("node")
    // the community frame carries each node's degree, making the sigma
    // aggregate a plain groupBy (no deg join); the node count — gating
    // the per-pass broadcasts (comm is 1 row per node, sigma ≤ 1 row per
    // community ≤ v) — rides the checkpoint materialization the same way
    val commObs = e2.groupBy(col("src").as("node")).agg(sum("w").as("deg"))
      .select(col("node"), col("node").as("comm"), col("deg"))
      .observe("louvain_v", count(lit(1)).as("v"))
    var comm = commObs.localCheckpoint()
    val v = Observed.long(commObs, "louvain_v", "v")
    var totalMoves = 0L
    var zeroStreak = 0
    var pass = 0
    while (pass < passes && zeroStreak < 2) {
      val sigma = comm.groupBy("comm").agg(sum("deg").as("sigma"))
      // sigma rides the community broadcast (pre-joined onto the
      // per-node frame, recovered by max() in the aggregate — constant
      // within a (node, cand) group): one broadcast build and one join
      // per pass instead of two of each (r14 opt round; bit-identical)
      val commE = comm
        .join(Hints.broadcastIfSmall(sigma, v), Seq("comm"))
      // weight from each node to each neighboring community; the
      // self-loops planted in e2 make this the complete candidate set
      // (neighbor communities plus the node's own)
      val cands = e2
        .join(Hints.broadcastIfSmall(commE.select(col("node").as("dst"),
          col("comm").as("cand"), col("sigma")), v), Seq("dst"))
        .groupBy(col("src").as("node"), col("cand"))
        .agg(sum("w").as("kin"),
          max(when(col("dst") === col("src"), col("cand"))).as("selfc"),
          max(col("sigma")).as("sigma"))
        // per-node degree and current community via an unordered window
        // over the node partition the aggregate already produced —
        // kin sums are integer-valued, so re-summing them is exact
        .withColumn("deg", sum("kin").over(byNode))
        .withColumn("comm", max("selfc").over(byNode))
      // ΔQ-proportional score; own community's sigma excludes the node
      val scored = cands.select(col("node"), col("cand"), col("comm"),
        col("deg"),
        (col("kin") - col("deg") *
          (col("sigma") - when(col("cand") === col("comm"), col("deg"))
            .otherwise(0.0)) / m2).as("score"))
      // argmax as a partial-aggregating min(struct(-score, cand)) —
      // the same (score desc, cand asc) order the former row_number
      // window used, without sorting the whole candidate frame
      // parity gate: half the nodes move per pass (kills oscillation)
      val gate = pmod(col("node"), lit(2)) === lit(pass % 2)
      // the moved count rides the checkpoint materialization as an
      // observed metric — one job per pass instead of two (r15 opt
      // round: the separate filter+count job was ~0.1-0.2 s x 8 passes)
      val bestObs = scored.groupBy("node")
        .agg(min(struct((-col("score")).as("ns"), col("cand"))).as("sel"),
          max(col("comm")).as("comm"), max(col("deg")).as("deg"))
        .select(col("node"), col("sel.cand").as("cand"), col("comm"),
          col("deg"))
        .observe("louvain_moved",
          count(when(gate && col("cand") =!= col("comm"), 1L)).as("moved"))
      val best = bestObs.localCheckpoint()
      val moved = Observed.long(bestObs, "louvain_moved", "moved")
      totalMoves += moved
      // the gate alternates parity, so only TWO consecutive still passes
      // prove both halves are settled
      zeroStreak = if (moved == 0) zeroStreak + 1 else 0
      comm = best.select(col("node"),
        when(gate, col("cand")).otherwise(col("comm")).as("comm"),
        col("deg"))
      pass += 1
    }
    val out =
      comm.select(col("node"), col("comm").as("new_comm")).localCheckpoint()
    e2.unpersist(blocking = false)
    (out, totalMoves, v)
  }

  /** Weak clique enumeration (C21): per-vertex seed expansion — v's weak
    * clique is {v} ∪ {neighbors sharing ≥ minCommon further neighbors
    * with v}; identical member sets dedup to one row keyed by min member.
    *
    * Common-neighbor counts are computed per EDGE by joining each edge
    * with both endpoints' (hub-capped) sorted neighbor arrays and taking
    * array_intersect — O(Σ_edges (d_a + d_b)) work, versus the wedge
    * self-join whose Σ deg(x)² blowup was the whole suite's slowest
    * query at sf0.1. */
  def weakCliques(spark: SparkSession, edges: DataFrame,
      minCommon: Int = 1, maxDegree: Int = 64): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst"), col("src"))).distinct()
    val nbrs = sym.groupBy(col("src").as("n"))
      .agg(array_sort(collect_set(col("dst"))).as("nbrs"))
      .filter(size(col("nbrs")) <= maxDegree)
    val strong = sym
      .join(nbrs.select(col("n").as("src"), col("nbrs").as("na")), Seq("src"))
      .join(nbrs.select(col("n").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .filter(size(array_intersect(col("na"), col("nb"))) >= minCommon)
      .select(col("src"), col("dst"))
    strong.groupBy("src")
      .agg(array_sort(array_union(collect_set(col("dst")),
        array(col("src")))).as("members"))
      .select(col("members")).distinct()
      .select(element_at(col("members"), 1).as("clique_id"),
        col("members"), size(col("members")).as("clique_size"))
      .orderBy("clique_id", "members")
  }
}
