package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.spark.graphx.{Graph, VertexRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.core.Hints

/** Custom iterative graph algorithms (SURVEY §2.C C3–C6, C12–C13) —
  * the reference invokes closed-source kernels for these
  * (`WeightedPageRankRunner.scala:115-119`, `TrustRankRunner.scala:105-113`,
  * `BFSRunner.scala:95-101`, `IncPageRankRunner.scala:102-114`,
  * `KCoreDecompositionRunner.scala:62-65`, `ModularityRunner.scala:82-85`);
  * these are independent re-derivations from the published algorithms.
  *
  * The damped-rank members ([[weightedPageRank]], [[trustRank]],
  * [[incrementalPageRank]]) run the damped-rank kernel ([[DampedRank]])
  * and [[bfs]] runs a frontier loop, each over a [[LocalGraph]] built in
  * its one task: rank or distance state is one dense array over the
  * sorted vertex ids, and the output is built on the driver in node
  * order. None of the rank members normalizes its ranks.
  *
  * Iteration hygiene for the GraphX loops below (critical): each step
  * caches the new graph and materializes its EDGES (which forces the
  * replicated vertex view) before unpersisting the previous graph —
  * materializing only the vertices leaves the next aggregateMessages
  * depending on unpersisted state and the lineage re-executes from
  * iteration 0 (observed: a 20-iteration loop went quadratic). Same
  * discipline as GraphX's own PageRank implementation.
  */
object Iterative {

  private def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6

  /** Weighted PageRank over `graph`: contributions proportional to edge
    * weight / source out-weight (C3). */
  def weightedPageRank(spark: SparkSession, graph: LocalGraph.Reader,
      numIter: Int, resetProb: Double = 0.15): DataFrame =
    DampedRank.frame(spark, DampedRank.run(graph,
      DampedRank.Spec(numIter, resetProb, weighted = true)), "rank")

  /** TrustRank (C5): personalized PageRank whose reset mass goes only to
    * the trusted seeds `seeds` picks (uniformly). A seed that is not a
    * vertex of a non-empty graph fails naming it. */
  def trustRank(spark: SparkSession, graph: LocalGraph.Reader,
      seeds: LocalGraph.Pick, numIter: Int, resetProb: Double = 0.15): DataFrame = {
    val run = DampedRank.run(graph,
      DampedRank.Spec(numIter, resetProb, seeds = Some(seeds)))
    DampedRank.requireSeeds(run, "TrustRank seed")
    DampedRank.frame(spark, run, "trust")
  }

  /** Incremental PageRank (C4): resume iterating from prior ranks — the
    * delta answer to "the graph changed a little, don't restart from
    * uniform". The prior is [[Builtins.pageRank]]'s `priorIter`-iteration
    * output (normalized, rounded to 1e-6), computed in the same run. */
  def incrementalPageRank(spark: SparkSession, graph: LocalGraph.Reader,
      priorIter: Int, extraIter: Int, resetProb: Double = 0.15): DataFrame = {
    require(priorIter > 0, s"the prior needs priorIter > 0, got $priorIter")
    DampedRank.frame(spark, DampedRank.run(graph,
      DampedRank.Spec(extraIter, resetProb, priorIters = priorIter)), "rank")
  }

  /** BFS (C6): minimum hop distance along out-edges from the sources
    * `src` picks, depth-limited; vertices never reached are omitted
    * (reference filters MAX_VALUE: `BFSRunner.scala:95-101`). Rows are
    * (node, dist) in node order. */
  def bfs(spark: SparkSession, graph: LocalGraph.Reader, src: LocalGraph.Pick,
      maxDepth: Int): DataFrame = {
    val reached = LocalGraph.run(graph) { g =>
      val dist = g.hops(src(g).toSeq.map(g.index).filter(_ >= 0), maxDepth)
      g.ids.indices.filter(dist(_) != Int.MaxValue)
        .map(v => Row(g.ids(v), dist(v))).toArray
    }
    // Rows against an explicit schema, not `toDF`, for the reason
    // DampedRank.frame gives
    spark.createDataFrame(reached.toSeq.asJava,
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("dist", IntegerType, nullable = false))))
  }

  /** K-core decomposition (C12) via the distributed h-operator fixpoint
    * (Montresor et al., "Distributed k-core decomposition"): every vertex
    * starts at its degree; repeatedly set core(v) = max k such that at
    * least k neighbors have core ≥ k. Converges to exact core numbers.
    *
    * Delta-messaging: each vertex keeps a persistent histogram of its
    * neighbors' (capped) estimates; after the first full exchange, only
    * vertices whose estimate CHANGED last round send — a (old → −1,
    * new → +1) count delta per incident edge. Per-round message volume
    * is O(edges touching changed vertices), not O(E); the fixpoint
    * trajectory is bit-identical to full resend (same per-round
    * h-operator inputs), so results are unchanged. One materialization
    * job per round (triplets forces the vertex program AND the shipped
    * vertex view the next aggregateMessages needs). */
  def kCore(spark: SparkSession, undirected: Graph[Double, Double],
      maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    // graph attr = (est, prevEst): prev ≠ est ⇒ "changed last round" ⇒
    // incident edges carry a delta this round. prev = −1 seeds the full
    // first exchange. The O(degree) histogram is deliberately NOT in the
    // graph attr — it would be shipped to edge partitions on every
    // replication; it lives in a co-partitioned VertexRDD instead.
    var g: Graph[(Int, Int), Double] = undirected
      .outerJoinVertices(undirected.degrees)((_, _, d) => (d.getOrElse(0), -1))
      .cache()
    g.edges.foreachPartition(_ => ())
    // (est, neighbor-estimate histogram); keys capped at own est — when
    // est drops, mass above the new cap collapses into the cap bucket,
    // so a later delta from an unchanged neighbor u is addressable at
    // min(u's old value, current est).
    var state: VertexRDD[(Int, Array[Long])] =
      g.vertices.mapValues(a => (a._1, Array.empty[Long])).cache()
    // Delta messages travel as FLAT sorted (key, count) pair arrays —
    // [k0, c0, k1, c1, …] — not LongMap: the message type crosses the
    // aggregateMessages shuffle, and a generic Scala map rides the slow
    // generic-object serializer while a primitive Array[Long] takes the
    // fast primitive path. Round-10 profiling: the data-proportional
    // part of kcore's per-round cost was message serialization, not
    // peel work (×10 data, identical 17-round trajectory) — this is
    // the term that scales with the corpus, so it is the one that must
    // be cheap at 100 TB.
    def mergePairs(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = new Array[Long](a.length + b.length)
      var ia = 0; var ib = 0; var io = 0
      while (ia < a.length || ib < b.length) {
        val ka = if (ia < a.length) a(ia) else Long.MaxValue
        val kb = if (ib < b.length) b(ib) else Long.MaxValue
        if (ka == kb) {
          val c = a(ia + 1) + b(ib + 1)
          if (c != 0L) { out(io) = ka; out(io + 1) = c; io += 2 }
          ia += 2; ib += 2
        } else if (ka < kb) {
          out(io) = ka; out(io + 1) = a(ia + 1); io += 2; ia += 2
        } else {
          out(io) = kb; out(io + 1) = b(ib + 1); io += 2; ib += 2
        }
      }
      if (io == out.length) out else java.util.Arrays.copyOf(out, io)
    }
    /** Collapse every key ≥ cap into the cap bucket (sorted input stays
      * sorted; a zero collapsed sum drops the bucket). */
    def capPairs(pairs: Array[Long], cap: Long): Array[Long] = {
      var i = 0
      while (i < pairs.length && pairs(i) < cap) i += 2
      if (i >= pairs.length) pairs // nothing at or above the cap
      else {
        var capSum = 0L
        var j = i
        while (j < pairs.length) { capSum += pairs(j + 1); j += 2 }
        if (capSum == 0L) java.util.Arrays.copyOf(pairs, i)
        else {
          val out = new Array[Long](i + 2)
          System.arraycopy(pairs, 0, out, 0, i)
          out(i) = cap
          out(i + 1) = capSum
          out
        }
      }
    }
    def delta(est: Int, prev: Int): Array[Long] =
      if (prev < 0) Array(est.toLong, 1L)
      else if (est.toLong < prev.toLong) // sorted by key; est < prev always
        Array(est.toLong, 1L, prev.toLong, -1L)
      else Array(prev.toLong, -1L, est.toLong, 1L)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      // net count deltas keyed by the SENDER's uncapped estimate; the
      // receiver caps at its own est on apply.
      //
      // MEASURED REJECTION (round 11, SCALE_r11 §4): the active-set
      // aggregateMessages fork SCALE_r10 §3 named as the next rung was
      // built (package shim over the private[graphx] API, active =
      // est≠prev, direction Either — message set provably identical)
      // and made things WORSE: interleaved KcoreProbe ×10 14.5→17.3 s,
      // ratio 4.3→5.15. Mechanism: for EdgeDirection.Either GraphX
      // never index-skips — it still scans every edge, only adding a
      // per-edge activeness bitset check, and ships the active set to
      // edge partitions every round; with the send gate already a two
      // int compare, that is pure added cost. (Index skipping exists
      // only for Src/Both directions, which would drop one-endpoint
      // messages here.) The plain full-scan form below stays; vertex
      // shipping is already incremental via outerJoinVertices'
      // same-ClassTag diff path.
      val msgs = g.aggregateMessages[Array[Long]](
        ctx => {
          val (se, sp) = ctx.srcAttr
          val (de, dp) = ctx.dstAttr
          if (se != sp) ctx.sendToDst(delta(se, sp))
          if (de != dp) ctx.sendToSrc(delta(de, dp))
        },
        mergePairs)
      // convergence signal rides an accumulator inside the vertex
      // program, counted while the new state materializes anyway. Task
      // retries can only inflate the value; only the ==0 test matters.
      val moved = spark.sparkContext.longAccumulator(s"kcore-moved-$i")
      val newState: VertexRDD[(Int, Array[Long])] =
        state.leftZipJoin(msgs) { case (_, (est, hist0), dOpt) =>
          dOpt match {
            case None => (est, hist0) // no delta ⇒ h-operator input unchanged
            case Some(pairs) =>
              // no clone-on-write needed: capPairs/mergePairs allocate a
              // fresh array, so the cached previous round's histogram is
              // never mutated (retry/lineage-recompute safe). The
              // histogram lives as the SAME flat sorted pair array shape
              // as the messages — primitive cache footprint, array-copy
              // instead of map-rehash per delta (the V-proportional GC
              // churn the round-10 profile flagged).
              val hist = mergePairs(hist0, capPairs(pairs, est.toLong))
              // h-operator: largest k with ≥ k neighbors of (capped) core ≥ k
              var k = est
              def countGe(k0: Long): Int = {
                var s = 0L
                var j = hist.length - 2
                while (j >= 0 && hist(j) >= k0) { s += hist(j + 1); j -= 2 }
                s.toInt
              }
              while (k > 0 && countGe(k.toLong) < k) k -= 1
              if (k != est) {
                moved.add(1L)
                // collapse mass above the new cap (keys ≥ k fold into k —
                // the k bucket itself is unchanged by the fold)
                (k, capPairs(hist, k.toLong))
              } else (k, hist)
          }
        }.cache()
      val next = g.outerJoinVertices(newState)((_, old, s) =>
        (s.map(_._1).getOrElse(old._1), old._1)).cache()
      // ONE job: shipping the (small) vertex attrs to edge partitions
      // forces newState's vertex program (accumulator) and leaves the
      // replicated view the next round's aggregateMessages reads.
      next.triplets.foreachPartition(_ => ())
      changed = moved.value > 0
      // round-cost trace for the scale harness (SCALE_r10 directive #8
      // profiling); env-gated so production runs stay silent
      if (sys.env.contains("GRAFT_KCORE_TRACE"))
        System.err.println(s"[kcore] round=$i moved=${moved.value}")
      state.unpersist(blocking = false)
      g.vertices.unpersist(blocking = false)
      g.edges.unpersist(blocking = false)
      state = newState
      g = next
      i += 1
    }
    g.vertices.mapValues(_._1).toDF("node", "core").orderBy("node")
  }

  /** Deterministic synchronous label propagation — the oracle-checkable
    * companion to the GraphX C10 wrapper (whose tie-break follows
    * hash-map iteration order and cannot be replayed externally): every
    * vertex starts at its own id; each round all vertices simultaneously
    * adopt the most frequent label among their deduplicated undirected
    * neighbors, ties broken toward the SMALLEST label. Integer counts +
    * total tiebreak ⇒ bit-exact across engines. Plan: one shuffle per
    * round (join + partial-agg count + window rank), lineage truncated
    * per round. */
  def labelPropagationSync(spark: SparkSession, edges: DataFrame,
      iters: Int): DataFrame = {
    // partitioned by src before caching: the per-round label join keys
    // on src, so the big frame shuffles once, not once per round
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).cache()
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      labels = und
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        // two pipelined exchanges, both fed by MAP-SIDE partials (count
        // partials into the first, min-struct partials into the second)
        // — collapsing them into one explicit repartition(node) was
        // probed in the r14 opt round and rejected: it ships every raw
        // message row, losing the partial aggregation (guide §2.3)
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        // most-frequent-label argmax with smallest-label tiebreak, as a
        // partial-aggregating min(struct) — integer counts, bit-exact,
        // same order the former row_number window sorted by
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("sel"))
        .select(col("node"), col("sel.label").as("label"))
        // localCheckpoint, NOT cache+count: cache would preserve the
        // hash(node) partitioning (saving the next round's label-side
        // exchange), but a cached Dataset's LOGICAL plan still embeds
        // every prior round — analysis/optimization re-walks the whole
        // growing tree each round, which probed 1.7x SLOWER over 5
        // rounds (r14 opt round). Only the checkpoint's LogicalRDD
        // truncates the plan.
        .localCheckpoint()
    }
    und.unpersist(blocking = false)
    labels.orderBy("node")
  }

  /** Multi-source personalized PageRank, all sources in one pass — the
    * deterministic companion to the GraphX `runParallelPersonalizedPageRank`
    * wrapper in Builtins. The long-form (node, source, rank) iteration
    * shares each edge traversal across all sources exactly like the
    * vector-batched original (one shuffle per round regardless of source
    * count), and the clean semantics — scalar personalized loop per
    * source, final per-source normalization — are oracle-replayable.
    * (The stock GraphX variant is NOT: its replicated triplet view lags
    * newly-activated vertices by one round — a vertex's first nonzero
    * rank vector is invisible to the next round's messages — verified by
    * probing iterations 1–4; that makes its fixpoint path an engine
    * artifact rather than a spec.) */
  def parallelPersonalizedPageRankSync(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], numIter: Int, resetProb: Double = 0.15): DataFrame = {
    // ne partitioned by src (the per-iteration rank join key); the rank
    // state is WIDE — one row per node carrying |sources| rank columns
    // r0..r{k-1} — so a round's join+aggregate moves |E| rows instead of
    // the former long form's |E|·|sources| (and the merge aggregate keys
    // on dst alone). Each per-(node, source) message sum still adds
    // exactly the same multiset of rank·w terms, merely batched
    // column-wise, and the DuckDB oracle already re-sums them in its own
    // order — the 1e-6-rounded fixpoint is summation-order-stable (the
    // r14 opt round verified the wide form bit-identical vs the long
    // form at sf0.001/0.01/0.1 and across the fuzz grid).
    // the wide form aggregates r0 unconditionally and unpivots via
    // stack(k, ...), both of which throw AnalysisException at k = 0 —
    // reachable through smallestNodes on an empty edge frame, where the
    // former long form returned an empty frame (r14 advice #2)
    require(sources.nonEmpty,
      "parallelPersonalizedPageRankSync needs at least one source")
    val k = sources.size
    def rc(i: Int) = col(s"r$i")
    val ne = edges.select(col("src"), col("dst"))
      .join(edges.groupBy("src").agg(count(lit(1)).as("od")), Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("od")).as("w"))
      .repartition(col("src"))
      .cache()
    // nodes partitioned by node: the per-round merge lands on hash(node),
    // so the left join that restores zero-in-degree rows is
    // co-partitioned every round
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
      .repartition(col("node")).cache()
    var ranks = nodes.select(col("node") +: sources.zipWithIndex.map {
      case (s, i) => when(col("node") === s, 1.0).otherwise(0.0).as(s"r$i")
    }: _*)
    for (_ <- 1 to numIter) {
      val msgs = ranks
        .join(ne, ranks("node") === ne("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(rc(0) * col("w")).as("m0"),
          (1 until k).map(i => sum(rc(i) * col("w")).as(s"m$i")): _*)
      ranks = nodes
        .join(msgs, Seq("node"), "left")
        .select(col("node") +: sources.zipWithIndex.map { case (s, i) =>
          (when(col("node") === s, resetProb).otherwise(0.0) +
            lit(1 - resetProb) * coalesce(col(s"m$i"), lit(0.0))).as(s"r$i")
        }: _*)
        // localCheckpoint, NOT cache+count: cache would keep hash(node)
        // and make the next ranks⋈ne join exchange-free, but the cached
        // plan embeds every prior round and per-round analysis cost
        // probed 2.3x SLOWER over 10 rounds (r14 opt round) — only the
        // checkpoint's LogicalRDD truncates the plan. The V-row ranks
        // exchange per round is the cheaper price.
        .localCheckpoint()
    }
    // unpivot back to the (node, source, rank) contract, then normalize
    // per source exactly as before
    val stackArgs = sources.zipWithIndex
      .map { case (s, i) => s"${s}L, r$i" }.mkString(", ")
    val long = ranks.selectExpr("node",
      s"stack($k, $stackArgs) AS (source, rank)")
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val out = long.select(col("node"), col("source"),
      (floor(col("rank") / sum("rank").over(bySrc) * 1e6 + 0.5) / 1e6).as("rank"))
      .orderBy("node", "source")
    ne.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Deterministic synchronous Louvain-style community refinement — the
    * oracle-checkable companion to Community.louvain (whose sequential
    * greedy argmax cascades float ties). Each round, EVERY node
    * simultaneously moves to the candidate community (its own + its
    * neighbors') maximizing the rounded modularity-gain score
    * k_{v,c} − deg_v·Σtot_c / 2m, ties toward the smallest community id.
    * Every sum in the score is a sum of integer-valued edge weights —
    * exact in doubles regardless of order — so the unrolled SQL replica
    * is bit-identical. One shuffle round per pass. */
  def louvainSync(spark: SparkSession, undirected: DataFrame,
      iters: Int): DataFrame = {
    // partitioned by SRC before caching: with the label side broadcast,
    // every per-round operator — the kvc aggregate keyed (src, comm),
    // the per-node window, the final argmax keyed node — inherits its
    // distribution from this one cached partitioning, so a round runs
    // as a single shuffle-free stage (the round-2 dst-partitioned
    // formulation paid four broadcast builds and two exchanges per
    // round). Zero-weight self-loops guarantee every node a
    // (node, own-comm) row in the per-round kvc aggregate (+0.0 changes
    // no sum), which also lets the window recover each node's current
    // community without a second labels join.
    val base = undirected.select(col("src"), col("dst"), col("weight"))
    val sym = base
      .union(base.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
      .union(base.select(col("src"), col("dst"))
        .union(base.select(col("dst"), col("src")))
        .select(col("src"), col("src").as("dst"), lit(0.0).as("weight"))
        .distinct())
      .repartition(col("src"))
      .cache()
    val m2 = sym.agg(sum("weight")).head().getDouble(0)
    // labels carry the node degree, so the community-degree aggregate
    // is a plain groupBy over this 1-row-per-node frame (no deg join).
    // The O(V)-row broadcast of this frame is the replicated-vertex-view
    // strategy (what GraphX does for vertex attrs) — size-gated: past
    // graft.broadcast.maxRows the hint is dropped and AQE plans the
    // label join (SMJ/shuffled-hash) from runtime stats.
    var labels = sym.groupBy(col("src").as("node"))
      .agg(sum("weight").as("deg"))
      .select(col("node"), col("node").as("comm"), col("deg"))
      .localCheckpoint()
    val v = labels.count()
    val byNode =
      org.apache.spark.sql.expressions.Window.partitionBy("node")
    for (i <- 1 to iters) {
      val commDeg = labels.groupBy("comm").agg(sum("deg").as("cdeg"))
      // community degree rides the label broadcast (pre-joined onto the
      // per-node frame, recovered by max() in the aggregate below —
      // cdeg is constant within a (node, comm) group, so max() IS the
      // value): one broadcast build and one join per round instead of
      // two of each (r14 opt round; values bit-identical)
      val labelsE = labels
        .join(Hints.broadcastIfSmall(commDeg, v), Seq("comm"))
      // the self-loops planted in sym make kvc the complete candidate
      // set — neighbor communities plus every node's own community —
      // in this single aggregate; the self-loop row also tags its group
      // with the node's CURRENT community (selfc)
      val cand = sym
        .join(Hints.broadcastIfSmall(
          labelsE.select(col("node").as("dst"), col("comm"),
            col("cdeg")), v), Seq("dst"))
        .groupBy(col("src").as("node"), col("comm"))
        .agg(sum("weight").as("kvc"),
          max(when(col("dst") === col("src"), col("comm"))).as("selfc"),
          max(col("cdeg")).as("cdeg"))
      val scored = cand
        // per-node degree and current community via an unordered window
        // over the node partition the aggregate already produced —
        // kvc sums are integer-valued, so re-summing them is exact
        .withColumn("deg", sum("kvc").over(byNode))
        .withColumn("curr", max("selfc").over(byNode))
        // standard Louvain: Σtot of v's CURRENT community excludes v's
        // own degree, else staying is self-penalized and nodes churn
        .withColumn("cdeg_adj",
          col("cdeg") - when(col("comm") === col("curr"), col("deg"))
            .otherwise(lit(0.0)))
        .withColumn("score",
          floor((col("kvc") - col("deg") * col("cdeg_adj") / m2) * 1e6 + 0.5) / 1e6)
      // argmax via partial-aggregating min(struct): the same
      // (score desc, comm asc) order the former row_number window
      // used (Spark's double ordering treats -0.0 = 0.0, like the
      // sort), without sorting the whole candidate frame
      val best = scored
        .groupBy("node")
        .agg(min(struct((-col("score")).as("ns"), col("comm"))).as("sel"),
          max(col("curr")).as("curr"), max(col("deg")).as("deg"))
      // semi-synchronous with a per-round hash gate: fully synchronous
      // moves oscillate on symmetric ties (adjacent nodes swap
      // communities forever, and no static 2-coloring exists on odd
      // cycles). Gating each node's move on a deterministic integer
      // hash of (node, round) breaks every local symmetry within a few
      // rounds — and the gate is plain bigint arithmetic, replayable
      // in any engine.
      val gate = pmod(shiftright(
        col("node") * lit(1103515245L) + lit(i * 12345L), 16), lit(2)) === 0
      labels = best
        .select(col("node"),
          when(gate, col("sel.comm")).otherwise(col("curr")).as("comm"),
          col("deg"))
        .localCheckpoint()
    }
    sym.unpersist(blocking = false)
    labels.select(col("node"), col("comm")).orderBy("node")
  }

  /** Directed modularity (C13) of a community assignment:
    * Q = Σ_c [ e_c/m − (out_c · in_c)/m² ], with e_c = intra-community
    * weight, out_c/in_c community degree sums, m = total weight.
    * Pure joins + aggregation — one pass over the edges. */
  def modularity(spark: SparkSession, edges: DataFrame,
      communities: DataFrame): DataFrame = {
    val c = communities.select(col("node"), col("community"))
    // materialize the labeled edge frame once: m, intra, out and in
    // each run a job over it (4 recomputations of the two joins before)
    val e = edges
      .join(c.withColumnRenamed("node", "src")
        .withColumnRenamed("community", "c_src"), Seq("src"))
      .join(c.withColumnRenamed("node", "dst")
        .withColumnRenamed("community", "c_dst"), Seq("dst"))
      .localCheckpoint()
    // e_c rides the out_c aggregate (one grouped pass over e instead of
    // two), and m = Σ out_c is computed in-plan from the C-row aggregate
    // and attached by a 1-row broadcast cross join — the whole score is
    // ONE action over two scans of the checkpointed frame instead of a
    // separate m job plus a three-way join (r15 opt round). All inputs
    // are integer-valued weight sums, so m is exact and order-free.
    val bySrc = e.groupBy(col("c_src").as("community"))
      .agg(sum("weight").as("out_c"),
        sum(when(col("c_src") === col("c_dst"), col("weight"))).as("e_c"))
    val byDst = e.groupBy(col("c_dst").as("community"))
      .agg(sum("weight").as("in_c"))
    val mFrame = bySrc.agg(sum("out_c").as("m"))
    bySrc.join(byDst, Seq("community"), "full")
      .crossJoin(broadcast(mFrame))
      .select(
        (coalesce(col("e_c"), lit(0.0)) / col("m") -
          (coalesce(col("out_c"), lit(0.0)) * coalesce(col("in_c"), lit(0.0)))
            / (col("m") * col("m"))).as("q"))
      .agg(r6(sum("q")).as("modularity"))
  }
}
