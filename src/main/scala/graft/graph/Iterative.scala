package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Custom iterative graph algorithms (SURVEY §2.C C3–C6, C12–C13) —
  * the reference invokes closed-source kernels for these
  * (`WeightedPageRankRunner.scala:115-119`, `TrustRankRunner.scala:105-113`,
  * `BFSRunner.scala:95-101`, `IncPageRankRunner.scala:102-114`,
  * `KCoreDecompositionRunner.scala:62-65`, `ModularityRunner.scala:82-85`);
  * these are independent re-derivations from the published algorithms.
  *
  * The damped-rank members ([[weightedPageRank]], [[trustRank]],
  * [[incrementalPageRank]]) run the damped-rank kernel ([[DampedRank]]);
  * [[bfs]], [[kCore]], [[labelPropagationSync]] and [[louvainSync]] run
  * their loops over a [[LocalGraph]] built in their one task: vertex
  * state is one dense array over the sorted vertex ids, and the output
  * is built on the driver in node order. None of the rank members
  * normalizes its ranks.
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
    LocalGraph.frame(spark, reached.toSeq, "node" -> LongType,
      "dist" -> IntegerType)
  }

  /** K-core decomposition (C12): exact core numbers by bucket peeling
    * (Batagelj & Zaversnik, "An O(m) Algorithm for Cores Decomposition
    * of Networks", 2003) over each vertex's distinct neighbours in the
    * undirected view, a self-loop counting once. Rows are (node, core)
    * in node order. */
  def kCore(spark: SparkSession, graph: LocalGraph.Reader): DataFrame = {
    val (ids, core) = LocalGraph.run(graph) { g0 =>
      val g = g0.undirected
      // core(v): v's degree among the vertices not yet peeled, never
      // below the level k being peeled, and v's core number once peeled.
      // bucket(d) gets v each time core(v) becomes d, so at most once: v
      // is peeled when popped from the bucket of its current core(v)
      val core = Array.tabulate(g.numVertices)(g.outDegree)
      val bucket =
        Array.fill(core.foldLeft(0)(math.max) + 1)(ArrayBuffer.empty[Int])
      core.indices.foreach(v => bucket(core(v)) += v)
      for (k <- bucket.indices) {
        val b = bucket(k)
        while (b.nonEmpty) {
          val v = b.remove(b.length - 1)
          if (core(v) == k)
            for (e <- g.outStart(v) until g.outStart(v + 1)) {
              val u = g.dst(e)
              if (core(u) > k) { core(u) -= 1; bucket(core(u)) += u }
            }
        }
      }
      (g.ids, core)
    }
    LocalGraph.frame(spark, ids.indices.map(v => Row(ids(v), core(v))),
      "node" -> LongType, "core" -> IntegerType)
  }

  /** Deterministic synchronous label propagation — the oracle-checkable
    * companion to the GraphX C10 wrapper (whose tie-break follows
    * hash-map iteration order and cannot be replayed externally): every
    * vertex starts at its own id; each of the `iters` rounds all
    * vertices simultaneously adopt the most frequent label among their
    * distinct undirected neighbours, ties broken toward the SMALLEST
    * label. Integer counts + total tiebreak ⇒ bit-exact across engines.
    * Rows are (node, label) in node order. */
  def labelPropagationSync(spark: SparkSession, graph: LocalGraph.Reader,
      iters: Int): DataFrame = {
    val (ids, label) = LocalGraph.run(graph) { g0 =>
      val g = g0.undirected
      // labels are vertex indices, which order as the ids do
      val n = g.numVertices
      val count = new Array[Int](n)
      val last = (1 to iters).foldLeft(Array.range(0, n)) { (label, _) =>
        Array.tabulate(n) { v =>
          val seen =
            (g.outStart(v) until g.outStart(v + 1)).map(k => label(g.dst(k)))
          seen.foreach(count(_) += 1)
          val best = seen.minBy(l => (-count(l), l))
          seen.foreach(count(_) = 0)
          best
        }
      }
      (g.ids, last)
    }
    LocalGraph.frame(spark, ids.indices.map(v => Row(ids(v), ids(label(v)))),
      "node" -> LongType, "label" -> LongType)
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
    * greedy argmax cascades float ties). Over the undirected view, with
    * deg(v) its weight sum and m2 = Σ deg, each round i scores, for
    * every node, its own community and each neighbour's community c:
    * k_{v,c} − deg_v·(Σtot_c − [c = own]·deg_v)/m2, rounded to 1e-6
    * (excluding v's own degree, else staying is self-penalized and
    * nodes churn). The best score wins, ties toward the smallest
    * community id. Fully synchronous moves oscillate on symmetric ties
    * (adjacent nodes swap communities forever, and no static
    * 2-coloring exists on odd cycles), so a node moves only when a
    * plain integer hash of (node, round) passes — replayable in any
    * engine. Every sum is of integer-valued edge weights, exact in
    * doubles in any order, so the unrolled SQL replica is bit-identical.
    * Rows are (node, comm) in node order; a non-empty graph whose
    * weights sum to 0 has no modularity and fails. */
  def louvainSync(spark: SparkSession, graph: LocalGraph.Reader,
      iters: Int): DataFrame = {
    val (ids, comm, m2) = LocalGraph.run(graph) { g0 =>
      val g = g0.undirected
      val n = g.numVertices
      val nbrs = (v: Int) => g.outStart(v) until g.outStart(v + 1)
      val deg = Array.tabulate(n)(v => nbrs(v).map(g.weight).sum)
      val m2 = deg.sum
      // communities are vertex indices, which order as the ids do
      val kvc = new Array[Double](n)
      val last = (1 to iters).foldLeft(Array.range(0, n)) { (comm, i) =>
        val cdeg = new Array[Double](n)
        for (v <- 0 until n) cdeg(comm(v)) += deg(v)
        Array.tabulate(n) { v =>
          val own = comm(v)
          nbrs(v).foreach(k => kvc(comm(g.dst(k))) += g.weight(k))
          def score(c: Int) = math.floor((kvc(c) - deg(v) *
            (cdeg(c) - (if (c == own) deg(v) else 0.0)) / m2) * 1e6 + 0.5) / 1e6
          var (best, top) = (own, score(own))
          for (k <- nbrs(v)) {
            val (c, sc) = (comm(g.dst(k)), score(comm(g.dst(k))))
            if (sc > top || (sc == top && c < best)) { best = c; top = sc }
          }
          nbrs(v).foreach(k => kvc(comm(g.dst(k))) = 0.0)
          val gate = (g.ids(v) * 1103515245L + i * 12345L) >> 16
          if (Math.floorMod(gate, 2L) == 0) best else own
        }
      }
      (g.ids, last, m2)
    }
    require(ids.isEmpty || m2 != 0,
      "louvainSync needs a non-zero total edge weight, but the weights sum to 0")
    LocalGraph.frame(spark, ids.indices.map(v => Row(ids(v), ids(comm(v)))),
      "node" -> LongType, "comm" -> LongType)
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
