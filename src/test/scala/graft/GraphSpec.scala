package graft

import org.apache.spark.graphx.{EdgeDirection, Graph, VertexId}
import org.apache.spark.graphx.lib.PageRank
import org.apache.spark.sql.functions.{col, lit, min}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._
import graft.sources.Tables

/** Structural tests on hand-computable fixture graphs.
  * Fixture: two triangles {1,2,3} and {4,5,6} joined by bridge 3–4, all
  * edges in both directions (undirected view), weight 1. */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val PageRankJobs = 2
  private val BfsJobs = 2

  private def fixtureEdges = {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    (und ++ und.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
  }
  private def fixtureGraph = GraphSource.toGraph(fixtureEdges)
  private def fixture = LocalGraph.fromEdges(fixtureEdges)
  private def given(v: Long*) = LocalGraph.Pick.Given(v.toSet)

  test("degrees on the fixture") {
    val d = Builtins.degrees(spark, fixtureGraph).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(d == Map(1L -> 4, 2L -> 4, 3L -> 6, 4L -> 6, 5L -> 4, 6L -> 4))
  }

  test("triangle total and per-vertex counts") {
    val u = GraphSource.toGraph(GraphSource.canonicalUndirected(fixtureEdges))
    assert(Builtins.triangleTotal(spark, u).head().getLong(0) == 2)
    val per = Builtins.triangleCounts(spark, u).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(per.values.forall(_ == 1)) // every vertex is in exactly one triangle
  }

  test("clustering coefficient: triangle-only vertices are 1.0") {
    val u = GraphSource.toGraph(GraphSource.canonicalUndirected(fixtureEdges))
    val cc = Builtins.clusteringCoefficient(spark, u).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cc(1L) == 1.0 && cc(5L) == 1.0)
    assert(cc(3L) < 1.0) // bridge endpoint has an open wedge
  }

  test("parallel personalized pagerank: mass concentrates around each source") {
    val ranks = Builtins.parallelPersonalizedPageRank(spark, fixtureGraph,
      Seq(1L, 5L), numIter = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // each source is its own top-ranked node in its own column, and a
    // node in the source's triangle outranks the far triangle's twin
    for (s <- Seq(1L, 5L))
      assert(ranks((s, s)) == ranks.filter(_._1._2 == s).values.max, s"src $s")
    assert(ranks((2L, 1L)) > ranks((6L, 1L)))
    assert(ranks((6L, 5L)) > ranks((2L, 5L)))
    // single-source convergence variant agrees with the fixed-iteration
    // run on the ranking of near vs far
    val conv = Builtins.personalizedPageRankUntilConvergence(
      spark, fixtureGraph, 1L, 1e-6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(conv(1L) == conv.values.max && conv(2L) > conv(6L))
  }

  test("connected components: single component; bfs distances correct") {
    val comp = Builtins.connectedComponents(spark, fixtureGraph).collect()
    assert(comp.map(_.getLong(1)).distinct.length == 1)
    val dist = Iterative.bfs(spark, fixture, given(1L), 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dist == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 6L -> 3))
  }

  test("bfs and shortest-paths agree on the symmetric fixture") {
    val sp = Builtins.shortestPaths(spark, fixtureGraph, Seq(1L)).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val bf = Iterative.bfs(spark, fixture, given(1L), 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sp == bf)
  }

  test("k-core: triangles are 2-cores, a pendant vertex is core 1") {
    val withPendant = fixtureEdges
      .union(Seq((6L, 7L, 1.0), (7L, 6L, 1.0)).toDF("src", "dst", "weight"))
    val u = GraphSource.toGraph(GraphSource.canonicalUndirected(withPendant))
    val core = Iterative.kCore(spark, u).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(core(7L) == 1)
    assert((1L to 6L).forall(core(_) == 2))
  }

  test("modularity of the two-triangle split is 0.357143") {
    val comm = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("node", "community")
    val q = Iterative.modularity(spark, fixtureEdges, comm).head().getDouble(0)
    // m=14, e_c=6 each, out_c=in_c=7 each: 2*(6/14 - 49/196) = 0.357143
    assert(math.abs(q - 0.357143) < 1e-6)
  }

  test("louvain on an edge-free graph returns an empty community frame") {
    val none = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    val out = Community.louvain(spark, none)
    assert(out.columns.toSeq == Seq("node", "community"))
    assert(out.collect().isEmpty)
    // one self-loop is a graph with one node in its own community
    val loop = Seq((7L, 7L, 1.0)).toDF("src", "dst", "weight")
    assert(Community.louvain(spark, loop).as[(Long, Long)].collect()
      .toSeq == Seq((7L, 7L)))
  }

  test("weighted pagerank conserves total rank on the strongly-connected fixture") {
    val wpr = Iterative.weightedPageRank(spark, fixture, 20).collect()
    assert(math.abs(wpr.map(_.getDouble(1)).sum - 6.0) < 0.01)
  }

  test("weighted pagerank favors the heavy target") {
    // 1→2 weight 9, 1→3 weight 1: rank(2) > rank(3)
    val e = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "weight")
    val r = Iterative.weightedPageRank(spark, LocalGraph.fromEdges(e), 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(3L))
  }

  test("trustrank concentrates mass near the seed") {
    val t = Iterative.trustRank(spark, fixture, given(1L), 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t(1L) == t.values.max)
    assert(t(2L) > t(5L)) // closer to seed ⇒ more trust
  }

  test("incremental pagerank from a prior converges like a longer direct run") {
    val direct = Builtins.pageRank(spark, fixture, 30).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inc = Iterative.incrementalPageRank(spark, fixture, 20, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    direct.foreach { case (n, v) => assert(math.abs(inc(n) - v) < 1e-3, s"node $n") }
  }

  test("synchronous LPA with min-label tiebreak is deterministic on the fixture") {
    // round 1 (simultaneous, neighbors' INITIAL labels): e.g. node 1 sees
    // {2,3} → 2; node 3 sees {1,2,4} → 1. Re-running must be bit-equal,
    // and one round from all-distinct labels is hand-checkable.
    val one = Iterative.labelPropagationSync(spark, fixtureEdges, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 2, 2L -> 1, 3L -> 1, 4L -> 3, 5L -> 4, 6L -> 4))
    val a = Iterative.labelPropagationSync(spark, fixtureEdges, 5).collect().toSeq
    val b = Iterative.labelPropagationSync(spark, fixtureEdges, 5).collect().toSeq
    assert(a == b)
  }

  test("string adapter round-trips names") {
    val e = Seq(("alpha", "beta", 1.0), ("beta", "gamma", 1.0))
      .toDF("src", "dst", "weight")
    val (enc, dict) = GraphSource.encodeStringEdges(spark, e)
    assert(enc.count() == 2 && dict.count() == 3)
    val deg = Builtins.degrees(spark, GraphSource.toGraph(enc))
    val named = GraphSource.decode(deg, dict, "node").collect()
      .map(r => r.getString(r.length - 1) -> r.getInt(3)).toMap
    assert(named == Map("alpha" -> 1, "beta" -> 2, "gamma" -> 1))
  }

  test("graph oracle SQL matches DSL via Spark SQL (portable subset)") {
    graft.sources.Tables.registerAll(spark, sf0001)
    // the fixpoint oracles are DuckDB-dialect (recursive CTE with
    // set-semantics UNION, which Spark SQL rejects); they are covered by
    // the DuckDB gate itself
    val duckdbOnly = Set("graph_bfs", "graph_sssp", "graph_closeness",
      "graph_cc", "graph_scc", "graph_betweenness", "graph_kcore",
      "graph_lpa_sync", "graph_pagerank_conv", "graph_ppr_conv",
      "graph_ppr_multi_sync", "graph_closeness_w",
      "graph_mce", "graph_wce", "graph_walks_det",
      "graph_louvain_sync", // MATERIALIZED / recursive / list dialect
      // value-verdict oracles replaying the MATERIALIZED sync chains
      "graph_lpa", "graph_louvain")
    for ((name, sql) <- GraphQueries.oracle if !duckdbOnly(name)) {
      val dsl = GraphQueries.all(name)(spark, sf0001).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      val want = spark.sql(sql).collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(dsl == want, s"$name differs from oracle")
    }
  }

  // damped-rank kernel vs GraphX. The fixture has two sinks with in-edges
  // only (4, 6), parallel 1→2 edges, a self-loop at 3 and a vertex with
  // out-edges only (5).
  private def rankFixture = Seq((1L, 2L, 1.0), (1L, 2L, 2.0), (2L, 3L, 1.0),
    (3L, 1L, 1.0), (3L, 3L, 1.0), (3L, 4L, 1.0), (5L, 1L, 1.0), (2L, 6L, 3.0))
    .toDF("src", "dst", "weight")

  private def partEdges = GraphSource.partTransitions(
    Tables(spark, sf0001, "lineitem")).localCheckpoint()

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The kernel's raw ranks equal the reference's to 1e-12 (sums of the
    * same products, some in another order) and its rounded output
    * equals the reference rounded. */
  private def assertMatches(df: org.apache.spark.sql.DataFrame,
      run: DampedRank.RankRun, want: Map[Long, Double]): Unit = {
    assert(run.ids.toSeq == want.keys.toSeq.sorted)
    run.ids.zip(run.ranks).foreach { case (v, r) =>
      assert(math.abs(r - want(v)) <= 1e-12 * math.max(1.0, math.abs(r)),
        s"vertex $v: kernel $r, reference ${want(v)}")
    }
    assert(df.as[(Long, Double)].collect().toSeq ==
      want.toSeq.sorted.map { case (v, r) => (v, r6(r)) })
  }

  /** The GraphX rank loop the kernel replaced for wpr, trustrank and
    * incpr: rank'(v) = reset(v) + damp·Σ rank(u)·attr(u→v). */
  private def graphxRankLoop(init: Graph[Double, Double], numIter: Int,
      reset: VertexId => Double, damp: Double = 0.85): Map[Long, Double] = {
    var ranks = init.cache()
    for (_ <- 1 to numIter) {
      val msgs = ranks.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _)
      ranks = ranks.outerJoinVertices(msgs)((v, _, m) =>
        reset(v) + damp * m.getOrElse(0.0)).cache()
    }
    ranks.vertices.collect().toMap
  }

  private def byOutDegree(g: Graph[Double, Double]) =
    g.outerJoinVertices(g.outDegrees)((_, _, d) => d.getOrElse(0))
      .mapTriplets(t => if (t.srcAttr > 0) 1.0 / t.srcAttr else 0.0)

  test("rank kernel equals GraphX PageRank.run and runWithOptions(src)") {
    for (e <- Seq(rankFixture, partEdges)) {
      val g = GraphSource.toGraph(e)
      val (src, lg) = (e.agg(min("src")).head().getLong(0), LocalGraph.fromEdges(e))
      assertMatches(Builtins.pageRank(spark, lg, 10),
        DampedRank.run(lg, DampedRank.Spec(10, 0.15, normalize = true)),
        PageRank.run(g, 10, 0.15).vertices.collect().toMap)
      assertMatches(Builtins.personalizedPageRank(spark, lg, given(src), 10),
        DampedRank.run(lg, DampedRank.Spec(10, 0.15, seeds = Some(given(src)),
          normalize = true)),
        PageRank.runWithOptions(g, 10, 0.15, Some(src)).vertices.collect().toMap)
    }
  }

  test("rank kernel equals the GraphX rank loop for wpr, trustrank and incpr") {
    for (e <- Seq(rankFixture, partEdges)) {
      val (g, lg) = (GraphSource.toGraph(e), LocalGraph.fromEdges(e))
      val outW = g.aggregateMessages[Double](ctx => ctx.sendToSrc(ctx.attr), _ + _)
      val wprInit = g.outerJoinVertices(outW)((_, _, w) => w.getOrElse(0.0))
        .mapTriplets(t => if (t.srcAttr > 0) t.attr / t.srcAttr else 0.0)
        .mapVertices((_, _) => 1.0)
      assertMatches(Iterative.weightedPageRank(spark, lg, 10),
        DampedRank.run(lg, DampedRank.Spec(10, 0.15, weighted = true)),
        graphxRankLoop(wprInit, 10, _ => 0.15))

      val seeds = g.vertices.keys.collect().sorted.take(3).toSet
      val mass = 1.0 / seeds.size
      val pick = LocalGraph.Pick.Given(seeds)
      assertMatches(Iterative.trustRank(spark, lg, pick, 10),
        DampedRank.run(lg, DampedRank.Spec(10, 0.15, seeds = Some(pick))),
        graphxRankLoop(byOutDegree(g).mapVertices((v, _) =>
          if (seeds(v)) mass else 0.0), 10,
          v => if (seeds(v)) 0.15 * mass else 0.0))

      val prior = PageRank.run(g, 5, 0.15).vertices
        .mapValues(r => math.floor(r * 1e6 + 0.5).toLong / 1e6)
      assertMatches(Iterative.incrementalPageRank(spark, lg, 5, 5),
        DampedRank.run(lg, DampedRank.Spec(5, 0.15, priorIters = 5)),
        graphxRankLoop(byOutDegree(g).outerJoinVertices(prior)((_, _, p) =>
          p.getOrElse(1.0)), 5, _ => 0.15))
    }
  }

  test("a rank run is one Spark job whatever the edges' size or partitioning") {
    // a 100k-edge ring, the size at which GraphX would split its edges,
    // arriving in one partition and in four: every rank stays 1.0
    for (parts <- Seq(1, 4)) {
      val ring = spark.range(0, 100000, 1, parts).select(col("id").as("src"),
        ((col("id") + 1) % 100000).as("dst"), lit(1.0).as("weight"))
      val (run, jobs) = jobsOf(DampedRank.run(LocalGraph.fromEdges(ring),
        DampedRank.Spec(3, 0.15, normalize = true)))
      assert(jobs == 1, s"$parts partitions: $jobs jobs")
      assert(run.ids.length == 100000 &&
        run.ranks.forall(r => math.abs(r - 1.0) < 1e-12))
      assert(run.deltas.length == 3 && run.deltas.forall(_ < 1e-6))
    }
  }

  test("rank trace: one L1 change per iteration, falling on the fixture") {
    val run = DampedRank.run(fixture, DampedRank.Spec(10, 0.15,
      normalize = true))
    assert(run.deltas.length == 10)
    assert(run.deltas.head > 0.0)
    assert(run.deltas.sliding(2).forall(p => p(1) < p(0)),
      run.deltas.mkString(", "))
    // incremental PageRank traces its prior's iterations first
    assert(DampedRank.run(fixture, DampedRank.Spec(4, 0.15,
      priorIters = 3)).deltas.length == 7)
  }

  test("rank queries on degenerate graphs: empty, self-loops only, absent seeds") {
    val none = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    val loops = Seq((1L, 1L, 1.0), (2L, 2L, 2.0)).toDF("src", "dst", "weight")
    def five(df: org.apache.spark.sql.DataFrame) = {
      val e = LocalGraph.fromEdges(df)
      Seq(
        "rank" -> Builtins.pageRank(spark, e, 10),
        "rank" -> Builtins.personalizedPageRank(spark, e, given(1L), 10),
        "rank" -> Iterative.weightedPageRank(spark, e, 10),
        "trust" -> Iterative.trustRank(spark, e, given(2L), 10),
        "rank" -> Iterative.incrementalPageRank(spark, e, 5, 5))
    }
    for ((name, df) <- five(none)) {
      assert(df.columns.toSeq == Seq("node", name))
      assert(df.collect().isEmpty)
    }
    // a vertex whose only edge is a self-loop keeps its own mass
    assert(five(loops).map(_._2.as[(Long, Double)].collect().toSeq) == Seq(
      Seq((1L, 1.0), (2L, 1.0)), Seq((1L, 1.0), (2L, 0.0)),
      Seq((1L, 1.0), (2L, 1.0)), Seq((1L, 0.0), (2L, 1.0)),
      Seq((1L, 1.0), (2L, 1.0))))
    val ppr = intercept[IllegalArgumentException](
      Builtins.personalizedPageRank(spark, fixture, given(99L), 10))
    assert(ppr.getMessage.contains("source 99"))
    val trust = intercept[IllegalArgumentException](
      Iterative.trustRank(spark, fixture, given(1L, 99L, 98L), 10))
    assert(trust.getMessage.contains("seed 98, 99"))
    val noSeed = intercept[IllegalArgumentException](
      Iterative.trustRank(spark, fixture, given(), 10))
    assert(noSeed.getMessage.contains("at least one vertex"))
  }

  /** `body`'s result and the Spark jobs it ran, counted by a job-tag
    * listener. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = "graft-rank-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val result = try body
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.ListenerBusFlush(sc)
      sc.removeSparkListener(listener)
    }
    (result, jobs.get)
  }

  test("graph_pagerank runs a pinned number of Spark jobs on sf0.001") {
    // the lineitem schema read and the one task that derives the graph
    // and ranks it; the output is built on the driver, so collecting it
    // runs no job
    graft.core.QueryCache.clear()
    val (_, jobs) =
      jobsOf(GraphQueries.all("graph_pagerank")(spark, sf0001).collect())
    assert(jobs == PageRankJobs, s"graph_pagerank ran $jobs jobs")
  }

  test("graph_bfs runs a pinned number of Spark jobs on sf0.001") {
    // the lineitem schema read and the one task that derives the graph
    // and walks it
    val (_, jobs) =
      jobsOf(GraphQueries.all("graph_bfs")(spark, sf0001).collect())
    assert(jobs == BfsJobs, s"graph_bfs ran $jobs jobs")
  }

  private def lineitemRows(rows: (Option[Long], Option[Int], Option[Long])*) =
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey")

  /** The graph's edges as (src id, dst id, weight), in its edge order. */
  private def edgesOf(graph: LocalGraph.Reader): Seq[(Long, Long, Double)] =
    LocalGraph.run(graph)(g => Array.tabulate(g.numEdges)(k =>
      (g.ids(g.src(k)), g.ids(g.dst(k)), g.weight(k)))).toSeq

  private def transitionEdges(lineitem: org.apache.spark.sql.DataFrame) =
    GraphSource.partTransitions(lineitem).as[(Long, Long, Double)]
      .collect().toSeq.sorted

  test("the lineitem reader derives partTransitions' edges in its task") {
    val (n, k) = (Option.empty[Long], Option.empty[Int])
    val fixture = lineitemRows(
      // null order keys form one group: 10 -> 11, 11 -> null dropped
      (n, Some(1), Some(10L)), (n, Some(2), Some(11L)), (n, Some(3), n),
      // a null partkey breaks the chain on both sides
      (Some(1L), Some(1), Some(5L)), (Some(1L), Some(2), n),
      (Some(1L), Some(3), Some(6L)),
      // a duplicate (orderkey, linenumber) orders by partkey: 3 -> 7 -> 8
      (Some(2L), Some(1), Some(7L)), (Some(2L), Some(1), Some(3L)),
      (Some(2L), Some(2), Some(8L)),
      // a one-line order gives no edge
      (Some(3L), Some(1), Some(9L)),
      // a repeated partkey is no edge, and 5 -> 6 recurs: weight 2
      (Some(4L), Some(1), Some(5L)), (Some(4L), Some(2), Some(5L)),
      (Some(4L), Some(3), Some(6L)), (Some(5L), Some(1), Some(5L)),
      (Some(5L), Some(2), Some(6L)),
      // a null linenumber sorts first: 12 -> 13
      (Some(6L), Some(1), Some(13L)), (Some(6L), k, Some(12L)),
      // vertices 20 and 21 only meet nulls: not vertices
      (Some(7L), Some(1), Some(20L)), (Some(7L), Some(2), n),
      (Some(8L), k, n), (Some(8L), Some(1), Some(21L)))
    val want = transitionEdges(fixture)
    assert(want.contains((5L, 6L, 2.0)) && want.contains((12L, 13L, 1.0)))
    assert(edgesOf(LocalGraph.fromLineitem(fixture)) == want)
    assert(LocalGraph.run(LocalGraph.fromLineitem(fixture))(_.ids.toSeq) ==
      want.flatMap(e => Seq(e._1, e._2)).distinct.sorted)
    assert(edgesOf(LocalGraph.fromLineitem(lineitemRows())).isEmpty)
    val li = Tables(spark, sf0001, "lineitem")
    assert(edgesOf(LocalGraph.fromLineitem(li)) == transitionEdges(li))
  }

  test("rank runs over the lineitem reader equal runs over the edge frame") {
    val li = Tables(spark, sf0001, "lineitem")
    val specs = Seq(DampedRank.Spec(10, 0.15, normalize = true),
      DampedRank.Spec(10, 0.15, weighted = true),
      DampedRank.Spec(10, 0.15, seeds = Some(LocalGraph.Pick.Smallest(5))),
      DampedRank.Spec(5, 0.15, priorIters = 5))
    for (spec <- specs) {
      val (a, b) = (DampedRank.run(LocalGraph.fromLineitem(li), spec),
        DampedRank.run(LocalGraph.fromEdges(partEdges), spec))
      assert(a.ids.toSeq == b.ids.toSeq && a.ranks.toSeq == b.ranks.toSeq &&
        a.seeds == b.seeds, spec.toString)
    }
    // the in-task picks are min(src) and the smallest endpoints
    val e = partEdges
    val minSrc = e.agg(min("src")).head().getLong(0)
    assert(DampedRank.run(LocalGraph.fromLineitem(li), DampedRank.Spec(1, 0.15,
      seeds = Some(LocalGraph.Pick.MinSource))).seeds == Set(minSrc))
    assert(DampedRank.run(LocalGraph.fromLineitem(li), DampedRank.Spec(1, 0.15,
      seeds = Some(LocalGraph.Pick.Smallest(5)))).seeds ==
      GraphQueries.smallestNodes(e, 5).toSet)
  }

  /** BFS as GraphX Pregel runs it: directed, `maxDepth` rounds. */
  private def graphxBfs(g: Graph[Double, Double], src: VertexId,
      maxDepth: Int): Seq[(Long, Int)] =
    g.mapVertices((v, _) => if (v == src) 0 else Int.MaxValue)
      .pregel(Int.MaxValue, maxDepth, EdgeDirection.Out)(
        (_, d, msg) => math.min(d, msg),
        t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
        math.min)
      .vertices.filter(_._2 != Int.MaxValue).collect().toSeq.sorted

  test("bfs equals GraphX Pregel BFS on the fixture and on sf0.001") {
    val li = Tables(spark, sf0001, "lineitem")
    for ((e, graph) <- Seq(rankFixture -> LocalGraph.fromEdges(rankFixture),
        partEdges -> LocalGraph.fromLineitem(li)); depth <- Seq(2, 10)) {
      val src = e.agg(min("src")).head().getLong(0)
      val got = Iterative.bfs(spark, graph, LocalGraph.Pick.MinSource, depth)
        .as[(Long, Int)].collect().toSeq
      assert(got == graphxBfs(GraphSource.toGraph(e), src, depth), s"depth $depth")
    }
    // a source that is not a vertex reaches nothing
    assert(Iterative.bfs(spark, LocalGraph.fromEdges(rankFixture), given(99L), 10)
      .collect().isEmpty)
  }

  test("graph queries on an empty lineitem give empty frames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_li").toString
    Tables(spark, sf0001, "lineitem").limit(0)
      .write.parquet(s"$dir/lineitem.parquet")
    for (q <- Seq("graph_pagerank", "graph_ppr", "graph_wpr", "graph_trustrank",
        "graph_incpr", "graph_bfs", "graph_ppr_conv")) {
      val df = GraphQueries.all(q)(spark, dir)
      assert(df.collect().isEmpty, q)
      assert(df.columns.head == "node", q)
    }
  }
}
