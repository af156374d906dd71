package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** Wave-B graph algorithms on hand-computable fixtures. */
class GraphBSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Two triangles {1,2,3},{4,5,6} + bridge 3–4, canonical src<dst. */
  private def twoTriangles = Seq(
    (1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0),
    (4L, 5L, 1.0), (5L, 6L, 1.0), (4L, 6L, 1.0), (3L, 4L, 1.0)
  ).toDF("src", "dst", "weight")

  test("louvain separates the two triangles") {
    val comm = Community.louvain(spark, twoTriangles).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comm(1L) == comm(2L) && comm(2L) == comm(3L))
    assert(comm(4L) == comm(5L) && comm(5L) == comm(6L))
    assert(comm(1L) != comm(4L))
  }

  test("synchronous louvain separates the two triangles and reruns bit-equal") {
    val comm = Iterative.louvainSync(spark, LocalGraph.fromEdges(twoTriangles), 8)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comm(1L) == comm(2L) && comm(2L) == comm(3L))
    assert(comm(4L) == comm(5L) && comm(5L) == comm(6L))
    assert(comm(1L) != comm(4L))
    val again = Iterative.louvainSync(spark, LocalGraph.fromEdges(twoTriangles), 8)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == comm)
  }

  test("replicable biased walks stay on the graph and rerun bit-equal") {
    val sym = twoTriangles.union(
      twoTriangles.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val edgeSet = sym.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Node2Vec.walksReplicable(spark, sym, numWalks = 2,
      walkLength = 5, p = 2.0, q = 0.5).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(w.length == 12) // 6 nodes × 2 walks
    for ((_, path) <- w) {
      val hops = path.split(",").map(_.toLong).toSeq
      assert(hops.length == 6)
      hops.sliding(2).foreach { case Seq(a, b) =>
        assert(a == b || edgeSet((a, b)), s"$a->$b not an edge in $path") }
    }
    val again = Node2Vec.walksReplicable(spark, sym, numWalks = 2,
      walkLength = 5, p = 2.0, q = 0.5).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(again.toSeq == w.toSeq)
  }

  test("louvain communities beat the trivial split on modularity") {
    val comm = Community.louvain(spark, twoTriangles)
      .withColumnRenamed("community", "community")
    val sym = twoTriangles.union(
      twoTriangles.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val q = Iterative.modularity(spark, sym, comm).head().getDouble(0)
    assert(q > 0.3)
  }

  test("weak cliques recover the triangles") {
    val wc = Community.weakCliques(spark, twoTriangles).collect()
      .map(_.getSeq[Long](1).toSeq)
    assert(wc.contains(Seq(1L, 2L, 3L)))
    assert(wc.contains(Seq(4L, 5L, 6L)))
  }

  test("closeness: path-center beats path-end") {
    // path 1-2-3-4-5, both directions
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (p ++ p.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
    val c = Centrality.closeness(spark, GraphSource.toGraph(e), Seq(1L, 2L, 3L, 4L, 5L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c(3L) > c(1L) && c(3L) > c(5L))
  }

  test("betweenness on P5 matches Brandes by hand") {
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (p ++ p.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
    val b = Centrality.betweenness(spark, e, Seq(1L, 2L, 3L, 4L, 5L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ordered-pair convention = 2 × unordered path betweenness (0,3,4,3,0)
    assert(b.getOrElse(1L, 0.0) == 0.0 && b.getOrElse(5L, 0.0) == 0.0)
    assert(b(2L) == 6.0 && b(3L) == 8.0 && b(4L) == 6.0)
  }

  test("cycle detection finds directed 3-cycles exactly once") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L), (5L, 2L),
      (1L, 4L)).map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val cyc = Motifs.cycles(spark, e, 3, 4).collect()
      .map(_.getSeq[Long](0).toSeq)
    assert(cyc.contains(Seq(1L, 2L, 3L)))
    assert(cyc.contains(Seq(2L, 4L, 5L)))
    assert(cyc.length == 2)
  }

  test("maximal cliques: K4 found whole, no sub-cliques emitted") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)) // K4 + triangle {4,5,6}
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val mc = Motifs.maximalCliques(spark, k4).collect()
      .map(_.getSeq[Long](0).toSeq).toSet
    assert(mc == Set(Seq(1L, 2L, 3L, 4L), Seq(4L, 5L, 6L)))
  }

  test("maximal cliques: hub-incident egonet edges found past the degree cap") {
    // K4 {1,2,3,4} where node 4 is pushed over maxDegree=4 by leaves:
    // 4 owns no egonet (capped out), but owners 1..3 still need their
    // hub-incident egonet edges (2,4)/(3,4)/(1,4) — the tier-2 path of
    // the r15 per-edge intersect rebuild. Non-hub edges like (2,3) go
    // through the tier-1 array_intersect path in the same run.
    val leaves = (10L to 15L).map(l => (4L, l))
    val hubK4 = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ leaves)
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val mc = Motifs.maximalCliques(spark, hubK4, minK = 3, maxDegree = 4)
      .collect().map(_.getSeq[Long](0).toSeq).toSet
    // owner 1 (deg 3) assembles K4 from one tier-1 edge + hub edges
    assert(mc == Set(Seq(1L, 2L, 3L, 4L)))
    // both-hubs pair: two adjacent hubs inside a triangle with a
    // low-degree owner — the canonicalized tier-2 pair must not
    // double-emit or get lost
    val twoHubs = (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++
      (20L to 26L).map(l => (2L, l)) ++ (30L to 36L).map(l => (3L, l)))
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val mc2 = Motifs.maximalCliques(spark, twoHubs, minK = 3, maxDegree = 4)
      .collect().map(_.getSeq[Long](0).toSeq).toSet
    assert(mc2 == Set(Seq(1L, 2L, 3L)))
  }

  test("subgraph matching: ordered triangle count = 6 per triangle") {
    val und = twoTriangles
    val sym = und.union(und.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val n = Motifs.subgraphCount(spark, sym, Seq((0, 1), (1, 2), (2, 0)))
      .head().getLong(0)
    assert(n == 12) // 2 triangles × 6 orderings
    // symmetry-broken canonical matching × |Aut| gives the same count
    // from a 6×-smaller intermediate
    val nSym = Motifs.subgraphCount(spark, sym, Seq((0, 1), (1, 2), (2, 0)),
      lessThan = Seq((0, 1), (1, 2)), automorphisms = 6)
      .head().getLong(0)
    assert(nSym == 12)
  }

  test("subgraph matching: path-of-3 bindings are injective") {
    val e = Seq((1L, 2L), (2L, 3L)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
    val m = Motifs.subgraphMatch(spark, e, Seq((0, 1), (1, 2))).collect()
    assert(m.length == 1 && m(0).toSeq == Seq(1L, 2L, 3L))
  }

  test("subgraph matching: out-of-order connected pattern binds, disconnected throws") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "weight")
    // edge (2,3) shares nothing with the head edge's {0,1} at its listed
    // position — the binder must reorder it behind (1,2), not crossJoin
    val m = Motifs.subgraphMatch(spark, e, Seq((0, 1), (2, 3), (1, 2))).collect()
    assert(m.length == 1 && m(0).toSeq == Seq(1L, 2L, 3L, 4L))
    // a genuinely disconnected pattern is rejected up front instead of
    // silently planning an all-pairs product
    val err = intercept[IllegalArgumentException] {
      Motifs.subgraphMatch(spark, e, Seq((0, 1), (2, 3)))
    }
    assert(err.getMessage.contains("disconnected pattern"))
  }

  test("walk loop compiles to a plan whose exchange count is step-invariant") {
    // the SCALE.md claim, asserted: each step is a broadcast join + an
    // aggregate that inherits the walker partitioning, so extra steps
    // add ZERO exchanges — the loop is shuffle-free after the initial
    // walker repartition (checkpoint cadence resets lineage at step 6,
    // so compare plan depths inside one cadence window)
    val und = twoTriangles
    val sym = und.union(und.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    // count RUNTIME shuffle exchanges in the final adaptive plan tree:
    // per-step BroadcastExchange nodes dedupe via exchange reuse (same
    // adjacency build every step), ReusedExchange subtrees are skipped,
    // and cached walker states terminate at their InMemoryTableScan
    // leaves (their one-off materialization is not a per-step cost)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def cnt(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => cnt(a.executedPlan)
      case _: ReusedExchangeExec => 0
      case q: QueryStageExec => cnt(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(cnt).sum
      case o => o.children.map(cnt).sum
    }
    def shuffles(len: Int): Int = {
      val df = Node2Vec.walks(spark, sym, numWalks = 1, walkLength = len)
      df.collect()
      cnt(df.queryExecution.executedPlan)
    }
    assert(shuffles(5) == shuffles(2),
      s"per-step shuffle leak: ${shuffles(2)} -> ${shuffles(5)}")
  }

  test("node2vec walks stay on the graph and embeddings cover all nodes") {
    val und = twoTriangles
    val sym = und.union(und.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val w = Node2Vec.walks(spark, sym, numWalks = 2, walkLength = 4).collect()
    assert(w.length == 12) // 6 nodes × 2 walks
    val edgeSet = sym.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    w.foreach { r =>
      val path = r.getSeq[Long](1)
      path.sliding(2).foreach(p =>
        assert(p(0) == p(1) || edgeSet((p(0), p(1))), s"bad hop $p"))
    }
    val emb = Node2Vec.embeddings(spark, sym).collect()
    assert(emb.length == 6)
  }

  test("node2vec embeddings place planted communities closer than the bridge") {
    // seeded Word2Vec over deterministic-enough walks: intra-triangle
    // pairs must sit closer (mean cosine) than cross-bridge pairs —
    // the qualitative contract of the embedding, robust to RNG detail
    val und = twoTriangles
    val sym = und.union(und.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val emb = Node2Vec.embeddings(spark, sym, numWalks = 8, walkLength = 8)
      .collect()
      .map(r => r.getLong(0) ->
        Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    val intraPairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    val interPairs = for (a <- 1L to 3L; b <- 4L to 6L) yield (a, b)
    val intra = intraPairs.map { case (a, b) => cos(emb(a), emb(b)) }.sum / intraPairs.size
    val inter = interPairs.map { case (a, b) => cos(emb(a), emb(b)) }.sum / interPairs.size
    assert(intra > inter, s"intra=$intra inter=$inter")
  }

  test("weighted closeness: hand-computed weighted path distances") {
    // 1 →(2.0)→ 2 →(3.0)→ 3, landmark {3}: dist(1→3) = 5, dist(2→3) = 3
    val e = Seq((1L, 2L, 2.0), (2L, 3L, 3.0)).toDF("src", "dst", "weight")
    val g = GraphSource.toGraph(e)
    val c = Centrality.closeness(spark, g, Seq(3L), weighted = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c(1L) == math.floor(1.0 / 5 * 1e6 + 0.5) / 1e6)
    assert(c(2L) == math.floor(1.0 / 3 * 1e6 + 0.5) / 1e6)
    assert(!c.contains(3L)) // the landmark reaches no other landmark
    // hop-based variant ignores the weights: dist(1→3) = 2 hops
    val h = Centrality.closeness(spark, g, Seq(3L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h(1L) == 0.5)
  }

  test("rate-constrained cycles keep flow-consistent loops only") {
    // triangle A: weights 1→2→4 (consecutive ratios 2, 2: consistent);
    // triangle B: weights 1→10→1 (ratio 10: violates maxRate 2.5)
    val e = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 4.0),
      (4L, 5L, 1.0), (5L, 6L, 10.0), (6L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    val all = Motifs.cycles(spark, e, minLoop = 3, maxLoop = 3)
      .collect().map(_.getSeq[Long](0).toList).toSet
    assert(all == Set(List(1L, 2L, 3L), List(4L, 5L, 6L)))
    val consistent = Motifs.cycles(spark, e, minLoop = 3, maxLoop = 3,
      minRate = 1.5, maxRate = 2.5)
      .collect().map(_.getSeq[Long](0).toList).toSet
    assert(consistent == Set(List(1L, 2L, 3L)))
  }

  test("broadcast size gate: past the threshold joins plan without broadcast, output unchanged") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def hasBroadcast(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => hasBroadcast(a.executedPlan)
      case q: QueryStageExec => hasBroadcast(q.plan)
      case _: BroadcastExchangeLike => true
      case o => o.children.exists(hasBroadcast)
    }
    // reference outputs on the default (broadcast fast) path
    val sym = twoTriangles.union(
      twoTriangles.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    // sets, not seqs: aggregate row order is not stable across join
    // strategies, and the assertion is same-contents not same-order
    val refLouvain = Community.louvain(spark, twoTriangles).collect().toSet
    val refWalks = Node2Vec.walksReplicable(spark, sym, numWalks = 2,
      walkLength = 5, p = 2.0, q = 0.5).collect().toSet
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("graft.broadcast.maxRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the gated pattern itself plans a non-broadcast join once tripped
      val labels = twoTriangles.select($"src".as("dst")).distinct()
        .withColumn("comm", $"dst")
      val joined = twoTriangles.join(
        graft.core.Hints.broadcastIfSmall(labels, labels.count()), Seq("dst"))
      joined.collect()
      assert(!hasBroadcast(joined.queryExecution.executedPlan),
        "gate tripped but a broadcast exchange still planned")
      // and every gated algorithm produces identical output on the
      // shuffle-join fallback path
      assert(Community.louvain(spark, twoTriangles).collect().toSet == refLouvain)
      assert(Node2Vec.walksReplicable(spark, sym, numWalks = 2,
        walkLength = 5, p = 2.0, q = 0.5).collect().toSet == refWalks)
    } finally {
      spark.conf.unset("graft.broadcast.maxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("broadcast gate conf: non-numeric value fails naming the conf key") {
    spark.conf.set("graft.broadcast.maxRows", "lots")
    try {
      val err = intercept[IllegalArgumentException] {
        graft.core.Hints.broadcastMaxRows(twoTriangles)
      }
      assert(err.getMessage.contains("graft.broadcast.maxRows"))
    } finally spark.conf.unset("graft.broadcast.maxRows")
  }

  test("node2vec biased (p,q) walks: huge p forbids backtracking on a path") {
    // path 1–2–3 (symmetric). With p→∞ the return weight 1/p ≈ 0, so a
    // walker that moved 1→2 must continue to 3 (and 3→2 must reach 1);
    // from the middle the second hop has only the backtrack candidate
    // left and is forced to return regardless of p.
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val w = Node2Vec.walks(spark, e, numWalks = 1, walkLength = 2,
      p = 1e9, q = 1.0).collect()
      .map(r => r.getSeq[Long](1).toList)
    assert(w.toSet.contains(List(1L, 2L, 3L)), s"walk from 1: ${w.toSeq}")
    assert(w.toSet.contains(List(3L, 2L, 1L)), s"walk from 3: ${w.toSeq}")
    // and with huge q (avoid-exploration), 1→2 must return to 1
    val wq = Node2Vec.walks(spark, e, numWalks = 1, walkLength = 2,
      p = 1.0, q = 1e9).collect().map(r => r.getSeq[Long](1).toList)
    assert(wq.toSet.contains(List(1L, 2L, 1L)), s"walk from 1: ${wq.toSeq}")
  }
}
