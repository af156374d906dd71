package graft.fuzz

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Json
import graft.graph.{Builtins, Centrality, Community, GraphQueries,
  GraphSource, Iterative, LocalGraph, Motifs, Node2Vec}
import graft.sources.Tables

/** Parameter-grid differential fuzz over the GRAPH operator surface
  * (round-11 directive #5 — relational has 280 cases, LLM 68; graph
  * operators had one pinned point each): every case pairs a Spark
  * operator invocation with the SAME parameterized oracle builder its
  * pinned query uses (GraphQueries.rankIterSql / prConvSql / bfsSql /
  * ssspSql / closenessSql / closenessWSql / betweennessSql / kcoreSql /
  * modularitySql / cyclesSql / lpaSyncSql / louvainSyncSql /
  * pprMultiSql / walksSql), so pinned oracle and fuzz replay share one
  * SQL-generation path. The grid is PINNED (the parameters ARE the
  * corpus); expectations are committed DuckDB hashes in
  * src/test/resources/graph_fuzz_expected.json.
  *
  * Regenerating:
  *   sbt "Test/runMain graft.fuzz.GraphFuzzDump /tmp/graph_fuzz.json"
  *   python3 tools/fuzz_expected.py /tmp/graph_fuzz.json \
  *     /root/testdata/sf0.001 src/test/resources/graph_fuzz_expected.json
  *
  * Grid-validity notes:
  *  - the damped-rank family (pagerank/ppr/trustrank/incpr/wpr) is
  *    replay-exact at ANY (iters, resetProb): the oracle unrolls the
  *    same static loop. resetProb and damp literals interpolate the
  *    SAME Scala double the operator computes with, so cross-engine
  *    parse round-trips cannot diverge by an ulp.
  *  - kcore's oracle is a CONVERGED peeling and the kernel peels
  *    exactly, so the grid varies the reader instead: the lineitem
  *    transitions and the canonical undirected edge frame must land on
  *    one peeling.
  *  - conv cases replay GraphX's tolerance gating (delta > tol) in the
  *    unrolled active-set CTEs at any tol.
  */
object GraphFuzzSeed {

  final case class GraphCase(id: String, sql: String,
      run: (SparkSession, String) => DataFrame)

  private def edges(s: SparkSession, d: String): DataFrame =
    GraphSource.partTransitions(Tables(s, d, "lineitem"))

  private def graph(s: SparkSession, d: String) =
    GraphSource.toGraph(edges(s, d))

  /** The part-transition graph the rank, BFS, k-core, LPA and Louvain
    * cases derive in their own task. */
  private def transitions(s: SparkSession, d: String) =
    LocalGraph.fromLineitem(Tables(s, d, "lineitem"))

  private val neUnweighted = GraphQueries.neUnweighted

  private val neWeighted =
    "SELECT g.src, g.dst, g.weight / d.ow AS w FROM g JOIN " +
      "(SELECT src, SUM(weight) AS ow FROM g GROUP BY src) d ON d.src = g.src"

  lazy val cases: Seq[GraphCase] = {
    val pagerank = Seq((5, 0.15), (15, 0.15), (10, 0.30), (10, 0.50),
      (3, 0.40), (20, 0.10)).map { case (iters, reset) =>
      GraphCase(s"gfz_pagerank_i${iters}_r${(reset * 100).toInt}",
        GraphQueries.rankIterSql(neUnweighted, iters, "1.0",
          s"$reset", "rank", damp = 1.0 - reset),
        (s, d) => Builtins.pageRank(s, transitions(s, d), iters, reset))
    }

    val wpr = Seq(5, 15).map { iters =>
      GraphCase(s"gfz_wpr_i$iters",
        GraphQueries.rankIterSql(neWeighted, iters, "1.0", "0.15", "rank"),
        (s, d) => Iterative.weightedPageRank(s, transitions(s, d), iters))
    }

    val ppr = Seq((5, 0.15), (15, 0.15), (10, 0.30)).map {
      case (iters, reset) =>
        GraphCase(s"gfz_ppr_i${iters}_r${(reset * 100).toInt}",
          GraphQueries.rankIterSql(neUnweighted, iters,
            "CASE WHEN v = (SELECT MIN(src) FROM g) THEN 1.0 ELSE 0 END",
            s"CASE WHEN n.v = (SELECT MIN(src) FROM g) THEN $reset ELSE 0 END",
            "rank", damp = 1.0 - reset),
          (s, d) => Builtins.personalizedPageRank(s, transitions(s, d),
            LocalGraph.Pick.MinSource, iters, reset))
    }

    val trust = Seq((3, 10), (5, 5), (8, 10)).map { case (seeds, iters) =>
      val seedMass = 1.0 / seeds
      GraphCase(s"gfz_trust_s${seeds}_i$iters",
        GraphQueries.rankIterSql(neUnweighted, iters,
          s"CASE WHEN v IN (SELECT v FROM lm) THEN $seedMass ELSE 0 END",
          s"CASE WHEN n.v IN (SELECT v FROM lm) THEN ${0.15 * seedMass} ELSE 0 END",
          "trust",
          extraCte = s", lm AS (SELECT v FROM n ORDER BY v LIMIT $seeds)"),
        (s, d) => Iterative.trustRank(s, transitions(s, d),
          LocalGraph.Pick.Smallest(seeds), iters))
    }

    val incpr = Seq(3, 7).map { roundAt =>
      GraphCase(s"gfz_incpr_split$roundAt",
        GraphQueries.rankIterSql(neUnweighted, 10, "1.0", "0.15", "rank",
          roundAt = roundAt),
        (s, d) =>
          Iterative.incrementalPageRank(s, transitions(s, d), roundAt,
            10 - roundAt))
    }

    val conv = Seq((1e-3, false), (1e-3, true), (5e-4, false),
      (5e-4, true)).map { case (tol, pers) =>
      val tag = if (pers) "ppr" else "pr"
      GraphCase(s"gfz_conv_${tag}_t${(tol * 10000).toInt}",
        GraphQueries.prConvSql(tol, 100, personalized = pers),
        (s, d) =>
          if (pers) GraphQueries.pprConv(s, edges(s, d), tol)
          else Builtins.pageRankUntilConvergence(s, graph(s, d), tol))
    }

    val bfs = Seq(2, 3, 5).map { depth =>
      GraphCase(s"gfz_bfs_d$depth",
        GraphQueries.bfsSql(depth),
        (s, d) => Iterative.bfs(s, transitions(s, d),
          LocalGraph.Pick.MinSource, depth))
    }

    val sssp = Seq(2, 5).map { k =>
      GraphCase(s"gfz_sssp_l$k",
        GraphQueries.ssspSql(k),
        (s, d) => {
          val e = edges(s, d)
          Builtins.shortestPaths(s, GraphSource.toGraph(e),
            GraphQueries.smallestNodes(e, k))
        })
    }

    val clo = Seq(4, 6).map { k =>
      GraphCase(s"gfz_closeness_l$k",
        GraphQueries.closenessSql(k),
        (s, d) => {
          val e = edges(s, d)
          Centrality.closeness(s, GraphSource.toGraph(e),
            GraphQueries.smallestNodes(e, k))
        })
    }

    val cloW = Seq(4, 6).map { k =>
      GraphCase(s"gfz_closeness_w_l$k",
        GraphQueries.closenessWSql(k, rounds = 20),
        (s, d) => {
          val e = edges(s, d)
          Centrality.closeness(s, GraphSource.toGraph(e),
            GraphQueries.smallestNodes(e, k), weighted = true)
        })
    }

    val btw = Seq(4, 6).map { k =>
      GraphCase(s"gfz_betweenness_s$k",
        GraphQueries.betweennessSql(k, levels = 6),
        (s, d) => {
          val e = edges(s, d)
          Centrality.betweenness(s, e, GraphQueries.smallestNodes(e, k))
        })
    }

    // the ids predate the readers: they once named a round cap
    val kcore = Seq[(String, (SparkSession, String) => LocalGraph.Reader)](
      "m25" -> transitions,
      "m30" -> ((s, d) => LocalGraph.fromEdges(
        GraphSource.canonicalUndirected(edges(s, d))))
    ).map { case (tag, reader) =>
      GraphCase(s"gfz_kcore_$tag",
        GraphQueries.kcoreSql(maxK = 36, rounds = 16),
        (s, d) => Iterative.kCore(s, reader(s, d)))
    }

    val mod = Seq(4, 8, 32).map { m =>
      GraphCase(s"gfz_modularity_m$m",
        GraphQueries.modularitySql(m),
        (s, d) => {
          val e = edges(s, d)
          val comm = e.select(col("src").as("node"))
            .union(e.select(col("dst"))).distinct()
            .select(col("node"), pmod(col("node"), lit(m)).as("community"))
          Iterative.modularity(s, e, comm)
        })
    }

    val cycles = Seq((0.0, Double.PositiveInfinity), (0.25, 4.0),
      (0.8, 1.25), (1.0, 1.0)).map { case (lo, hi) =>
      val tag = if (hi.isPosInfinity) "open"
        else s"${(lo * 100).toInt}_${(hi * 100).toInt}"
      GraphCase(s"gfz_cycles_$tag",
        GraphQueries.cyclesSql(lo, hi),
        (s, d) => Motifs.cycles(s, edges(s, d), minLoop = 3, maxLoop = 3,
            minRate = lo, maxRate = hi)
          .select(concat_ws(",", col("cycle")).as("cycle"), col("length"))
          .orderBy("cycle"))
    }

    // i=1 is a PRE-convergence point (labels still moving — the i3/i8
    // pair hash identically because propagation converges by 3, which
    // proves the fixpoint but not the trajectory; i1 pins the latter).
    // The last point reads the edge frame, as the graph_lpa verdict does
    val lpa = Seq(1, 3, 8).map { iters =>
      GraphCase(s"gfz_lpa_sync_i$iters",
        GraphQueries.lpaSyncSql(iters),
        (s, d) => Iterative.labelPropagationSync(s,
          if (iters == 8) LocalGraph.fromEdges(edges(s, d)) else transitions(s, d),
          iters))
    }

    // i6 reads the canonical undirected frame, as graph_louvain does
    val louv = Seq(4, 6).map { iters =>
      GraphCase(s"gfz_louvain_sync_i$iters",
        GraphQueries.louvainSyncSql(iters),
        (s, d) => Iterative.louvainSync(s,
          if (iters == 6)
            LocalGraph.fromEdges(GraphSource.canonicalUndirected(edges(s, d)))
          else transitions(s, d), iters))
    }

    val pprMulti = Seq((5, 4), (10, 2), (8, 6)).map { case (iters, ns) =>
      GraphCase(s"gfz_ppr_multi_i${iters}_s$ns",
        GraphQueries.pprMultiSql(iters, ns),
        (s, d) => {
          val e = edges(s, d)
          Iterative.parallelPersonalizedPageRankSync(s, e,
            GraphQueries.smallestNodes(e, ns), iters)
        })
    }

    val walks = Seq((1, 4, 1.0, 1.0), (2, 8, 0.5, 2.0),
      (3, 5, 4.0, 0.25)).map { case (nw, wl, p, q) =>
      GraphCase(s"gfz_walks_n${nw}_l${wl}_p${(p * 100).toInt}_q${(q * 100).toInt}",
        GraphQueries.walksSql(nw, wl, p, q),
        (s, d) => Node2Vec.walksReplicable(s, edges(s, d),
          numWalks = nw, walkLength = wl, p = p, q = q))
    }

    // round-11 directive #6: the parameterless families (triangles,
    // components, degrees, clustering coefficient, cliques, subgraph
    // matching) fuzz over the INPUT instead — deterministic
    // (src + dst) % m <> r edge subgraphs, the same predicate applied
    // to the SQL CTE (filteredCte keeps the relation named `g`, so the
    // pinned family bodies compose unchanged) and to the Spark edge
    // frame before graph construction.
    def fEdges(s: SparkSession, d: String, m: Int, r: Int): DataFrame =
      edges(s, d).filter((col("src") + col("dst")) % m =!= r)
    def fGraph(s: SparkSession, d: String, m: Int, r: Int) =
      GraphSource.toGraph(fEdges(s, d, m, r))
    def fUgraph(s: SparkSession, d: String, m: Int, r: Int) =
      GraphSource.toGraph(
        GraphSource.canonicalUndirected(fEdges(s, d, m, r)))
    def fc(m: Int, r: Int) =
      GraphQueries.filteredCte(GraphQueries.edgeCte, m, r)
    def fcRec(m: Int, r: Int) =
      GraphQueries.filteredCte(GraphQueries.edgeCteRec, m, r)

    val triTotal = Seq((2, 0), (3, 1), (4, 3)).map { case (m, r) =>
      GraphCase(s"gfz_tri_total_m${m}_r$r",
        GraphQueries.triangleTotalSql(fc(m, r)),
        (s, d) => Builtins.triangleTotal(s, fUgraph(s, d, m, r)))
    }

    val triPer = Seq((2, 1), (3, 0)).map { case (m, r) =>
      GraphCase(s"gfz_triangles_m${m}_r$r",
        GraphQueries.trianglesSql(fc(m, r)),
        (s, d) => Builtins.triangleCounts(s, fUgraph(s, d, m, r)))
    }

    val ccoef = Seq((2, 0), (3, 2)).map { case (m, r) =>
      GraphCase(s"gfz_clustcoef_m${m}_r$r",
        GraphQueries.clusteringCoefSql(fc(m, r)),
        (s, d) => Builtins.clusteringCoefficient(s, fUgraph(s, d, m, r)))
    }

    val degs = Seq((2, 1), (3, 0), (5, 2)).map { case (m, r) =>
      GraphCase(s"gfz_degree_m${m}_r$r",
        GraphQueries.degreeSql(fc(m, r)),
        (s, d) => Builtins.degrees(s, fGraph(s, d, m, r)))
    }

    // the drop-one filter keeps this graph connected, so the first two
    // cc points hash identically (connectivity-invariant — legitimate,
    // but non-discriminating); the keep-only slice (~1/m of the edges)
    // fragments the graph, giving components a grid point whose hash
    // actually moves with the parameters
    def fEdgesKeep(s: SparkSession, d: String, m: Int, r: Int): DataFrame =
      edges(s, d).filter((col("src") + col("dst")) % m === r)
    def fGraphKeep(s: SparkSession, d: String, m: Int, r: Int) =
      GraphSource.toGraph(fEdgesKeep(s, d, m, r))
    def fcRecKeep(m: Int, r: Int) =
      GraphQueries.filteredCteKeep(GraphQueries.edgeCteRec, m, r)

    val ccs = Seq((2, 0), (3, 1)).map { case (m, r) =>
      GraphCase(s"gfz_cc_m${m}_r$r",
        GraphQueries.ccSql(fcRec(m, r)),
        (s, d) => Builtins.connectedComponents(s, fGraph(s, d, m, r)))
    } ++ Seq((8, 1), (16, 3)).map { case (m, r) =>
      GraphCase(s"gfz_cc_keep_m${m}_r$r",
        GraphQueries.ccSql(fcRecKeep(m, r)),
        (s, d) => Builtins.connectedComponents(s, fGraphKeep(s, d, m, r)))
    }

    val sccs = Seq((2, 1), (3, 0)).map { case (m, r) =>
      GraphCase(s"gfz_scc_m${m}_r$r",
        GraphQueries.sccSql(fcRec(m, r)),
        (s, d) =>
          Builtins.stronglyConnectedComponents(s, fGraph(s, d, m, r), 10))
    }

    val mce = Seq((2, 0), (3, 1)).map { case (m, r) =>
      GraphCase(s"gfz_mce_m${m}_r$r",
        GraphQueries.mceSql(fcRec(m, r)),
        (s, d) => Motifs.maximalCliques(s,
            GraphSource.canonicalUndirected(fEdges(s, d, m, r)))
          .select(concat_ws(",", col("members")).as("members"), col("k"))
          .orderBy("members"))
    }

    val wce = Seq((2, 0, 2), (3, 1, 3)).map { case (m, r, mc) =>
      GraphCase(s"gfz_wce_m${m}_r${r}_c$mc",
        GraphQueries.wceSql(fc(m, r), minCommon = mc),
        (s, d) => Community.weakCliques(s,
            GraphSource.canonicalUndirected(fEdges(s, d, m, r)),
            minCommon = mc)
          .select(col("clique_id"),
            concat_ws(",", col("members")).as("members"),
            col("clique_size")))
    }

    val subTri = Seq((2, 1), (3, 2)).map { case (m, r) =>
      GraphCase(s"gfz_subtri_m${m}_r$r",
        GraphQueries.subgraphTriSql(fc(m, r)),
        (s, d) => {
          val und = GraphSource.canonicalUndirected(fEdges(s, d, m, r))
          val sym = und.select(col("src"), col("dst"))
            .union(und.select(col("dst"), col("src")))
            .withColumn("weight", lit(1.0))
          Motifs.subgraphCount(s, sym, Seq((0, 1), (1, 2), (2, 0)),
            lessThan = Seq((0, 1), (1, 2)), automorphisms = 6)
        })
    }

    pagerank ++ wpr ++ ppr ++ trust ++ incpr ++ conv ++ bfs ++ sssp ++
      clo ++ cloW ++ btw ++ kcore ++ mod ++ cycles ++ lpa ++ louv ++
      pprMulti ++ walks ++ triTotal ++ triPer ++ ccoef ++ degs ++ ccs ++
      sccs ++ mce ++ wce ++ subTri
  }
}

/** Writes the graph fuzz grid's oracle SQL for tools/fuzz_expected.py.
  * Run: sbt "Test/runMain graft.fuzz.GraphFuzzDump <out.json>". */
object GraphFuzzDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graph_fuzz.json")
    val json = GraphFuzzSeed.cases
      .map(c => s"${Json.quote(c.id)}: ${Json.quote(c.sql)}")
      .mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${GraphFuzzSeed.cases.size} queries to $out")
  }
}
