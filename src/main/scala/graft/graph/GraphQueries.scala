package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Tables

/** queries()/oracleSql() wiring for the graph layer. Nearly every row is
  * DuckDB-oracle-checked — fixed-iteration algorithms via machine-
  * generated unrolled-CTE SQL, fixpoints via recursive CTEs, and the
  * stock GraphX wrappers whose trajectories are engine artifacts
  * (graph_lpa, graph_louvain, graph_ppr_multi, graph_node2vec's
  * Word2Vec) via deterministic `_sync`/`_det` companions. */
object GraphQueries {

  private def edges(s: SparkSession, d: String): DataFrame =
    GraphSource.partTransitions(Tables(s, d, "lineitem"))

  /** Edge frame materialized once for bindings that consume it more
    * than once (source sampling + the algorithm itself + a verdict's
    * vertex count): the window+agg edge derivation re-executed per
    * reference before — 2-4 full lineitem scans inside one query
    * (r14 opt round §A3). Same rows, same downstream plans; the
    * checkpoint blocks are dropped by the harness between queries. */
  private def edgesChk(s: SparkSession, d: String): DataFrame =
    edges(s, d).localCheckpoint()

  private def graph(s: SparkSession, d: String) =
    GraphSource.toGraph(edges(s, d))

  private def ugraph(s: SparkSession, d: String) =
    GraphSource.toGraph(GraphSource.canonicalUndirected(edges(s, d)))

  /** The part-transition graph, derived inside the one task of a
    * [[LocalGraph]] client. */
  private def transitions(s: SparkSession, d: String): LocalGraph.Reader =
    LocalGraph.fromLineitem(Tables(s, d, "lineitem"))

  /** min(src), none on an empty edge frame. */
  private def minNode(e: DataFrame): Option[Long] =
    Option(e.agg(min(col("src"))).head().get(0)).map(_.asInstanceOf[Long])

  /** Converged personalized PageRank from min(src); an empty edge frame
    * has no source and gives no rows. */
  private[graft] def pprConv(s: SparkSession, e: DataFrame,
      tol: Double): DataFrame =
    minNode(e).fold(LocalGraph.frame(s, Nil, "node" -> LongType,
        "rank" -> DoubleType))(src =>
      Builtins.personalizedPageRankUntilConvergence(s, GraphSource.toGraph(e),
        src, tol))

  // deterministic sync twins memoized per sfDir: each is BOTH its own
  // replay-oracle-checked query AND the companion of a stock-fit verdict
  // query, so without the memo every suite pass ran each sweep twice
  // (round-8 verdict #3 measured ~6 s of recompute for louvain alone).
  // A verdict query passes the edge frame it shares with its stock run;
  // the standalone rows derive the edges inside the kernel's task
  private def lpaSyncShared(s: SparkSession, d: String,
      e: Option[DataFrame] = None): DataFrame =
    graft.core.QueryCache.df(s, s"lpa_sync:$d")(Iterative.labelPropagationSync(s,
      e.fold(transitions(s, d))(LocalGraph.fromEdges), 5))

  private def louvainSyncShared(s: SparkSession, d: String,
      und: Option[DataFrame] = None): DataFrame =
    graft.core.QueryCache.df(s, s"louvain_sync:$d")(Iterative.louvainSync(s,
      und.fold(transitions(s, d))(LocalGraph.fromEdges), 8))

  private def pprMultiSyncShared(s: SparkSession, d: String,
      e: Option[DataFrame] = None): DataFrame =
    graft.core.QueryCache.df(s, s"ppr_multi_sync:$d") {
      val ed = e.getOrElse(edgesChk(s, d))
      Iterative.parallelPersonalizedPageRankSync(s, ed,
        smallestNodes(ed, 4), 10)
    }

  private[graft] def smallestNodes(e: DataFrame, n: Int): Seq[Long] =
    e.select(col("src").as("v")).union(e.select(col("dst")))
      .distinct().orderBy("v").limit(n).collect().map(_.getLong(0)).toSeq

  /** SQL CTE shared by the oracle queries below. */
  private[graft] val edgeCte =
    "WITH e0 AS (SELECT l_partkey AS dst, LAG(l_partkey) OVER " +
      "(PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS src FROM lineitem), " +
      "g AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS weight FROM e0 " +
      "WHERE src IS NOT NULL AND src <> dst GROUP BY src, dst) "

  /** Same CTE opened with WITH RECURSIVE, plus the node set — prefix for
    * the fixpoint oracles (BFS / SSSP / closeness / components). */
  private[graft] val edgeCteRec =
    edgeCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      // explicit DISTINCT: inside a WITH RECURSIVE block DuckDB gives the
      // bare UNION append (fixpoint) semantics, not set-dedup
      ", n AS (SELECT DISTINCT v FROM (SELECT src AS v FROM g " +
      "UNION ALL SELECT dst FROM g) nn) "

  private[graft] val nodeCte =
    ", n AS (SELECT src AS v FROM g UNION SELECT dst FROM g) "

  /** Machine-generated chained-CTE oracle for the damped-rank family:
    * p0 = `init`(v); p_{i+1}(v) = `reset`(v) + damp · Σ_{u→v} p_i(u)·w.
    * Exactly the GraphX static loop (no dangling redistribution, rank
    * NOT normalized), with `ne` carrying the per-edge transition weight.
    * `roundAt` optionally floors-to-1e-6 one intermediate iteration —
    * the incremental-PageRank query feeds ROUNDED prior ranks back in.
    * Fixed iteration counts make the whole loop unrollable into plain
    * SQL, one CTE per step. */
  private[graft] def rankIterSql(neSql: String, iters: Int, init: String,
      reset: String, outName: String, damp: Double = 0.85,
      roundAt: Int = -1, extraCte: String = ""): String = {
    val sb = new StringBuilder(edgeCte + nodeCte)
    sb ++= extraCte
    sb ++= s", ne AS ($neSql)"
    sb ++= s", p0 AS (SELECT v AS node, CAST($init AS DOUBLE) AS rank FROM n)"
    for (i <- 1 to iters) {
      val prev = s"p${i - 1}"
      val rank = s"$reset + $damp * COALESCE(s.m, 0)"
      val rank2 = if (i == roundAt)
        s"FLOOR(($rank) * 1000000 + 0.5) / 1000000" else rank
      sb ++= s", p$i AS (SELECT n.v AS node, $rank2 AS rank FROM n " +
        s"LEFT JOIN (SELECT ne.dst, SUM(p.rank * ne.w) AS m FROM $prev p " +
        "JOIN ne ON ne.src = p.node GROUP BY ne.dst) s ON s.dst = n.v)"
    }
    sb ++= s" SELECT node, FLOOR(rank * 1000000 + 0.5) / 1000000 AS " +
      s"$outName FROM p$iters ORDER BY node"
    sb.toString
  }

  /** Unrolled batched-Brandes betweenness: forward frames f_i carry
    * (source, node, σ) per BFS level (grown by join+sum, first-visit
    * gated by NOT EXISTS over the seen set); backward frames d_i
    * accumulate δ(v) = Σ_{w ∈ succ} σ_v/σ_w·(1+δ_w) level by level.
    * `levels` must cover the max source eccentricity (4 at sf0.01;
    * extra levels are empty frames and cost nothing). */
  private[graft] def betweennessSql(sources: Int, levels: Int): String = {
    // every CTE is MATERIALIZED (DuckDB-only syntax): the frames are
    // referenced 3-4× each and DuckDB inlines plain CTEs per reference —
    // the unrolled chain re-evaluates exponentially and never finishes
    // without it (0.6 s with, >10 min without, at sf0.01)
    val sb = new StringBuilder(
      (edgeCte + nodeCte)
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED (")
        .replace("n AS (", "n AS MATERIALIZED ("))
    sb ++= s", lm AS MATERIALIZED (SELECT v FROM n ORDER BY v LIMIT $sources)"
    sb ++= ", f0 AS MATERIALIZED (SELECT v AS s, v AS node, CAST(1 AS DOUBLE) AS sigma FROM lm)"
    sb ++= ", seen0 AS MATERIALIZED (SELECT s, node FROM f0)"
    for (i <- 1 to levels) {
      sb ++= s", f$i AS MATERIALIZED (SELECT f.s, g.dst AS node, CAST(SUM(f.sigma) AS DOUBLE) AS sigma " +
        s"FROM f${i - 1} f JOIN g ON g.src = f.node " +
        s"WHERE NOT EXISTS (SELECT 1 FROM seen${i - 1} x WHERE x.s = f.s AND x.node = g.dst) " +
        "GROUP BY f.s, g.dst)"
      sb ++= s", seen$i AS MATERIALIZED (SELECT s, node FROM seen${i - 1} " +
        s"UNION ALL SELECT s, node FROM f$i)"
    }
    sb ++= s", d$levels AS MATERIALIZED (SELECT s, node, sigma, CAST(0 AS DOUBLE) AS delta FROM f$levels)"
    for (i <- (levels - 1) to 0 by -1) {
      sb ++= s", d$i AS MATERIALIZED (SELECT c.s, c.node, c.sigma, COALESCE(ct.dnew, 0) AS delta " +
        s"FROM f$i c LEFT JOIN " +
        s"(SELECT c2.s, c2.node, SUM(c2.sigma / w.sigma * (1 + w.delta)) AS dnew " +
        s"FROM f$i c2 JOIN g ON g.src = c2.node " +
        s"JOIN d${i + 1} w ON w.s = c2.s AND w.node = g.dst " +
        "GROUP BY c2.s, c2.node) ct ON ct.s = c.s AND ct.node = c.node)"
    }
    sb ++= " SELECT node, FLOOR(SUM(delta) * 1000000 + 0.5) / 1000000 AS betweenness FROM (" +
      (0 to levels).map(i => s"SELECT s, node, delta FROM d$i").mkString(" UNION ALL ") +
      ") alld WHERE node <> s GROUP BY node ORDER BY node"
    sb.toString
  }

  /** Unrolled k-core peeling oracle: for each k the subgraph repeatedly
    * drops nodes of degree < k until stable (`rounds` must cover the
    * longest cascade — 15 measured at sf0.01), and core(v) = the largest
    * k whose stable subgraph still contains v. The edge set is
    * re-restricted to survivors once per k level so the per-round joins
    * shrink as k grows. MATERIALIZED throughout; CTE count stays under
    * DuckDB's expression-depth limit of 1000. */
  private[graft] def kcoreSql(maxK: Int, rounds: Int): String = {
    val parts = scala.collection.mutable.Buffer[String]()
    parts += edgeCte
      .replace("e0 AS (", "e0 AS MATERIALIZED (")
      .replace("g AS (", "g AS MATERIALIZED (")
      .stripSuffix(" ")
    parts += ", ee_1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
      "(SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g) ss)"
    parts += s", s_1_$rounds AS MATERIALIZED (SELECT DISTINCT src AS v FROM ee_1)"
    for (k <- 2 to maxK) {
      parts += s", ee_$k AS MATERIALIZED (SELECT d.src, d.dst FROM ee_${k - 1} d " +
        s"JOIN s_${k - 1}_$rounds p1 ON p1.v = d.src " +
        s"JOIN s_${k - 1}_$rounds p2 ON p2.v = d.dst)"
      var prev: String = null
      for (r <- 1 to rounds) {
        val sname = s"s_${k}_$r"
        parts +=
          (if (prev == null)
            s", $sname AS MATERIALIZED (SELECT src AS v FROM ee_$k " +
              s"GROUP BY src HAVING COUNT(*) >= $k)"
          else
            s", $sname AS MATERIALIZED (SELECT d.src AS v FROM ee_$k d " +
              s"JOIN $prev p1 ON p1.v = d.src JOIN $prev p2 ON p2.v = d.dst " +
              s"GROUP BY d.src HAVING COUNT(*) >= $k)")
        prev = sname
      }
    }
    val unions = (1 to maxK)
      .map(k => s"SELECT v, $k AS k FROM s_${k}_$rounds").mkString(" UNION ALL ")
    parts.mkString + s" SELECT v AS node, CAST(MAX(k) AS INTEGER) AS core " +
      s"FROM ($unions) u GROUP BY v ORDER BY node"
  }

  /** Unrolled synchronous-LPA oracle: per round, each vertex takes the
    * (count DESC, label ASC)-first label over its deduplicated undirected
    * neighborhood — integer counts and a total tiebreak, so the unroll is
    * bit-exact. One CTE per round, MATERIALIZED (DuckDB inlines plain
    * CTEs per reference). */
  private def lpaSyncCte(iters: Int): String = {
    val sb = new StringBuilder(
      edgeCte
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED ("))
    sb ++= ", ee AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
      "(SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g) u2)"
    sb ++= ", l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ee)"
    for (i <- 1 to iters)
      sb ++= s", l$i AS MATERIALIZED (SELECT node, label FROM " +
        "(SELECT e.dst AS node, l.label, ROW_NUMBER() OVER (PARTITION BY e.dst " +
        s"ORDER BY COUNT(*) DESC, l.label) AS rn FROM ee e JOIN l${i - 1} l " +
        "ON l.node = e.src GROUP BY e.dst, l.label) q WHERE rn = 1)"
    sb.toString
  }

  private[graft] def lpaSyncSql(iters: Int): String =
    lpaSyncCte(iters) + s" SELECT node, label FROM l$iters ORDER BY node"

  /** Unrolled GraphX Pregel dynamic PageRank (runUntilConvergence):
    * superstep 0 gives every vertex rank = reset, delta = reset; each
    * round, ACTIVE vertices (those that received a message last round)
    * with delta > tol send delta·w along out-edges; receivers update
    * rank += damp·msg, delta = damp·msg; non-receivers keep rank AND
    * delta but go inactive. Once no messages flow, the remaining CTEs
    * are identity — so a fixed unroll past the convergence point
    * reproduces the data-dependent iteration count exactly. */
  private[graft] def prConvSql(tol: Double, iters: Int,
      personalized: Boolean = false): String = {
    val sb = new StringBuilder(
      (edgeCte + nodeCte)
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED (")
        .replace("n AS (", "n AS MATERIALIZED ("))
    sb ++= s", ne AS MATERIALIZED ($neUnweighted)"
    // superstep 0: standard — every vertex rank=δ=reset; personalized —
    // the source jumps to 1 (its -∞-sentinel branch), everyone else 0
    sb ++= (if (personalized)
      ", v0 AS MATERIALIZED (SELECT v AS node, " +
        "CAST(CASE WHEN v = (SELECT MIN(src) FROM g) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS rank, " +
        "CAST(CASE WHEN v = (SELECT MIN(src) FROM g) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS delta, " +
        "TRUE AS active FROM n)"
    else
      ", v0 AS MATERIALIZED (SELECT v AS node, CAST(0.15 AS DOUBLE) AS rank, " +
        "CAST(0.15 AS DOUBLE) AS delta, TRUE AS active FROM n)")
    for (i <- 1 to iters) {
      sb ++= s", m$i AS MATERIALIZED (SELECT ne.dst, SUM(v.delta * ne.w) AS msg " +
        s"FROM v${i - 1} v JOIN ne ON ne.src = v.node " +
        s"WHERE v.active AND v.delta > $tol GROUP BY ne.dst)"
      sb ++= s", v$i AS MATERIALIZED (SELECT n.v AS node, " +
        "CASE WHEN m.msg IS NULL THEN v.rank ELSE v.rank + 0.85 * m.msg END AS rank, " +
        "CASE WHEN m.msg IS NULL THEN v.delta ELSE 0.85 * m.msg END AS delta, " +
        s"m.msg IS NOT NULL AS active FROM n JOIN v${i - 1} v ON v.node = n.v " +
        s"LEFT JOIN m$i m ON m.dst = n.v)"
    }
    // GraphX 4.x normalizeRankSum: ×n/Σ (standard) or ÷Σ (personalized)
    val scale = if (personalized) "rank / t.s" else "rank * t.cnt / t.s"
    sb ++= s", tot AS (SELECT SUM(rank) AS s, COUNT(*) AS cnt FROM v$iters)"
    sb ++= s" SELECT node, FLOOR($scale * 1000000 + 0.5) / 1000000 AS rank " +
      s"FROM v$iters, tot t ORDER BY node"
    sb.toString
  }

  /** Unrolled vector-batched multi-source personalized PageRank
    * (GraphX runParallelPersonalizedPageRank): the scalar personalized
    * loop per (node, source) — rank' = 0.15·1[node=source] + 0.85·msg —
    * followed by the method's final fold-and-divide, which normalizes
    * each source column by its TOTAL rank sum (this final division is
    * what round 1 mis-read as a ≈0.2 effective restart). */
  private[graft] def pprMultiSql(iters: Int, nsources: Int): String = {
    val sb = new StringBuilder(
      (edgeCte + nodeCte)
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED (")
        .replace("n AS (", "n AS MATERIALIZED ("))
    sb ++= s", ne AS MATERIALIZED ($neUnweighted)"
    sb ++= s", lm AS MATERIALIZED (SELECT v FROM n ORDER BY v LIMIT $nsources)"
    sb ++= ", p0 AS MATERIALIZED (SELECT n.v AS node, lm.v AS source, " +
      "CAST(CASE WHEN n.v = lm.v THEN 1.0 ELSE 0.0 END AS DOUBLE) AS rank " +
      "FROM n CROSS JOIN lm)"
    for (i <- 1 to iters)
      sb ++= s", p$i AS MATERIALIZED (SELECT b.node, b.source, " +
        "CAST(CASE WHEN b.node = b.source THEN 0.15 ELSE 0.0 END AS DOUBLE) " +
        "+ 0.85 * COALESCE(s.m, 0) AS rank FROM p0 b LEFT JOIN " +
        s"(SELECT ne.dst, p.source, SUM(p.rank * ne.w) AS m FROM p${i - 1} p " +
        "JOIN ne ON ne.src = p.node GROUP BY ne.dst, p.source) s " +
        "ON s.dst = b.node AND s.source = b.source)"
    sb ++= s" SELECT node, source, FLOOR(rank / SUM(rank) OVER (PARTITION BY source) " +
      s"* 1000000 + 0.5) / 1000000 AS rank FROM p$iters ORDER BY node, source"
    sb.toString
  }

  /** Unrolled Bellman–Ford oracle for WEIGHTED closeness: per round,
    * dist(v, l) relaxes over out-edges as min(dist, w(v,u) + dist(u, l))
    * — the same landmark-outward accumulation order as the Pregel, so
    * per-path float sums are bit-identical. `rounds` must cover the max
    * hop count of any weighted-shortest path; extra rounds are no-ops.
    * (A recursive CTE diverges here — cycles keep extending float paths —
    * but a round-bounded unroll with per-round MIN terminates by
    * construction.) */
  private[graft] def closenessWSql(nLandmarks: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      (edgeCte + nodeCte)
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED (")
        .replace("n AS (", "n AS MATERIALIZED ("))
    sb ++= s", lm AS MATERIALIZED (SELECT v FROM n ORDER BY v LIMIT $nLandmarks)"
    sb ++= ", d0 AS MATERIALIZED (SELECT v AS node, v AS landmark, " +
      "CAST(0 AS DOUBLE) AS dist FROM lm)"
    for (i <- 1 to rounds)
      sb ++= s", d$i AS MATERIALIZED (SELECT node, landmark, MIN(dist) AS dist FROM (" +
        s"SELECT node, landmark, dist FROM d${i - 1} " +
        s"UNION ALL SELECT g.src AS node, d.landmark, d.dist + g.weight AS dist " +
        s"FROM d${i - 1} d JOIN g ON g.dst = d.node) u GROUP BY node, landmark)"
    sb ++= s" SELECT node, FLOOR(SUM(1.0 / dist) / $nLandmarks * 1000000 + 0.5) / 1000000 " +
      s"AS closeness FROM d$rounds WHERE node <> landmark AND dist > 0 " +
      "GROUP BY node ORDER BY node"
    sb.toString
  }

  /** Maximal-clique oracle: enumerate ALL cliques as strictly-ascending
    * member lists via a recursive CTE (extend by a neighbor of the last
    * member adjacent to every earlier member), then keep k≥3 cliques with
    * no graph-wide extension vertex. Tractable here because the max
    * clique size is 4 (~60k cliques, <1 s); any extender must neighbor
    * mem[1], so the maximality probe scans one adjacency list. */
  /** Deterministic edge-subgraph variant of [[edgeCte]]/[[edgeCteRec]]
    * for the fuzz grid (round-11 directive #6 — the parameterless
    * families fuzz over the INPUT instead): the predicate
    * `(src + dst) % m <> r` lands in the pre-group WHERE (equivalent to
    * filtering the grouped output, since it only reads group keys) and
    * the final relation stays named `g`, so every family body composes
    * unchanged. The Spark side applies the same filter to the built
    * edge frame. */
  private[graft] def filteredCte(base: String, m: Int, r: Int): String =
    base.replace("WHERE src IS NOT NULL AND src <> dst ",
      s"WHERE src IS NOT NULL AND src <> dst AND (src + dst) % $m <> $r ")

  /** Keep-ONLY twin of [[filteredCte]]: retains just the (src + dst) %
    * m = r edge slice (~1/m of the graph). The drop-one form keeps the
    * graph connected, so connectivity-invariant families (components)
    * hash identically across its grid points; this sparse form
    * fragments the graph and makes those grids discriminating. */
  private[graft] def filteredCteKeep(base: String, m: Int, r: Int): String =
    base.replace("WHERE src IS NOT NULL AND src <> dst ",
      s"WHERE src IS NOT NULL AND src <> dst AND (src + dst) % $m = $r ")

  private[graft] def mceSql(cte: String = edgeCteRec): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g)" +
      ", sym AS (SELECT a AS src, b AS dst FROM u UNION SELECT b, a FROM u)" +
      ", cliq AS (SELECT b AS last, [a, b] AS mem FROM u " +
      "UNION ALL SELECT n2.b AS last, list_append(c.mem, n2.b) AS mem " +
      "FROM cliq c JOIN u n2 ON n2.a = c.last " +
      "WHERE NOT EXISTS (SELECT 1 FROM UNNEST(c.mem[:-2]) t(m) " +
      "WHERE NOT EXISTS (SELECT 1 FROM u x WHERE x.a = t.m AND x.b = n2.b)))" +
      // maximality as joins (deep correlated EXISTS trips the binder):
      // explode members, count per candidate w how many members it
      // neighbors — w adjacent to ALL k members extends the clique
      // (w ∈ mem is impossible there: no self-edges, so its count ≤ k−1)
      ", c3 AS (SELECT array_to_string(mem, ',') AS cid, len(mem) AS k FROM cliq " +
      "WHERE len(mem) >= 3)" +
      ", cm AS (SELECT cid, k, UNNEST(mem) AS m FROM " +
      "(SELECT array_to_string(mem, ',') AS cid, len(mem) AS k, mem FROM cliq " +
      "WHERE len(mem) >= 3) q)" +
      ", ext AS (SELECT cid FROM (SELECT cm.cid, cm.k, e.dst, COUNT(*) AS c " +
      "FROM cm JOIN sym e ON e.src = cm.m GROUP BY cm.cid, cm.k, e.dst) q " +
      "WHERE c = k) " +
      "SELECT cid AS members, CAST(k AS INTEGER) AS k FROM c3 " +
      "WHERE cid NOT IN (SELECT cid FROM ext) ORDER BY members"

  /** Weak-clique-expansion oracle: strong edges = symmetric pairs whose
    * endpoint neighbor lists (degree-capped at 64) share ≥ minCommon
    * nodes; a weak clique is a node plus its strong neighborhood,
    * deduplicated. Pure list algebra — mirrors Community.weakCliques. */
  private[graft] def wceSql(cte: String = edgeCte,
      minCommon: Int = 2): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g)" +
      ", sym AS (SELECT a AS src, b AS dst FROM u UNION SELECT b, a FROM u)" +
      ", nbrs AS (SELECT src AS n, LIST(DISTINCT dst ORDER BY dst) AS nb " +
      "FROM sym GROUP BY src HAVING COUNT(DISTINCT dst) <= 64)" +
      ", strong AS (SELECT s.src, s.dst FROM sym s " +
      "JOIN nbrs x ON x.n = s.src JOIN nbrs y ON y.n = s.dst " +
      s"WHERE len(list_intersect(x.nb, y.nb)) >= $minCommon)" +
      ", mems AS (SELECT DISTINCT list_sort(list_append(" +
      "LIST(DISTINCT dst ORDER BY dst), src)) AS members " +
      "FROM strong GROUP BY src) " +
      "SELECT members[1] AS clique_id, array_to_string(members, ',') AS members, " +
      "CAST(len(members) AS INTEGER) AS clique_size FROM mems ORDER BY clique_id, members"

  /** Unrolled replicable-walk oracle (companion of Node2Vec
    * .walksReplicable): per step, explode each walker's neighbor list
    * with ordinals, weight candidates with the Grover–Leskovec rule
    * (1/p if back to prev, 1 if adjacent to prev, 1/q otherwise — p, q
    * powers of two so the window cumulative sum is exact), and take the
    * first candidate whose cumsum crosses u·total, u drawn from the
    * SHA-256 of (walk_id|step). First hop (no prev) picks uniformly by
    * hash mod degree. Walkers on sink nodes stay put. */
  private[graft] def walksSql(numWalks: Int, walkLength: Int, p: Double,
      q: Double): String = {
    val sb = new StringBuilder(
      edgeCte
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED ("))
    sb ++= ", nbl AS MATERIALIZED (SELECT src, " +
      "list_sort(LIST(DISTINCT dst))[1:10000] AS nbrs FROM g GROUP BY src)"
    sb ++= s", w0 AS MATERIALIZED (SELECT src || '_' || wk AS walk_id, " +
      "src AS cur, CAST(NULL AS BIGINT) AS prev, CAST(src AS VARCHAR) AS path " +
      s"FROM (SELECT src, UNNEST(range(0, $numWalks)) AS wk FROM nbl) t0)"
    for (i <- 0 until walkLength) {
      val h = s"CAST(CONCAT('0x', SUBSTR(sha256(walk_id || '|$i'), 1, 15)) AS BIGINT)"
      val hj = h.replace("walk_id", "j.walk_id")
      sb ++= s", j$i AS MATERIALIZED (SELECT w.walk_id, w.cur, w.prev, w.path, " +
        "nb.nbrs, pn.nbrs AS pnbrs FROM w$I w ".replace("$I", i.toString) +
        "LEFT JOIN nbl nb ON nb.src = w.cur LEFT JOIN nbl pn ON pn.src = w.prev)"
      sb ++= s", c$i AS (SELECT walk_id, prev, pnbrs, nbrs, " +
        s"UNNEST(range(1, len(nbrs) + 1)) AS ord FROM j$i " +
        "WHERE nbrs IS NOT NULL AND prev IS NOT NULL)"
      sb ++= s", k$i AS (SELECT walk_id, ord, nbrs[ord] AS x, " +
        s"CASE WHEN nbrs[ord] = prev THEN ${1.0 / p} " +
        s"WHEN list_contains(COALESCE(pnbrs, []), nbrs[ord]) THEN 1.0 " +
        s"ELSE ${1.0 / q} END AS wgt FROM c$i)"
      sb ++= s", s$i AS (SELECT walk_id, x FROM (SELECT walk_id, x, " +
        "ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY ord) AS rn FROM (" +
        "SELECT walk_id, ord, x, SUM(wgt) OVER (PARTITION BY walk_id ORDER BY ord " +
        "ROWS UNBOUNDED PRECEDING) AS cum, SUM(wgt) OVER (PARTITION BY walk_id) AS tot, " +
        s"($h % 1000003 + 1) / 1000004.0 AS u FROM k$i) cc " +
        "WHERE cum >= u * tot) f WHERE rn = 1)"
      sb ++= s", w${i + 1} AS MATERIALIZED (SELECT j.walk_id, " +
        "CASE WHEN j.nbrs IS NULL THEN j.cur WHEN j.prev IS NULL THEN " +
        s"j.nbrs[CAST($hj % len(j.nbrs) AS INTEGER) + 1] ELSE s.x END AS cur, " +
        "j.cur AS prev, j.path || ',' || CAST(CASE WHEN j.nbrs IS NULL THEN j.cur " +
        s"WHEN j.prev IS NULL THEN j.nbrs[CAST($hj % len(j.nbrs) AS INTEGER) + 1] " +
        s"ELSE s.x END AS VARCHAR) AS path FROM j$i j " +
        s"LEFT JOIN s$i s ON s.walk_id = j.walk_id)"
    }
    sb ++= s" SELECT walk_id, path FROM w$walkLength ORDER BY walk_id"
    sb.toString
  }

  /** Unrolled synchronous-Louvain oracle (companion of
    * Iterative.louvainSync): per round, every node moves to the
    * candidate community maximizing the rounded gain score
    * k_{v,c} − deg_v·Σtot_c/2m (ties → smallest community). All sums are
    * integer-valued edge weights — exact in doubles — so the replica is
    * bit-identical. */
  private def louvainSyncCte(iters: Int): String = {
    val sb = new StringBuilder(
      edgeCte
        .replace("e0 AS (", "e0 AS MATERIALIZED (")
        .replace("g AS (", "g AS MATERIALIZED ("))
    sb ++= ", cu AS MATERIALIZED (SELECT LEAST(src, dst) AS src, " +
      "GREATEST(src, dst) AS dst, SUM(weight) AS weight FROM g GROUP BY 1, 2)"
    sb ++= ", sym AS MATERIALIZED (SELECT src, dst, weight FROM cu " +
      "UNION ALL SELECT dst, src, weight FROM cu)"
    sb ++= ", m2 AS (SELECT SUM(weight) AS m2 FROM sym)"
    sb ++= ", dg AS MATERIALIZED (SELECT src AS node, SUM(weight) AS deg " +
      "FROM sym GROUP BY src)"
    sb ++= ", l0 AS MATERIALIZED (SELECT node, node AS comm FROM dg)"
    for (i <- 1 to iters) {
      sb ++= s", cd$i AS MATERIALIZED (SELECT l.comm, SUM(d.deg) AS cdeg " +
        s"FROM l${i - 1} l JOIN dg d ON d.node = l.node GROUP BY l.comm)"
      sb ++= s", kv$i AS (SELECT s.src AS node, l.comm, SUM(s.weight) AS kvc " +
        s"FROM sym s JOIN l${i - 1} l ON l.node = s.dst GROUP BY s.src, l.comm)"
      sb ++= s", cand$i AS (SELECT node, comm, MAX(kvc) AS kvc FROM (" +
        s"SELECT node, comm, kvc FROM kv$i " +
        s"UNION ALL SELECT node, comm, 0.0 FROM l${i - 1}) q GROUP BY node, comm)"
      sb ++= s", b$i AS (SELECT node, comm AS best FROM (" +
        "SELECT c.node, c.comm, ROW_NUMBER() OVER (PARTITION BY c.node ORDER BY " +
        "FLOOR((c.kvc - d.deg * (cd.cdeg - CASE WHEN c.comm = cur.comm " +
        "THEN d.deg ELSE 0.0 END) / m2.m2) * 1000000 + 0.5) / 1000000 DESC, " +
        s"c.comm) AS rn FROM cand$i c JOIN cd$i cd ON cd.comm = c.comm " +
        s"JOIN dg d ON d.node = c.node JOIN l${i - 1} cur ON cur.node = c.node, m2) q " +
        "WHERE rn = 1)"
      // semi-synchronous: a (node, round) integer hash gates each move
      sb ++= s", l$i AS MATERIALIZED (SELECT p.node, " +
        s"CASE WHEN ((p.node * 1103515245 + ${i * 12345}) // 65536) % 2 = 0 " +
        s"THEN b.best ELSE p.comm END AS comm " +
        s"FROM l${i - 1} p JOIN b$i b ON b.node = p.node)"
    }
    sb.toString
  }

  private[graft] def louvainSyncSql(iters: Int): String =
    louvainSyncCte(iters) + s" SELECT node, comm FROM l$iters ORDER BY node"

  /** Hop-BFS oracle from the min src node, depth-limited (the pinned
    * graph_bfs shape, parameterized for the fuzz grid). */
  private[graft] def bfsSql(maxDepth: Int): String =
    edgeCteRec +
      ", d AS (SELECT (SELECT MIN(src) FROM g) AS node, 0 AS dist " +
      s"UNION SELECT g.dst, d.dist + 1 FROM d JOIN g ON g.src = d.node WHERE d.dist < $maxDepth) " +
      "SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM d GROUP BY node ORDER BY node"

  /** Landmark shortest-path oracle (GraphX ShortestPaths semantics),
    * landmarks = the `nLandmarks` smallest nodes. */
  private[graft] def ssspSql(nLandmarks: Int): String =
    edgeCteRec +
      s", lm AS (SELECT v FROM n ORDER BY v LIMIT $nLandmarks), " +
      "d AS (SELECT v AS node, v AS landmark, 0 AS dist FROM lm " +
      "UNION SELECT g.src, d.landmark, d.dist + 1 FROM d JOIN g ON g.dst = d.node " +
      "WHERE d.dist < 40) " +
      "SELECT node, landmark, CAST(MIN(dist) AS INTEGER) AS dist FROM d " +
      "GROUP BY node, landmark ORDER BY node, landmark"

  /** Hop-closeness oracle over the `nLandmarks` smallest landmarks. */
  private[graft] def closenessSql(nLandmarks: Int): String =
    edgeCteRec +
      s", lm AS (SELECT v FROM n ORDER BY v LIMIT $nLandmarks), " +
      "d AS (SELECT v AS node, v AS landmark, 0 AS dist FROM lm " +
      "UNION SELECT g.src, d.landmark, d.dist + 1 FROM d JOIN g ON g.dst = d.node " +
      "WHERE d.dist < 40), " +
      "md AS (SELECT node, landmark, MIN(dist) AS dist FROM d " +
      "WHERE node <> landmark GROUP BY node, landmark) " +
      s"SELECT node, FLOOR(SUM(1.0 / dist) / $nLandmarks * 1000000 + 0.5) / 1000000 " +
      "AS closeness FROM md WHERE dist > 0 GROUP BY node ORDER BY node"

  /** Modularity oracle over the deterministic node-mod-`m` community
    * assignment (the pinned graph_modularity shape). */
  private[graft] def modularitySql(m: Int): String =
    edgeCte +
      ", m AS (SELECT SUM(weight) AS m FROM g), " +
      s"p AS (SELECT src % $m AS cs, dst % $m AS cd, weight FROM g), " +
      "intra AS (SELECT cs AS community, SUM(weight) AS e_c FROM p WHERE cs = cd GROUP BY cs), " +
      "od AS (SELECT cs AS community, SUM(weight) AS out_c FROM p GROUP BY cs), " +
      "id AS (SELECT cd AS community, SUM(weight) AS in_c FROM p GROUP BY cd) " +
      "SELECT FLOOR(SUM(COALESCE(e_c, 0) / m.m - " +
      "COALESCE(out_c, 0) * COALESCE(in_c, 0) / (m.m * m.m)) * 1000000 + 0.5) / 1000000 " +
      "AS modularity FROM od FULL JOIN id USING (community) " +
      "LEFT JOIN intra USING (community), m"

  /** Rotation-canonical directed-3-cycle oracle, optionally constrained
    * to the consecutive-weight rate band [minRate·w_prev, maxRate·w_prev]
    * (the pinned graph_cycles / graph_cycles_rate shapes). */
  private[graft] def cyclesSql(minRate: Double, maxRate: Double): String = {
    val band =
      if (minRate <= 0.0 && maxRate.isPosInfinity) ""
      else s"AND y.weight >= x.weight * $minRate AND y.weight <= x.weight * $maxRate " +
        s"AND z.weight >= y.weight * $minRate AND z.weight <= y.weight * $maxRate "
    edgeCte +
      "SELECT CONCAT(x.src, ',', x.dst, ',', y.dst) AS cycle, " +
      "CAST(3 AS INTEGER) AS length FROM g x " +
      "JOIN g y ON y.src = x.dst JOIN g z ON z.src = y.dst AND z.dst = x.src " +
      "WHERE x.dst > x.src AND y.dst > x.src AND y.dst <> x.dst " +
      band + "ORDER BY cycle"
  }

  /** 1/outdegree transition weights (the unweighted PageRank family). */
  private[graft] val neUnweighted =
    "SELECT g.src, g.dst, 1.0 / d.od AS w FROM g JOIN " +
      "(SELECT src, COUNT(*) AS od FROM g GROUP BY src) d ON d.src = g.src"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_edges" -> ((s, d) => edges(s, d).orderBy("src", "dst")),
    "graph_degree" -> ((s, d) => Builtins.degrees(s, graph(s, d))),
    "graph_triangle_total" -> ((s, d) => Builtins.triangleTotal(s, ugraph(s, d))),
    "graph_triangles" -> ((s, d) => Builtins.triangleCounts(s, ugraph(s, d))),
    "graph_clustering_coef" -> ((s, d) =>
      Builtins.clusteringCoefficient(s, ugraph(s, d))),
    "graph_pagerank" -> ((s, d) => Builtins.pageRank(s, transitions(s, d), 10)),
    "graph_pagerank_conv" -> ((s, d) =>
      Builtins.pageRankUntilConvergence(s, graph(s, d), 1e-4)),
    "graph_ppr" -> ((s, d) => Builtins.personalizedPageRank(s,
      transitions(s, d), LocalGraph.Pick.MinSource, 10)),
    "graph_ppr_multi" -> ((s, d) => {
      // stock GraphX vector-batched variant, adjudicated through
      // GraphChecks: its replicated triplet view displaces distribution
      // mass vs the _sync companion (an engine artifact no external
      // oracle can replay trajectory-for-trajectory), so the check is
      // the reference's ranking methodology — top-5 overlap + mass
      // conservation — against a constant-truth oracle.
      val e = edgesChk(s, d)
      GraphChecks.pprMulti(s, e, smallestNodes(e, 4), 10,
        Some(pprMultiSyncShared(s, d, Some(e))))
    }),
    "graph_ppr_multi_sync" -> ((s, d) => pprMultiSyncShared(s, d)),
    "graph_ppr_conv" -> ((s, d) => pprConv(s, edgesChk(s, d), 1e-4)),
    "graph_wpr" -> ((s, d) =>
      Iterative.weightedPageRank(s, transitions(s, d), 10)),
    "graph_trustrank" -> ((s, d) => Iterative.trustRank(s, transitions(s, d),
      LocalGraph.Pick.Smallest(5), 10)),
    "graph_incpr" -> ((s, d) =>
      Iterative.incrementalPageRank(s, transitions(s, d), 5, 5)),
    "graph_bfs" -> ((s, d) =>
      Iterative.bfs(s, transitions(s, d), LocalGraph.Pick.MinSource, 10)),
    "graph_sssp" -> ((s, d) => {
      val e = edgesChk(s, d)
      Builtins.shortestPaths(s, GraphSource.toGraph(e), smallestNodes(e, 3))
    }),
    "graph_cc" -> ((s, d) => Builtins.connectedComponents(s, graph(s, d))),
    "graph_scc" -> ((s, d) =>
      Builtins.stronglyConnectedComponents(s, graph(s, d), 10)),
    // async GraphX LPA adjudicated against the _sync twin's community
    // count (GraphChecks verdict rows, constant-truth oracle)
    "graph_lpa" -> ((s, d) => {
      val e = edgesChk(s, d)
      GraphChecks.lpa(s, e, 5, Some(lpaSyncShared(s, d, Some(e))))
    }),
    "graph_lpa_sync" -> ((s, d) => lpaSyncShared(s, d)),
    "graph_louvain_sync" -> ((s, d) => louvainSyncShared(s, d)),
    "graph_kcore" -> ((s, d) => Iterative.kCore(s, transitions(s, d))),
    "graph_modularity" -> ((s, d) => {
      // deterministic hash-partition assignment (node mod 16) so the
      // modularity aggregate itself is what the DuckDB oracle checks
      val e = edgesChk(s, d)
      val comm = e.select(col("src").as("node"))
        .union(e.select(col("dst"))).distinct()
        .select(col("node"), pmod(col("node"), lit(16)).as("community"))
      Iterative.modularity(s, e, comm)
    }),
    "graph_louvain" -> ((s, d) => {
      // stock Louvain adjudicated by modularity agreement with the
      // oracle-checked _sync sweep (both are local-move optima of the
      // same objective; the oracle-checked modularity op scores both)
      val e = GraphSource.canonicalUndirected(edges(s, d)).localCheckpoint()
      GraphChecks.louvain(s, e, Some(louvainSyncShared(s, d, Some(e))))
    }),
    "graph_wce" -> ((s, d) =>
      // members serialized at the query boundary: the driver's compare
      // cannot hash array cells (round-1 `err`); typed array stays internal
      Community.weakCliques(s, GraphSource.canonicalUndirected(edges(s, d)),
        minCommon = 2)
        .select(col("clique_id"), concat_ws(",", col("members")).as("members"),
          col("clique_size"))),
    "graph_closeness" -> ((s, d) => {
      val e = edgesChk(s, d)
      Centrality.closeness(s, GraphSource.toGraph(e), smallestNodes(e, 8))
    }),
    "graph_betweenness" -> ((s, d) => {
      // batched Brandes makes the source sample nearly free: 8 sources
      // cost one level-synchronous pass, same as 1
      val e = edgesChk(s, d)
      Centrality.betweenness(s, e, smallestNodes(e, 8))
    }),
    "graph_cycles" -> ((s, d) =>
      Motifs.cycles(s, edges(s, d), minLoop = 3, maxLoop = 3)
        .select(concat_ws(",", col("cycle")).as("cycle"), col("length"))
        .orderBy("cycle")),
    "graph_cycles_rate" -> ((s, d) =>
      // flow-consistency constrained variant: consecutive edge weights
      // within a 2× band (C19's minRate/maxRate surface)
      Motifs.cycles(s, edges(s, d), minLoop = 3, maxLoop = 3,
        minRate = 0.5, maxRate = 2.0)
        .select(concat_ws(",", col("cycle")).as("cycle"), col("length"))
        .orderBy("cycle")),
    "graph_closeness_w" -> ((s, d) => {
      val e = edgesChk(s, d)
      Centrality.closeness(s, GraphSource.toGraph(e), smallestNodes(e, 8),
        weighted = true)
    }),
    "graph_mce" -> ((s, d) =>
      Motifs.maximalCliques(s, GraphSource.canonicalUndirected(edges(s, d)))
        .select(concat_ws(",", col("members")).as("members"), col("k"))
        .orderBy("members")),
    "graph_subgraph_tri" -> ((s, d) => {
      // ordered triangle embeddings over the undirected view = 6 ×
      // triangles; the v0<v1<v2 symmetry-break + |Aut|=6 rescale keeps
      // the join intermediate at 1/6 of the ordered enumeration
      // both und references live in one plan — exchange reuse dedups
      // them; an eager checkpoint probed 1.16x here (r14 opt round)
      val und = GraphSource.canonicalUndirected(edges(s, d))
      val sym = und.select(col("src"), col("dst"))
        .union(und.select(col("dst"), col("src")))
        .withColumn("weight", lit(1.0))
      Motifs.subgraphCount(s, sym, Seq((0, 1), (1, 2), (2, 0)),
        lessThan = Seq((0, 1), (1, 2)), automorphisms = 6)
    }),
    "graph_node2vec" -> ((s, d) =>
      // biased second-order walks (return-averse, exploration-prone) —
      // the reference's p/q surface (`Node2VecRunner.scala:72-73`);
      // the Word2Vec fit is adjudicated by GraphChecks surface
      // invariants (the SAMPLER is oracle-checked via graph_walks_det)
      GraphChecks.node2vec(s, edgesChk(s, d))),
    "graph_walks_det" -> ((s, d) =>
      // the walk sampler itself, on the replicable-draw path — the
      // oracle-checked half of C22 (Word2Vec stays rows-only)
      Node2Vec.walksReplicable(s, edges(s, d), numWalks = 2,
        walkLength = 6, p = 2.0, q = 0.5)),
    "graph_adapter" -> ((s, d) => {
      // string-keyed nation→region graph through the encode/decode adapter
      val e = Tables(s, d, "nation")
        .join(Tables(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("src"), col("r_name").as("dst"),
          lit(1.0).as("weight"))
      val (enc, dict) = GraphSource.encodeStringEdges(s, e)
      val deg = Builtins.degrees(s, GraphSource.toGraph(enc))
      GraphSource.decode(deg, dict, "node")
        .select(col("node_name").as("name"), col("degree"))
        .orderBy("name")
    }))

  val oracle: Map[String, String] = Map(
    // verdicts for the GraphChecks-wrapped stock GraphX fits (tolerance
    // methodology — see GraphChecks). lpa/louvain are VALUE verdicts:
    // DuckDB replays the deterministic sync twin itself and recomputes
    // the companion metric the check compares against.
    "graph_lpa" -> graft.core.VerifyUtils.valueVerdictSql(
      Seq("lpa_labels_every_node", "lpa_community_count_within_3x_of_sync"),
      Seq("SELECT 'lpa_vertex_count' AS metric, " +
        "CAST(COUNT(*) AS DOUBLE) AS value FROM " +
        "(SELECT src AS v FROM g UNION SELECT dst FROM g) nv",
        "SELECT 'lpa_sync_community_count' AS metric, " +
        "CAST(COUNT(DISTINCT label) AS DOUBLE) AS value FROM l5"),
      ctePrefix = lpaSyncCte(5)),
    "graph_louvain" -> graft.core.VerifyUtils.valueVerdictSql(
      Seq("louvain_modularity_positive",
        "louvain_modularity_within_05_of_sync"),
      Seq("SELECT 'louvain_sync_modularity' AS metric, " +
        "FLOOR(SUM(COALESCE(e_c, 0) / mm.m - " +
        "COALESCE(out_c, 0) * COALESCE(in_c, 0) / (mm.m * mm.m)) " +
        "* 1000000 + 0.5) / 1000000 AS value FROM " +
        "(SELECT c_src AS community, SUM(weight) AS out_c FROM me " +
        "GROUP BY c_src) od " +
        "FULL JOIN (SELECT c_dst AS community, SUM(weight) AS in_c " +
        "FROM me GROUP BY c_dst) id USING (community) " +
        "LEFT JOIN (SELECT c_src AS community, SUM(weight) AS e_c " +
        "FROM me WHERE c_src = c_dst GROUP BY c_src) intra " +
        "USING (community), mm"),
      // the sync sweep's final partition l8, its labeled edge frame and
      // total weight — the same directed-modularity shape as the
      // graph_modularity oracle, scored over the sym edge set
      ctePrefix = louvainSyncCte(8) +
        ", mcomm AS (SELECT node, comm AS community FROM l8)" +
        ", me AS MATERIALIZED (SELECT s.src, s.dst, s.weight, " +
        "cs.community AS c_src, cd.community AS c_dst FROM sym s " +
        "JOIN mcomm cs ON cs.node = s.src " +
        "JOIN mcomm cd ON cd.node = s.dst)" +
        ", mm AS (SELECT SUM(weight) AS m FROM me)"),
    "graph_node2vec" -> graft.core.VerifyUtils.valueVerdictSql(
      Seq("node2vec_emits_coordinates", "node2vec_covers_walked_vertices",
        "node2vec_vectors_finite_nonzero"),
      Seq("SELECT 'node2vec_graph_vertices' AS metric, " +
        "CAST(COUNT(*) AS DOUBLE) AS value FROM " +
        "(SELECT src AS v FROM g UNION SELECT dst FROM g) nv"),
      ctePrefix = edgeCte),
    "graph_ppr_multi" -> graft.core.VerifyUtils.valueVerdictSql(
      Seq("ppr_multi_all_sources_ranked", "ppr_multi_mass_normalized_1pct",
        "ppr_multi_top5_overlap_ge_3of5", "ppr_multi_spearman_ge_085",
        "ppr_multi_ranks_all_vertices"),
      Seq("SELECT 'ppr_multi_vertex_count' AS metric, " +
        "CAST(COUNT(*) AS DOUBLE) AS value FROM " +
        "(SELECT src AS v FROM g UNION SELECT dst FROM g) nv"),
      ctePrefix = edgeCte),
    "graph_edges" ->
      (edgeCte + "SELECT src, dst, weight FROM g ORDER BY src, dst"),
    "graph_degree" -> degreeSql(),
    "graph_triangle_total" -> triangleTotalSql(),
    "graph_subgraph_tri" -> subgraphTriSql(),
    "graph_adapter" ->
      ("WITH e AS (SELECT n_name AS src, r_name AS dst FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey) " +
        "SELECT name, CAST(COUNT(*) AS INTEGER) AS degree FROM " +
        "(SELECT src AS name FROM e UNION ALL SELECT dst FROM e) t " +
        "GROUP BY name ORDER BY name"),
    // directed 3-cycles, rotation-canonical (path starts at its min vertex)
    "graph_cycles" -> cyclesSql(0.0, Double.PositiveInfinity),
    "graph_cycles_rate" -> cyclesSql(0.5, 2.0),
    "graph_triangles" -> trianglesSql(),
    "graph_modularity" -> modularitySql(16),
    // hop BFS from the min src node, depth-limited to 10 like the query
    "graph_bfs" -> bfsSql(maxDepth = 10),
    // node→landmark hop distances along edge direction (GraphX
    // ShortestPaths semantics), landmarks = 3 smallest nodes
    "graph_sssp" -> ssspSql(nLandmarks = 3),
    "graph_closeness" -> closenessSql(nLandmarks = 8),
    "graph_betweenness" -> betweennessSql(sources = 8, levels = 6),
    "graph_kcore" -> kcoreSql(maxK = 36, rounds = 16),
    "graph_clustering_coef" -> clusteringCoefSql(),
    "graph_lpa_sync" -> lpaSyncSql(5),
    "graph_ppr_multi_sync" -> pprMultiSql(iters = 10, nsources = 4),
    "graph_closeness_w" -> closenessWSql(nLandmarks = 8, rounds = 20),
    "graph_walks_det" -> walksSql(numWalks = 2, walkLength = 6, p = 2.0, q = 0.5),
    "graph_louvain_sync" -> louvainSyncSql(8),
    "graph_mce" -> mceSql(),
    "graph_wce" -> wceSql(),
    "graph_pagerank_conv" -> prConvSql(tol = 1e-4, iters = 100),
    "graph_ppr_conv" -> prConvSql(tol = 1e-4, iters = 100, personalized = true),
    "graph_pagerank" ->
      rankIterSql(neUnweighted, 10, "1.0", "0.15", "rank"),
    "graph_wpr" ->
      rankIterSql(
        "SELECT g.src, g.dst, g.weight / d.ow AS w FROM g JOIN " +
          "(SELECT src, SUM(weight) AS ow FROM g GROUP BY src) d ON d.src = g.src",
        10, "1.0", "0.15", "rank"),
    "graph_trustrank" ->
      rankIterSql(neUnweighted, 10,
        "CASE WHEN v IN (SELECT v FROM lm) THEN 0.2 ELSE 0 END",
        "CASE WHEN n.v IN (SELECT v FROM lm) THEN 0.03 ELSE 0 END",
        "trust",
        extraCte = ", lm AS (SELECT v FROM n ORDER BY v LIMIT 5)"),
    // prior = 5 iterations ROUNDED to 1e-6 (the query feeds the rounded
    // prior frame back in), then 5 incremental iterations
    "graph_incpr" ->
      rankIterSql(neUnweighted, 10, "1.0", "0.15", "rank", roundAt = 5),
    "graph_ppr" ->
      rankIterSql(neUnweighted, 10,
        "CASE WHEN v = (SELECT MIN(src) FROM g) THEN 1.0 ELSE 0 END",
        "CASE WHEN n.v = (SELECT MIN(src) FROM g) THEN 0.15 ELSE 0 END",
        "rank"),
    // SCC label = min id over the mutually-reachable set (GraphX's
    // labeling), via the directed reachability closure joined with its
    // own transpose
    "graph_scc" -> sccSql(),
    // undirected reachability closure; component label = min reachable id
    "graph_cc" -> ccSql())

  private[graft] def degreeSql(cte: String = edgeCte): String =
    cte +
      "SELECT COALESCE(i.node, o.node) AS node, " +
      "COALESCE(i.in_deg, 0) AS in_deg, COALESCE(o.out_deg, 0) AS out_deg, " +
      "COALESCE(i.in_deg, 0) + COALESCE(o.out_deg, 0) AS degree FROM " +
      "(SELECT dst AS node, CAST(COUNT(*) AS INTEGER) AS in_deg FROM g GROUP BY dst) i " +
      "FULL JOIN (SELECT src AS node, CAST(COUNT(*) AS INTEGER) AS out_deg " +
      "FROM g GROUP BY src) o ON i.node = o.node ORDER BY node"

  private[graft] def triangleTotalSql(cte: String = edgeCte): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS triangles FROM u x " +
      "JOIN u y ON y.a = x.b JOIN u z ON z.a = x.a AND z.b = y.b"

  private[graft] def subgraphTriSql(cte: String = edgeCte): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g) " +
      "SELECT CAST(COUNT(*) * 6 AS BIGINT) AS matches FROM u x " +
      "JOIN u y ON y.a = x.b JOIN u z ON z.a = x.a AND z.b = y.b"

  private[graft] def trianglesSql(cte: String = edgeCte): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g), " +
      "n AS (SELECT src AS v FROM g UNION SELECT dst FROM g), " +
      "tri AS (SELECT x.a, x.b, y.b AS c FROM u x " +
      "JOIN u y ON y.a = x.b JOIN u z ON z.a = x.a AND z.b = y.b), " +
      "tv AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) " +
      "SELECT n.v AS node, CAST(COUNT(tv.v) AS INTEGER) AS triangles " +
      "FROM n LEFT JOIN tv ON tv.v = n.v GROUP BY n.v ORDER BY node"

  private[graft] def clusteringCoefSql(cte: String = edgeCte): String =
    cte +
      ", u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM g), " +
      "n AS (SELECT src AS v FROM g UNION SELECT dst FROM g), " +
      "deg AS (SELECT v, COUNT(*) AS d FROM " +
      "(SELECT a AS v FROM u UNION ALL SELECT b FROM u) dv GROUP BY v), " +
      "tri AS (SELECT x.a, x.b, y.b AS c FROM u x " +
      "JOIN u y ON y.a = x.b JOIN u z ON z.a = x.a AND z.b = y.b), " +
      "tv AS (SELECT v, COUNT(*) AS t FROM " +
      "(SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) tt " +
      "GROUP BY v) " +
      // CAST keeps Spark SQL on DOUBLE (its CASE would otherwise widen
      // to DECIMAL and the cross-check string-compare sees 0.229420)
      "SELECT n.v AS node, CAST(CASE WHEN COALESCE(deg.d, 0) >= 2 THEN " +
      "FLOOR(COALESCE(tv.t, 0) * 2.0 / (deg.d * (deg.d - 1)) * 1000000 + 0.5) / 1000000 " +
      "ELSE 0.0 END AS DOUBLE) AS local_cc FROM n LEFT JOIN deg ON deg.v = n.v " +
      "LEFT JOIN tv ON tv.v = n.v ORDER BY node"

  /** SCC label = min id over the mutually-reachable set (GraphX's
    * labeling), via the directed reachability closure joined with its
    * own transpose. */
  private[graft] def sccSql(cte: String = edgeCteRec): String =
    cte +
      ", r AS (SELECT v AS node, v AS reach FROM n " +
      "UNION SELECT r.node, g.dst FROM r JOIN g ON g.src = r.reach) " +
      "SELECT a.node, MIN(a.reach) AS component FROM r a " +
      "JOIN r b ON a.reach = b.node AND b.reach = a.node " +
      "GROUP BY a.node ORDER BY a.node"

  private[graft] def ccSql(cte: String = edgeCteRec): String =
    cte +
      ", und AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM g " +
      "UNION ALL SELECT dst AS src, src AS dst FROM g) uu), " +
      "r AS (SELECT v AS node, v AS reach FROM n " +
      "UNION SELECT r.node, u.dst FROM r JOIN und u ON u.src = r.reach) " +
      "SELECT node, MIN(reach) AS component FROM r GROUP BY node ORDER BY node"
}
