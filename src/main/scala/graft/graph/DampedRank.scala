package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The damped-rank kernel behind every static-iteration rank query:
  * PageRank, personalized PageRank, weighted PageRank, TrustRank and
  * incremental PageRank with its prior. Each iteration is
  * rank'(v) = reset(v) + (1−α)·Σ_{u→v} rank(u)·f(u→v), where f is
  * 1/out-degree(u), or weight/out-weight(u) when weighted.
  *
  * It is a client of [[LocalGraph]]: the graph is built, seeds are
  * picked and every iteration and the normalization run inside one task
  * (one Spark job), and only the vertex ids and ranks come back. Rank
  * state is one dense array over the sorted vertex ids.
  *
  * It reproduces GraphX's static `PageRank.runWithOptions` arithmetic:
  * the vertex set is every edge endpoint, parallel edges and self-loops
  * each contribute, each edge's factor is precomputed so a contribution
  * is the same IEEE product GraphX forms, and each vertex sums its
  * contributions in (src, dst) edge order, the order of a one-partition
  * GraphX edge partition.
  */
private[graft] object DampedRank {

  /** The vertex ids ascending, their ranks (unrounded), the L1 change
    * Σ|rank' − rank| of each iteration (the prior's iterations first) and
    * the seeds the run personalized to. */
  final case class RankRun(ids: Array[Long], ranks: Array[Double],
      deltas: Array[Double], seeds: Set[Long])

  /** One query's run: `iters` iterations with reset probability
    * `resetProb`. `seeds`, picked in the task, personalizes it: init
    * 1/|seeds| and reset resetProb/|seeds| at each seed, 0 elsewhere (one
    * seed is the personalized PageRank); without seeds every vertex
    * starts at 1.0 and resets resetProb. `normalize` applies GraphX's
    * `normalizeRankSum`: rank·|V|/Σ, or rank/Σ when personalized.
    * `priorIters > 0` (unseeded only) first runs that many normalized
    * PageRank iterations, rounded to 1e-6, as the start (incremental
    * PageRank). */
  final case class Spec(iters: Int, resetProb: Double,
      weighted: Boolean = false, seeds: Option[LocalGraph.Pick] = None,
      normalize: Boolean = false, priorIters: Int = 0) {
    require(iters >= 0 && priorIters >= 0,
      s"rank iterations must be >= 0, got $iters (prior $priorIters)")
    require(resetProb >= 0 && resetProb <= 1,
      s"reset probability must be in [0, 1], got $resetProb")
  }

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The whole run over `g`: per-edge factors, the iteration loop and
    * normalization. */
  private def solve(g: LocalGraph, spec: Spec): RankRun = {
    val n = g.numVertices
    val (s, d) = (g.src, g.dst)
    val outW = new Array[Double](n)
    if (spec.weighted) for (k <- s.indices) outW(s(k)) += g.weight(k)
    val f = Array.tabulate(s.length) { k =>
      if (!spec.weighted) 1.0 / g.outDegree(s(k))
      else if (outW(s(k)) > 0) g.weight(k) / outW(s(k)) else 0.0
    }
    val damp = 1 - spec.resetProb
    val deltas = ArrayBuffer.empty[Double]
    def loop(start: Array[Double], reset: Array[Double], iters: Int) =
      (1 to iters).foldLeft(start) { (ranks, _) =>
        val acc = new Array[Double](n)
        var k = 0
        while (k < s.length) {
          acc(d(k)) += ranks(s(k)) * f(k)
          k += 1
        }
        val next = Array.tabulate(n)(v => reset(v) + damp * acc(v))
        deltas += next.indices.map(v => math.abs(next(v) - ranks(v))).sum
        next
      }
    // GraphX's normalizeRankSum: the sum folds from 0.0
    def normalized(ranks: Array[Double], personalized: Boolean) = {
      val sum = ranks.foldLeft(0.0)(_ + _)
      if (personalized) ranks.map(_ / sum)
      else { val c = n.toDouble / sum; ranks.map(_ * c) }
    }
    val seeds = spec.seeds.map(_(g))
    val (init, reset) = seeds match {
      case Some(seeds) =>
        val mass = 1.0 / seeds.size
        (g.ids.map(v => if (seeds(v)) mass else 0.0),
          g.ids.map(v => if (seeds(v)) spec.resetProb * mass else 0.0))
      case None => (Array.fill(n)(1.0), Array.fill(n)(spec.resetProb))
    }
    val start =
      if (spec.priorIters == 0) init
      else normalized(loop(init, reset, spec.priorIters), false).map(r6)
    val ranks = loop(start, reset, spec.iters)
    RankRun(g.ids,
      if (spec.normalize) normalized(ranks, spec.seeds.isDefined) else ranks,
      deltas.toArray, seeds.getOrElse(Set.empty))
  }

  /** Runs `spec` over `graph` in one task. */
  def run(graph: LocalGraph.Reader, spec: Spec): RankRun =
    LocalGraph.run(graph)(solve(_, spec))

  /** Fails naming every seed that is not a vertex of a non-empty run. */
  def requireSeeds(run: RankRun, what: String): Unit =
    if (run.ids.nonEmpty) {
      val missing = run.seeds
        .filter(v => java.util.Arrays.binarySearch(run.ids, v) < 0).toSeq.sorted
      require(missing.isEmpty,
        s"$what ${missing.mkString(", ")} not a vertex of the graph")
    }

  /** `(node, name)` rows in node order, ranks rounded to 1e-6. */
  def frame(spark: SparkSession, run: RankRun, name: String): DataFrame =
    LocalGraph.frame(spark,
      run.ids.indices.map(i => Row(run.ids(i), r6(run.ranks(i)))),
      "node" -> LongType, name -> DoubleType)
}
