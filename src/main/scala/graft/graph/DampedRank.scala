package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The damped-rank kernel behind every static-iteration rank query:
  * PageRank, personalized PageRank, weighted PageRank, TrustRank and
  * incremental PageRank with its prior. Each iteration is
  * rank'(v) = reset(v) + (1−α)·Σ_{u→v} rank(u)·f(u→v), where f is
  * 1/out-degree(u), or weight/out-weight(u) when weighted.
  *
  * It reproduces GraphX's static `PageRank.runWithOptions` arithmetic:
  * the vertex set is every edge endpoint, parallel edges and self-loops
  * each contribute, each edge's factor is precomputed so a contribution
  * is the same IEEE product GraphX forms, and each vertex sums its
  * contributions in (src, dst) edge order, the order of a one-partition
  * GraphX edge partition. Rank state is one dense array over the sorted
  * vertex ids.
  *
  * The whole run (degrees, every iteration, normalization) is one task
  * over all the edges, coalesced into it: one Spark job. Measured on the
  * sf0.1 part-transition graph (~450k edges) this single-threaded loop
  * beats GraphX's parallel rounds, so there is no distributed placement.
  */
private[graft] object DampedRank {

  /** The vertex ids ascending, their ranks (unrounded) and the L1 change
    * Σ|rank' − rank| of each iteration, the prior's iterations first. */
  final case class RankRun(ids: Array[Long], ranks: Array[Double],
      deltas: Array[Double])

  /** One query's run: `iters` iterations with reset probability
    * `resetProb`. `seeds` personalizes it: init 1/|seeds| and reset
    * resetProb/|seeds| at each seed, 0 elsewhere (one seed is the
    * personalized PageRank); without seeds every vertex starts at 1.0
    * and resets resetProb. `normalize` applies GraphX's
    * `normalizeRankSum`: rank·|V|/Σ, or rank/Σ when personalized.
    * `priorIters > 0` (unseeded only) first runs that many normalized
    * PageRank iterations, rounded to 1e-6, as the start (incremental
    * PageRank). */
  final case class Spec(iters: Int, resetProb: Double,
      weighted: Boolean = false, seeds: Option[Set[Long]] = None,
      normalize: Boolean = false, priorIters: Int = 0) {
    require(iters >= 0 && priorIters >= 0,
      s"rank iterations must be >= 0, got $iters (prior $priorIters)")
    require(resetProb >= 0 && resetProb <= 1,
      s"reset probability must be in [0, 1], got $resetProb")
  }

  private def index(ids: Array[Long], v: Long): Int =
    java.util.Arrays.binarySearch(ids, v)

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The iteration loop and normalization over one contribution pass,
    * which maps ranks to the per-vertex sums of incoming contributions. */
  private def solve(ids: Array[Long], spec: Spec,
      contributions: Array[Double] => Array[Double]): RankRun = {
    val n = ids.length
    val damp = 1 - spec.resetProb
    val deltas = ArrayBuffer.empty[Double]
    def loop(start: Array[Double], reset: Array[Double], iters: Int) =
      (1 to iters).foldLeft(start) { (ranks, _) =>
        val acc = contributions(ranks)
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
    val (init, reset) = spec.seeds match {
      case Some(seeds) =>
        val mass = 1.0 / seeds.size
        (ids.map(v => if (seeds(v)) mass else 0.0),
          ids.map(v => if (seeds(v)) spec.resetProb * mass else 0.0))
      case None => (Array.fill(n)(1.0), Array.fill(n)(spec.resetProb))
    }
    val start =
      if (spec.priorIters == 0) init
      else normalized(loop(init, reset, spec.priorIters), false).map(r6)
    val ranks = loop(start, reset, spec.iters)
    RankRun(ids,
      if (spec.normalize) normalized(ranks, spec.seeds.isDefined) else ranks,
      deltas.toArray)
  }

  /** `order` stably sorted by `key(i)`, a vertex index in [0, n): one
    * counting-sort pass. */
  private def byVertex(order: Array[Int], key: Array[Int], n: Int): Array[Int] = {
    val start = new Array[Int](n + 1)
    order.foreach(i => start(key(i) + 1) += 1)
    for (v <- 1 to n) start(v) += start(v - 1)
    val out = new Array[Int](order.length)
    order.foreach { i => out(start(key(i))) = i; start(key(i)) += 1 }
    out
  }

  /** The whole run over all edges: vertex ids, out-degrees and
    * out-weights, per-edge factors, then [[solve]]. */
  private def runLocal(src: Array[Long], dst: Array[Long], w: Array[Double],
      spec: Spec): RankRun = {
    val ids = (src ++ dst).distinct.sorted
    val n = ids.length
    val s0 = src.map(index(ids, _))
    val d0 = dst.map(index(ids, _))
    // (src, dst) order, parallel edges keeping theirs: GraphX's edge order
    val order = byVertex(byVertex(Array.range(0, src.length), d0, n), s0, n)
    val s = order.map(s0)
    val d = order.map(d0)
    val ew = order.map(w)
    val outDeg = new Array[Int](n)
    val outW = new Array[Double](n)
    for (k <- s.indices) { outDeg(s(k)) += 1; outW(s(k)) += ew(k) }
    val f = Array.tabulate(s.length) { k =>
      if (!spec.weighted) 1.0 / outDeg(s(k))
      else if (outW(s(k)) > 0) ew(k) / outW(s(k)) else 0.0
    }
    solve(ids, spec, ranks => {
      val acc = new Array[Double](n)
      var k = 0
      while (k < s.length) {
        acc(d(k)) += ranks(s(k)) * f(k)
        k += 1
      }
      acc
    })
  }

  /** Runs `spec` over the `(src, dst, weight)` edges in one task. */
  def run(edges: DataFrame, spec: Spec): RankRun =
    edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double")).rdd
      .coalesce(1)
      .mapPartitions { rows =>
        val (s, d, w) = (ArrayBuffer.empty[Long], ArrayBuffer.empty[Long],
          ArrayBuffer.empty[Double])
        rows.foreach { r => s += r.getLong(0); d += r.getLong(1); w += r.getDouble(2) }
        Iterator(runLocal(s.toArray, d.toArray, w.toArray, spec))
      }
      .take(1).headOption.getOrElse(solve(Array.empty, spec, identity))

  /** Fails naming every seed that is not a vertex of a non-empty run. */
  def requireVertices(run: RankRun, seeds: Iterable[Long], what: String): Unit =
    if (run.ids.nonEmpty) {
      val missing = seeds.filter(v => index(run.ids, v) < 0).toSeq.sorted
      require(missing.isEmpty,
        s"$what ${missing.mkString(", ")} not a vertex of the graph")
    }

  /** `(node, name)` rows in node order, ranks rounded to 1e-6, built on
    * the driver (no Spark sort). */
  def frame(spark: SparkSession, run: RankRun, name: String): DataFrame = {
    import spark.implicits._
    run.ids.zip(run.ranks.map(r6)).toSeq.toDF("node", name)
  }
}
