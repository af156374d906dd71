package graft.graph

import org.apache.spark.graphx.{Graph, VertexId}
import org.apache.spark.graphx.lib.{ConnectedComponents, LabelPropagation, PageRank, ShortestPaths, StronglyConnectedComponents, TriangleCount}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX built-ins (SURVEY §2.C C1–C2, C7–C10, C14–C16), with uniform
  * DataFrame outputs: (node, value) keyed rows, totally ordered, floats
  * floor-rounded for stability.
  *
  * The static PageRank pair ([[pageRank]], [[personalizedPageRank]])
  * does not run GraphX: it runs the damped-rank kernel ([[DampedRank]])
  * with GraphX's `runWithOptions` semantics (vertex set, init, reset,
  * `normalizeRankSum`) over a [[LocalGraph]] built in its one task, from
  * an edge frame or straight from lineitem, and builds its output on the
  * driver in node order. The tolerance-converged variants and the
  * vector-batched multi-source PPR stay on GraphX graphs, whose
  * activation and replication order are their semantics.
  * Reference call sites: `graph/PageRankRunner.scala:108-113`,
  * `PersonalizedPageRankRunner.scala:102-114`, `MSSPRunner.scala:100-107`,
  * `ConnectedComponentsRunner.scala:65-68`,
  * `StronglyConnectedComponentsRunner.scala:65-69`,
  * `LabelPropagationRunner.scala:63-85`, `TrangleCountRunner.scala:78-83`,
  * `DegreeRunner.scala:95-100`.
  */
object Builtins {

  private def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6

  def vertexDF(spark: SparkSession, vs: org.apache.spark.rdd.RDD[(VertexId, Double)],
      valueName: String): DataFrame = {
    import spark.implicits._
    vs.toDF("node", valueName)
  }

  /** PageRank over `graph` for `numIter` iterations, normalized to rank
    * sum |V| (GraphX `PageRank.run`). */
  def pageRank(spark: SparkSession, graph: LocalGraph.Reader, numIter: Int,
      resetProb: Double = 0.15): DataFrame = {
    require(numIter > 0, s"PageRank needs numIter > 0, got $numIter")
    DampedRank.frame(spark, DampedRank.run(graph,
      DampedRank.Spec(numIter, resetProb, normalize = true)), "rank")
  }

  def pageRankUntilConvergence(spark: SparkSession, g: Graph[Double, Double],
      tol: Double, resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    PageRank.runUntilConvergence(g, tol, resetProb).vertices
      .toDF("node", "rank")
      .select(col("node"), r6(col("rank")).as("rank")).orderBy("node")
  }

  /** Personalized PageRank from the source `src` picks, normalized to
    * rank sum 1 (GraphX `PageRank.runWithOptions(..., Some(src))`). A
    * source that is not a vertex of a non-empty graph fails naming it. */
  def personalizedPageRank(spark: SparkSession, graph: LocalGraph.Reader,
      src: LocalGraph.Pick, numIter: Int, resetProb: Double = 0.15): DataFrame = {
    require(numIter > 0, s"PageRank needs numIter > 0, got $numIter")
    val run = DampedRank.run(graph, DampedRank.Spec(numIter, resetProb,
      seeds = Some(src), normalize = true))
    DampedRank.requireSeeds(run, "personalized PageRank source")
    DampedRank.frame(spark, run, "rank")
  }

  /** Personalized PageRank run to tolerance convergence (the reference's
    * `runUntilConvergenceWithOptions` surface,
    * `PersonalizedPageRankRunner.scala:110`). */
  def personalizedPageRankUntilConvergence(spark: SparkSession,
      g: Graph[Double, Double], src: VertexId, tol: Double,
      resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    PageRank.runUntilConvergenceWithOptions(g, tol, resetProb, Some(src))
      .vertices.toDF("node", "rank")
      .select(col("node"), r6(col("rank")).as("rank")).orderBy("node")
  }

  /** Multi-source personalized PageRank, all sources in ONE pass (the
    * reference's `runParallelPersonalizedPageRank`,
    * `PersonalizedPageRankRunner.scala:105`): each vertex carries a
    * |sources|-width rank vector, so the edge traversals are shared
    * across sources instead of |sources| separate runs. Output is the
    * flattened (node, source, rank) long form. */
  def parallelPersonalizedPageRank(spark: SparkSession,
      g: Graph[Double, Double], sources: Seq[VertexId], numIter: Int,
      resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    require(sources.nonEmpty)
    val ranked = PageRank.runParallelPersonalizedPageRank(
      g, numIter, resetProb, sources.toArray)
    val srcs = sources.toArray
    ranked.vertices
      .flatMap { case (v, vec) =>
        srcs.iterator.zipWithIndex.map { case (s, i) => (v, s, vec(i)) } }
      .toDF("node", "source", "rank")
      .select(col("node"), col("source"), r6(col("rank")).as("rank"))
      .orderBy("node", "source")
  }

  /** Multi-source shortest paths to landmark set (unweighted hops). */
  def shortestPaths(spark: SparkSession, g: Graph[Double, Double],
      landmarks: Seq[VertexId]): DataFrame = {
    import spark.implicits._
    ShortestPaths.run(g, landmarks).vertices
      .flatMap { case (v, m) => m.map { case (l, d) => (v, l, d) } }
      .toDF("node", "landmark", "dist")
      .orderBy("node", "landmark")
  }

  def connectedComponents(spark: SparkSession, g: Graph[Double, Double]): DataFrame = {
    import spark.implicits._
    ConnectedComponents.run(g).vertices.toDF("node", "component")
      .orderBy("node")
  }

  def stronglyConnectedComponents(spark: SparkSession, g: Graph[Double, Double],
      maxIter: Int): DataFrame = {
    import spark.implicits._
    StronglyConnectedComponents.run(g, maxIter).vertices
      .toDF("node", "component").orderBy("node")
  }

  def labelPropagation(spark: SparkSession, g: Graph[Double, Double],
      maxSteps: Int): DataFrame = {
    import spark.implicits._
    LabelPropagation.run(g, maxSteps).vertices.toDF("node", "label")
      .orderBy("node")
  }

  /** Per-vertex triangle counts over the canonicalized undirected graph
    * (reference canonicalizes src<dst first: `TrangleCountRunner.scala:68-77`). */
  def triangleCounts(spark: SparkSession, undirected: Graph[Double, Double]): DataFrame = {
    import spark.implicits._
    TriangleCount.runPreCanonicalized(undirected).vertices
      .toDF("node", "triangles").orderBy("node")
  }

  /** Total triangle count (each triangle counted once). */
  def triangleTotal(spark: SparkSession, undirected: Graph[Double, Double]): DataFrame = {
    import spark.implicits._
    val total = TriangleCount.runPreCanonicalized(undirected).vertices
      .map(_._2.toLong).reduce(_ + _) / 3
    Seq(total).toDF("triangles")
  }

  /** In/out/total degree per node (parallel edges pre-merged by the
    * builder, so counts are distinct-neighbor-pair degrees). */
  def degrees(spark: SparkSession, g: Graph[Double, Double]): DataFrame = {
    import spark.implicits._
    val in = g.inDegrees.toDF("node", "in_deg")
    val out = g.outDegrees.toDF("node", "out_deg")
    in.join(out, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("in_deg"), lit(0)).as("in_deg"),
        coalesce(col("out_deg"), lit(0)).as("out_deg"))
      .withColumn("degree", col("in_deg") + col("out_deg"))
      .orderBy("node")
  }

  /** Local clustering coefficient = 2·tri(v) / (d(v)·(d(v)−1)) over the
    * undirected view, plus the wedge-weighted average (C15). */
  def clusteringCoefficient(spark: SparkSession,
      undirected: Graph[Double, Double]): DataFrame = {
    import spark.implicits._
    val tri = TriangleCount.runPreCanonicalized(undirected).vertices
      .toDF("node", "tri")
    val deg = undirected.degrees.toDF("node", "deg")
    tri.join(deg, Seq("node"), "full")
      .select(col("node"),
        when(coalesce(col("deg"), lit(0)) >= 2,
          floor(coalesce(col("tri"), lit(0)) * 2.0 /
            (col("deg") * (col("deg") - 1)) * 1e6 + 0.5) / 1e6)
          .otherwise(0.0).as("local_cc"))
      .orderBy("node")
  }
}
