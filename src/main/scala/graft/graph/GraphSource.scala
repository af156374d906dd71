package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph construction layer (SURVEY §2.C C25–C26).
  *
  * The working graph for the declared queries is the part-transition
  * graph: within each order, consecutive lineitems (by linenumber)
  * contribute a directed edge between their part keys, weight = number of
  * co-occurrences. Deterministic, derived purely from the fixture tables,
  * and — being a window + group-by — expressible in portable SQL for the
  * oracle. [[partTransitions]] is that derivation as a Spark plan: the
  * input of the GraphX and DataFrame algorithms, and the reference the
  * tests hold [[LocalGraph.fromLineitem]] to. The rank family and BFS do
  * not run it: they derive the same edges inside their one task.
  *
  * Cleaning semantics follow the reference (`graph/Util.scala:230-258`,
  * `TrangleCountRunner.scala:68-77`): self-loops dropped, parallel edges
  * merged (weight-summed), canonical src<dst orientation for the
  * undirected view, `EdgePartition2D` partitioning
  * (`LabelPropagationRunner.scala:66-70`).
  */
object GraphSource {

  /** Directed weighted edges (src, dst, weight) from lineitem.
    * (l_orderkey, l_linenumber) is NOT unique in the fixture, so the
    * window orders by (linenumber, partkey) — the remaining duplicate
    * triples share a partkey, making the transition multiset total. */
  def partTransitions(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    lineitem
      .select(col("l_partkey").as("dst"),
        lag("l_partkey", 1).over(w).as("src"))
      .filter(col("src").isNotNull && col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).cast("double").as("weight"))
  }

  /** Canonical undirected view: src < dst, weights merged. */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))

  /** Edge DataFrame → GraphX property graph (default vertex attr 1.0).
    *
    * Partition count is sized to the data (~100k edges per partition,
    * capped at the cluster parallelism), not inherited from
    * `spark.sql.shuffle.partitions`: a Pregel fixpoint launches every
    * partition as a task each round, so 20 rounds over 32 near-empty
    * partitions is ~600 wasted task launches on a 450k-edge graph. The
    * sizing count() doubles as the materialization of the persisted edge
    * RDD, so the upstream window/agg still runs only once. */
  def toGraph(edges: DataFrame): Graph[Double, Double] = {
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = es.count()
    val parts = math.max(1L, math.min(n / 100000L + 1L,
      es.sparkContext.defaultParallelism.toLong)).toInt
    Graph.fromEdges(es.coalesce(parts), 1.0,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .partitionBy(PartitionStrategy.EdgePartition2D, parts)
  }

  /** String-keyed table ⇄ long-keyed graph adapter (C25, the reference's
    * Hive wrappers `PageRankHiveRunner.scala:42-55`): build an id
    * dictionary with zipWithIndex (dense, deterministic given input
    * order), encode both endpoints via two joins — the dictionary is
    * broadcast when small — and return (edges, dict) for decode-after. */
  def encodeStringEdges(spark: SparkSession, edges: DataFrame)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val dict = edges.select(col("src").as("name"))
      .union(edges.select(col("dst").as("name")))
      .distinct().orderBy("name")
      .rdd.map(_.getString(0)).zipWithIndex()
      .toDF("name", "id")
    val enc = edges
      .join(broadcast(dict).withColumnRenamed("name", "src"), Seq("src"))
      .withColumnRenamed("id", "src_id")
      .join(broadcast(dict).withColumnRenamed("name", "dst"), Seq("dst"))
      .withColumnRenamed("id", "dst_id")
      .select(col("src_id").as("src"), col("dst_id").as("dst"),
        col("weight"))
    (enc, dict)
  }

  /** Decode (id → name) for algorithm output keyed by vertex id. */
  def decode(result: DataFrame, dict: DataFrame, idCol: String): DataFrame =
    result.join(broadcast(dict), result(idCol) === dict("id"))
      .drop("id").withColumnRenamed("name", s"${idCol}_name")
}
