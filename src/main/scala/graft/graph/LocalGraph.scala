package graft.graph

import scala.collection.mutable.ArrayBuilder
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** One graph held in a single task: a CSR over dense vertex indices.
  *
  * `ids` are the vertex ids ascending (every edge endpoint). Edge k runs
  * from vertex index `src(k)` to `dst(k)` with weight `weight(k)`; the
  * edges are in (src, dst) order and vertex v's out-edges are
  * `[outStart(v), outStart(v + 1))`.
  *
  * A graph is built from rows by a [[LocalGraph.Reader]] and used by a
  * function inside the same task ([[LocalGraph.run]]): the rows are
  * coalesced into that one task, so a client (the damped-rank kernel,
  * BFS, k-core, synchronous LPA and Louvain) is one Spark job and ships
  * only its own result to the driver.
  * Sorting is primitive dense ranks plus stable counting-sort passes,
  * never a comparator over boxed values.
  */
final class LocalGraph(val ids: Array[Long],
    val src: Array[Int], val dst: Array[Int], val weight: Array[Double],
    val outStart: Array[Int]) {

  def numVertices: Int = ids.length
  def numEdges: Int = src.length
  def outDegree(v: Int): Int = outStart(v + 1) - outStart(v)

  /** The index of vertex id `v`, negative when it is not a vertex. */
  def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)

  /** Hop distance from the `from` vertex indices along out-edges, at
    * most `maxDepth`; `Int.MaxValue` where not reached. */
  def hops(from: Seq[Int], maxDepth: Int): Array[Int] = {
    val dist = Array.fill(numVertices)(Int.MaxValue)
    from.foreach(dist(_) = 0)
    var frontier = from.distinct.toArray
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      depth += 1
      val next = ArrayBuilder.make[Int]
      for (u <- frontier; k <- outStart(u) until outStart(u + 1))
        if (dist(dst(k)) == Int.MaxValue) { dist(dst(k)) = depth; next += dst(k) }
      frontier = next.result()
    }
    dist
  }

  /** The same vertices with each edge in both directions, parallel
    * entries merged into one whose weight is their sum: every
    * neighbour appears once among a vertex's out-edges, and a self-loop
    * of weight w becomes one entry of weight 2w. */
  def undirected: LocalGraph = {
    import LocalGraph.{byKey, csr}
    val (s, d, w) = (src ++ dst, dst ++ src, weight ++ weight)
    val order = byKey(byKey(Array.range(0, s.length), d, numVertices), s,
      numVertices)
    val (us, ud, uw) = (new Array[Int](s.length), new Array[Int](s.length),
      new Array[Double](s.length))
    var n = 0
    for (k <- order)
      if (n > 0 && us(n - 1) == s(k) && ud(n - 1) == d(k)) uw(n - 1) += w(k)
      else { us(n) = s(k); ud(n) = d(k); uw(n) = w(k); n += 1 }
    csr(ids, us.take(n), ud.take(n), uw.take(n))
  }
}

object LocalGraph {

  /** The rows one task reads, and how it builds the graph from them. */
  final class Reader private[LocalGraph] (private[LocalGraph] val rows: DataFrame,
      private[LocalGraph] val build: Iterator[InternalRow] => LocalGraph)

  /** Vertices named up front, or picked from the graph inside the task. */
  sealed trait Pick extends Product with Serializable {
    def apply(g: LocalGraph): Set[Long]
  }

  object Pick {
    final case class Given(ids: Set[Long]) extends Pick {
      require(ids.nonEmpty, "a vertex pick needs at least one vertex")
      def apply(g: LocalGraph): Set[Long] = ids
    }
    /** min(src): the smallest vertex with an out-edge. */
    case object MinSource extends Pick {
      def apply(g: LocalGraph): Set[Long] = g.src.headOption.map(g.ids(_)).toSet
    }
    /** The `n` smallest vertices. */
    final case class Smallest(n: Int) extends Pick {
      require(n > 0, s"a vertex pick needs at least one vertex, got $n")
      def apply(g: LocalGraph): Set[Long] = g.ids.take(n).toSet
    }
  }

  /** `(src, dst, weight)` edges as given: parallel edges and self-loops
    * each stay an edge. */
  def fromEdges(edges: DataFrame): Reader =
    new Reader(edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double")), buildEdges)

  /** The part-transition graph of `lineitem`, derived in the task with
    * the semantics of [[GraphSource.partTransitions]]: rows grouped by
    * `l_orderkey` (null keys form one group), ordered by `l_linenumber`
    * then `l_partkey`, nulls first; each row after a group's first gives
    * the edge (previous row's partkey → its own), kept when both are
    * non-null and differ; weight is the count of each (src, dst) pair. */
  def fromLineitem(lineitem: DataFrame): Reader =
    new Reader(lineitem.select(col("l_orderkey").cast("long"),
      col("l_linenumber").cast("long"), col("l_partkey").cast("long")),
      buildPartTransitions)

  /** `f` over the graph, run inside the one task that builds it (one
    * Spark job); an input without partitions runs `f` over the empty
    * graph on the driver. */
  def run[T: ClassTag](reader: Reader)(f: LocalGraph => T): T = {
    val build = reader.build
    reader.rows.queryExecution.toRdd
      .coalesce(1)
      .mapPartitions(rows => Iterator(f(build(rows))))
      .take(1).headOption
      .getOrElse(f(csr(Array.empty, Array.empty, Array.empty, Array.empty)))
  }

  /** Rows against an explicit non-nullable schema, built on the driver
    * (no Spark sort): a session's first `toDF` derives its encoder by
    * reflection, measured at 0.23 s against 0.11 s this way in a fresh
    * `local[4]` shell. */
  private[graft] def frame(spark: SparkSession, rows: Seq[Row],
      fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields.map { case (name, t) =>
      StructField(name, t, nullable = false) }))

  private def buildEdges(rows: Iterator[InternalRow]): LocalGraph = {
    val (s, d, w) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long],
      ArrayBuilder.make[Double])
    rows.foreach { r => s += r.getLong(0); d += r.getLong(1); w += r.getDouble(2) }
    sorted(s.result(), d.result(), w.result())
  }

  private def buildPartTransitions(rows: Iterator[InternalRow]): LocalGraph = {
    val cols = Array.fill(3)(ArrayBuilder.make[Long])
    val nulls = Array.fill(3)(ArrayBuilder.make[Boolean])
    rows.foreach { r =>
      for (c <- 0 until 3) {
        val isNull = r.isNullAt(c)
        nulls(c) += isNull
        cols(c) += (if (isNull) 0L else r.getLong(c))
      }
    }
    val (vals, isNull) = (cols.map(_.result()), nulls.map(_.result()))
    val Array((okRank, okN), (lnRank, lnN), (pkRank, pkN)) =
      Array.tabulate(3)(c => denseRank(vals(c), isNull(c)))
    // (orderkey, linenumber, partkey) order: least significant key first
    val order = byKey(byKey(byKey(Array.range(0, okRank.length),
      pkRank, pkN), lnRank, lnN), okRank, okN)
    val pk = vals(2)
    val (s, d) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
    for (i <- 1 until order.length) {
      val (a, b) = (order(i - 1), order(i))
      if (okRank(a) == okRank(b) && pkRank(a) != 0 && pkRank(b) != 0 &&
          pk(a) != pk(b)) { s += pk(a); d += pk(b) }
    }
    val (s1, d1) = (s.result(), d.result())
    val g = sorted(s1, d1, new Array[Double](s1.length))
    // merge each run of equal (src, dst) into one edge weighted by its length
    val keep = ArrayBuilder.make[Int]
    for (k <- 0 until g.numEdges)
      if (k == 0 || g.src(k) != g.src(k - 1) || g.dst(k) != g.dst(k - 1)) keep += k
    val first = keep.result()
    val weight = new Array[Double](first.length)
    for (j <- first.indices)
      weight(j) = (if (j + 1 < first.length) first(j + 1) else g.numEdges) - first(j)
    csr(g.ids, first.map(g.src), first.map(g.dst), weight)
  }

  /** Each value's rank among the distinct non-null values, from 1, and 0
    * for null (nulls first); with the number of ranks. */
  private def denseRank(v: Array[Long], isNull: Array[Boolean]): (Array[Int], Int) = {
    val present = ArrayBuilder.make[Long]
    for (i <- v.indices) if (!isNull(i)) present += v(i)
    val distinct = sortedDistinct(present.result())
    val rank = new Array[Int](v.length)
    for (i <- v.indices)
      if (!isNull(i)) rank(i) = java.util.Arrays.binarySearch(distinct, v(i)) + 1
    (rank, distinct.length + 1)
  }

  private def sortedDistinct(v: Array[Long]): Array[Long] = {
    val a = v.clone()
    java.util.Arrays.sort(a)
    var n = 0
    for (i <- a.indices) if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** `order` stably sorted by `key(i)` in [0, n): one counting-sort pass. */
  private def byKey(order: Array[Int], key: Array[Int], n: Int): Array[Int] = {
    val start = new Array[Int](n + 1)
    order.foreach(i => start(key(i) + 1) += 1)
    for (v <- 1 to n) start(v) += start(v - 1)
    val out = new Array[Int](order.length)
    order.foreach { i => out(start(key(i))) = i; start(key(i)) += 1 }
    out
  }

  /** The graph of edges `src(k) → dst(k)` (vertex ids, `w` indexed the
    * same), sorted into (src, dst) order with parallel edges keeping
    * theirs. */
  private def sorted(src: Array[Long], dst: Array[Long],
      w: Array[Double]): LocalGraph = {
    val ids = sortedDistinct(src ++ dst)
    val s0 = src.map(java.util.Arrays.binarySearch(ids, _))
    val d0 = dst.map(java.util.Arrays.binarySearch(ids, _))
    val order = byKey(byKey(Array.range(0, src.length), d0, ids.length),
      s0, ids.length)
    csr(ids, order.map(s0), order.map(d0), order.map(w))
  }

  /** The graph over `ids` of edges already in (src, dst) order. */
  private def csr(ids: Array[Long], src: Array[Int], dst: Array[Int],
      weight: Array[Double]): LocalGraph = {
    val outStart = new Array[Int](ids.length + 1)
    src.foreach(v => outStart(v + 1) += 1)
    for (v <- 1 to ids.length) outStart(v) += outStart(v - 1)
    new LocalGraph(ids, src, dst, weight, outStart)
  }
}
