package graftbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.QueryCache
import graft.graph.GraphSource
import graft.llm.Pipeline
import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.EventStreams

/** A benchmark workload: a fixed list of calls into graft's public entry
  * points, run as one pass, over inputs under `data`. */
trait Workload {
  /** One pass of operations, writing what the output check reads under
    * `p.outDir`. */
  def pass(p: Pass): Unit

  /** After a traced pass's clock and engine counters have stopped: add
    * the workload's own per-layer values, making untimed probe calls if
    * it needs them. */
  def layers(p: Pass): Unit = ()

  /** Untimed, after the measured window: anything further the output
    * check needs, as a JSON-ready map. */
  def finish(): Map[String, Any] = Map.empty

  /** SparkEntry oracle SQL to replay in DuckDB, by operation name. */
  def oracles: Map[String, String] = Map.empty

  /** Operations whose Spark job count a traced pass reports, by the
    * per-layer metric name it goes under. */
  def jobCounts: Map[String, String] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String,
      work: String): Workload = name match {
    case "sql_short" => new SqlShort(spark, data)
    case "iter_jobs" => new IterJobs(spark, data)
    case "curate_chain" => new CurateChain(spark, data, work)
    case "stream_ingest" => new StreamIngest(spark, data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Drop cached plans and persisted RDDs so one operation never
    * subsidizes the next (the same isolation graft's own Bench uses). */
  def clearSparkState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length()
}

/** The 21 declared relational queries, each executed in full and its
  * result written as one parquet file (nothing is collected to the
  * driver). */
final class SqlShort(spark: SparkSession, data: String) extends Workload {
  private val queries = Relational.all.toSeq.sortBy(_._1)

  def pass(p: Pass): Unit = queries.foreach { case (name, q) =>
    p.op(name, "operators") {
      val df = q(spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"${p.outDir}/$name")
      // a DataFrame is analyzed when it is built, outside the write's
      // own query execution that the listener reports
      if (p.traced) p.add("catalyst.analysis_s", df.queryExecution.tracker
        .phases.get("analysis").map(_.durationMs).getOrElse(0L) / 1000.0)
    }
  }

  override def layers(p: Pass): Unit =
    p.ops.foreach(o => p.layer(s"operators.${o.name}_s", o.sec))

  override def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => Relational.all.contains(k) }
}

/** Iterative graph and ML jobs, run in sequence with graft's QueryCache
  * cleared before each so every job pays its full cost. Each job's
  * result is collected (it is |V| rows or a few verdict rows). */
final class IterJobs(spark: SparkSession, data: String) extends Workload {
  private val jobs = Seq("graph_pagerank" -> "graph", "ml_kmeans" -> "ml")
  private val results = mutable.Map.empty[String, (StructType, Array[Row])]
  private var outDir = ""

  def pass(p: Pass): Unit = {
    outDir = p.outDir
    jobs.foreach { case (name, layer) =>
      QueryCache.clear()
      Workload.clearSparkState(spark)
      p.op(name, layer) {
        val df = SparkEntry.queries(name)(spark, data)
        results(name) = (df.schema, df.collect())
      }
    }
  }

  /** The last pass's results, written for the check after the clock. */
  override def finish(): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    Map.empty
  }

  override def layers(p: Pass): Unit = {
    p.ops.foreach(o =>
      p.layer(s"${o.layer}.${o.name.stripPrefix(s"${o.layer}_")}_s", o.sec))
    Workload.clearSparkState(spark)
    p.layer("sources.edges_s", p.probe("part_transitions", "sources") {
      GraphSource.partTransitions(Tables(spark, data, "lineitem"))
        .write.format("noop").mode("overwrite").save()
    })
  }

  override def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => jobs.exists(_._1 == k) }

  override def jobCounts: Map[String, String] = Map(
    "graph_pagerank" -> "graph.pagerank_jobs")
}

/** graft's four-stage curation chain (curate, Bloom decontamination,
  * semantic dedup, JSONL export), one chain per pass. */
final class CurateChain(spark: SparkSession, data: String, work: String)
    extends Workload {
  private val chains = mutable.ArrayBuffer.empty[(String, Seq[Pipeline.Stage])]

  def pass(p: Pass): Unit = {
    Workload.clearSparkState(spark)
    val dir = s"$work/chains/${chains.size}"
    p.op("curate_chain", "llm") {
      val (_, stages) = Pipeline.curateChain(spark, data, dir)
      chains += ((dir, stages))
    }
  }

  override def layers(p: Pass): Unit =
    if (p.ops.last.error.isEmpty) {
      val st = chains.last._2.map(s => s.name -> s).toMap
      Seq("curate" -> "curate", "bloom_decontam" -> "bloom",
        "semdedup" -> "semdedup").foreach { case (stage, short) =>
        p.layer(s"llm.${stage}_s", st(stage).sec)
        p.layer(s"llm.${short}_kept", st(stage).survivors.toDouble)
      }
      p.layer("sources.export_s", st("split_export").sec)
      p.layer("sources.export_rows", st("split_export").survivors.toDouble)
      p.layer("sources.export_mb",
        Workload.dirBytes(new File(s"${chains.last._1}/train_set")) / 1048576.0)
    }

  /** run.py checks the exported sets; hand it each chain's
    * export directory and stage survivor counts. */
  override def finish(): Map[String, Any] = Map("chains" -> chains.map {
    case (dir, stages) => Map("dir" -> s"$dir/train_set",
      "survivors" -> stages.map(s => s.name -> s.survivors).toMap)
  }.toSeq)
}

/** Two streaming queries fed through MemoryStream at fixed trigger
  * sizes: near-duplicate probing of incoming documents against a static
  * corpus, and event-time sessionization. A pass is one trigger of
  * each, timed together as one ingest step. Inputs are replayed in event-time order; a replay that wraps
  * shifts ids and timestamps forward so every row stays new and on
  * time. */
final class StreamIngest(spark: SparkSession, data: String, work: String)
    extends Workload {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._
  implicit private val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

  val docRows = 200
  val eventRows = 2000
  private val idShift = 10000000L
  private val docs = Tables(spark, data, "documents")
  private val half = docs.count() / 2
  private val corpus = docs.filter(col("doc_id") < half)
    .select("doc_id", "text")
  private val incoming = docs.filter(col("doc_id") >= half)
    .select("doc_id", "text").orderBy("doc_id").collect()
    .map(r => (r.getLong(0), r.getString(1)))
  private val events = Tables(spark, data, "events")
    .select("event_id", "user_id", "ts", "value").orderBy("ts", "event_id")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
      r.getDouble(3)))
  private val cycleMs = 31L * 86400000L
  private val t0Ms = events.head._3
  private var docCursor = 0
  /** Last micro-batch of each query before the current pass. */
  private val lastBatch = mutable.Map.empty[String, Long]
  private var eventCursor = 0

  private val docStream = MemoryStream[(Long, Timestamp, String)]
  private val eventStream = MemoryStream[EventStreams.SessionEvent]
  private val nearDups: StreamingQuery = EventStreams.streamingNearDups(
      docStream.toDF().toDF("doc_id", "ts", "text"), corpus)
    .writeStream.format("memory").queryName("graftbench_near_dups")
    .option("checkpointLocation", s"$work/checkpoints/near_dups")
    .outputMode(OutputMode.Append()).start()
  private val sessions: StreamingQuery =
    EventStreams.sessionize(eventStream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("graftbench_sessions")
      .option("checkpointLocation", s"$work/checkpoints/sessions")
      .outputMode(OutputMode.Append()).start()

  private def doc(k: Int): (Long, Timestamp, String) = {
    val (id, text) = incoming(k % incoming.length)
    (id + (k / incoming.length) * idShift, new Timestamp(t0Ms + k * 1000L),
      text)
  }

  private def event(k: Int): (Long, Long, Long, Double) = {
    val (id, user, ts, v) = events(k % events.length)
    val cycle = k / events.length
    (id + cycle * idShift, user, ts + cycle * cycleMs, v)
  }

  private def sessionEvent(k: Int) = {
    val (_, user, ts, v) = event(k)
    EventStreams.SessionEvent(user, new Timestamp(ts), v)
  }

  /** One ingest step, timed as one operation: a trigger of each query,
    * near-dup probing (graft's minhash kernels on the incremental path),
    * then sessionization. One operation per pass keeps the median
    * latency a median of like steps; each query's own trigger times are
    * in the traced run's `streaming.<query>.*` layers. */
  def pass(p: Pass): Unit = {
    Seq("near_dups" -> nearDups, "sessionize" -> sessions).foreach {
      case (name, q) =>
        lastBatch(name) = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    }
    p.op("ingest", "streaming") {
      docStream.addData((docCursor until docCursor + docRows).map(doc))
      nearDups.processAllAvailable()
      eventStream.addData(
        (eventCursor until eventCursor + eventRows).map(sessionEvent))
      sessions.processAllAvailable()
    }
    docCursor += docRows
    eventCursor += eventRows
  }

  /** Sums over the micro-batches of the pass: its data triggers and the
    * no-data batches Spark runs when the watermark moves. */
  override def layers(p: Pass): Unit =
    Seq("near_dups" -> nearDups, "sessionize" -> sessions).foreach {
      case (name, q) =>
        val prs = q.recentProgress.filter(_.batchId > lastBatch(name))
        if (prs.nonEmpty) {
          def sec(k: String) = prs.map(pr => Option(pr.durationMs.get(k))
            .map(_.longValue).getOrElse(0L)).sum / 1000.0
          p.layer(s"streaming.$name.add_batch_s", sec("addBatch"))
          p.layer(s"streaming.$name.query_planning_s", sec("queryPlanning"))
          p.layer(s"streaming.${name}_rps", prs.map(_.numInputRows).sum /
            math.max(sec("triggerExecution"), 1e-3))
          if (name == "sessionize") {
            val st = prs.last.stateOperators.head
            p.layer("streaming.sessionize.state_rows",
              st.numRowsTotal.toDouble)
            p.layer("streaming.sessionize.state_mb",
              st.memoryUsedBytes / 1048576.0)
          }
        }
    }

  /** Compare each stream's output with its batch twin over every row fed:
    * incremental near-dup pairs for the document stream, and
    * gaps-and-islands sessions for the event stream (after two far-future
    * events advance the watermark past every open session). */
  override def finish(): Map[String, Any] = {
    val flushUser = -1L
    val lastTs = event(eventCursor - 1)._3
    Seq(2, 4).foreach { d =>
      eventStream.addData(Seq(EventStreams.SessionEvent(flushUser,
        new Timestamp(lastTs + d * 86400000L), 0.0)))
      sessions.processAllAvailable()
    }
    nearDups.stop()
    sessions.stop()

    /** (rows of `a`, rows in one result and not the other, counted with
      * multiplicity). */
    def diff(a: DataFrame, b: DataFrame): (Long, Long) = {
      def bag(d: DataFrame) = d.collect().toSeq.map(_.toSeq)
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val (x, y) = (bag(a), bag(b))
      (x.values.sum, (x.keySet ++ y.keySet).toSeq
        .map(k => math.abs(x.getOrElse(k, 0L) - y.getOrElse(k, 0L))).sum)
    }

    val fedDocs = (0 until docCursor).map(doc).map(d => (d._1, d._3))
      .toDF("doc_id", "text")
    val pairsTwin = graft.llm.Dedup.incrementalNearDups(fedDocs, corpus)
      .select("new_id", "corpus_id", "jaccard")
    val pairs = spark.table("graftbench_near_dups")
      .select("new_id", "corpus_id", "jaccard")

    val fedEvents = (0 until eventCursor).map(event)
      .map { case (id, user, ts, v) => (id, user, new Timestamp(ts), v) }
      .toDF("event_id", "user_id", "ts", "value")
    val sessionsTwin = EventStreams.sessionizeBatch(fedEvents, 30)
    val sessionsOut = spark.table("graftbench_sessions")
      .filter(col("user_id") =!= flushUser)
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events").cast("long").as("n_events"),
        (floor(col("value_sum") * 1e4 + 0.5) / 1e4).as("value_sum"))
    val (ndRows, nd) = diff(pairs, pairsTwin)
    val (ssRows, ss) = diff(sessionsOut,
      sessionsTwin.select(sessionsOut.columns.map(col): _*))
    Map("mismatches" -> Map("near_dups" -> nd, "sessionize" -> ss),
      "rows" -> Map("near_dups" -> ndRows, "sessionize" -> ssRows),
      "trigger_rows" -> Map("near_dups" -> docRows,
        "sessionize" -> eventRows))
  }
}
