package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.GraftSession
import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionEvent

/** Streaming scale evidence (round-10 directive #7): drives the four
  * stateful streaming operators at ×1/×10/×30 per-trigger event rates
  * through MemoryStream, several triggers per rate with event time
  * advancing past the watermark, and reports per-trigger throughput and
  * state-store size from the engine's own StreamingQueryProgress. The
  * claims under test: state stays BOUNDED (rows plateau once the
  * watermark closes old windows — no per-trigger growth) and
  * per-trigger latency scales with input, not with history.
  * Run: sbt "Test/runMain graft.tools.StreamScale <stressDir>" */
object StreamScale {

  private def report(name: String, rate: Int, q: StreamingQuery): Unit =
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators.map(s =>
        s"${s.numRowsTotal}r/${s.memoryUsedBytes / 1024}KiB").mkString("+")
      val ms = p.durationMs.getOrDefault("triggerExecution", 0L)
      val rps = if (ms > 0) p.numInputRows * 1000 / ms else 0L
      println(f"STREAMSCALE $name%-14s rate=$rate%-7d rows=${p.numInputRows}%-7d " +
        f"trigger=${ms}%-6d ms rows/s=$rps%-7d state=$st")
    }

  def main(args: Array[String]): Unit = {
    val stress = args.headOption.getOrElse("/tmp/stress/x10")
    val spark = GraftSession(32)
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)
    val nTriggers = 4

    // real corpus payloads for the probe operators
    val docsTexts = graft.sources.Tables(spark, stress, "documents")
      .select("text").limit(15000).collect().map(_.getString(0))
    val embVecs = graft.sources.Tables(spark, stress, "embeddings")
      .select("embedding").limit(15000).collect()
      .map(_.getSeq[Float](0))

    for (rate <- Seq(500, 5000, 15000)) {
      // 1. corpusMonitor: windowed agg state (window × source keys)
      locally {
        val mem = MemoryStream[(Long, Timestamp, String, String)]
        val q = EventStreams.corpusMonitor(
            mem.toDF.toDF("doc_id", "ts", "text", "source"))
          .writeStream.format("memory").queryName(s"cm_$rate")
          .outputMode(OutputMode.Append()).start()
        try {
          for (b <- 0 until nTriggers) {
            mem.addData((0 until rate).map(i => (b * rate + i.toLong,
              ts(b * 30 + i % 10), docsTexts(i % docsTexts.length),
              s"src${i % 4}")): _*)
            q.processAllAvailable()
          }
        } finally { report("corpusMonitor", rate, q); q.stop() }
      }
      // 2. sessionize: flatMapGroupsWithState per-user session state
      locally {
        val mem = MemoryStream[SessionEvent]
        val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
          .writeStream.format("memory").queryName(s"ss_$rate")
          .outputMode(OutputMode.Append()).start()
        try {
          for (b <- 0 until nTriggers) {
            mem.addData((0 until rate).map(i => SessionEvent(
              (i % (rate / 10 + 1)).toLong, ts(b * 120 + i % 20),
              1.0)): _*)
            q.processAllAvailable()
          }
        } finally { report("sessionize", rate, q); q.stop() }
      }
      // 3. streamingNearDups: static minhash index probe + pair dedup
      locally {
        val corpus = graft.sources.Tables(spark, stress, "documents")
          .select("doc_id", "text")
        val mem = MemoryStream[(Long, Timestamp, String)]
        val q = EventStreams.streamingNearDups(
            mem.toDF.toDF("doc_id", "ts", "text"), corpus)
          .writeStream.format("memory").queryName(s"nd_$rate")
          .outputMode(OutputMode.Append()).start()
        try {
          for (b <- 0 until nTriggers) {
            mem.addData((0 until rate).map(i => (1000000L + b * rate + i,
              ts(b * 30 + i % 10), docsTexts(i % docsTexts.length))): _*)
            q.processAllAvailable()
          }
        } finally { report("nearDups", rate, q); q.stop() }
      }
      // 4. streamingEmbedDedup: static sign-LSH bucket probe + pair dedup
      locally {
        val corpus = graft.sources.Tables(spark, stress, "embeddings")
        val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
        val q = EventStreams.streamingEmbedDedup(
            mem.toDF.toDF("vec_id", "ts", "embedding"), corpus, tau = 0.4)
          .writeStream.format("memory").queryName(s"ed_$rate")
          .outputMode(OutputMode.Append()).start()
        try {
          for (b <- 0 until nTriggers) {
            mem.addData((0 until rate).map(i => (1000000L + b * rate + i,
              ts(b * 30 + i % 10), embVecs(i % embVecs.length))): _*)
            q.processAllAvailable()
          }
        } finally { report("embedDedup", rate, q); q.stop() }
      }
    }
    spark.stop()
  }
}
