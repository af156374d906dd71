package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStreams, LocalCheckpointFiles}
import graft.streaming.EventStreams.SessionEvent

class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("windowed counts aggregate per 10-minute window") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val out = EventStreams.windowedCounts(
      mem.toDF.toDF("event_id", "ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(5), "click", 2.0),
        (3L, ts(12), "click", 4.0), (4L, ts(13), "buy", 8.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 00:10:00.0", "click", 1L, 4.0),
        ("2024-01-01 00:10:00.0", "buy", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated event ids") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val out = EventStreams.dedup(
      mem.toDF.toDF("event_id", "ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts(1), "a", 1.0), (1L, ts(1), "a", 1.0),
        (2L, ts(2), "b", 1.0))
      q.processAllAvailable()
      mem.addData((1L, ts(3), "a", 1.0), (3L, ts(3), "c", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dd").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window only") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double, Long)]
    val buys = MemoryStream[(Long, Timestamp, String, Double, Long)]
    def shaped(m: MemoryStream[(Long, Timestamp, String, Double, Long)]) =
      m.toDF.toDF("event_id", "ts", "event_type", "value", "user_id")
    val out = EventStreams.intervalJoin(shaped(clicks), shaped(buys),
      maxDelayMinutes = 10)
    val q = out.writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((1L, ts(0), "click", 1.0, 7L), (2L, ts(0), "click", 1.0, 8L))
      // user 7 buys 5 min after the click (in window), 30 min after
      // (outside), user 9 buys with no click, user 8 never buys
      buys.addData((10L, ts(5), "buy", 1.0, 7L), (11L, ts(30), "buy", 1.0, 7L),
        (12L, ts(5), "buy", 1.0, 9L))
      q.processAllAvailable()
      val rows = spark.table("ij").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      assert(rows == Set((7L, 1L, 10L)))
      // late data beyond both watermarks: a buy at t=5 for user 8 after
      // the watermark advanced past t=60+ finds the click state evicted
      clicks.addData((3L, ts(120), "click", 1.0, 99L))
      buys.addData((13L, ts(120), "buy", 1.0, 98L))
      q.processAllAvailable()
      buys.addData((14L, ts(5), "buy", 1.0, 8L))
      q.processAllAvailable()
      val after = spark.table("ij").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      assert(after == Set((7L, 1L, 10L)), s"late row joined: $after")
    } finally q.stop()
  }

  test("batch interval join agrees with the stream-stream join") {
    implicit val sql = spark.sqlContext
    // one user with pairs inside and outside the 10-min band, one pair
    // at exactly the band edge, one isolated user
    val data = Seq(
      (1L, ts(0), "click", 1.0, 7L), (2L, ts(5), "buy", 1.0, 7L),
      (3L, ts(10), "buy", 1.0, 7L), (4L, ts(40), "click", 1.0, 7L),
      (5L, ts(0), "click", 1.0, 8L))
    val batchDf = data.toDF("event_id", "ts", "event_type", "value", "user_id")
    val batch = EventStreams.intervalJoinBatch(batchDf, maxDelayMinutes = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // streaming: self-join the same events through MemoryStream
    val mem = MemoryStream[(Long, Timestamp, String, Double, Long)]
    val df = mem.toDF.toDF("event_id", "ts", "event_type", "value", "user_id")
    val q = EventStreams.intervalJoin(df, df, maxDelayMinutes = 10)
      .writeStream.format("memory").queryName("ijb")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("ijb").groupBy("user_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // expected pairs for user 7: (1->2), (1->3), (2->3); ts(40) is
      // outside every band; user 8 has no pairs and appears in neither
      assert(batch == Map(7L -> 3L), batch.toString)
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("interval-join watermark eviction: state rows removed, batch twin still matches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double, Long)]
    val df = mem.toDF.toDF("event_id", "ts", "event_type", "value", "user_id")
    val q = EventStreams.intervalJoin(df, df, maxDelayMinutes = 10)
      .writeStream.format("memory").queryName("ijev")
      .outputMode(OutputMode.Append()).start()
    try {
      val early = Seq((1L, ts(0), "click", 1.0, 7L), (2L, ts(5), "buy", 1.0, 7L))
      mem.addData(early: _*)
      q.processAllAvailable()
      // advance event time far past the 20-min watermark + 10-min band so
      // the t≈0 join state becomes evictable, then run one more batch so
      // the advanced watermark commits and eviction executes
      val advance = Seq((3L, ts(240), "click", 1.0, 50L),
        (4L, ts(245), "buy", 1.0, 50L))
      mem.addData(advance: _*)
      q.processAllAvailable()
      val tail = Seq((5L, ts(250), "click", 1.0, 51L))
      mem.addData(tail: _*)
      q.processAllAvailable()
      // the watermark GENUINELY evicted join state (not merely filtered
      // late input): the state store reports removed rows
      assert(q.recentProgress.exists(_.stateOperators.exists(_.numRowsRemoved > 0)),
        "watermark advanced but no state rows were evicted")
      // a late arrival inside the evicted horizon can no longer pair
      // (click 1 @ t=0 is gone), so it must not produce (1 -> 6)
      mem.addData((6L, ts(8), "buy", 1.0, 7L))
      q.processAllAvailable()
      val streamed = spark.table("ijev").groupBy("user_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // batch twin over the on-time rows agrees exactly: eviction dropped
      // ONLY late data, never a valid in-horizon pair
      val batch = EventStreams.intervalJoinBatch(
        (early ++ advance ++ tail)
          .toDF("event_id", "ts", "event_type", "value", "user_id"),
        maxDelayMinutes = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(batch == Map(7L -> 1L, 50L -> 1L), batch.toString)
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("sessionization closes a session when a gap opens a new one") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst at t=0..10, then a second burst at t=120 (gap > 30min)
      mem.addData(
        SessionEvent(7L, ts(0), 1.0), SessionEvent(7L, ts(10), 2.0),
        SessionEvent(7L, ts(120), 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4)))
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s._1 == 7L && s._4 == 2 && s._5 == 3.0)
      assert(s._3 - s._2 == 10L * 60 * 1000)
    } finally q.stop()
  }

  test("batch sessionization agrees with the streaming state machine") {
    import spark.implicits._
    // same fixture shape: two bursts with a >30-min gap, two users
    val rows = Seq(
      (1L, ts(0), 7L, "a", 1.0, "{}"), (2L, ts(10), 7L, "a", 2.0, "{}"),
      (3L, ts(120), 7L, "a", 4.0, "{}"), (4L, ts(125), 7L, "a", 1.0, "{}"),
      (5L, ts(5), 8L, "b", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = EventStreams.sessionizeBatch(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // sessions: user 7 [0,10] n=2 sum=3; user 7 [120,125] n=2 sum=5;
    // user 8 [5,5] n=1 sum=3
    def ms(t: java.sql.Timestamp) = t.getTime
    assert(batch == Set(
      (7L, ms(ts(0)), ms(ts(10)), 2L, 3.0),
      (7L, ms(ts(120)), ms(ts(125)), 2L, 5.0),
      (8L, ms(ts(5)), ms(ts(5)), 1L, 3.0)))
    // the streaming path emits the SAME closed session for the first
    // burst (later sessions stay open pending watermark advance)
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_diff")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(SessionEvent(7L, ts(0), 1.0), SessionEvent(7L, ts(10), 2.0),
        SessionEvent(7L, ts(120), 4.0), SessionEvent(7L, ts(125), 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_diff").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong,
          r.getDouble(4))).toSet
      assert(closed.subsetOf(batch), s"streaming emitted $closed not in batch")
      assert(closed.contains((7L, ms(ts(0)), ms(ts(10)), 2L, 3.0)))
    } finally q.stop()
  }

  test("stateless text operators compose into streams: quality/langid/pii twins") {
    // a training-data pipeline scores and scrubs documents as they
    // arrive; the per-row text operators must yield EXACTLY their batch
    // result when applied to a stream (ordered = false drops only the
    // output sort, which append mode forbids)
    implicit val sql = spark.sqlContext
    import graft.llm.TextOps
    val rows = Seq(
      (1L, "the cat sat on the mat and it is a fine day"),
      (2L, "der hund ist nicht hier und das ist mit zu"),
      (3L, "mail bob@corp.example.org from 10.0.0.7 now"))
    val batchDf = rows.toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val streamed = mem.toDF.toDF("doc_id", "text")
    val quality = TextOps.quality(streamed, ordered = false)
    val lang = TextOps.langId(streamed, ordered = false)
    val pii = TextOps.piiRedact(streamed, ordered = false)
    val qmodel = TextOps.qualityModel(streamed, ordered = false)
    val score = TextOps.scorecard(streamed, ordered = false)
    val ent = TextOps.entropy(streamed, ordered = false)
    val split = graft.llm.CorpusOps.splitAssign(streamed, ordered = false)
    val streamWithLang = streamed
      .withColumn("lang", expr("CASE WHEN doc_id = 2 THEN 'de' ELSE 'en' END"))
    val rate = graft.llm.CorpusOps.mixRate(streamWithLang,
      rates = Map("en" -> 0.99, "de" -> 0.0), ordered = false)
    val qs = Seq(
      quality.writeStream.format("memory").queryName("tw_q"),
      lang.writeStream.format("memory").queryName("tw_l"),
      pii.writeStream.format("memory").queryName("tw_p"),
      qmodel.writeStream.format("memory").queryName("tw_m"),
      score.writeStream.format("memory").queryName("tw_sc"),
      ent.writeStream.format("memory").queryName("tw_e"),
      split.writeStream.format("memory").queryName("tw_s"),
      rate.writeStream.format("memory").queryName("tw_r"))
      .map(_.outputMode(OutputMode.Append()).start())
    try {
      mem.addData(rows: _*)
      qs.foreach(_.processAllAvailable())
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSet
      assert(canon(spark.table("tw_q")) == canon(TextOps.quality(batchDf)))
      assert(canon(spark.table("tw_l")) == canon(TextOps.langId(batchDf)))
      assert(canon(spark.table("tw_p")) == canon(TextOps.piiRedact(batchDf)))
      assert(canon(spark.table("tw_m")) ==
        canon(TextOps.qualityModel(batchDf)))
      assert(canon(spark.table("tw_sc")) ==
        canon(TextOps.scorecard(batchDf)))
      assert(canon(spark.table("tw_e")) ==
        canon(TextOps.entropy(batchDf)))
      assert(canon(spark.table("tw_s")) ==
        canon(graft.llm.CorpusOps.splitAssign(batchDf)))
      val batchWithLang = batchDf
        .withColumn("lang", expr("CASE WHEN doc_id = 2 THEN 'de' ELSE 'en' END"))
      assert(canon(spark.table("tw_r")) ==
        canon(graft.llm.CorpusOps.mixRate(batchWithLang,
          rates = Map("en" -> 0.99, "de" -> 0.0))))
      // the de stratum's rate-0 filter actually dropped its row in-flight
      assert(!spark.table("tw_r").collect().map(_.getLong(0)).contains(2L))
      // the scrub actually fired on the streamed row
      val red = spark.table("tw_p").filter($"doc_id" === 3L)
        .head().getString(5)
      assert(red == "mail <EMAIL> from <IP> now", red)
    } finally qs.foreach(_.stop())
  }

  test("within-doc dedup composes into streams: per-row cleanup equals " +
      "its batch twin in-flight") {
    implicit val sql = spark.sqlContext
    val rows = Seq(
      (1L, "p q r p q r p q r"), // self-repeating — cleaned in-flight
      (2L, "a b c d e f"))
    val mem = MemoryStream[(Long, String)]
    val streamed = mem.toDF.toDF("doc_id", "text")
    val q = graft.llm.Dedup.withinDocDedup(streamed, span = 3,
        ordered = false)
      .writeStream.format("memory").queryName("tw_wd")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("tw_wd").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = graft.llm.Dedup.withinDocDedup(
        rows.toDF("doc_id", "text"), span = 3).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
      assert(got.contains((1L, "p q r", 6L)), got)
    } finally q.stop()
  }

  test("corpus monitor: streaming windowed rollup equals the batch run " +
      "of the same function") {
    implicit val sql = spark.sqlContext
    val rows = Seq(
      (1L, ts(0), "the cat sat on the mat", "web"),
      (2L, ts(3), "a fine day in the sun", "web"),
      (3L, ts(7), "zz zz zz zz", "spam"),
      (4L, ts(12), "another window entirely here", "web"))
    val batchDf = rows.toDF("doc_id", "ts", "text", "source")
    val batch = EventStreams.corpusMonitor(batchDf).collect()
      .map(_.toSeq.map(String.valueOf)).toSet
    // two windows for web (t0-10, t10-20), one for spam
    assert(batch.size == 3, batch.toString)
    val mem = MemoryStream[(Long, Timestamp, String, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text", "source")
    val q = EventStreams.corpusMonitor(df)
      .writeStream.format("memory").queryName("cmon")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark so every window closes and emits
      mem.addData((99L, ts(120), "late straggler closes windows", "web"))
      q.processAllAvailable()
      val streamed = spark.table("cmon")
        .filter($"window_start" < ts(60)).collect()
        .map(_.toSeq.map(String.valueOf)).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming ingest dedup: in-flight near-dup flags equal the batch " +
      "incremental probe") {
    implicit val sql = spark.sqlContext
    import graft.llm.Dedup
    val corpus = Seq(
      (100L, "the cat sat on the mat today"),
      (101L, "a completely different corpus document here"),
      (102L, "yet another unrelated piece of text entirely"))
      .toDF("doc_id", "text")
    // doc 1 near-duplicates corpus 100; docs 2 and 3 are fresh
    val incoming = Seq(
      (1L, ts(0), "the cat sat on the mat today"),
      (2L, ts(1), "brand new content never seen before anywhere"),
      (3L, ts(2), "the quick brown fox jumps over everything"))
    val batchTwin = Dedup.incrementalNearDups(
        incoming.map(r => (r._1, r._3)).toDF("doc_id", "text"), corpus,
        shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchTwin.map(p => (p._1, p._2)) == Set((1L, 100L)),
      batchTwin.toString)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingNearDups(df, corpus, shingleSize = 1)
      .writeStream.format("memory").queryName("snd")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("snd").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batchTwin, s"streamed=$streamed batch=$batchTwin")
      // a pair that matched on several bands still appears exactly once
      assert(spark.table("snd").count() ==
        spark.table("snd").distinct().count())
    } finally q.stop()
  }

  test("per-row replicable minhash is value-identical to the batch " +
      "aggregate, and the streaming probe honors a replicable index") {
    implicit val sql = spark.sqlContext
    import graft.llm.Dedup
    val corpus = Seq(
      (100L, "the cat sat on the mat today"),
      (101L, "a completely different corpus document here"))
      .toDF("doc_id", "text")
    val ss = Dedup.withShingleSets(corpus, 1).localCheckpoint()
    // signature + band identity between the stateless per-row form and
    // the batch aggregate, for BOTH hash families — and for BOTH
    // per-row kernels: the session carries GraftExtensions, so the
    // default per-row path is the native graft_minhash expression
    // (round 11); forcing native=false exercises the HOF fallback an
    // unextended session would run. All three must agree exactly.
    for (rep <- Seq(false, true)) {
      val batch = Dedup.minHashOfSets(ss, 32, 4, rep).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
        .toMap
      val perRow = Dedup.minHashPerRow(ss, 32, 4, rep)
        .select("doc_id", "signature", "bands").collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
        .toMap
      assert(perRow == batch, s"per-row/batch diverge at replicable=$rep")
      val perRowHof = Dedup.minHashPerRowImpl(ss, 32, 4, rep,
          native = false)
        .select("doc_id", "signature", "bands").collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
        .toMap
      assert(perRowHof == batch,
        s"HOF-fallback/batch diverge at replicable=$rep")
    }
    // a replicable-built index probed with replicable=true finds the
    // dup — before the flag existed the stream hashed with the stock
    // family and silently reported every doc clean
    val idx = Dedup.minHashOfSets(ss, replicable = true).localCheckpoint()
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingNearDupsIndexed(df, idx, ss,
        shingleSize = 1, replicable = true)
      .writeStream.format("memory").queryName("sndrep")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts(0), "the cat sat on the mat today"))
      q.processAllAvailable()
      val got = spark.table("sndrep").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L)), got.toString)
    } finally q.stop()
  }

  test("per-row minhash kernels agree on null shingle elements") {
    // r11 advice: the native kernel used to NPE on a null shingle
    // element while the HOF fallback returned a value — extended and
    // unextended sessions diverged on the same input. Both hash
    // families must now agree element-for-element.
    import org.apache.spark.sql.functions.{array, lit}
    import graft.llm.Dedup
    val withNull = spark.range(1).select(lit(7L).as("doc_id"),
      array(lit("alpha"), lit(null).cast("string"), lit("beta"))
        .as("shingle_set"))
    for (rep <- Seq(false, true)) {
      def sigBands(native: Boolean) =
        Dedup.minHashPerRowImpl(withNull, 32, 4, rep, native)
          .select("signature", "bands").collect()
          .map(r => (r.getSeq[Long](0), r.getSeq[Long](1))).toSeq
      assert(sigBands(native = true) == sigBands(native = false),
        s"native/HOF diverge on a null shingle at replicable=$rep")
    }
    // replicable mode: null elements contribute nothing (sha2(null) is
    // null and array_min skips it), so the signature equals the one
    // computed on the non-null subset
    val noNull = spark.range(1).select(lit(7L).as("doc_id"),
      array(lit("alpha"), lit("beta")).as("shingle_set"))
    assert(
      Dedup.minHashPerRowImpl(withNull, 32, 4, replicable = true,
          native = true)
        .select("signature").collect()(0).getSeq[Long](0) ==
      Dedup.minHashPerRowImpl(noNull, 32, 4, replicable = true,
          native = true)
        .select("signature").collect()(0).getSeq[Long](0))
    // degenerate all-null array: the one input where the kernel's
    // containsNull=false output could not carry the HOF form's
    // replicable-mode array-of-nulls. minHashPerRowImpl screens it
    // (non-null-element count), so BOTH hash families drop the row in
    // BOTH modes and native ≡ HOF holds unconditionally; the raw
    // kernel itself returns null (the empty-set result).
    val allNull = spark.range(1).select(lit(9L).as("doc_id"),
      array(lit(null).cast("string"), lit(null).cast("string"))
        .as("shingle_set"))
    assert(allNull.select(expr("graft_minhash(shingle_set, 32, true)"))
      .collect()(0).isNullAt(0))
    for (rep <- Seq(false, true); native <- Seq(true, false))
      assert(Dedup.minHashPerRowImpl(allNull, 32, 4, rep, native)
        .count() == 0L,
        s"all-null set survived at replicable=$rep native=$native")
    // and a mixed null/non-null set still survives on every path
    for (rep <- Seq(false, true); native <- Seq(true, false))
      assert(Dedup.minHashPerRowImpl(withNull, 32, 4, rep, native)
        .count() == 1L)
  }

  test("streaming embed dedup: in-flight semantic flags equal the batch " +
      "incremental probe") {
    implicit val sql = spark.sqlContext
    import graft.llm.Similarity
    def vec(seed: Int): Array[Float] = {
      val v = (0 until 64).map(j =>
        (((seed * 31 + j * 17) % 13) - 6).toFloat).toArray
      v
    }
    val corpus = Seq(
      (100L, vec(1)), (101L, vec(2)), (102L, vec(3)))
      .toDF("vec_id", "embedding")
    // vec 1 duplicates corpus 100 exactly; 2 and 3 are fresh directions
    val incoming = Seq(
      (1L, ts(0), vec(1)), (2L, ts(1), vec(7)), (3L, ts(2), vec(9)))
    val batchTwin = Similarity.incrementalCosineNearDups(
        incoming.map(r => (r._1, r._3)).toDF("vec_id", "embedding"),
        corpus, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(batchTwin.map(p => (p._1, p._2)).contains((1L, 100L)),
      batchTwin.toString)
    val mem = MemoryStream[(Long, Timestamp, Array[Float])]
    val df = mem.toDF.toDF("vec_id", "ts", "embedding")
    val q = EventStreams.streamingEmbedDedup(df, corpus, tau = 0.9)
      .writeStream.format("memory").queryName("semb")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(incoming.map(r => (r._1, r._2, r._3)): _*)
      q.processAllAvailable()
      val streamed = spark.table("semb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batchTwin, s"streamed=$streamed batch=$batchTwin")
      // multi-table collisions still emit each pair exactly once
      assert(spark.table("semb").count() ==
        spark.table("semb").distinct().count())
    } finally q.stop()
  }

  test("reference-anchored drift: streaming windowed centroids equal the " +
      "batch run of the same function, shifted window spikes") {
    implicit val sql = spark.sqlContext
    val refDocs = Seq(
      (100L, "alpha beta gamma delta"),
      (101L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, ts(0), "alpha beta gamma delta"),
      (2L, ts(3), "alpha beta gamma epsilon"),
      (3L, ts(12), "zulu yankee xray whiskey"), // vocabulary flip
      (4L, ts(14), "zulu yankee xray victor"))
    val batchDf = rows.toDF("doc_id", "ts", "text")
    val batch = EventStreams.streamingDrift(batchDf, refDocs).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.size == 2, batch.toString)
    val byStart = batch.toSeq.sortBy(_._1.getTime).map(_._3)
    assert(byStart(1) > byStart(0),
      s"flipped window must drift farther from the reference: $byStart")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingDrift(df, refDocs)
      .writeStream.format("memory").queryName("sdrift")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((99L, ts(120), "late straggler closes windows"))
      q.processAllAvailable()
      val streamed = spark.table("sdrift")
        .filter($"window_start" < ts(60)).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming decontamination: stateless per-row bloom screen equals " +
      "the batch twin, planted leak flagged in flight") {
    implicit val sql = spark.sqlContext
    import graft.llm.CorpusOps
    val evalDocs = Seq(
      (100L, "the secret eval benchmark question about turtles"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, ts(0), "the secret eval benchmark question about turtles"),
      (2L, ts(1), "an unrelated training document with fresh content"),
      (3L, ts(2), "another clean document nothing shared at all today"))
    val batchTwin = CorpusOps.bloomDecontaminateAgainst(
        incoming.map(r => (r._1, r._3)).toDF("doc_id", "text"), evalDocs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toSet
    assert(batchTwin.exists(r => r._1 == 1L && r._4), batchTwin.toString)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingDecontaminate(df, evalDocs)
      .writeStream.format("memory").queryName("sdec")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("sdec")
        .select("doc_id", "n_ngrams", "n_maybe", "dropped").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(streamed == batchTwin, s"streamed=$streamed batch=$batchTwin")
      // stateless plan: no state store operators in the progress
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "per-row bloom screen must not hold streaming state")
    } finally q.stop()
  }

  test("streaming ingest dedup under load: the same doc arriving in two " +
      "micro-batches is flagged once, new arrivals still flag") {
    implicit val sql = spark.sqlContext
    import graft.llm.Dedup
    val corpus = Seq(
      (100L, "the cat sat on the mat today"),
      (101L, "a completely different corpus document here"))
      .toDF("doc_id", "text")
    val ss = Dedup.withShingleSets(corpus, 1).localCheckpoint()
    val idx = Dedup.minHashOfSets(ss).localCheckpoint()
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF.toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingNearDupsIndexed(df, idx, ss,
        shingleSize = 1)
      .writeStream.format("memory").queryName("sndml")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: doc 1 near-duplicates corpus 100
      mem.addData((1L, ts(0), "the cat sat on the mat today"))
      q.processAllAvailable()
      assert(spark.table("sndml").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
      // batch 2: the SAME doc id + text arrives again (a retried ingest),
      // inside the watermark — dropDuplicatesWithinWatermark holds the
      // (new_id, corpus_id) pair in state across batch boundaries, so no
      // second row is emitted; a genuinely new near-dup still flags
      mem.addData(
        (1L, ts(1), "the cat sat on the mat today"),
        (2L, ts(1), "a completely different corpus document here"))
      q.processAllAvailable()
      val after = spark.table("sndml").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == Set((1L, 100L), (2L, 101L)), after.toString)
      assert(spark.table("sndml").count() == 2,
        "the re-arrived pair must not produce a duplicate row")
      // batch-twin agreement on the union of both batches (pair set —
      // the batch path emits each pair once too)
      val batchTwin = Dedup.incrementalNearDupsIndexed(
          Seq((1L, "the cat sat on the mat today"),
            (2L, "a completely different corpus document here"))
            .toDF("doc_id", "text"), idx, ss, shingleSize = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == batchTwin, s"stream=$after batch=$batchTwin")
    } finally q.stop()
  }

  test("restart from a checkpoint: sessions and near-dup pairs written " +
      "across a stop and restart equal their batch twins") {
    implicit val sql = spark.sqlContext
    import graft.llm.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-restart-")
    def dir(name: String) = root.resolve(name).toUri.toString
    val corpus = Seq(
      (100L, "the cat sat on the mat today"),
      (101L, "a completely different corpus document here"))
      .toDF("doc_id", "text")
    val docs = MemoryStream[(Long, Timestamp, String)]
    val events = MemoryStream[SessionEvent]
    // each run rebuilds both queries over the same sources and
    // checkpoints, as a restarted job does
    def start() = Seq(
      EventStreams.streamingNearDups(docs.toDF.toDF("doc_id", "ts", "text"),
          corpus, shingleSize = 1)
        .writeStream.format("parquet").option("path", dir("pairs"))
        .option("checkpointLocation", dir("pairs_ckpt")).start(),
      EventStreams.sessionize(events.toDS(), gapMinutes = 30)
        .writeStream.format("parquet").option("path", dir("sessions"))
        .option("checkpointLocation", dir("sessions_ckpt")).start())
    def trigger(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery],
        d: Seq[(Long, Timestamp, String)], e: Seq[SessionEvent]): Unit = {
      docs.addData(d: _*)
      events.addData(e: _*)
      qs.foreach(_.processAllAvailable())
    }
    val cat = "the cat sat on the mat today"
    val other = "a completely different corpus document here"
    val fed = Seq(
      (Seq((1L, ts(0), cat)),
        Seq(SessionEvent(7L, ts(0), 1.0), SessionEvent(7L, ts(10), 2.0),
          SessionEvent(8L, ts(5), 3.0))),
      (Seq((2L, ts(1), "brand new content never seen before anywhere")),
        Seq(SessionEvent(7L, ts(25), 4.0))),
      // after the restart: doc 1 again (its pair is in the dedup state,
      // so it must not repeat) and a session that spans the restart
      (Seq((1L, ts(2), cat), (3L, ts(2), other)),
        Seq(SessionEvent(7L, ts(40), 8.0), SessionEvent(8L, ts(100), 1.0))),
      (Seq((4L, ts(3), "the quick brown fox jumps over everything")),
        Seq(SessionEvent(7L, ts(200), 16.0))))
    try {
      val first = start()
      try fed.take(2).foreach { case (d, e) => trigger(first, d, e) }
      finally first.foreach(_.stop())
      val second = start()
      try {
        fed.drop(2).foreach { case (d, e) => trigger(second, d, e) }
        // two far-future triggers of a flush user move the watermark
        // past every open session
        Seq(2000, 4000).foreach(t =>
          trigger(second, Nil, Seq(SessionEvent(-1L, ts(t), 0.0))))
      } finally second.foreach(_.stop())
      val pairs = spark.read.parquet(dir("pairs")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val pairsTwin = Dedup.incrementalNearDups(
          fed.flatMap(_._1).map(d => (d._1, d._3)).distinct
            .toDF("doc_id", "text"), corpus, shingleSize = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.sorted == pairsTwin.toSeq.sorted,
        s"streamed=$pairs batch=${pairsTwin.toSeq}")
      assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 100L), (3L, 101L)))
      val sessions = spark.read.parquet(dir("sessions"))
        .filter($"user_id" =!= -1L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3).toLong, r.getDouble(4))).toSeq
      val sessionsTwin = EventStreams.sessionizeBatch(
          fed.flatMap(_._2).zipWithIndex.map { case (e, i) =>
            (i.toLong, e.ts, e.user_id, e.value) }
            .toDF("event_id", "ts", "user_id", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
      assert(sessions.sorted == sessionsTwin.sorted,
        s"streamed=$sessions batch=$sessionsTwin")
      // user 7's first session runs from t=0 to t=40, across the restart
      assert(sessions.contains((7L, ts(0).getTime, ts(40).getTime, 4L, 15.0)))
      // the logs were written by graft's manager: no .crc sidecars
      for (q <- Seq("pairs_ckpt", "sessions_ckpt"); log <- Seq("offsets",
          "commits"))
        assert(!root.resolve(q).resolve(log).toFile.list()
          .exists(_.endsWith(".crc")), s"$q/$log")
    } finally org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root.toUri), true)
  }

  test("stream builders install graft's checkpoint manager unless one is " +
      "already set") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val localPath = new Path(java.nio.file.Files.createTempDirectory(
      "graft-install-").toUri)
    def hadoopConf(s: org.apache.spark.sql.SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
    def frame(s: org.apache.spark.sql.SparkSession) =
      s.range(1).selectExpr("id AS event_id",
        "TIMESTAMP'2024-01-01 00:00:00' AS ts", "'a' AS event_type",
        "1.0D AS value")
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(key).isEmpty)
    EventStreams.windowedCounts(frame(fresh))
    assert(fresh.conf.get(key) == classOf[LocalCheckpointFiles].getName)
    assert(CheckpointFileManager.create(localPath, hadoopConf(fresh))
      .isInstanceOf[LocalCheckpointFiles])
    // a manager the user chose stays in place
    val chosen = spark.newSession()
    chosen.conf.set(key, classOf[FileSystemBasedCheckpointFileManager].getName)
    EventStreams.dedup(frame(chosen))
    assert(chosen.conf.get(key) ==
      classOf[FileSystemBasedCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(localPath, hadoopConf(chosen))
      .getClass == classOf[FileSystemBasedCheckpointFileManager])
    java.nio.file.Files.delete(java.nio.file.Paths.get(localPath.toUri))
  }
}
