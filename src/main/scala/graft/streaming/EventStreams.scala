package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events table shape (SURVEY §2.D): the
  * reference is batch-only, so this is the engine's additive streaming
  * surface. All transforms are source-agnostic — tests drive them with
  * MemoryStream, production would use readStream on files/Kafka.
  *
  * Scale notes: watermarks bound all state; the windowed aggregation
  * state is (window × event_type) keys; dedup state is bounded by the
  * watermark horizon; sessionization state is one small struct per
  * active user, expired by processing-time-independent event-time
  * timeout.
  *
  * Checkpoint I/O: every builder sets the stream's session to write its
  * checkpoint (offsets, commits, state deltas) through
  * [[LocalCheckpointFiles]], via Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`, unless that key is
  * already set, in which case the caller's manager stays. The key is a
  * session setting, so other streams of that session use it too; on
  * non-local file systems it is Spark's default manager.
  */
object EventStreams {

  private val checkpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Installs [[LocalCheckpointFiles]] on `spark` unless a checkpoint
    * file manager is already set there. */
  private def localCheckpoints(spark: SparkSession): Unit =
    if (spark.conf.getOption(checkpointManagerKey).isEmpty)
      spark.conf.set(checkpointManagerKey,
        classOf[LocalCheckpointFiles].getName)

  /** Tumbling-window counts + value sums per event type, 10-minute
    * windows, 20-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame = {
    localCheckpoints(events.sparkSession)
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("value_sum"))
  }

  /** Exactly-once-per-id dedup within the watermark horizon.
    * dropDuplicatesWithinWatermark, NOT dropDuplicates: plain
    * dropDuplicates only evicts state when the event-time column is part
    * of the dedup key, so keying on event_id alone would grow state
    * unboundedly on a long-running stream. */
  def dedup(events: DataFrame): DataFrame = {
    localCheckpoints(events.sparkSession)
    events.withWatermark("ts", "20 minutes")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Ingestion-time near-dup flagging — the streaming twin of
    * [[graft.llm.Dedup.incrementalNearDups]]: documents arriving on a
    * stream `(ts, doc_id, text)` probe the STATIC corpus's LSH band
    * index and report `(new_id, corpus_id, jaccard)` for every corpus
    * doc they near-duplicate, in flight.
    *
    * Streaming shape: shingling, the per-row MinHash signature
    * ([[graft.llm.Dedup.minHashPerRow]] — value-identical to the batch
    * aggregate path, but stateless), and the exact-Jaccard verify are
    * all per-row; the band probe and the shingle-set rejoin are
    * stream-STATIC equi-joins (stateless in append mode). The one
    * stateful operator is the pair dedup (a pair can match on several
    * bands), bounded by `dropDuplicatesWithinWatermark` — so total
    * state is the watermark horizon's worth of matched pairs, never
    * the corpus. At 100 TB the static side is the persisted minhash
    * index, exactly like the batch incremental path. */
  def streamingNearDups(docsStream: DataFrame, corpus: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      watermark: String = "20 minutes",
      replicable: Boolean = false): DataFrame = {
    import graft.llm.Dedup
    // static side built in-place and persist()ed — NOT localCheckpoint:
    // every micro-batch re-evaluates the static plan, so the cache is
    // what stops the corpus-wide minhash signing re-running per
    // batch, and persist keeps lineage so a lost executor recomputes
    // instead of failing a long-lived query
    val ssCor = Dedup.withShingleSets(corpus, shingleSize).persist()
    streamingNearDupsIndexed(docsStream,
      Dedup.minHashOfSets(ssCor, numHashes, rowsPerBand, replicable)
        .persist(), ssCor,
      shingleSize, threshold, numHashes, rowsPerBand, watermark, replicable)
  }

  /** Corpus ingest monitor — the per-window health rollup an ingestion
    * pipeline watches: for each 10-minute event-time window and source,
    * the doc count, token total (single-space formula), and mean
    * quality score. ONE function serves batch and streaming: `window()`
    * groups identically in both modes and the watermark is a no-op on a
    * batch frame, so the batch run IS the oracle-checkable twin of the
    * stream.
    *
    * Cross-engine exactness: per-doc quality re-floors to an exact
    * 1e-4-unit BIGINT before summing (order-independent), one divide at
    * the end — the [[graft.llm.TextOps.bm25]] discipline.
    *
    * Scale shape: windowed hash aggregate with map-side partials;
    * streaming state is (window × source) keys inside the watermark
    * horizon. */
  def corpusMonitor(docs: DataFrame,
      watermark: String = "20 minutes"): DataFrame = {
    import graft.llm.TextOps
    localCheckpoints(docs.sparkSession)
    val q4 = floor(TextOps.qualityScoreExpr * 10000 + 0.5).cast("long")
    docs.withWatermark("ts", watermark)
      .select(col("ts"), col("source"), TextOps.nTokExpr.as("n_tok"),
        q4.as("q4"))
      .groupBy(window(col("ts"), "10 minutes"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("q4").as("q4s"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("n_tokens"),
        TextOps.r4(col("q4s").cast("double") / col("n_docs") / 10000)
          .as("mean_quality"))
  }

  /** [[streamingNearDups]] probing a PRE-BUILT index — the deployment
    * shape, mirroring [[graft.llm.Dedup.incrementalNearDupsIndexed]]:
    * `corpusIndex` `(doc_id, signature, bands)` and `corpusShingles`
    * `(doc_id, shingle_set)` are loaded from storage (or persist()ed),
    * so the corpus is never re-shingled inside the stream. Build
    * parameters must match the index's — same numHashes/rowsPerBand/
    * shingleSize AND the same `replicable` hash family: buckets from
    * one family never equal the other's, so a mismatch silently
    * reports every streamed doc clean (the batch twin's warning
    * applies verbatim here). */
  def streamingNearDupsIndexed(docsStream: DataFrame,
      corpusIndex: DataFrame, corpusShingles: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      watermark: String = "20 minutes",
      replicable: Boolean = false): DataFrame = {
    import graft.llm.Dedup
    localCheckpoints(docsStream.sparkSession)
    val bCor = corpusIndex
      .select(col("doc_id").as("corpus_id"), explode(col("bands")).as("bucket"))
    val setB = corpusShingles.select(col("doc_id").as("corpus_id"),
      col("shingle_set").as("set_b"))
    // stream side: everything per-row, event-time column retained
    val probe = Dedup.minHashPerRow(
        docsStream.withWatermark("ts", watermark)
          .select(col("ts"), col("doc_id"),
            Dedup.shingleSetExpr(docsStream.sparkSession, shingleSize)
              .as("shingle_set")),
        numHashes, rowsPerBand, replicable)
      .select(col("ts"), col("doc_id").as("new_id"),
        col("shingle_set").as("set_a"), explode(col("bands")).as("bucket"))
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    probe.join(bCor, Seq("bucket"))
      // dedup candidates BEFORE the verify join — a true near-dup
      // collides on several bands, and each extra row would re-run the
      // exact-Jaccard set intersection; the batch path dedups at the
      // same point. set_a rides along (identical per new_id).
      .dropDuplicatesWithinWatermark("new_id", "corpus_id")
      .join(setB, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        graft.llm.TextOps.r4(inter.cast("double")
          / (size(col("set_a")) + size(col("set_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Watermarked stream-stream interval join: for every left event, the
    * right-side events of the same user within (0, maxDelayMinutes]
    * AFTER it — the funnel/attribution join. Both sides carry
    * watermarks, and the time-interval condition lets Spark bound and
    * evict join state on both sides (unbounded state otherwise). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      maxDelayMinutes: Int = 10): DataFrame = {
    localCheckpoints(left.sparkSession)
    val l = left.withWatermark("ts", "20 minutes")
      .select(col("user_id"), col("event_id").as("l_id"),
        col("event_type").as("l_type"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", "20 minutes")
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("event_type").as("r_type"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelayMinutes MINUTES"))
      .select(col("user_id"), col("l_id"), col("l_type"), col("l_ts"),
        col("r_id"), col("r_type"), col("r_ts"))
  }

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  /** Batch view of the SAME session definition [[sessionize]] applies in
    * streaming — a session closes after `gapMinutes` of user inactivity.
    * Real pipelines run exactly this pair: the streaming state machine
    * for live data plus a batch gaps-and-islands backfill, and the two
    * must agree on the session boundaries. The batch form is pure window
    * functions (LAG + cumulative new-session flags), totally ordered by
    * (ts, event_id), so it is oracle-checkable — which transitively
    * checks the session semantics the streaming path implements. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val e = events.select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("ts_ms"), col("value"))
    e.withColumn("prev", lag("ts_ms", 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts_ms") - col("prev") > gapMs, 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"),
        count(lit(1)).as("n_events"),
        (floor(sum("value") * 1e4 + 0.5) / 1e4).as("value_sum"))
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"), col("value_sum"))
      .orderBy("user_id", "start_ms")
  }

  /** Batch twin of [[intervalJoin]]: the SAME pair definition — for
    * every left event, same-user right events strictly after it and
    * within `maxDelayMinutes` — as a batch equi-join on user_id with a
    * range residual, aggregated to per-user pair counts. At scale both
    * sides shuffle once on the user key and the time band bounds the
    * per-key fan-out, exactly the state bound the watermark gives the
    * streaming form; StreamingSpec asserts the two forms agree. */
  def intervalJoinBatch(events: DataFrame,
      maxDelayMinutes: Int = 10): DataFrame = {
    val wMs = maxDelayMinutes * 60000L
    val e = events.select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("ts_ms"))
    val l = e.select(col("user_id"), col("event_id").as("l_id"),
      col("ts_ms").as("l_ms"))
    val r = e.select(col("user_id"), col("event_id").as("r_id"),
      col("ts_ms").as("r_ms"))
    l.join(r, Seq("user_id"))
      .filter(col("r_ms") > col("l_ms") && col("r_ms") <= col("l_ms") + wMs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, value_sum: Double)

  /** Event-time sessionization: a session closes after `gapMinutes` of
    * user inactivity (state timeout keyed to the watermark). The custom
    * state machine is the `flatMapGroupsWithState` path the reference
    * never had (SURVEY §2.D). */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    localCheckpoints(events.sparkSession)
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.start, s.last, s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t),
                    s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= Session(user, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** In-flight decontamination — the streaming twin of
    * [[graft.llm.CorpusOps.bloomDecontaminateAgainst]]: documents
    * arriving on a stream `(ts, doc_id, text)` are screened against a
    * STATIC eval corpus compressed into a replicable Bloom bitmap at
    * query-build time. The probe is a pure per-row projection (shingle
    * HOF + k literal-bitmap lookups), so the plan is STATELESS in
    * append mode — no join, no aggregation, no watermark state; at
    * 100 TB/day ingest this screens every doc for the cost of a map.
    * Same one-sided guarantee as the batch op: no false negatives, so
    * nothing contaminated slips through.
    *
    * Value-identity with the batch twin: per doc, `n_ngrams` counts
    * the distinct shingle set and `n_maybe` its bloom-positive subset
    * — the same numbers the batch path gets from explode + hash agg
    * (the shingle set is already distinct, so per-row HOF counting and
    * per-gram-row aggregation see the same multiset). Docs with empty
    * shingle sets drop out, matching the batch aggregate. */
  def streamingDecontaminate(docsStream: DataFrame, evalDocs: DataFrame,
      shingleSize: Int = 3, maxOverlap: Double = 0.5,
      mBits: Int = 0, numHashes: Int = 4): DataFrame = {
    import graft.llm.{CorpusOps, Dedup, TextOps}
    localCheckpoints(docsStream.sparkSession)
    val (bitmap, m) =
      CorpusOps.bloomBuild(evalDocs, shingleSize, mBits, numHashes)
    val bm = typedlit(bitmap.toSeq)
    val probed = docsStream
      .select(col("ts"), col("doc_id"),
        Dedup.shingleSetExpr(docsStream.sparkSession, shingleSize)
          .as("shingle_set"))
      .filter(size(col("shingle_set")) > 0)
      .select(col("ts"), col("doc_id"),
        size(col("shingle_set")).cast("long").as("n_ngrams"),
        size(filter(col("shingle_set"),
          g => CorpusOps.bloomHitExpr(bm, m, numHashes)(g)))
          .cast("long").as("n_maybe"))
    probed.select(col("ts"), col("doc_id"), col("n_ngrams"), col("n_maybe"),
        TextOps.r4(col("n_maybe").cast("double") / col("n_ngrams"))
          .as("overlap_ub"))
      .withColumn("dropped", col("overlap_ub") >= maxOverlap)
  }

  /** Ingest-time SEMANTIC near-dup flagging — the embedding-space
    * sibling of [[streamingNearDups]]: vectors arriving on a stream
    * `(ts, vec_id, embedding)` probe the STATIC corpus's sign-LSH
    * bucket table and report `(new_id, corpus_id, cos_sim)` for every
    * corpus vector they near-duplicate at `tau`, in flight. Batch twin
    * = [[graft.llm.Similarity.incrementalCosineNearDups]].
    *
    * Streaming shape: the sign-LSH bucket keys are pure per-row
    * expressions even in batch, so the stream side needs no special
    * form; the bucket probe and the norm rejoin are stream-static
    * equi-joins (stateless in append mode); the one stateful operator
    * is the multi-table pair dedup, watermark-bounded like the lexical
    * probe. The corpus bucket/norm frames persist here so micro-batches
    * never recompute them. */
  def streamingEmbedDedup(embStream: DataFrame, corpusEmb: DataFrame,
      tau: Double, bucketLength: Double = 2.0, numTables: Int = 3,
      dim: Int = 64, watermark: String = "20 minutes",
      nproj: Int = 0): DataFrame = {
    import graft.llm.Similarity
    localCheckpoints(embStream.sparkSession)
    val native = corpusEmb.sparkSession.catalog.functionExists("graft_dot")
    def dotOf(a: String, b: String) =
      if (native) expr(s"graft_dot($a, $b)")
      else Similarity.dot(col(a), col(b))
    // the STATIC corpus is countable at stream setup, so auto mode
    // matches the batch twin's corpus-driven projection ladder; both
    // sides then key identically (the probe reuses the same np)
    val np =
      if (nproj > 0) nproj
      else Similarity.adaptiveProjections(corpusEmb.count())
    val bCor = corpusEmb.select(col("vec_id").as("corpus_id"),
        explode(Similarity.signBucketsExpr(bucketLength, numTables, dim,
          np)).as("tb"))
      .select(col("corpus_id"), col("tb.t").as("t"), col("tb.b").as("b"))
      .persist()
    val corNorm = corpusEmb
      .select(col("vec_id").as("corpus_id"), col("embedding").as("eb"))
      .withColumn("nb", sqrt(dotOf("eb", "eb")))
      .persist()
    val probe = embStream.withWatermark("ts", watermark)
      .select(col("ts"), col("vec_id").as("new_id"),
        col("embedding").as("ea"),
        explode(Similarity.signBucketsExpr(bucketLength, numTables, dim,
          np)).as("tb"))
      .select(col("ts"), col("new_id"), col("ea"),
        col("tb.t").as("t"), col("tb.b").as("b"))
    probe.join(bCor, Seq("t", "b"))
      .join(corNorm, Seq("corpus_id"))
      .select(col("ts"), col("new_id"), col("corpus_id"),
        (dotOf("ea", "eb") / (sqrt(dotOf("ea", "ea")) * col("nb"))).as("c"))
      .filter(col("c") >= tau)
      // dedup AFTER the verify, unlike the lexical probe: sign-LSH
      // candidate volume is ~hundreds of collisions per vector (the
      // blocking is coarse by design), so a pre-verify
      // dropDuplicatesWithinWatermark kept CANDIDATE pairs in the state
      // store — measured ~554 state rows per input vector, 2.4 GB of
      // state at 5,000 vectors/trigger (round-10 StreamScale). Deduping
      // the VERIFIED pairs instead bounds state by the output (the
      // actual near-dups inside the watermark) at the price of at most
      // numTables redundant dot products per duplicate candidate —
      // stateless compute, the right side of the trade at scale.
      .dropDuplicatesWithinWatermark("new_id", "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (floor(col("c") * 10000 + 0.5) / 10000).as("cos_sim"))
  }

  /** Reference-anchored embedding drift — the streamable form of
    * [[graft.llm.CorpusOps.driftWindows]]: a FIXED reference corpus's
    * centroid (integer per-dim sums, collected at query-build time —
    * `dim` longs of driver state) anchors the comparison, so each
    * event-time window needs only its own windowed aggregate; per-doc
    * embeddings come from the stateless [[TextOps.featurizePerRow]].
    * ONE function serves batch and streaming (the [[corpusMonitor]]
    * discipline): `window()` groups identically in both modes and the
    * watermark is a no-op on a batch frame, so the batch run IS the
    * oracle-checkable twin of the stream.
    *
    * Anchoring on a reference (not the self-average) is also the more
    * principled monitor: a slowly drifting corpus drags its own global
    * centroid along and hides the trend; a pinned reference doesn't. */
  def streamingDrift(docs: DataFrame, refDocs: DataFrame, dim: Int = 16,
      watermark: String = "20 minutes"): DataFrame = {
    import graft.llm.TextOps
    localCheckpoints(docs.sparkSession)
    val e4of = (e: org.apache.spark.sql.Column) =>
      transform(e, x => floor(x * 10000 + 0.5).cast("long"))
    val refRow = TextOps.featurize(refDocs, dim, ordered = false)
      .select(e4of(col("embedding")).as("e4"))
      .select((0 until dim).map(i =>
        sum(element_at(col("e4"), i + 1)).as(s"g$i")): _*)
      .collect()
    val g = (0 until dim).map(i =>
      if (refRow.isEmpty || refRow(0).isNullAt(i)) 0L else refRow(0).getLong(i))
    val sums = (0 until dim).map(i =>
      sum(element_at(col("e4"), i + 1)).as(s"s$i"))
    val aggCols = count(lit(1)).as("n_docs") +: sums
    val w = docs.withWatermark("ts", watermark)
      .select(col("ts"), e4of(TextOps.featurizePerRow(dim)).as("e4"))
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(aggCols.head, aggCols.tail: _*)
    // the same left-to-right double tree as driftWindows / the oracle;
    // reference terms fold driver-side in the identical order
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dot = (0 until dim).map(i => d(col(s"s$i")) * lit(g(i).toDouble))
      .reduce(_ + _)
    val nw = (0 until dim).map(i => d(col(s"s$i")) * d(col(s"s$i")))
      .reduce(_ + _)
    val ng = (0 until dim).map(i => g(i).toDouble * g(i).toDouble)
      .reduce(_ + _)
    w.select(col("window.start").as("window_start"), col("n_docs"),
      when(nw === 0 || lit(ng) === 0, lit(null).cast("double"))
        .otherwise(TextOps.r4(lit(1.0) - dot / (sqrt(nw) * sqrt(lit(ng)))))
        .as("drift"))
  }
}
