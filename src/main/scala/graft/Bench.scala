package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Queries whose plan consults [[graft.core.QueryCache]] (the suite-
    * dedup memo for deterministic sync twins / Lloyd / rank-1 ALS).
    * The memo is cleared BEFORE every timed sample of these (round-9
    * advice): otherwise the timed plan executes a driver-cache hit, the
    * reported number is not a standalone query cost, and the 2× gate
    * can no longer detect regressions in the memoized computation
    * (BENCH_r09 reported graph_louvain_sync at 0.167 s vs ~6 s
    * isolated). BASELINE §5 documents both semantics. */
  private val memoBacked = Set(
    "ml_kmeans", "ml_lloyd_fixed", "ml_als", "ml_als_fixed",
    "graph_lpa", "graph_lpa_sync", "graph_louvain", "graph_louvain_sync",
    "graph_ppr_multi", "graph_ppr_multi_sync")

  /** BASELINE.md §6 per-query gate numbers (sf0.1, re-measured at r11
    * code with §5 standalone-cost semantics — round-11 directive #4:
    * the r8 §3 numbers had drifted vacuous for the fast movers, e.g.
    * llm_semdedup ran 0.49× of its old gate). Used by the
    * self-adjudication pass: any headline > 1.5× its baseline is
    * automatically re-probed with 3 isolated warm reps in this JVM
    * (round-10 directive #2 — BASELINE §4's manual protocol, automated). */
  private[graft] val baselineGate = Map(
    // r14 re-baseline (round-13 directive #1): the r11-window gates had
    // drifted 1.2-1.5x slow-side for the iterative-graph family on
    // every current quiet window (two rounds stable at unchanged code
    // — gate-window skew, SCALE_r12 §9 / SCALE_r13 §2), eating the
    // 1.5x probe threshold's regression-detection headroom. Re-measured
    // 2026-08-16 at r14 code as the MIN of each row's refined
    // (best-2-of-3) number over FOUR full-suite windows (start/end
    // cpu_spin 0.574-0.612 s vs the 0.647 s reference; two windows
    // carried mid-run multi-core load their inflated rows simply don't
    // contribute minima from), §5 standalone-cost semantics unchanged.
    // BASELINE §6 r14 table. On the fully-quiet window every row reads
    // 1.00-1.30x of these gates (pass-1 max ratio 1.18, zero probes).
    "q01_scan" -> 0.10, "q07_agg" -> 0.25, "q11_window_topk" -> 0.38,
    "q20_join5_agg" -> 0.88, "ml_kmeans" -> 2.48, "ml_knn" -> 0.97,
    "ml_svc" -> 9.28, "ml_dbscan" -> 2.50, "graph_pagerank" -> 2.29,
    "graph_louvain" -> 26.53, "graph_louvain_sync" -> 8.37,
    "graph_node2vec" -> 11.27, "graph_betweenness" -> 9.83,
    "graph_kcore" -> 3.69, "graph_subgraph_tri" -> 3.86,
    "llm_dedup_minhash" -> 0.30, "llm_near_dup_pairs" -> 0.89,
    "llm_dedup_groups" -> 1.22, "llm_dedup_keep_best" -> 1.48,
    "llm_ann_cosine" -> 0.42, "llm_ann_native" -> 0.28,
    "llm_ann_ivf" -> 0.60, "llm_ann_pq" -> 1.54, "llm_ann_ivfpq" -> 1.93,
    "llm_embed_dedup" -> 1.50, "llm_semdedup" -> 1.44,
    "llm_containment" -> 1.74, "llm_span_dups" -> 0.77,
    "llm_curation" -> 3.00, "llm_token_budget" -> 0.50,
    "llm_ann_ivf_residual" -> 2.93, "llm_ann_ivf_residual3" -> 4.24,
    "llm_ann_text" -> 0.73, "llm_hybrid_rrf" -> 0.82,
    "llm_bpe_encode" -> 0.74, "llm_span_remove" -> 0.15,
    "llm_decontaminate_bloom" -> 0.71, "llm_boilerplate" -> 0.13,
    "llm_within_doc_dedup" -> 0.11, "llm_pii_consume" -> 0.11,
    "llm_normalize_consume" -> 0.12)

  /** BASELINE §6's cpu_spin reading on the machine/session the gate
    * table was measured (0.647 s) — the denominator that converts a
    * probe-time canary into a host-load factor. */
  private[graft] val canaryGate = 0.647

  /** Canary-aware probe verdict (round-11 directive #1). BENCH_r11
    * shipped three false "regression" verdicts at provably unchanged
    * code because the 3 warm probe reps ran inside the same contended
    * window as the suite and the verdict compared them to a FIXED 1.5×
    * threshold while the run's own canary already said the host was
    * slow. The threshold now scales by the host-load factor measured
    * AT PROBE TIME (canaryAtProbe / §6's 0.647 s, floored at 1 so a
    * fast host never loosens the gate), and when the warm minimum
    * still exceeds the scaled threshold on a loaded host (factor
    * > 1.15) the verdict is "host-loaded" — unadjudicable this window,
    * NEVER "regression". "regression" only ships from a quiet host. */
  private[graft] def probeVerdict(warmMin: Double, gate: Double,
      canaryAtProbe: Double): String = {
    val host = math.max(1.0, canaryAtProbe / canaryGate)
    if (warmMin <= 1.5 * gate * host) "contention"
    else if (host > 1.15) "host-loaded"
    else "regression"
  }

  /** One probe attempt: (canary measured immediately before the warm
    * reps, the warm-rep times). */
  private[graft] final case class ProbeAttempt(canary: Double,
      warm: Seq[Double])

  /** Probe with auto-requeue under load (round-13 directive #4): all
    * three of r13's final-code passes shipped "contention" verdicts —
    * correct adjudications, but each left the record without a quiet
    * number where one short backoff would likely have produced one.
    * When the first attempt's canary says the host is loaded (factor
    * > 1.15 vs the 0.647 s reference), back off once and retry the full
    * 3-warm-rep probe; ship the attempt with the QUIETER canary and
    * record the other attempt's canary so the adjudication remains
    * auditable. `attempt`/`backoff` are injected so the loaded-host
    * path is unit-testable without a loaded host.
    * Returns (shipped attempt, verdict, requeued?, other attempt's
    * canary when a requeue happened). */
  private[graft] def probeWithRequeue(gate: Double,
      attempt: () => ProbeAttempt,
      backoff: () => Unit = () => Thread.sleep(15000)):
      (ProbeAttempt, String, Boolean, Option[Double]) = {
    val a1 = attempt()
    if (a1.canary / canaryGate <= 1.15)
      (a1, probeVerdict(a1.warm.min, gate, a1.canary), false, None)
    else {
      backoff()
      val a2 = attempt()
      val (ship, other) = if (a2.canary <= a1.canary) (a2, a1) else (a1, a2)
      (ship, probeVerdict(ship.warm.min, gate, ship.canary), true,
        Some(other.canary))
    }
  }

  /** Gate-freshness self-check verdict (round-12 directive #6, fast
    * side; round-13 directive #2 added the slow-side mirror): on a
    * QUIET host (factor ≤ 1.15; a loaded window can't judge freshness),
    * ≥5 gated rows reading <0.6× of gate means the engine has outrun
    * the gates (the 2× band going vacuous — the r11 re-baseline
    * trigger), and ≥5 gated rows reading >1.3× means the gate window
    * was faster than current quiet windows, eating the 1.5× probe
    * threshold's regression-detection headroom (the r13 iterative-graph
    * finding, which this rule would have self-surfaced two rounds
    * earlier). Both can fire at once (disjoint row sets). */
  private[graft] def gateFreshnessVerdict(isGateScale: Boolean,
      hostFactor: Double, fastRows: Int, slowRows: Int): String =
    if (!isGateScale) "n/a (gates are sf0.1 numbers)"
    else if (hostFactor > 1.15) "ok (loaded window; freshness unjudged)"
    else Seq(
      if (fastRows >= 5) Seq("re-baseline due (fast-side): " +
        s"$fastRows gated rows <0.6x on a quiet canary") else Nil,
      if (slowRows >= 5) Seq("re-baseline due (slow-side): " +
        s"$slowRows gated rows >1.3x on a quiet canary") else Nil)
      .flatten.reduceOption(_ + "; " + _).getOrElse("ok")

  /** Per-query detail ships only for this headline set + the known
    * heavy queries: the driver keeps a bounded tail of stdout, and the
    * round-1 all-89-query line (~2.9 kB) came back decapitated and
    * unparseable. The total still covers every query. Every headline
    * row carries a [[baselineGate]] entry (r11 directive #2 — ungated
    * reported rows could regress silently between re-baselines); a
    * CoreSpec test enforces the invariant. */
  private[graft] val headline = Set("q01_scan", "q07_agg",
    "q11_window_topk",
    "q20_join5_agg", "ml_kmeans", "ml_knn", "graph_pagerank",
    "llm_dedup_minhash", "llm_near_dup_pairs", "llm_ann_cosine",
    "graph_louvain", "graph_betweenness", "graph_subgraph_tri",
    "graph_node2vec", "graph_kcore", "ml_svc", "ml_dbscan",
    "llm_ann_ivf", "llm_ann_native", "llm_embed_dedup",
    "llm_ann_ivf_residual", "llm_ann_ivf_residual3",
    "llm_dedup_groups", "llm_curation", "graph_louvain_sync",
    "llm_ann_pq", "llm_ann_ivfpq", "llm_semdedup", "llm_span_dups",
    "llm_ann_text", "llm_hybrid_rrf", "llm_bpe_encode",
    "llm_span_remove", "llm_decontaminate_bloom", "llm_boilerplate",
    "llm_dedup_keep_best", "llm_token_budget", "llm_within_doc_dedup",
    "llm_containment", "llm_pii_consume", "llm_normalize_consume")

  /** Streaming throughput gates (round-11 directive #4; re-baselined
    * round 13 under the [[steadyStat]] drop-worst-mean protocol —
    * BASELINE §7): steady-state rows/s at the 15k-row trigger, the MIN
    * over 3 quiet windows (canary cpu_spin 0.563–0.692 s; per-row
    * spread across the windows ≤ ±5.3%). A regression in e.g. the
    * native minhash kernel path fires a bench verdict instead of
    * hiding in a tool. */
  private[graft] val streamGate = Map(
    "near_dups_rps" -> 2940.0, "embed_dedup_rps" -> 2410.0,
    "sessionize_rps" -> 15440.0)

  /** Canary-aware verdict for a streaming THROUGHPUT row (higher is
    * better, so the host factor credits rather than discounts): ok
    * within 1.4× of the gate after host adjustment (the old 2× band
    * matched the old statistic's ±25% swing; [[steadyStat]]'s ≤6%
    * makes 1.4× both safe and able to catch a genuine 1.5×
    * regression); a loaded host ships host-loaded, never slow —
    * mirror of [[probeVerdict]]. */
  private[graft] def streamVerdict(rps: Double, gate: Double,
      canaryAtRun: Double): String = {
    val host = math.max(1.0, canaryAtRun / canaryGate)
    if (rps * host >= gate / 1.4) "ok"
    else if (host > 1.15) "host-loaded"
    else "slow"
  }

  /** Composition-chain gate (round-13 directive #3): total wall seconds
    * of the four-stage curate → bloom-decontaminate → semdedup →
    * split/export chain ([[graft.llm.Pipeline.curateChain]], langs
    * en+und) over the ×10 stress replica of sf0.1 (50k docs / 20k
    * vectors, generated untimed by [[graft.sources.StressReplicas]] and
    * cached under /tmp). The ×30 Bloom-saturation bug (SCALE_r13 §4)
    * proved chain-ONLY defects exist — stage interplay that 197 green
    * per-operator rows cannot see; this row runs the chain every bench
    * pass instead of only in hand-driven SCALE rounds. Statistic: the
    * chain runs TWICE per pass and the faster run ships (a single
    * sample read 1.48x of the quiet minimum on a window both canaries
    * called quiet — the same variance that put the headline rows on
    * best-2-of-3). Gate measured at r14 round-end code (curateMulti +
    * stage-boundary release in the chain): min of the best-of-2
    * statistic over two full-suite windows, 12.69/14.50 s (BASELINE
    * §8). */
  private[graft] val pipelineGate = Map("pipeline_x10" -> 12.69)

  /** Canary-aware verdict for the pipeline row (lower is better, same
    * 1.4× band as streaming — the chain total is a sum of four stages
    * whose individual variance partially cancels; loaded host ships
    * host-loaded, never slow — mirror of [[probeVerdict]]). */
  private[graft] def pipelineVerdict(sec: Double, gate: Double,
      canaryAtRun: Double): String = {
    val host = math.max(1.0, canaryAtRun / canaryGate)
    if (sec <= 1.4 * gate * host) "ok"
    else if (host > 1.15) "host-loaded"
    else "slow"
  }

  /** Robust streaming statistic (round-12 verdict #2: best-of-2-post-
    * cold of 3 triggers swung ±25% on quiet windows and passed only via
    * the 2× band): per-trigger rows/s for the post-cold triggers, worst
    * one dropped, remainder averaged — the same drop-the-outlier-mean
    * discipline as the query headline numbers, over a 4-sample base
    * instead of 2. */
  private[graft] def steadyStat(warmRps: Seq[Double]): Double =
    if (warmRps.isEmpty) 0.0
    else if (warmRps.size == 1) warmRps.head
    else { val kept = warmRps.sorted.drop(1); kept.sum / kept.size }

  /** Bounded fixed-rate streaming throughput measurement (round-11
    * directive #4): drives the three stateful streaming probes —
    * streamingNearDups (the graft_minhash hot path), streamingEmbedDedup
    * (sign-LSH probe), sessionize (flatMapGroupsWithState) — through
    * MemoryStream at the 15k-row trigger StreamScale measured, 5
    * triggers each with event time advancing past the watermark
    * (round-13: was 3 — too thin a statistic, see [[steadyStat]]).
    * Returns each probe's post-cold per-trigger rows/s vector so the
    * detail file can ship the raw samples. Payload collects are bounded
    * at exactly 15k rows each. */
  private def streamBench(spark: SparkSession,
      sfDir: String): Seq[(String, Seq[Double])] = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long): Timestamp =
      new Timestamp(1700000000000L + min * 60000L)
    val rate = 15000
    val nTriggers = 5
    def steadyRps(q: StreamingQuery): Seq[Double] = {
      val warm = q.recentProgress.filter(_.numInputRows > 0).drop(1)
      warm.map { p =>
        val ms = p.durationMs.getOrDefault("triggerExecution", 0L)
        if (ms > 0) p.numInputRows * 1000.0 / ms else 0.0
      }.toSeq
    }
    // bounded collects: exactly `rate` payload rows each (cycled by
    // modulo when the table is smaller)
    val texts = graft.sources.Tables(spark, sfDir, "documents")
      .select("text").limit(rate).collect().map(_.getString(0))
    val vecs = graft.sources.Tables(spark, sfDir, "embeddings")
      .select("embedding").limit(rate).collect().map(_.getSeq[Float](0))
    val nearDups = {
      val corpus = graft.sources.Tables(spark, sfDir, "documents")
        .select("doc_id", "text")
      val mem = MemoryStream[(Long, Timestamp, String)]
      val q = EventStreams.streamingNearDups(
          mem.toDF.toDF("doc_id", "ts", "text"), corpus)
        .writeStream.format("memory").queryName("bench_nd")
        .outputMode(OutputMode.Append()).start()
      try {
        for (b <- 0 until nTriggers) {
          mem.addData((0 until rate).map(i => (1000000L + b * rate + i,
            ts(b * 30 + i % 10), texts(i % texts.length))): _*)
          q.processAllAvailable()
        }
        steadyRps(q)
      } finally q.stop()
    }
    val embedDedup = {
      val corpus = graft.sources.Tables(spark, sfDir, "embeddings")
      val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
      val q = EventStreams.streamingEmbedDedup(
          mem.toDF.toDF("vec_id", "ts", "embedding"), corpus, tau = 0.4)
        .writeStream.format("memory").queryName("bench_ed")
        .outputMode(OutputMode.Append()).start()
      try {
        for (b <- 0 until nTriggers) {
          mem.addData((0 until rate).map(i => (1000000L + b * rate + i,
            ts(b * 30 + i % 10), vecs(i % vecs.length))): _*)
          q.processAllAvailable()
        }
        steadyRps(q)
      } finally q.stop()
    }
    val sessionize = {
      // the flatMapGroupsWithState store's partition count is frozen at
      // stream start from spark.sql.shuffle.partitions; sized to the
      // core count it hands 32 near-empty state partitions to a 15k-row
      // trigger and the row reads SLOWER at MORE cores (r14 driver pair:
      // 26,997 rps at c32 vs 61,319 at c8 — round-14 verdict #5). Size
      // it from the trigger volume instead — ~2k rows per state
      // partition, never above the core count — which is the same rule
      // a deployment applies to its expected trigger rate, not a
      // local[32] constant.
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val stateParts =
        math.max(1, math.min(prevParts.toInt, rate / 2000))
      spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      try {
        val mem = MemoryStream[EventStreams.SessionEvent]
        val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
          .writeStream.format("memory").queryName("bench_ss")
          .outputMode(OutputMode.Append()).start()
        try {
          for (b <- 0 until nTriggers) {
            mem.addData((0 until rate).map(i => EventStreams.SessionEvent(
              (i % (rate / 10 + 1)).toLong, ts(b * 120 + i % 20),
              1.0)): _*)
            q.processAllAvailable()
          }
          steadyRps(q)
        } finally q.stop()
      } finally spark.conf
        .set("spark.sql.shuffle.partitions", prevParts)
    }
    Seq("near_dups_rps" -> nearDups, "embed_dedup_rps" -> embedDedup,
      "sessionize_rps" -> sessionize)
  }

  /** Fixed single-thread CPU microbench (300M xorshift64 steps): a
    * host-speed canary independent of Spark, parquet, and the JIT state
    * of any query — a uniform inflation of this number alongside the
    * query times is the host (BASELINE §4), not the engine. */
  private[graft] def cpuSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < 300000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    // acc escapes so the loop cannot be dead-code-eliminated
    if (acc == 42L) System.err.println("[bench] cpu_spin sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  /** 8-thread companion of [[cpuSpin]] (each thread runs the full 300M
    * steps): on an idle many-core host it reads ≈ the single-thread
    * time; it inflates under MULTI-core contention the single-thread
    * canary is blind to (round-13 finding: quiet cpu_spin readings
    * bracketed windows whose 32-thread query times differed 1.3×).
    * Observability only — verdict math stays on the single-thread
    * canary whose 0.647 s reference the gates were measured against. */
  private[graft] def cpuSpin8(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var acc = 0L
        var i = 0L
        while (i < 300000000L) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x
          i += 1
        }
        if (acc == 42L) System.err.println("[bench] cpu_spin8 sentinel")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Compute-bound core-scaling sentinel (round-14 verdict #2): a fixed
    * 2e9-row xxhash64 fold over 64 partitions — no input data, no
    * shuffle beyond the final 1-row reduce, so wall time is work/cores.
    * The sf0.1 suite is overhead-dominated (mean headline row ~1 s) and
    * its per-query c8/c32 ratios read ~1.0, which the driver's scaling
    * block flagged as `suspect_cpus_ignored`; this row gives that block
    * one query whose ratio MUST track the usable core ratio (~2x on this
    * SMT host where 32 vCPUs are ~16 physical cores — see cpu_spin8 —
    * ~cores_hi/cores_lo on real silicon). bit_xor, not sum: a sum of
    * 2e9 hashes overflows long under ANSI mode. */
  private[graft] def cpuSentinel(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.expr
    val t0 = System.nanoTime()
    spark.range(0L, 2000000000L, 1L, 64)
      .select(expr("bit_xor(xxhash64(id))")).head()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); Tables converts to micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def clearSparkState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    /** One timed sample with standalone-cost semantics: memo-backed
      * queries get a cold QueryCache, and Spark-side cache/persisted
      * state is dropped afterwards so samples never subsidize each
      * other. */
    def sample(name: String): Double = {
      if (memoBacked(name)) graft.core.QueryCache.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      clearSparkState()
      dt
    }

    // one UNTIMED warm-up before any timed sample: the first job of a
    // fresh JVM pays JIT + whole-stage-codegen compilation + parquet
    // footer caching for everything after it (round-7 artifact: the
    // suite's first heavy query, graph_pagerank, recorded 6.06 s while
    // its isolated median was 2.91 s — the warm-up absorbs that cost
    // outside the measurement window). NON-headline queries only
    // (round-8 advice: warming up with q20_join5_agg gave that one
    // headline query an identical-plan state advantage no other headline
    // got) — q09_rollup exercises scan+agg codegen on the largest table,
    // q04_join_inner the join machinery, and the bare counts warm the
    // parquet footers of the non-TPC-H tables every later family reads.
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries("q09_rollup")(spark, sfDir).count()
      SparkEntry.queries("q04_join_inner")(spark, sfDir).count()
      Seq("documents", "embeddings", "events")
        .foreach(t => graft.sources.Tables(spark, sfDir, t).count())
      clearSparkState()
      System.err.println(
        f"[bench] warm-up (q09+q04+footers) ${(System.nanoTime() - t0) / 1e9}%8.3f s (untimed)")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    // host-speed canary, measured before the suite: q01_scan warm
    // minimum (Spark scan path) + the pure-CPU spin. Re-spun after the
    // suite so a mid-run host slowdown is visible as start/end drift.
    val spinStart = cpuSpin()
    val spin8Start = cpuSpin8()
    val q01Canary = (1 to 3).map(_ => sample("q01_scan")).min
    System.err.println(
      f"[bench] canary cpu_spin=$spinStart%.3f s cpu_spin8=$spin8Start%.3f s " +
        f"q01_scan_warm=$q01Canary%.3f s")

    var errors = List.empty[String]
    // optional comma-separated allowlist for local iteration: time one
    // query (plus its reruns) without paying for the whole suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // mid-run canaries (round-12 verdict #1): a cpu_spin sample every
    // ~25 queries, so a contended window INSIDE the suite is visible in
    // the shipped record instead of only as start/end drift — BENCH_r12's
    // 730 s total vs 444 s same-code quiet passes was unattributable
    // because the canary only bracketed the run.
    val midCanaries = scala.collection.mutable.ListBuffer
      .empty[(Int, String, Double, Double)]
    val results = selected.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), idx) =>
        if (memoBacked(name)) graft.core.QueryCache.clear()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          // a failing query must be visible in the JSON, not silently
          // folded into a healthy-looking total
          errors ::= name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // each query is an independent job: drop whatever it cached or
        // localCheckpoint'ed so 195 queries in one JVM don't accumulate
        // storage pressure (round-2 bench ran node2vec 3x slower inside
        // the suite than isolated purely from leaked blocks)
        clearSparkState()
        // full per-query trace on stderr (stdout stays one JSON line)
        System.err.println(f"[bench] $name%-24s $dt%8.3f s")
        if ((idx + 1) % 25 == 0) {
          val spin = cpuSpin()
          val spin8 = cpuSpin8()
          midCanaries += ((idx + 1, name, spin, spin8))
          System.err.println(
            f"[bench] mid-canary after #${idx + 1}%3d ($name) " +
              f"cpu_spin=$spin%.3f s cpu_spin8=$spin8%.3f s")
        }
        name -> dt
      }
    def r3(v: Double) = math.floor(v * 1000 + 0.5) / 1000
    val headline = Bench.headline
    // Every headline number is drop-max-then-mean of 3 runs (1 suite
    // pass + 2 re-runs, caches cleared between). Single samples proved
    // unadjudicable twice: r4/r5 graph_louvain swung 24 -> 77 s on one
    // sample while the plan was unchanged — BASELINE.md documents 4x
    // swings for iterative fits under local[32] contention, and the 2x
    // gate can't distinguish contention from regression without a
    // robust statistic. Median proved insufficient in r7: when all 3
    // samples share one contended window the middle one is still
    // inflated (pagerank 6.06 s median vs 2.91 s isolated), so the max
    // sample is dropped entirely and the remaining two average. A
    // SPARK_GRAFT_ONLY run reruns every row it names, so each is judged
    // on that statistic. The suite total stays the plain single-pass sum.
    val rerunSamples = scala.collection.mutable.Map
      .empty[String, Seq[Double]]
    val refined = results.map { case (name, t1) =>
      if (!(headline(name) || only.isDefined) || errors.contains(name))
        name -> t1
      else {
        val reruns = (1 to 2).map { _ =>
          val dt = sample(name)
          System.err.println(f"[bench] $name%-24s $dt%8.3f s (rerun)")
          dt
        }
        rerunSamples(name) = reruns
        name -> (t1 +: reruns).sorted.take(2).sum / 2.0
      }
    }
    // self-adjudication (round-10 directive #2): any headline whose
    // refined number exceeds 1.5× its BASELINE §6 gate is re-probed with
    // 3 isolated warm reps in THIS JVM. The verdict is canary-aware
    // (round-11 directive #1, see [[probeVerdict]]): the cpu spin is
    // re-measured immediately before the warm reps, the 1.5× threshold
    // scales by the measured host-load factor, and a loaded host ships
    // "host-loaded" rather than a false "regression". canary_at_probe
    // ships in the JSON so the adjudication is auditable.
    // probe attempts auto-requeue once under load (round-13 directive
    // #4, see [[probeWithRequeue]]): a first attempt whose canary reads
    // > 1.15x the reference backs off 15 s and retries; the quieter
    // attempt ships, the other attempt's canary rides along as
    // requeue metadata.
    val probes = refined.flatMap { case (name, t) =>
      baselineGate.get(name)
        .filter(b => !errors.contains(name) && t > 1.5 * b)
        .map { b =>
          val (att, verdict, requeued, otherCanary) = probeWithRequeue(b,
            () => ProbeAttempt(cpuSpin(), (1 to 3).map(_ => sample(name))))
          System.err.println(
            f"[bench] probe $name%-18s suite=$t%.3f base=$b%.2f " +
              f"canary=${att.canary}%.3f warm=" +
              att.warm.map(w => f"$w%.3f").mkString("/") +
              (if (requeued) f" requeued(other_canary=${otherCanary.get}%.3f)"
               else "") + s" -> $verdict")
          name -> ((t, b, att, verdict, requeued, otherCanary))
        }
    }
    // streaming throughput section (round-11 directive #4): skipped in
    // SPARK_GRAFT_ONLY mode unless "streaming" is named, so query
    // iteration loops don't pay for it. A failure is recorded like a
    // failing query, never a dead JSON line.
    var streamTriggers = Seq.empty[(String, Seq[Double])]
    val streamRows: Seq[(String, Double)] =
      if (only.isDefined && !only.get.contains("streaming")) Seq.empty
      else try {
        val canaryAtStream = cpuSpin()
        val canaryAtStream8 = cpuSpin8()
        streamTriggers = streamBench(spark, sfDir)
        clearSparkState()
        val rows = streamTriggers.map { case (k, v) => k -> steadyStat(v) }
        rows.foreach { case (k, v) =>
          val verdict = streamGate.get(k)
            .map(g => streamVerdict(v, g, canaryAtStream))
            .getOrElse("ungated")
          System.err.println(
            f"[bench] stream $k%-18s ${v}%9.1f rows/s -> $verdict")
        }
        rows :+ ("canary_at_stream" -> canaryAtStream) :+
          ("canary_at_stream8" -> canaryAtStream8)
      } catch { case e: Throwable =>
        errors ::= "streaming"
        System.err.println(s"[bench] streaming failed: ${e.getMessage}")
        Seq.empty
      }
    // composition-chain section (round-13 directive #3): the four-stage
    // curate → bloom → semdedup → export chain over the ×10 stress
    // replica, gated as ONE row — chain-only defects (the ×30 Bloom
    // saturation class) regress here even when every per-operator row
    // stays green. Corpus generation and the export temp dir are
    // untimed setup; only the chain is measured. Skipped in
    // SPARK_GRAFT_ONLY mode unless "pipeline" is named.
    var pipelineStages = Seq.empty[graft.llm.Pipeline.Stage]
    var pipelineRunTotals = Seq.empty[Double]
    val pipelineRows: Seq[(String, Double)] =
      if (only.isDefined && !only.get.contains("pipeline")) Seq.empty
      else try {
        val base = new java.io.File(sfDir).getName
        val stressDir = s"/tmp/graft_bench_stress/${base}_x10"
        // cache keyed on the BASE corpus's file inventory (name+size+
        // mtime of both parquet dirs), not just _SUCCESS: a driver-
        // regenerated sf0.1 must invalidate the replica, or the gated
        // chain silently measures a stale corpus
        val fingerprint = Seq("documents", "embeddings").map { t =>
          val dir = new java.io.File(s"$sfDir/$t.parquet")
          Option(dir.listFiles()).map(_.sortBy(_.getName)
            .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
            .mkString(",")).getOrElse("missing")
        }.mkString(";")
        val marker = java.nio.file.Paths.get(s"$stressDir/.base_fingerprint")
        val ready = Seq("documents", "embeddings").forall(t =>
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$stressDir/$t.parquet/_SUCCESS"))) &&
          java.nio.file.Files.exists(marker) &&
          new String(java.nio.file.Files.readAllBytes(marker),
            "UTF-8") == fingerprint
        if (!ready) {
          val t0 = System.nanoTime()
          graft.sources.StressReplicas.writeDocsEmb(
            spark, sfDir, stressDir, copies = 10)
          java.nio.file.Files.write(marker, fingerprint.getBytes("UTF-8"))
          System.err.println(f"[bench] x10 stress corpus -> $stressDir " +
            f"(${(System.nanoTime() - t0) / 1e9}%.1f s, untimed)")
        }
        clearSparkState()
        val canaryAtPipeline = cpuSpin()
        val canaryAtPipeline8 = cpuSpin8()
        // the chain runs twice and the faster run ships — the same
        // drop-the-slow-sample discipline as the headline rows' best-2-
        // of-3 (re-baseline calibration: a single chain sample read
        // 1.48x of the quiet minimum on a window whose canaries both
        // read quiet; two samples collapse that spread)
        val runs = (1 to 2).map { i =>
          val out = java.nio.file.Files
            .createTempDirectory("graft_bench_pipe").toString
          val r = graft.llm.Pipeline.curateChain(
            spark, stressDir, out, Seq("en", "und"),
            m => System.err.println(s"[bench] pipeline(run$i) $m"))
          clearSparkState()
          // best-effort cleanup of the exported JSONL
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(java.nio.file.Paths.get(out))
              .sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala
              .foreach(p => java.nio.file.Files.delete(p))
          } catch { case _: Throwable => }
          r
        }
        val (chainSec, stages) = runs.minBy(_._1)
        pipelineStages = stages
        pipelineRunTotals = runs.map(_._1)
        val verdict =
          if (!sfDir.contains("sf0.1")) "ungated"
          else pipelineVerdict(chainSec, pipelineGate("pipeline_x10"),
            canaryAtPipeline)
        System.err.println(
          f"[bench] pipeline_x10 best-of-2 $chainSec%8.2f s " +
            s"(runs ${runs.map(r => f"${r._1}%.2f").mkString("/")})" +
            s" -> $verdict")
        Seq("pipeline_x10" -> chainSec,
          "canary_at_pipeline" -> canaryAtPipeline,
          "canary_at_pipeline8" -> canaryAtPipeline8)
      } catch { case e: Throwable =>
        errors ::= "pipeline"
        System.err.println(s"[bench] pipeline failed: ${e.getMessage}")
        Seq.empty
      }
    // core-scaling sentinel row (round-14 verdict #2): min of 3 (same
    // statistic as the canaries), reported INSIDE the queries map so the
    // driver's c8/c32 scaling block sees one row that must track cores.
    // Deliberately NOT a headline/gated row: its quiet value scales with
    // 1/cores by design, so a core-count-calibrated static gate would
    // false-fire the probe machinery at the driver's low-core run.
    // Excluded from totals (instrument, not suite work). Skipped in
    // SPARK_GRAFT_ONLY iteration loops unless named.
    val sentinelSec: Option[Double] =
      if (only.forall(_("cpu_sentinel")))
        try {
          val reps = (1 to 3).map(_ => cpuSentinel(spark))
          System.err.println("[bench] cpu_sentinel " +
            reps.map(r => f"$r%.3f").mkString("/") + " s (min ships)")
          Some(reps.min)
        } catch { case e: Throwable =>
          errors ::= "cpu_sentinel"
          System.err.println(s"[bench] cpu_sentinel failed: ${e.getMessage}")
          None
        }
      else None
    val spinEnd = cpuSpin()
    val spin8End = cpuSpin8()
    val qs = (refined.filter(r => headline(r._1))
      .map { case (k, v) => "\"" + k + "\":" + r3(v) } ++
      sentinelSec.map(s => "\"cpu_sentinel\":" + r3(s)))
      .mkString("{", ",", "}")
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probeJson = probes.map {
      case (k, (t, b, att, verdict, requeued, otherCanary)) =>
        "\"" + k + "\":{\"suite\":" + r3(t) + ",\"baseline\":" + b +
          ",\"canary_at_probe\":" + r3(att.canary) +
          ",\"warm\":" + att.warm.map(r3).mkString("[", ",", "]") +
          ",\"requeued\":" + requeued +
          otherCanary.map(c => ",\"canary_other_attempt\":" + r3(c))
            .getOrElse("") +
          ",\"verdict\":\"" + verdict + "\"}"
    }.mkString("{", ",", "}")
    val canaryJson = "{\"cpu_spin_start\":" + r3(spinStart) +
      ",\"cpu_spin_end\":" + r3(spinEnd) +
      ",\"cpu_spin8_start\":" + r3(spin8Start) +
      ",\"cpu_spin8_end\":" + r3(spin8End) +
      ",\"q01_scan_warm\":" + r3(q01Canary) + "}"
    val streamJson = streamRows.map { case (k, v) =>
      val vd = streamGate.get(k)
        .map(g => ",\"gate\":" + g + ",\"verdict\":\"" +
          streamVerdict(v, g,
            streamRows.toMap.getOrElse("canary_at_stream", spinStart)) +
          "\"").getOrElse("")
      "\"" + k + "\":" + (if (k.startsWith("canary_at_stream")) r3(v).toString
        else "{\"rps\":" + r3(v) + vd + "}")
    }.mkString("{", ",", "}")
    // totals from the UNROUNDED per-query sums; only the final values
    // round (r13 advice: headline_total as a difference of two rounded
    // values drifted a millisecond or two from the true headline sum)
    val totalRaw = results.map(_._2).sum
    val total = r3(totalRaw)
    val headlineTotal =
      r3(results.filter(r => headline(r._1)).map(_._2).sum)
    val nonheadlineTotal =
      r3(results.filterNot(r => headline(r._1)).map(_._2).sum)
    // gate-freshness self-check (round-12 directive #6 fast side;
    // round-13 directive #2 slow side — see [[gateFreshnessVerdict]]):
    // when the gates have drifted from quiet-window reality in EITHER
    // direction, say so in the shipped record instead of waiting for a
    // judge to notice (the r11 fast-side re-baseline and the r13
    // slow-side iterative-graph skew were both noticed by hand).
    val hostFactor =
      math.max(1.0, math.min(spinStart, spinEnd) / canaryGate)
    // freshness needs a STRICTER quiet predicate than the probe path:
    // the re-baseline calibration (4 windows, 2026-08-16) showed a
    // window whose start/end single-thread canaries read quiet while
    // mid-run 8-thread spins read 1.3x — its inflated rows would have
    // false-fired the slow-side rule. The freshness host factor is
    // therefore the WORST canary anywhere in the run, single- or
    // 8-thread (spin8 ≈ spin on an idle many-core host, so the same
    // 0.647 s reference applies).
    val freshnessHostFactor = {
      val all = Seq(spinStart, spinEnd, spin8Start, spin8End) ++
        midCanaries.flatMap(m => Seq(m._3, m._4))
      math.max(1.0, all.max / canaryGate)
    }
    val fastRows = refined.count { case (name, t) =>
      baselineGate.get(name).exists(b =>
        !errors.contains(name) && t < 0.6 * b)
    }
    val slowRows = refined.count { case (name, t) =>
      baselineGate.get(name).exists(b =>
        !errors.contains(name) && t > 1.3 * b)
    }
    val gateFreshness = gateFreshnessVerdict(
      sfDir.contains("sf0.1"), freshnessHostFactor, fastRows, slowRows)
    // full per-query single-pass detail (round-12 directive #1): stdout
    // stays one machine-read line, but every number that line sums —
    // all ~197 single-pass times, the headline rerun samples, and the
    // mid-run canaries — ships in a sidecar file so total drift is
    // attributable to named queries or a named contention window.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT",
      "BENCH_detail.json")
    val detailJson = {
      val sp = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val rr = rerunSamples.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + v.map(r3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val mc = midCanaries.map { case (n, after, spin, spin8) =>
        s"""{"after_n":$n,"after_query":"$after","cpu_spin":${r3(spin)},""" +
          s""""cpu_spin8":${r3(spin8)}}"""
      }.mkString("[", ",", "]")
      val st = streamTriggers.map { case (k, v) =>
        "\"" + k + "\":" + v.map(r3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      // raw per-stage vector for the composition chain (round-13
      // directive #3): a pipeline_x10 verdict is adjudicable down to
      // the stage that moved
      val ps = pipelineStages.map { s =>
        s"""{"name":"${s.name}","sec":${r3(s.sec)},""" +
          s""""survivors":${s.survivors},"heap_mb":${s.heapMb}}"""
      }.mkString("[", ",", "]")
      val prt = pipelineRunTotals.map(r3).mkString("[", ",", "]")
      s"""{"single_pass":$sp,"reruns":$rr,"mid_canaries":$mc,""" +
        s""""stream_triggers_postcold":$st,""" +
        s""""pipeline_stages":$ps,"pipeline_runs":$prt,""" +
        s""""headline_total":$headlineTotal,""" +
        s""""nonheadline_total":$nonheadlineTotal,""" +
        sentinelSec.map(s => s""""cpu_sentinel":${r3(s)},""").getOrElse("") +
        s""""canary":$canaryJson,"errors":$errJson,"sf":"$sfDir"}"""
    }
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detailJson.getBytes("UTF-8"))
      System.err.println(s"[bench] per-query detail -> $detailPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    val pipelineJson = pipelineRows.map { case (k, v) =>
      if (k.startsWith("canary_at_pipeline")) "\"" + k + "\":" + r3(v)
      else {
        val vd =
          if (!sfDir.contains("sf0.1")) ",\"verdict\":\"ungated\""
          else pipelineGate.get(k).map(g => ",\"gate\":" + g +
            ",\"verdict\":\"" + pipelineVerdict(v, g,
              pipelineRows.toMap.getOrElse("canary_at_pipeline",
                spinStart)) + "\"")
            .getOrElse(",\"verdict\":\"ungated\"")
        "\"" + k + "\":{\"sec\":" + r3(v) + vd + "}"
      }
    }.mkString("{", ",", "}")
    // run manifest (round-13 directive #6): one mechanically-readable
    // digest per run — label, detail-file pointer, canary summary, and
    // every verdict — so a judge diffs quiet passes across rounds
    // without prose archaeology. Label via SPARK_GRAFT_RUN_LABEL.
    val manifestPath = sys.env.getOrElse("SPARK_GRAFT_MANIFEST_OUT",
      "BENCH_manifest.json")
    val manifestJson =
      s"""{"run":"${sys.env.getOrElse("SPARK_GRAFT_RUN_LABEL", "adhoc")}",""" +
        s""""detail_file":"$detailPath","total":$total,""" +
        s""""headline_total":$headlineTotal,""" +
        s""""nonheadline_total":$nonheadlineTotal,""" +
        s""""canary":$canaryJson,"gate_freshness":"$gateFreshness",""" +
        s""""errors":$errJson,"probes":$probeJson,""" +
        s""""streaming":$streamJson,"pipeline":$pipelineJson,""" +
        s""""cpus":$cpus,""" +
        s""""n_queries":${results.size},"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(manifestPath),
        manifestJson.getBytes("UTF-8"))
      System.err.println(s"[bench] run manifest -> $manifestPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] manifest write failed: ${e.getMessage}")
    }
    // make the parallelism the bench ACTUALLY ran with machine-readable
    // (round-14 verdict #2: the driver's scaling block could not tell
    // "ignores SPARK_GRAFT_CPUS" from "no parallel work at this SF")
    val defaultPar = spark.sparkContext.defaultParallelism
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""cpus":$cpus,"parallelism":$defaultPar,""" +
        s""""nonheadline_total":$nonheadlineTotal,""" +
        s""""errors":$errJson,"canary":$canaryJson,"probes":$probeJson,""" +
        s""""streaming":$streamJson,""" +
        s""""pipeline":$pipelineJson,""" +
        s""""gate_freshness":"$gateFreshness",""" +
        s""""detail_file":"$detailPath",""" +
        s""""manifest_file":"$manifestPath",""" +
        s""""n_queries":${results.size},"sf":"$sfDir",""" +
        s""""method":"total=single pass after untimed warm-up """ +
        s"""(per-query vector + mid-run canaries every 25 queries in """ +
        s"""detail_file); headline queries=mean of best 2 of 3 (max """ +
        s"""dropped); QueryCache cleared before every timed sample of """ +
        s"""memo-backed queries (standalone-cost semantics, BASELINE """ +
        s"""\\u00a75); probes=3 isolated warm reps for any headline """ +
        s""">1.5x its BASELINE \\u00a76 gate, verdict threshold scaled """ +
        s"""by canary_at_probe/0.647 (host-loaded shipped when the """ +
        s"""scaled threshold still trips on a >1.15x-loaded host; a """ +
        s"""loaded first attempt requeues once after 15s backoff and """ +
        s"""the quieter attempt ships); streaming=drop-worst mean of """ +
        s"""the 4 post-cold triggers of 5 at the 15k trigger (sessionize """ +
        s"""state-store partitions sized from trigger volume: """ +
        s"""min(cpus, rows/2000)), gated vs """ +
        s"""BASELINE \\u00a77 at 1.4x; pipeline=x10 composition chain """ +
        s"""total, gated vs BASELINE \\u00a78 at 1.4x (stages in """ +
        s"""detail_file); cpu_sentinel=min of 3 fixed 2e9-op """ +
        s"""compute-bound folds (64 partitions, no input) — its wall """ +
        s"""time scales with usable cores, ungated and excluded from """ +
        s"""totals"}"""
    // stop FIRST so no executor/log line interleaves with the one
    // machine-read output line
    spark.stop()
    println(line)
    System.out.flush()
  }
}
