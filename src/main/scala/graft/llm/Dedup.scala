package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora: exact (hash group-by),
  * MinHash+LSH near-dup candidate generation, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale design (100 TB): exact dedup groups on a 256-bit content hash —
  * the shuffle carries 32 bytes + ids instead of full documents. MinHash
  * banding turns the quadratic all-pairs problem into an equi-join on
  * band-bucket keys (only colliding docs ever meet), which Catalyst
  * executes as an ordinary shuffle join — AQE handles skewed buckets.
  *
  * Signature math is deliberately NOT nested higher-order-function
  * lambdas: a lambda body is re-evaluated per invocation, so e.g. a
  * 32-seed minhash over an inlined shingle expression recomputes shingle
  * construction 32× per row (measured 0.17 s/row). In a session carrying
  * GraftExtensions, shingle sets and signatures come from compiled
  * per-row kernels ([[graft.functions.ShingleSet]],
  * [[graft.functions.MinHashSig]]): one method call per document, no
  * explode, no aggregate, no shuffle. An unextended session uses the
  * distributed formulation instead — explode shingles/tokens, then one
  * hash aggregation with N min/sum columns, whose partial (map-side)
  * aggregation reduces each group to N longs before the shuffle, so the
  * exchange carries O(docs × N), not O(shingles).
  */
object Dedup {

  /** Exact dedup: one representative (min doc_id) per distinct text.
    * Equivalent to GROUP BY text but shuffles a fixed-width sha2 key. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt")
      .orderBy("keep_id")

  /** Distinct word n-gram shingles of a token array, built with O(1)
    * element_at lookups (slice-per-index is O(n²) per row). Falls back to
    * the distinct tokens when the doc is shorter than n. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array_distinct(toks)).otherwise(
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))))

  /** The shingle-set Column over an unresolved `text` column. Resolves
    * to the native [[graft.functions.ShingleSet]] kernel when the session
    * carries GraftExtensions (bit-identical output; the declarative HOF
    * chain interprets a lambda per token and dominated every
    * MinHash-family query), falling back to the declarative [[shingles]]
    * form otherwise. A bare expression for callers that must PRESERVE
    * other columns (the streaming ingest path keeps its event-time
    * column for the watermark). */
  def shingleSetExpr(spark: org.apache.spark.sql.SparkSession,
      shingleSize: Int): Column =
    if (spark.catalog.functionExists("graft_shingles"))
      expr(s"graft_shingles(text, $shingleSize)")
    else shingles(TextOps.tokens(col("text")), shingleSize)

  /** (doc_id, shingle_set) projection through [[shingleSetExpr]] —
    * shared by signature generation and exact-Jaccard verification. */
  def withShingleSets(docs: DataFrame, shingleSize: Int): DataFrame =
    // deliberately NOT fanned out: consumers that partial-agg the
    // shingles down to O(1) per doc (MinHash signatures, contamination
    // probes) measured NO benefit from a pre-projection repartition even
    // at the ×30 stress corpus (their map output is 32 longs per doc)
    // while the exchange's fixed cost showed up at sf0.1 (minhash
    // 0.43 → 0.70 s). Consumers whose downstream EXPANDS the shingles
    // corpus-scale (the novelty gram explode) fan out at their own call
    // sites instead.
    docs.select(col("doc_id"),
      shingleSetExpr(docs.sparkSession, shingleSize).as("shingle_set"))

  /** Round-robin an under-partitioned batch frame out to the session's
    * parallelism ahead of a compute-bound per-row stage. A no-op for
    * wide inputs (`partitions >= defaultParallelism`), for streaming
    * frames, and — when `minBytes` is set — for frames too small to
    * repay the exchange's fixed cost (~0.25 s of task scheduling at
    * local[32]; a corpus under a couple of MB cannot buy that back even
    * at full parallelism). At cluster scale the scan is already wide
    * and this never fires. */
  private[graft] def fanOut(df: DataFrame, minBytes: Long = 0L): DataFrame = {
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      val big = minBytes == 0L ||
        df.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes
      if (big && df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** MinHash signatures + LSH band-bucket keys: `numHashes` minima of a
    * seeded hash over each document's shingles, sliced into
    * `numHashes / rowsPerBand` band buckets. Docs sharing any bucket are
    * near-dup candidates. Empty documents produce no shingles and drop
    * out (nothing to collide with).
    *
    * `replicable = true` swaps the xxhash64 shingle/seed/band hashing
    * for sha2 shingle hashes + the modular mixing family below — every
    * value then reproduces in any engine with SHA-256 and 64-bit
    * integer arithmetic, making the full signature/band output
    * oracle-checkable. Default stays on xxhash64 (fastest). */
  def minHash(docs: DataFrame, shingleSize: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      replicable: Boolean = false): DataFrame =
    minHashOfSets(withShingleSets(docs, shingleSize), numHashes,
      rowsPerBand, replicable)

  /** [[minHash]] over a precomputed (doc_id, shingle_set) frame, one row
    * per doc_id — lets callers that ALSO need the shingle sets
    * (exact-Jaccard verification) tokenize and shingle the corpus
    * exactly once. Output (doc_id, signature, bands). */
  def minHashOfSets(shingleSets: DataFrame,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      replicable: Boolean = false): DataFrame =
    minHashOfSetsImpl(shingleSets, numHashes, rowsPerBand, replicable,
      shingleSets.sparkSession.catalog.functionExists("graft_minhash"))

  /** [[minHashOfSets]] with the kernel choice forced. `native` signs
    * each row through `graft_minhash` (the minimum over the same hash
    * multiset, so value-identical); otherwise each shingle row is
    * hashed once per seed inside a codegen'd partial aggregate and the
    * signature assembled post-agg — the form for unextended sessions
    * and the spec's reference. One divergence, on input no shingler
    * produces: a non-empty set of only NULL elements signs to a null
    * signature and bands on the kernel path, to arrays of nulls on the
    * aggregate path (inert either way: a null bucket joins nothing). */
  private[graft] def minHashOfSetsImpl(shingleSets: DataFrame,
      numHashes: Int, rowsPerBand: Int, replicable: Boolean,
      native: Boolean): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val bandCol = bandsExpr(numHashes / rowsPerBand, rowsPerBand, replicable)
    val signed =
      if (native)
        // screen on the INPUT (cheap size check) rather than the kernel's
        // null output: a filter over the signature would be pushed below
        // its projection and evaluate the kernel twice
        shingleSets.filter(size(col("shingle_set")) > 0)
          .select(col("doc_id"),
            expr(s"graft_minhash(shingle_set, $numHashes, $replicable)")
              .as("signature"))
      else {
        val sigCols = (0 until numHashes).map { s =>
          val mixed =
            if (replicable) mixMod(col("h"), s) else xxhash64(col("h"), lit(s))
          min(mixed).as(s"m$s")
        }
        shingleSets
          .select(col("doc_id"), explode(col("shingle_set")).as("sh"))
          .select(col("doc_id"),
            (if (replicable) sha2TokenHash(col("sh")) else xxhash64(col("sh")))
              .as("h"))
          .groupBy("doc_id")
          .agg(sigCols.head, sigCols.tail: _*)
          .select(col("doc_id"),
            array((0 until numHashes).map(i => col(s"m$i")): _*)
              .as("signature"))
      }
    signed.select(col("doc_id"), col("signature"), bandCol.as("bands"))
  }

  /** Band-bucket keys from a per-row `signature` array — shared by the
    * batch aggregate path ([[minHashOfSets]]) and the per-row streaming
    * path ([[minHashPerRow]]), so both derive identical buckets. */
  private def bandsExpr(nBands: Int, rowsPerBand: Int,
      replicable: Boolean): Column =
    if (replicable)
      transform(sequence(lit(0), lit(nBands - 1)),
        b => aggregate(
          slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)),
          b.cast("long"),
          (acc, v) => ((acc % MixM) * 31 + (v % MixM) + 7) % MixP))
    else
      transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string"))), b))

  /** Per-row MinHash signature + bands over a frame carrying a
    * `shingle_set` column: value-identical to [[minHashOfSets]] (the
    * minimum over the same shingle-hash multiset, the same band keys)
    * but computed ENTIRELY inside the row — no aggregation, so it
    * composes into append-mode STREAMING plans where a groupBy would be
    * stateful. All other columns pass through. Empty (or all-null)
    * shingle sets yield null signatures and are dropped, matching the
    * batch path (an empty doc produces no rows to aggregate there).
    *
    * In a session carrying GraftExtensions the signature evaluates
    * through the native `graft_minhash` kernel
    * ([[graft.functions.MinHashSig]], value-identical by construction —
    * StreamingSpec's per-row ≡ batch differential covers both
    * families): the HOF form is O(numHashes·|set|) interpreted lambda
    * dispatches per row and paced streamingNearDups at ~148 rows/s
    * (SCALE_r10 §4); the kernel is one compiled method per row with
    * the per-element hashLong hoisted out of the slot loop. The HOF
    * fallback keeps unextended sessions correct. */
  def minHashPerRow(shingleSets: DataFrame, numHashes: Int = 32,
      rowsPerBand: Int = 4, replicable: Boolean = false): DataFrame =
    minHashPerRowImpl(shingleSets, numHashes, rowsPerBand, replicable,
      shingleSets.sparkSession.catalog.functionExists("graft_minhash"))

  /** [[minHashPerRow]] with the kernel choice forced — lets the spec
    * differential exercise the HOF fallback in an extended session
    * (native ≡ HOF ≡ batch aggregate, all three pairwise). */
  private[graft] def minHashPerRowImpl(shingleSets: DataFrame,
      numHashes: Int, rowsPerBand: Int, replicable: Boolean,
      native: Boolean): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val sigFrame =
      if (native)
        shingleSets.withColumn("signature",
          expr(s"graft_minhash(shingle_set, $numHashes, $replicable)"))
      else {
        val hl = transform(col("shingle_set"),
          sh => if (replicable) sha2TokenHash(sh) else xxhash64(sh))
        val sig = transform(sequence(lit(0), lit(numHashes - 1)), s =>
          array_min(transform(col("__hl"),
            h => if (replicable) mixModCol(h, s) else xxhash64(h, s))))
        shingleSets.withColumn("__hl", hl)
          .withColumn("signature", sig).drop("__hl")
      }
    sigFrame
      // non-NULL-element count: `size` alone counts null elements, so
      // an all-null set would slip through and hit the one input where
      // the native kernel and the HOF form could disagree (the kernel's
      // containsNull=false output cannot carry the HOF's
      // array-of-nulls). Screening it here makes native ≡ HOF
      // unconditional; real tokenized corpora never produce null
      // shingles, so no practical row is lost.
      .filter(size(filter(col("shingle_set"), _.isNotNull)) > 0)
      .withColumn("bands",
        bandsExpr(numHashes / rowsPerBand, rowsPerBand, replicable))
  }

  /** Modular mixing family for the replicable minhash: overflow-free on
    * signed 64-bit — inputs reduce mod 2^52 before the ≤65 multiplier,
    * products stay under 2^58, results under the Mersenne prime 2^61−1.
    * The same arithmetic evaluates identically in any 64-bit engine. */
  private val MixM = 4503599627370496L // 2^52
  private val MixP = 2305843009213693951L // 2^61 - 1
  private def mixMod(h: Column, s: Int): Column =
    (lit(2L * s + 3) * (h % MixM) + lit(104729L * s + 12345L)) % MixP

  /** [[mixMod]] with the seed as a column (the per-row HOF form, where
    * the seed is a `sequence()` element) — same arithmetic, so the
    * per-row and batch-aggregate signatures stay value-identical. */
  private def mixModCol(h: Column, s: Column): Column = {
    val sl = s.cast("long")
    ((lit(2L) * sl + lit(3L)) * (h % MixM) +
      (lit(104729L) * sl + lit(12345L))) % MixP
  }

  /** Near-duplicate pairs: ids-only LSH candidate join on band buckets,
    * then shingle sets re-joined for exact Jaccard verification,
    * `jaccard >= threshold` kept. The bucket join carries only (bucket,
    * doc_id) — document payloads meet the network exactly twice, keyed by
    * doc_id, for the verification join. */
  def nearDupPairs(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5, numHashes: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    verifiedPairs(docs, shingleSize, threshold, numHashes, rowsPerBand)
      .orderBy("doc_a", "doc_b")

  /** [[nearDupPairs]] without the presentation sort — what the component
    * kernels consume (they never read the order). */
  private def verifiedPairs(docs: DataFrame, shingleSize: Int,
      threshold: Double, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // shingle once: signature generation and Jaccard verification share
    // this frame (it used to be tokenized+shingled twice), and the
    // checkpoint keeps the verification join from re-running the
    // tokenizer per candidate side.
    //
    // Storage level stays the DESERIALIZED default, deliberately (r14
    // ×300 rung): these corpus-proportional blocks (~3 GB of small Java
    // objects at 1.5M docs) age the old gen when MANY dedup calls run
    // in one long-lived JVM without state clearing (GC rose to 14-24%
    // of wall and a repeat call read 2-3× the first), and
    // MEMORY_AND_DISK_SER does fix that (GC → 1-2%, aging gone) — but
    // it pays JavaSerializer per block row, which MEASURED ~2× on the
    // small gated sf0.1 dedup rows (llm_dedup_groups single-pass 1.19
    // → 3.13 s on a quiet window). The portable fix is structural:
    // one dedup per pipeline ([[graft.llm.TextOps.curateMulti]] shares
    // the keep set across languages) + per-job state clearing; a
    // session that must chain many large dedups sets Kryo and SER
    // storage itself rather than this library taxing every caller.
    val ss = withShingleSets(docs, shingleSize).localCheckpoint()
    // materialized: the band self-join would otherwise run the whole
    // signature aggregate once PER SIDE (no exchange reuse across the
    // alias split — the r6 plan showed 6 HashAggregates here).
    // (doc_id, bucket) rows only — nBands per doc, never the payload.
    val exploded = minHashOfSets(ss, numHashes, rowsPerBand)
      .select(col("doc_id"), explode(col("bands")).as("bucket"))
      .localCheckpoint()
    val cand = exploded.select(col("bucket"), col("doc_id").as("doc_a"))
      .join(exploded.select(col("bucket"), col("doc_id").as("doc_b")), Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // |A∪B| = |A| + |B| − |A∩B|: one array traversal per pair, not two
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    cand
      .join(ss.select(col("doc_id").as("doc_a"), col("shingle_set").as("set_a")), Seq("doc_a"))
      .join(ss.select(col("doc_id").as("doc_b"), col("shingle_set").as("set_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (floor(inter.cast("double")
          / (size(col("set_a")) + size(col("set_b")) - inter) * 10000 + 0.5) / 10000)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection — the production ingestion path: an
    * INCOMING batch is checked against an EXISTING corpus (instead of
    * all-pairs within one frame). Same machinery as [[nearDupPairs]]:
    * band-bucket equi-join for candidates (ids only), exact Jaccard
    * verification on the rejoined shingle sets, `jaccard >= threshold`
    * kept. Output (new_id, corpus_id, jaccard).
    *
    * Scale shape: the corpus side's signatures/bands are recomputed
    * here for self-containment, but at 100 TB a deployment persists
    * [[minHash]]'s output as the dedup index and feeds only the (tiny)
    * incoming batch through shingling — the candidate join is then
    * index-lookup-shaped: bands of the batch probe the stored band
    * table, and only matched corpus docs rejoin their shingle sets. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val ssCor = withShingleSets(corpus, shingleSize).localCheckpoint()
    incrementalNearDupsIndexed(newDocs,
      minHashOfSets(ssCor, numHashes, rowsPerBand), ssCor,
      shingleSize, threshold, numHashes, rowsPerBand)
  }

  /** [[incrementalNearDups]] probing a PRE-BUILT index — the shape a
    * 100 TB deployment actually runs: `corpusIndex` is a persisted
    * [[minHash]]/[[minHashOfSets]] output `(doc_id, signature, bands)`
    * and `corpusShingles` a persisted [[withShingleSets]] output
    * `(doc_id, shingle_set)`, both loaded from storage; only the (tiny)
    * incoming batch is shingled and signed here. The probe is then
    * index-lookup-shaped: batch bands equi-join the stored band table,
    * and only matched corpus docs rejoin their shingle sets. The
    * signature parameters must match the ones the index was built with
    * — same numHashes/rowsPerBand/shingleSize AND the same
    * `replicable` hash family: buckets from one family never equal the
    * other's, so a mismatch silently reports every doc clean. */
  def incrementalNearDupsIndexed(newDocs: DataFrame,
      corpusIndex: DataFrame, corpusShingles: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      replicable: Boolean = false): DataFrame = {
    val ssNew = withShingleSets(newDocs, shingleSize).localCheckpoint()
    val bNew = minHashOfSets(ssNew, numHashes, rowsPerBand, replicable)
      .select(col("doc_id").as("new_id"), explode(col("bands")).as("bucket"))
    val bCor = corpusIndex
      .select(col("doc_id").as("corpus_id"), explode(col("bands")).as("bucket"))
    val cand = bNew.join(bCor, Seq("bucket"))
      .select("new_id", "corpus_id").dropDuplicates("new_id", "corpus_id")
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    cand
      .join(ssNew.select(col("doc_id").as("new_id"),
        col("shingle_set").as("set_a")), Seq("new_id"))
      .join(corpusShingles.select(col("doc_id").as("corpus_id"),
        col("shingle_set").as("set_b")), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        TextOps.r4(inter.cast("double")
          / (size(col("set_a")) + size(col("set_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("new_id", "corpus_id")
  }

  /** The admit decision over [[incrementalNearDups]]: incoming docs
    * that near-duplicate NOTHING in the corpus (left-anti join on the
    * match set) — what an ingestion pipeline actually appends. */
  def incrementalAdmit(newDocs: DataFrame, corpus: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    newDocs.join(
        incrementalNearDups(newDocs, corpus, shingleSize, threshold)
          .select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").orderBy("doc_id")

  /** [[incrementalAdmit]] against a PRE-BUILT index — the deployment
    * form, pairing with [[incrementalNearDupsIndexed]]: the admit
    * decision without ever re-shingling the corpus. Same parameter-
    * match caveat: numHashes/rowsPerBand/shingleSize and the
    * `replicable` family must equal the index's. */
  def incrementalAdmitIndexed(newDocs: DataFrame,
      corpusIndex: DataFrame, corpusShingles: DataFrame,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      replicable: Boolean = false): DataFrame =
    newDocs.join(
        incrementalNearDupsIndexed(newDocs, corpusIndex, corpusShingles,
          shingleSize, threshold, numHashes, rowsPerBand, replicable)
          .select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").orderBy("doc_id")

  /** The index DELTA for a batch of ADMITTED docs — the append step
    * that closes the ingestion loop: probe the index
    * ([[incrementalNearDupsIndexed]]), admit the clean docs
    * ([[incrementalAdmitIndexed]]), then append this delta's `bands`
    * and `shingles` frames to the stored index (`.write.mode("append")`)
    * so the NEXT batch also dedups against everything admitted so far.
    * Built with exactly [[minHash]]'s machinery, so the appended rows
    * are indistinguishable from an index built from scratch — probing
    * (old ∪ delta) equals probing a full rebuild, which the pipeline
    * spec asserts. The corpus is never re-shingled at any step. */
  def indexDelta(admitted: DataFrame, shingleSize: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      replicable: Boolean = false): (DataFrame, DataFrame) = {
    val ss = withShingleSets(admitted, shingleSize).localCheckpoint()
    (minHashOfSets(ss, numHashes, rowsPerBand, replicable), ss)
  }

  /** Near-duplicate CLUSTERS: the near-dup pair graph collapsed to
    * connected components, each doc mapped to its component's smallest
    * id (the canonical "keep" doc — the dedup decision a 100 TB
    * pipeline actually executes). Components come from
    * [[minLabelComponents]]: the true transitive closure, which is what
    * the DuckDB recursive-CTE oracle computes — a duplicate chain longer
    * than any fixed round count cannot be silently split into two
    * keep-groups. */
  def dedupGroups(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5, numHashes: Int = 32,
      rowsPerBand: Int = 4): DataFrame =
    minLabelComponents(
      verifiedPairs(docs, shingleSize, threshold, numHashes, rowsPerBand)
        .select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("keep").as("keep_id"))
      .orderBy("doc_id")

  /** Quality-aware near-dup resolution — [[dedupGroups]] with the keep
    * decision upgraded from "smallest id" to "highest quality-model
    * score" (ties → smallest id): within each duplicate family the BEST
    * copy survives, the decision a production pipeline actually wants
    * when near-dups differ in OCR noise or boilerplate contamination.
    * Output `(doc_id, family_id, keep_id, score4, kept)` for every doc:
    * `family_id` is the component's minimum id (= [[dedupGroups]]'s
    * label, so the two decisions join on it), `score4` the
    * 1e-4-integer quality score, singletons keep themselves.
    *
    * Scale shape: the argmax runs on the FAMILY frame (paired docs
    * only — orders of magnitude smaller than the corpus), not the
    * corpus: per-row scores inner-join the component labels, one
    * family-keyed min(struct) picks the winner, and the corpus-side
    * cost is one per-row projection plus one left join against the
    * tiny (doc → family, keep) frame. The tie-break rides the same
    * struct ordering (negated score first, id second), so no window
    * ever runs. */
  def dedupKeepBest(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5, numHashes: Int = 32,
      rowsPerBand: Int = 4): DataFrame = {
    val fam = minLabelComponents(
      verifiedPairs(docs, shingleSize, threshold, numHashes, rowsPerBand)
        .select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("keep").as("family_id"))
    // 1e-4-integer sigmoid of the quality-model logit: exact argmax key
    val scored = TextOps.qualityModel(docs, ordered = false)
      .select(col("doc_id"), TextOps.score4(col("logit6")).as("score4"))
    val famScored = scored.join(fam, Seq("doc_id")) // paired docs only
    val best = famScored.groupBy("family_id")
      .agg(min(struct((-col("score4")).as("ns"),
        col("doc_id").as("d"))).as("b"))
      .select(col("family_id"), col("b.d").as("keep_id"))
    scored
      .join(fam.join(best, Seq("family_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("family_id"), col("doc_id")).as("family_id"),
        coalesce(col("keep_id"), col("doc_id")).as("keep_id"),
        col("score4"))
      .withColumn("kept", col("doc_id") === col("keep_id"))
      .orderBy("doc_id")
  }

  /** Connected components of an undirected pair graph — the keep-
    * decision kernel shared by [[dedupGroups]] and
    * `Similarity.semDedupGroups`. Input (doc_a, doc_b) pairs; output one
    * (node, keep) row per node that appears in a pair, `keep` = the
    * component's minimum id (nodes with no pair are absent — callers
    * left-join and default to self).
    *
    * The pair graph is orders of magnitude smaller than the corpus
    * (duplicate families only), so the round loop's partitioning is
    * sized to it: one partition per 200k pairs. A graph that sizes to
    * ONE partition is collected and resolved by a driver-side min-root
    * union-find — bounded by the same 200k pairs, and one job instead
    * of the ~20 of a label-round loop whose every round runs on a
    * single task anyway. Larger graphs run [[labelRounds]];
    * `distributed = true` forces that path (the spec's reference). */
  private[graft] def minLabelComponents(pairFrame: DataFrame,
      distributed: Boolean = false): DataFrame = {
    val (pairs, nPairs) = graft.core.Observed.checkpointCounted(pairFrame)
    val nParts = math.max(1, math.min(
      pairFrame.sparkSession.sparkContext.defaultParallelism,
      (nPairs / 200000L).toInt))
    if (nParts == 1 && !distributed) unionFind(pairs)
    else labelRounds(pairs, nParts)
  }

  /** Min-root union-find over collected (doc_a, doc_b) pairs: every
    * union links the larger root under the smaller, so each root is
    * its component's minimum id — the fixpoint [[labelRounds]]
    * reaches. Output typed like the input ids. */
  private def unionFind(pairs: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    pairs.collect().foreach { row =>
      val a = row.getAs[Number](0).longValue
      val b = row.getAs[Number](1).longValue
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keys.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
    val t = pairs.schema.head.dataType
    pairs.sparkSession.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType.fromDDL("node long, keep long"))
      .select(col("node").cast(t), col("keep").cast(t))
  }

  /** Components by min-label propagation over a checkpointed pair
    * frame: each round every node adopts the smallest label among itself
    * and its neighbors — one broadcast-free join + partial hash-agg per
    * round, state is (node, label) only. Labels decrease monotonically,
    * so the loop runs UNTIL QUIESCENT: a round that changes no label is
    * the global fixpoint. Typical duplicate families collapse in 3–5
    * rounds. */
  private def labelRounds(pairs: DataFrame, nParts: Int): DataFrame = {
    val und = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("node", "nbr")
      .repartition(nParts, col("nbr"))
      .localCheckpoint()
    var lbl = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("keep"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      // neighbor labels flow along edges; min with own label. The self
      // row is tagged so the aggregate carries the PREVIOUS label out
      // alongside the new minimum — the convergence probe is then a
      // narrow filter+isEmpty scan over the just-checkpointed frame,
      // not an extra per-round shuffle join (which cost ~0.3 s/round).
      // per-iteration localCheckpoint: the loop frames are small, so
      // plan depth costs more than eager materialization (measured —
      // every-N cadence was ~15% slower on the PPR loop)
      val next = und
        .join(lbl.withColumnRenamed("node", "nbr")
          .withColumnRenamed("keep", "nkeep"), Seq("nbr"))
        .select(col("node"), col("nkeep"), lit(0).as("self"))
        .unionByName(lbl.select(col("node"), col("keep").as("nkeep"),
          lit(1).as("self")))
        .groupBy("node")
        .agg(min("nkeep").as("keep"),
          max(when(col("self") === 1, col("nkeep"))).as("prev"))
        .localCheckpoint()
      converged = next.filter(col("keep") < col("prev")).isEmpty
      lbl = next.select(col("node"), col("keep"))
    }
    lbl
  }

  /** Span-level exact-duplication stats — the within-corpus form of the
    * substring dedup in Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): every overlapping `span`-token
    * window of every doc is counted globally, and each doc reports how
    * many of its spans occur more than once in the corpus (including
    * repeats inside one doc — the paper's definition). Docs shorter than
    * `span` carry zero spans and a 0.0 fraction.
    *
    * Scale shape: one corpus scan explodes the rolling windows; the
    * global count is a key-partitioned hash aggregate with map-side
    * partials; the per-doc rollup joins counts back by span key and
    * re-aggregates on doc_id. With `hashKeys = true` (the 100 TB path)
    * the exploded rows and the join key carry an 8-byte xxhash64 instead
    * of the span string — a collision only ever inflates n_dup_spans,
    * with odds ~ |spans|²/2⁶⁵. Nothing is pairwise; cost is linear in
    * corpus tokens. */
  def spanDups(docs: DataFrame, span: Int = 20,
      flagThreshold: Double = 0.5, hashKeys: Boolean = false): DataFrame = {
    require(span > 0, s"need span > 0, got $span")
    // xxhash64(null) is the SEED, not null — hash only real spans so the
    // explode_outer placeholder of a short doc stays null (n_spans 0)
    def key(c: Column) =
      if (hashKeys) when(c.isNotNull, xxhash64(c)) else c
    // tokenize ONCE into a bound column before the gram build — inlined,
    // the interpreted transform lambda would re-split the text for every
    // window (CollapseProject keeps the alias: it is referenced n times)
    val spans = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode_outer(TextOps.gramsAll(col("toks"), span)).as("g"))
      .select(col("doc_id"), key(col("g")).as("gk"))
    val counts = spans.filter(col("gk").isNotNull)
      .groupBy("gk").agg(count(lit(1)).as("n_occ"))
    spans.join(counts, Seq("gk"), "left")
      .groupBy("doc_id")
      .agg(count(col("gk")).as("n_spans"),
        coalesce(sum(when(col("n_occ") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        // explicit zero-guard: ANSI mode makes 0/0 an error, not a null
        when(col("n_spans") > 0,
          floor(col("n_dup_spans").cast("double") / col("n_spans")
            * 10000 + 0.5) / 10000)
          .otherwise(lit(0.0)).as("dup_fraction"))
      .withColumn("flagged", col("dup_fraction") >= flagThreshold)
      .orderBy("doc_id")
  }

  /** Span-level dedup TRANSFORM — the removal [[spanDups]] only counts:
    * every `span`-token window occurring more than once in the corpus
    * keeps its FIRST occurrence (minimum (doc_id, pos)) and every other
    * occurrence's tokens are removed from their documents (Lee et al.
    * 2022's substring-dedup semantics). Output
    * `(doc_id, clean_text, n_removed)`, every input doc present.
    *
    * Scale shape: the [[spanDups]] pipeline plus a canonical-occurrence
    * min(struct) carried in the SAME gram-keyed aggregate (map-side
    * partials, no window over gram partitions), one gram-keyed
    * equi-join carrying (doc, pos) only, a doc-keyed removed-positions
    * aggregate bounded by doc length, and a per-row HOF rebuild. The
    * per-token membership test is linear in a doc's own removed set —
    * bounded by document length, never the corpus. `hashKeys = true`
    * (the 100 TB path, as in [[spanDups]]) carries an 8-byte xxhash64
    * of each window instead of its string through the aggregate and
    * join; a collision only ever removes extra tokens, with odds
    * ~ |spans|²/2⁶⁵. */
  def spanRemove(docs: DataFrame, span: Int = 20,
      hashKeys: Boolean = false): DataFrame = {
    require(span > 0, s"need span > 0, got $span")
    def key(c: Column) = if (hashKeys) xxhash64(c) else c
    val wins = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.gramsAll(col("toks"), span)))
      // 1-based window start, matching gramsAll's slice positions
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        key(col("col")).as("gk"))
    val agg = wins.groupBy("gk").agg(
      count(lit(1)).as("n_occ"),
      min(struct(col("doc_id"), col("pos"))).as("canon"))
    val removable = wins.join(agg, Seq("gk"))
      .filter(col("n_occ") > 1 && !(col("canon.doc_id") === col("doc_id") &&
        col("canon.pos") === col("pos")))
      .select(col("doc_id"), col("pos"))
    removeWindowTokens(docs, removable, span)
  }

  /** Shared tail of [[spanRemove]] / [[boilerplateRemove]]: expand
    * removable window START positions (1-based `(doc_id, pos)` rows)
    * into covered token positions, aggregate each doc's removed set
    * (bounded by the doc's own length, never the corpus), and rebuild
    * the text with a per-row position-filtered HOF. Docs with nothing
    * removed re-enter via the left join with their text untouched. */
  private def removeWindowTokens(docs: DataFrame, removable: DataFrame,
      span: Int): DataFrame = {
    val removed = removable
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (span - 1))).as("tp"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("tp"))).as("removed"))
    val toks = TextOps.tokens(col("text"))
    docs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("removed").isNull, col("text"))
          .otherwise(array_join(filter(toks,
            (_, i) => !array_contains(col("removed"), i + 1)), " "))
          .as("clean_text"),
        coalesce(size(col("removed")), lit(0)).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local fingerprinting algorithm): hash every k-token gram,
    * then from every window of `w` consecutive gram hashes keep the
    * minimum (rightmost on ties). Any shared substring of `w + k − 1`
    * tokens is GUARANTEED to surface a shared fingerprint while only
    * ~2/(w+1) of the grams are stored — the document-fragment
    * dedup/attribution sketch between [[TextOps.fingerprint]]'s
    * whole-doc hash and the full [[spanDups]] inventory. Output one
    * `(doc_id, pos, fp)` row per selected fingerprint (`pos` = 1-based
    * gram start of the chosen minimum); docs shorter than `k` tokens
    * carry no grams and are absent.
    *
    * Gram hashes are sha2-derived ([[sha2TokenHash]]) so any engine
    * replays the exact sketch. Pure per-row HOF projection + explode —
    * no shuffle before the presentation sort; each window slices its
    * gram-hash span exactly once (bound as a lambda value before the
    * min / rightmost-position / length reads). Docs with fewer than `w` grams
    * winnow a single whole-array window (at least one fingerprint
    * whenever any gram exists). */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
      ordered: Boolean = true,
      gramHash: Column => Column = sha2TokenHash): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(w > 0, s"need w > 0, got $w")
    // toks staged as a bound column: an inlined tokens(text) would
    // re-split the text once per gram inside gramsAll's lambda.
    // gramHash defaults to the sha2-derived cross-engine hash (the
    // oracle-checked sketch); pass xxhash64 for consumers whose own
    // oracle doesn't replay the sketch (containmentPairs) — ~10x
    // cheaper per gram with identical selection semantics.
    val hashes = transform(
      TextOps.gramsAll(col("toks"), k), g => gramHash(g))
    // windows staged as (start, win) structs so the lambda below binds
    // each slice ONCE as a lambda VALUE — the former single-expression
    // form sliced `hs` three times per window (min / position / length)
    val wins = transform(
      sequence(lit(1L),
        greatest(size(col("hs")).cast("long") - (w - 1), lit(1L))),
      j => struct(j.as("j"),
        slice(col("hs"), j.cast("int"), lit(w)).as("win")))
    val fps = array_distinct(transform(col("wins"), s => {
      val win = s.getField("win")
      val mn = array_min(win)
      struct((s.getField("j") + size(win).cast("long") -
        array_position(reverse(win), mn)).as("pos"), mn.as("fp"))
    }))
    // empty-sketch guard as a PURE STRING predicate (single-space token
    // count >= k ⟺ gramsAll nonempty ⟺ hs nonempty): filtering on
    // size(hs) pushed the ENTIRE gram+hash expression below the
    // repartition, recomputing the sketch once per row single-core just
    // to test emptiness
    val nTok = length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1
    // the sketch is COMPUTE-bound (per-row window-min over every gram
    // position), not IO-bound: a small parquet arriving as one scan
    // partition would serialize the whole corpus's sketch onto one
    // core — [[fanOut]].
    val out = fanOut(docs)
      .filter(nTok >= k)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), hashes.as("hs"))
      .select(col("doc_id"), wins.as("wins"))
      .select(col("doc_id"), explode(fps).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
    if (ordered) out.orderBy("doc_id", "pos", "fp") else out
  }

  /** Cross-document matches over the [[winnow]] sketch: pairs sharing
    * at least `minShared` distinct fingerprint VALUES, with the shared
    * count — the MOSS-style overlap report. The join carries ids only,
    * keyed on the fingerprint hash (the LSH band-join discipline);
    * AQE's skew handling splits hot fingerprints, and the guarantee
    * (any `w + k − 1`-token overlap shares a fingerprint) bounds what
    * the sketch can miss, not what it can emit. */
  def winnowMatches(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 5): DataFrame = {
    // materialized before the self-join: an un-checkpointed alias split
    // would re-evaluate the full sketch (tokenize + hash + window-min
    // over the corpus) once per join side — the exact recompute
    // nearDupPairs' band frames and containmentPairs already avoid
    val fp = winnow(docs, k, w, ordered = false)
      .select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint()
    fp.select(col("doc_id").as("doc_a"), col("fp"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment dedup — The-Stack-style detection of documents fully
    * CONTAINED in a longer document (quotes, partial mirrors, truncated
    * re-crawls): pairs `(inner_id, outer_id)` where inner's full token
    * sequence occurs contiguously inside outer and inner is strictly
    * shorter. Candidates come from the [[winnow]] sketch — any shared
    * substring of `w + k − 1` tokens shares a fingerprint, and a
    * contained doc of at least that many tokens IS such a substring, so
    * recall is GUARANTEED for docs ≥ w + k − 1 tokens; the verify is an
    * exact space-padded substring test (token boundaries respected:
    * "x a" never matches inside "xx a"), so precision is exact too.
    *
    * The INNER side is restricted to docs of ≥ w + k − 1 tokens — the
    * exact domain of the winnowing guarantee. Shorter docs emit too few
    * grams for any window-min argument (a < k-token doc has no k-grams
    * at all; a < w-gram doc winnows one whole-array window whose min
    * the containing doc need not select), so the sketch rule cannot
    * promise recall there and the function's CONTRACT excludes them
    * rather than silently under-reporting. `includeShort = true` makes
    * that narrowing opt-IN instead of implicit (round-8 advice): the
    * sub-(w+k−1)-token inners are routed through an EXACT broadcast
    * substring pass — every short inner is tested against every longer
    * document. That pass is |short| × corpus work, sane only while the
    * short-fragment set is small (it is broadcast, so the corpus never
    * shuffles); callers feeding unfiltered fragment-heavy corpora
    * should quality-gate first or accept the scan cost.
    *
    * Scale shape: sketch per-row; candidates meet on fingerprint values
    * carrying ids only (the band-join discipline) and dedup to distinct
    * ordered pairs; the two payload rejoins are id-equi-joins on the
    * candidate list — orders of magnitude smaller than the corpus — and
    * each candidate pays exactly one contains(). Candidate volume per
    * inner doc = document frequency of its rarest fingerprint; on a
    * low-entropy vocabulary that df can degenerate (every doc sharing
    * one hot phrase), so inners whose rarest df exceeds `dfCap` AND
    * that carry a second distinct fingerprint demand BOTH of their two
    * rarest fingerprints in the outer sketch (fp(inner) ⊆ fp(outer)
    * holds for EVERY inner fingerprint, so the AND-rule keeps full
    * recall while the joint-df candidate set collapses). */
  def containmentPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      dfCap: Long = 1000L, includeShort: Boolean = false): DataFrame = {
    val minTokens = w + k - 1
    // xxhash64 grams: this op's oracle is the exhaustive ground truth,
    // not a sketch replay, so the cheap hash family applies (a
    // collision only ever adds a candidate the exact verify rejects)
    val fp = winnow(docs, k, w, ordered = false, gramHash = xxhash64(_))
      .select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint() // feeds the df counts AND both join sides
    // sharper-than-overlap candidate rule: containment implies every
    // window of inner is a window of outer, so winnow selects the SAME
    // minima there — fp(inner) ⊆ fp(outer) exactly. The inner side
    // therefore joins on its RAREST fingerprint only (ties → smallest
    // value): that one is in the outer sketch too, recall stays full,
    // and ubiquitous-phrase buckets never pair (the any-shared rule
    // paid ~100x more verify pairs). The doc's TWO rarest fingerprints
    // ride the same window pass for the dfCap AND-path below.
    val dfCnt = fp.groupBy("fp").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("fp"))
    val top2 = fp.join(dfCnt, Seq("fp"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= 2)
    val inner = top2.groupBy(col("doc_id").as("inner_id"))
      .agg(min(when(col("rn") === 1, struct(col("df"), col("fp")))).as("m1"),
        min(when(col("rn") === 2, col("fp"))).as("fp2"))
      .select(col("inner_id"), col("m1.fp").as("fp"),
        col("m1.df").as("df1"), col("fp2"))
      // the winnowing-guarantee domain: inners shorter than w+k-1
      // tokens are excluded by contract (docstring)
      .join(docs.select(col("doc_id").as("inner_id"))
        .where(TextOps.nTokExpr >= minTokens), Seq("inner_id"), "leftsemi")
    val needAnd = col("df1") > dfCap && col("fp2").isNotNull
    val outerFp = fp.select(col("doc_id").as("outer_id"), col("fp"))
    val cand1 = inner.filter(!needAnd)
      .join(outerFp, Seq("fp"))
    // hot-rarest path: join on the rarest as before (ids-only rows),
    // then require the second-rarest in the outer's sketch via a
    // semi-join on (outer_id, fp2) — prunes the degenerate bucket
    // BEFORE any payload touches the plan
    val cand2 = inner.filter(needAnd)
      .join(outerFp, Seq("fp"))
      .join(fp.select(col("doc_id").as("outer_id"), col("fp").as("fp2")),
        Seq("outer_id", "fp2"), "leftsemi")
    val cand = cand1.select("inner_id", "outer_id")
      .unionByName(cand2.select("inner_id", "outer_id"))
      .filter(col("inner_id") =!= col("outer_id"))
    val t = docs.select(col("doc_id"), col("text"))
    val isContained = col("la") < col("lb") &&
      concat(lit(" "), col("tb"), lit(" "))
        .contains(concat(lit(" "), col("ta"), lit(" ")))
    val sketchPairs = cand
      .join(t.select(col("doc_id").as("inner_id"), col("text").as("ta"),
        length(col("text")).as("la")), Seq("inner_id"))
      .join(t.select(col("doc_id").as("outer_id"), col("text").as("tb"),
        length(col("text")).as("lb")), Seq("outer_id"))
      .filter(isContained)
      .select(col("inner_id"), col("outer_id"))
    val pairs = if (!includeShort) sketchPairs else {
      // exact pass for the sub-contract-domain inners: broadcast the
      // (small) short-fragment set and substring-test it against every
      // longer doc — one corpus scan, zero shuffle of the outer side
      val shortInners = broadcast(docs
        .where(TextOps.nTokExpr < minTokens)
        .select(col("doc_id").as("inner_id"), col("text").as("ta"),
          length(col("text")).as("la")))
      val shortPairs = t
        .select(col("doc_id").as("outer_id"), col("text").as("tb"),
          length(col("text")).as("lb"))
        .join(shortInners,
          col("inner_id") =!= col("outer_id") && isContained)
        .select(col("inner_id"), col("outer_id"))
      sketchPairs.unionByName(shortPairs)
    }
    pairs.orderBy("inner_id", "outer_id")
  }

  /** Within-document span dedup — the per-document form of
    * [[spanRemove]] (C4-style repeated-window cleanup): a `span`-token
    * window whose text already occurred EARLIER IN THE SAME document
    * keeps that first occurrence, and every later occurrence's tokens
    * are removed. Unlike the corpus-level span ops this is a PURE
    * PER-ROW projection — no explode, no aggregate, no join, no
    * shuffle: the 100 TB cost is one scan, and it composes into
    * append-mode streams unchanged (stateless). Output
    * `(doc_id, clean_text, n_removed)`.
    *
    * The per-row work is quadratic in a doc's own window count (the
    * first-occurrence probe scans the gram list per window) — bounded
    * by document length, never the corpus. `hashGrams = true` compares
    * 8-byte xxhash64 values instead of window strings inside that
    * probe (the long-document path); a collision only ever removes
    * extra tokens. */
  def withinDocDedup(docs: DataFrame, span: Int = 20,
      hashGrams: Boolean = false, ordered: Boolean = true): DataFrame = {
    require(span > 0, s"need span > 0, got $span")
    // stage toks and grams as BOUND columns: the probe lambda references
    // the gram list twice per window, and an inlined grams expression
    // would re-run the whole transform (itself re-splitting the text per
    // gram) on every reference — the spanDups bind-once discipline
    val gramsRaw = TextOps.gramsAll(col("toks"), span)
    val grams =
      if (hashGrams) transform(gramsRaw, g => xxhash64(g)) else gramsRaw
    // 1-based starts of windows whose text first occurred earlier; the
    // empty-gram guard matters: sequence(1, 0) would DESCEND, not empty
    val dupStarts = when(size(col("grams")) === 0,
      array().cast("array<bigint>")).otherwise(
      filter(sequence(lit(1L), size(col("grams")).cast("long")),
        i => array_position(col("grams"),
          element_at(col("grams"), i.cast("int"))) < i))
    val removedPos = array_distinct(flatten(transform(dupStarts,
      s => sequence(s, s + (span - 1)))))
    val out = docs
      .select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"), grams.as("grams"))
      .select(col("doc_id"), col("text"), col("toks"),
        removedPos.as("removed"))
      .select(col("doc_id"),
        when(size(col("removed")) === 0, col("text"))
          .otherwise(array_join(filter(col("toks"),
            (_, i) => !array_contains(col("removed"),
              (i + 1).cast("long"))), " "))
          .as("clean_text"),
        size(col("removed")).cast("long").as("n_removed"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Boilerplate removal — the CCNet/C4-style CROSS-document filter the
    * span ops don't express: a `span`-token window whose text occurs in
    * at least `minDocs` DISTINCT documents is boilerplate (headers,
    * license blocks, navigation chrome) and its tokens are removed from
    * EVERY document — including the first occurrence, unlike
    * [[spanRemove]]'s keep-first semantics, because boilerplate has no
    * canonical owner. Output `(doc_id, clean_text, n_removed)`, every
    * input doc present.
    *
    * Scale shape: one corpus scan explodes the rolling windows; the
    * doc-frequency gate is a two-level hash aggregate — a (gram, doc)
    * distinct with map-side partials, then a gram-keyed count — so no
    * count-distinct state ever exceeds one row per (gram, doc). The
    * boilerplate gram set joins back on the gram key carrying
    * (doc, pos) only, and the rebuild is [[spanRemove]]'s doc-bounded
    * tail. With `hashKeys = true` (the 100 TB path, as in [[spanDups]])
    * every aggregate/join key is an 8-byte xxhash64 instead of the
    * window string; a collision only ever removes extra tokens, with
    * odds ~ |spans|²/2⁶⁵. */
  def boilerplateRemove(docs: DataFrame, span: Int = 10, minDocs: Int = 3,
      hashKeys: Boolean = false): DataFrame = {
    require(span > 0, s"need span > 0, got $span")
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    def key(c: Column) = if (hashKeys) xxhash64(c) else c
    val wins = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextOps.gramsAll(col("toks"), span)))
      // 1-based window start, matching gramsAll's slice positions
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        key(col("col")).as("gk"))
    val common = wins.select(col("gk"), col("doc_id")).distinct()
      .groupBy("gk").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("gk")
    removeWindowTokens(docs,
      wins.join(common, Seq("gk")).select(col("doc_id"), col("pos")), span)
  }

  /** 60-bit token hash derived from sha2-256 — slower than xxhash64 but
    * reproducible in any engine with SHA-256 (DuckDB, Trino, …), which
    * makes the downstream sketch oracle-checkable. 15 hex chars keep the
    * value inside a signed long. */
  def sha2TokenHash(t: Column): Column =
    conv(substring(sha2(t, 256), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over hashed tokens: per-bit majority vote of ±1
    * contributions, packed into a long. Near-dups differ in few bits
    * (compare with bit_count(a ^ b) <= k). Implemented as explode +
    * 64-column hash aggregate (codegen'd, map-side partial) — not nested
    * lambdas. Empty documents drop out. `tokenHash` defaults to xxhash64
    * (fastest); pass [[sha2TokenHash]] for a cross-engine-replicable
    * sketch. */
  def simHash(docs: DataFrame,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // tokenize+explode multiplies row volume BEFORE the partial agg, so
    // the map side inherits the scan's partitioning — [[fanOut]] ahead
    // of it puts the token hashing on the whole machine (≥2 MB floor:
    // below that the exchange's fixed cost exceeds the win)
    val hashes = fanOut(docs, 2L << 20)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
    // native one-buffer aggregate (TypedImperativeAggregate, map-side
    // partial buffers of 64 ints) when the session carries
    // GraftExtensions; bit-identical 64-column fold otherwise — counters
    // are exact integers and BOTH paths skip null hashes (the default
    // xxhash64 never yields one, but a custom tokenHash may), so the
    // sketch cannot differ between an extended and a plain session
    if (docs.sparkSession.catalog.functionExists("graft_simhash_agg"))
      hashes.groupBy("doc_id")
        .agg(expr("graft_simhash_agg(h)").as("simhash"))
        .orderBy("doc_id")
    else {
      val bitCols = (0 until 64).map(i =>
        sum(when(col("h").isNull, lit(null))
          .when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1, 1)
          .otherwise(-1)).as(s"b$i"))
      hashes.groupBy("doc_id")
        .agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"),
          (0 until 64).map(i =>
            when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
            .reduce(_ bitwiseOR _).as("simhash"))
        .orderBy("doc_id")
    }
  }

  /** SimHash near-dup pairs via Hamming-band blocking: the 60-bit sketch
    * splits into 4 bands of 15 bits; by pigeonhole any pair within
    * Hamming distance ≤ 3 shares at least one unchanged band, so the
    * band-bucket equi-join is EXACT blocking (never misses a qualifying
    * pair — differences in the sketch's zero high bits fall outside every
    * band, which only ever adds candidates). Candidates carry (id,
    * sketch) only — 16 bytes — and each survivor pays one bit_count.
    * Same 100 TB shape as MinHash banding: bucket co-occupancy bounds
    * the join, nothing is all-pairs. */
  def simHashNearDupPairs(docs: DataFrame,
      tokenHash: Column => Column = xxhash64(_),
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is exact only for hamming <= 3")
    val sk = simHash(docs, tokenHash)
    // materialized for the same reason as nearDupPairs' band frame: the
    // self-join would run the corpus-scale sketch aggregate once per
    // side. 4 × (doc_id, simhash, band, bkey) rows per doc — 32 bytes.
    val bands = sk.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), 15 * b)
            .bitwiseAND(lit(0x7FFFL)).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .localCheckpoint()
    bands.join(
        bands.select(col("band"), col("bkey"),
          col("doc_id").as("doc_b"), col("simhash").as("sim_b")),
        Seq("band", "bkey"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        expr("CAST(bit_count(simhash ^ sim_b) AS BIGINT)").as("hamming"))
      .distinct() // a pair may co-occupy several bands
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }
}
