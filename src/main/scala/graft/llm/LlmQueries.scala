package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** queries()/oracleSql() wiring for the LLM-data-pipeline operators
  * (SURVEY §2.D). Oracle entries exist where the semantics are expressible
  * in portable SQL (text stats, exact dedup, brute-force ANN — DuckDB has
  * `list_inner_product`); hash/LSH/regex-based operators get rows-only
  * checks plus unit-level fixtures in LlmSpec. */
object LlmQueries {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** Renders `s` as a single-quoted SQL string literal with embedded
    * quotes doubled — every parameterized oracle builder that
    * interpolates a caller-supplied string (term, lang, word, split
    * name) goes through here so a quote in the parameter can never
    * produce malformed oracle SQL. Byte-identical to the previous bare
    * interpolation for quote-free inputs (all pinned defaults). */
  private[graft] def sqlStr(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** The deterministic PII planting shared by llm_pii_redact and
    * llm_pii_consume (the corpus itself has no PII). */
  private def piiPlanted(d: DataFrame): DataFrame =
    d.withColumn("text",
      concat(col("text"), lit(" u"), col("doc_id").cast("string"),
        lit("@ex.com ip 10.0.0."), (col("doc_id") % 250).cast("string"),
        lit(" ssn 123-45-6789 tel +1 555-0199")))

  /** SQL twin of [[piiPlanted]] — the oracle-side planting CTE. */
  private val piiPlantCte =
    "WITH t AS (SELECT doc_id, text || ' u' || CAST(doc_id AS VARCHAR) || " +
      "'@ex.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) || " +
      "' ssn 123-45-6789 tel +1 555-0199' AS text FROM documents) "

  /** The full redaction chain as nested DuckDB regexp_replace calls
    * (the 'g' flag supplies Spark's replace-all semantics), built from
    * the SAME pattern list the engine applies. */
  private val piiRedactedSqlExpr: String =
    TextOps.piiPatterns.foldLeft("text") {
      case (acc, (_, pat, tok)) =>
        s"regexp_replace($acc, '$pat', '$tok', 'g')"
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_text_stats" -> ((s, d) => TextOps.stats(docs(s, d))),
    "llm_quality" -> ((s, d) => TextOps.quality(docs(s, d))),
    "llm_langid" -> ((s, d) => TextOps.langId(docs(s, d))),
    "llm_token_count" -> ((s, d) => TextOps.tokenCount(docs(s, d))),
    "llm_fingerprint" -> ((s, d) =>
      // sha2 token hash: the rotate-xor fold becomes engine-replicable
      TextOps.fingerprint(docs(s, d), Dedup.sha2TokenHash)),
    "llm_repetition" -> ((s, d) => TextOps.repetition(docs(s, d))),
    "llm_pii_redact" -> ((s, d) =>
      // the synthetic corpus has no PII, so plant one of each type
      // deterministically from doc_id — the redaction rules are then
      // actually exercised and the oracle replays the same planting
      TextOps.piiRedact(piiPlanted(docs(s, d)))),
    "llm_pii_consume" -> ((s, d) =>
      // consuming composition (round-8 verdict #8): bench's .count()
      // prunes a pure projection, so llm_pii_redact times its scan, not
      // the regexes — this entry aggregates OVER the redacted output
      // (total redacted length + per-type totals), forcing the whole
      // per-row family to execute inside the timed plan
      TextOps.piiRedact(piiPlanted(docs(s, d)), ordered = false)
        .agg(sum("n_email").as("n_email"), sum("n_ip").as("n_ip"),
          sum("n_ssn").as("n_ssn"), sum("n_phone").as("n_phone"),
          sum(length(col("redacted"))).as("redacted_chars"))),
    "llm_normalize_consume" -> ((s, d) =>
      // same pattern for the normalize family: total normalized length,
      // changed-doc count, and the distinct-normalized-text cardinality
      // (the exact-dedup consumer normalize exists to feed)
      TextOps.normalize(docs(s, d))
        .agg(sum(length(col("norm_text"))).as("norm_chars"),
          sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
          count_distinct(col("norm_text")).as("n_distinct"))),
    "llm_contamination" -> ((s, d) => CorpusOps.contamination(docs(s, d))),
    // the 100 TB path: xxhash64 join keys instead of n-gram strings.
    // Hashing only changes the join KEY — absent a 64-bit collision the
    // output is identical, so the same SQL oracle adjudicates both paths
    "llm_contamination_hashed" -> ((s, d) =>
      CorpusOps.contamination(docs(s, d), hashKeys = true)),
    // the removal direction of the contamination check: train docs
    // scored against the eval split's distinct n-grams, over-threshold
    // docs flagged dropped; eval set broadcasts (size-gated)
    "llm_decontaminate" -> ((s, d) => CorpusOps.decontaminate(docs(s, d))),
    // Bloom-compressed decontamination: replicable sha256 double-hash
    // bitmap, per-row probe against the broadcast literal — the shape
    // for an eval set too big to broadcast raw. Superset of the exact
    // screen by construction (no false negatives).
    "llm_decontaminate_bloom" -> ((s, d) =>
      CorpusOps.bloomDecontaminate(docs(s, d))),
    // cross-source duplication matrix off the verified near-dup pairs
    "llm_source_overlap" -> ((s, d) => CorpusOps.sourceOverlap(docs(s, d))),
    // first-occurrence n-gram novelty — the diffuse-boilerplate screen
    "llm_ngram_novelty" -> ((s, d) => CorpusOps.ngramNovelty(docs(s, d))),
    // hashed-key twin: 8-byte xxhash64 join keys (the 100 TB path);
    // the string-key oracle adjudicates because the hash only changes
    // the join key, never the per-doc counts (collisions are ~2^-65)
    "llm_ngram_novelty_hashed" -> ((s, d) =>
      CorpusOps.ngramNovelty(docs(s, d), hashKeys = true)),
    // ingest novelty: the doc_id % 5 == 0 batch probed against the rest
    // as the reference corpus (the incremental-ingest split convention)
    "llm_novelty_ref" -> ((s, d) => {
      val all = docs(s, d)
      CorpusOps.ngramNoveltyAgainst(all.filter(col("doc_id") % 5 === 0),
        all.filter(col("doc_id") % 5 =!= 0))
    }),
    // hashed-key twin of the ingest diagnostic (same oracle — see
    // llm_ngram_novelty_hashed)
    "llm_novelty_ref_hashed" -> ((s, d) => {
      val all = docs(s, d)
      CorpusOps.ngramNoveltyAgainst(all.filter(col("doc_id") % 5 === 0),
        all.filter(col("doc_id") % 5 =!= 0), hashKeys = true)
    }),
    // quality-score decile histogram on the exact 1e-4 integer form
    "llm_quality_calibration" -> ((s, d) =>
      CorpusOps.qualityCalibration(docs(s, d))),
    // duplicate-family size histogram — the dedup-ROI diagnostic
    "llm_dup_group_sizes" -> ((s, d) => CorpusOps.dupGroupSizes(docs(s, d))),
    // corpus composition accounting at every ROLLUP(source, lang) level
    "llm_stats_rollup" -> ((s, d) => CorpusOps.statsRollup(docs(s, d))),
    // per-source token-length distribution (exact interpolated
    // percentiles) — the packing-budget / context-window diagnostic
    "llm_length_stats" -> ((s, d) => CorpusOps.lengthStats(docs(s, d))),
    // deterministic hash-based train/val/test assignment: stable under
    // reordering and incremental ingestion, pure per-row projection
    "llm_split" -> ((s, d) => CorpusOps.splitAssign(docs(s, d))),
    // unigram KL(target-slice ‖ corpus) in exact 1e-12 integer units —
    // the mixture-design distance DSIR's log-ratios integrate
    "llm_token_kl" -> ((s, d) => CorpusOps.tokenKl(docs(s, d))),
    // model-based quality gate: logistic score over the heuristic
    // feature pack, logit floored once to 1e-6 so exp() sees identical
    // doubles in both engines
    "llm_quality_model" -> ((s, d) => TextOps.qualityModel(docs(s, d))),
    // hashing-trick embeddings straight from text (sha2 buckets + ±1
    // signs, L2-normalized) — the from-text on-ramp to the ANN family.
    // The oracle query posexplodes to scalar (doc_id, dim, component)
    // rows: the driver's comparator sorts rows with pandas and cannot
    // sort an array-typed cell, so no oracle query may emit one. The
    // API (TextOps.featurize) keeps returning the array column.
    "llm_featurize" -> ((s, d) =>
      TextOps.featurize(docs(s, d), ordered = false)
        .select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("dim", "component")))
        .orderBy("doc_id", "dim")),
    // end-to-end text → embedding → exact top-k neighbors, no external
    // model anywhere: featurize feeds bruteForceTopK (float-cast to the
    // embeddings-table shape, so the native graft_dot kernel applies)
    "llm_ann_text" -> ((s, d) => {
      // materialized once: query and corpus sides both derive from f,
      // and without it the 16-column featurize aggregate runs per side
      val f = TextOps.featurize(docs(s, d), ordered = false)
        .select(col("doc_id").as("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
        .localCheckpoint()
      Similarity.bruteForceTopK(f.filter(col("vec_id") < 5), f, k = 5)
    }),
    "llm_mix_quota" -> ((s, d) => CorpusOps.mixQuota(docs(s, d), "lang",
      Map("en" -> 0.5, "de" -> 0.25, "es" -> 1.0, "zh" -> 0.125))),
    "llm_mix_rate" -> ((s, d) => CorpusOps.mixRate(docs(s, d), "lang",
      Map("en" -> 0.5, "de" -> 0.25, "es" -> 1.0, "zh" -> 0.125))),
    // temperature rebalancing: rates computed FROM the corpus (p^0.3
    // reweighting toward rare languages), then the same shuffle-free
    // md5-threshold keep test as llm_mix_rate
    "llm_mix_temperature" -> ((s, d) =>
      CorpusOps.mixTemperature(docs(s, d), "lang", alpha = 0.3,
        targetFrac = 0.5)),
    // BM25 keyword retrieval: integer micro-unit contribution sums make
    // the per-doc score independent of float summation order
    "llm_bm25" -> ((s, d) =>
      TextOps.bm25(docs(s, d), Seq("spark", "window", "table"), k = 20)),
    // training-export stage: deterministic sharding, in-shard sequence
    // packing, and context-window chunking (replicable hash paths so the
    // oracle replays shard and seq assignment exactly; the stock
    // xxhash64 shard path is covered by LlmSpec invariants)
    "llm_shard" -> ((s, d) =>
      CorpusOps.shard(docs(s, d), nShards = 8, replicable = true)),
    "llm_pack" -> ((s, d) =>
      CorpusOps.pack(docs(s, d), budget = 2048, nShards = 8,
        replicable = true)),
    "llm_chunk" -> ((s, d) =>
      TextOps.chunk(docs(s, d), window = 32, overlap = 8)),
    "llm_vocab" -> ((s, d) => TextOps.vocab(docs(s, d), maxSize = 500)),
    "llm_dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    // canonical pre-dedup normalization (lowercase, strip non-alnum,
    // collapse whitespace) and its composition with exact dedup —
    // catches case/punctuation variants of the same content
    "llm_normalize" -> ((s, d) => TextOps.normalize(docs(s, d))),
    "llm_dedup_normalized" -> ((s, d) =>
      Dedup.exact(TextOps.normalize(docs(s, d))
        .select(col("doc_id"), col("norm_text").as("text")))),
    // span-level exact duplication (Lee et al. 2022 within-corpus form):
    // rolling 20-token windows counted globally, per-doc dup fraction.
    // String keys here so the oracle replays; the xxhash64 key path is
    // asserted identical by LlmSpec (hashing only changes the join key)
    "llm_span_dups" -> ((s, d) => Dedup.spanDups(docs(s, d), span = 20)),
    // the removal the stats only count: duplicated 20-token windows
    // keep their first (doc_id, pos) occurrence, every other occurrence
    // is cut from its document
    "llm_span_remove" -> ((s, d) => Dedup.spanRemove(docs(s, d), span = 20)),
    "llm_dedup_minhash" -> ((s, d) =>
      // signature/bands serialized at the query boundary (the driver's
      // compare cannot hash array cells); replicable hashing so the
      // whole sketch is oracle-checked
      Dedup.minHash(docs(s, d), replicable = true)
        .select(col("doc_id"),
          concat_ws(",", col("signature")).as("signature"),
          concat_ws(",", col("bands")).as("bands"))
        .orderBy("doc_id")),
    "llm_near_dup_pairs" -> ((s, d) =>
      Dedup.nearDupPairs(docs(s, d), shingleSize = 3, threshold = 0.5)),
    // incremental ingestion dedup: docs with doc_id % 5 == 0 play the
    // incoming batch, the rest the existing corpus; matches + the admit
    // decision are both oracle-checked (the LSH achieves full recall on
    // this corpus — planted duplicates are near-identical — so the
    // verified output equals the exhaustive cross-Jaccard pair set)
    "llm_incr_dedup" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalNearDups(all.filter(col("doc_id") % 5 === 0),
        all.filter(col("doc_id") % 5 =!= 0))
    }),
    "llm_incr_admit" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalAdmit(all.filter(col("doc_id") % 5 === 0),
        all.filter(col("doc_id") % 5 =!= 0))
    }),
    "llm_dedup_groups" -> ((s, d) =>
      // the executable dedup decision: near-dup pair graph -> connected
      // components -> canonical keep id per member
      Dedup.dedupGroups(docs(s, d), shingleSize = 3, threshold = 0.5)),
    // quality-aware keep decision: within each dup family the highest
    // quality-model score survives (ties -> smallest id) — 8 of the 23
    // sf0.01 families pick a different doc than min-id keep
    "llm_dedup_keep_best" -> ((s, d) =>
      Dedup.dedupKeepBest(docs(s, d), shingleSize = 3, threshold = 0.5)),
    // cross-document boilerplate: 10-token windows seen in >= 3 distinct
    // docs are cut from every doc (no canonical owner, unlike
    // span_remove's keep-first)
    "llm_boilerplate" -> ((s, d) =>
      Dedup.boilerplateRemove(docs(s, d), span = 10, minDocs = 3)),
    // within-doc repeated-window cleanup (C4-style): pure per-row
    // projection, keep-first inside each document
    "llm_within_doc_dedup" -> ((s, d) =>
      Dedup.withinDocDedup(docs(s, d), span = 3)),
    // MOSS winnowing: min-of-window fingerprint sketch (sha2 gram
    // hashes, rightmost tie-break), one row per selected fingerprint
    "llm_winnow" -> ((s, d) => Dedup.winnow(docs(s, d))),
    // cross-doc overlap report over the sketch: >= 5 shared
    // fingerprint values isolates the planted dup families at sf0.01
    "llm_winnow_matches" -> ((s, d) => Dedup.winnowMatches(docs(s, d))),
    // fully-contained docs (winnow candidates rarest-fp + dfCap
    // AND-rule, exact padded-substring verify; the oracle replays the
    // exhaustive ground truth over the contract domain — inner docs of
    // >= w+k-1 = 6 tokens, where the winnowing guarantee = full recall)
    "llm_containment" -> ((s, d) => Dedup.containmentPairs(docs(s, d))),
    "llm_simhash" -> ((s, d) =>
      // sha2-derived token hash: same sketch machinery, but every engine
      // can reproduce the hash, so the full 64-bit sketch is
      // oracle-checked (the xxhash64 default stays for hot paths)
      Dedup.simHash(docs(s, d), Dedup.sha2TokenHash)),
    "llm_simhash_pairs" -> ((s, d) =>
      // exact duplicates share a sketch (hamming 0), so the corpus's
      // planted exact dups keep this nonempty; the exact-blocking
      // guarantee at hamming <= 3 is covered by a planted LlmSpec fixture
      Dedup.simHashNearDupPairs(docs(s, d), Dedup.sha2TokenHash,
        maxHamming = 3)),
    "llm_ann_cosine" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
    }),
    "llm_ann_native" -> ((s, d) => {
      // same search as llm_ann_cosine, executed by the custom TopKJoin
      // plan node (SURVEY §4 path (c)): the |Q|x|C| scoring never leaves
      // one narrow operator, the only exchange ranks parts*|Q|*k rows
      val e = emb(s, d)
      graft.plans.NativeTopK.topK(e.filter(col("vec_id") < 10), e, k = 5)
    }),
    "llm_ann_lsh" -> ((s, d) => {
      // seeded stock LSH adjudicated by range-query quality against the
      // exact ground truth (brute distance filter): no false positives
      // (the join's distance column is exact, so a violation means the
      // kernel broke) and >= 60% recall of the true in-radius pairs
      // (probed 0.96 at sf0.01, 0.93 at sf0.1 — wide headroom).
      // Constant-truth oracle like the Checks family.
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
      val lsh = Similarity.lshNeighbors(q, e, maxDist = 1.2)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val dist = sqrt(aggregate(
        zip_with(col("qe"), col("ce"),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, v) => a + v))
      // 1e-6 pre-rounding before the radius test, the repo's usual
      // discipline: a vector an ulp from the 1.2 boundary must not let
      // the two engines disagree on the true-pair count (the DuckDB
      // verdict recompute rounds identically)
      val truePairs = q.select(col("vec_id").as("query_id"),
          col("embedding").as("qe"))
        .crossJoin(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ce")))
        .filter(floor(dist * 1e6 + 0.5) / 1e6 <= 1.2)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      val nTrue = truePairs.count()
      val keys = Seq("query_id", "neighbor_id")
      val nHit = lsh.join(truePairs, keys, "leftsemi").count()
      val nFp = lsh.join(truePairs, keys, "left_anti").count()
      graft.ml.Checks.verdictsV(s, Seq(
        ("ann_lsh_no_false_positives", if (nFp == 0L) 1.0 else 0.0),
        ("ann_lsh_range_recall_ge_60pct",
          if (nTrue > 0L && nHit.toDouble >= 0.6 * nTrue) 1.0 else 0.0),
        // the denominator of the recall bound — DuckDB recomputes the
        // exact in-radius pair count itself (round-10 directive #3)
        ("ann_lsh_true_pairs", nTrue.toDouble)))
    }),
    "llm_ann_lsh_det" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.lshNeighborsDeterministic(
        e.filter(col("vec_id") < 10), e, maxDist = 1.2)
    }),
    "llm_ann_ivf" -> ((s, d) => {
      // IVF scale path: coarse-quantize the corpus into cells, probe the
      // nProbe nearest cells per query — |Q|·nProbe/nlist·|C| candidates
      val e = emb(s, d)
      Similarity.ivfProbe(e.filter(col("vec_id") < 10),
        Similarity.ivfIndex(e), k = 5, nProbe = Seq(4))
    }),
    "llm_ann_ivf_trained" -> ((s, d) => {
      // trained coarse quantizer: deterministic Lloyd centers feed the
      // same assignment/probe/rank plan — the whole index (training
      // included) is replayed by the composed oracle SQL
      val e = emb(s, d)
      Similarity.ivfProbe(e.filter(col("vec_id") < 10),
        Similarity.ivfTrainedIndex(e, nlist = 4, iters = 5), k = 5,
        nProbe = Seq(2))
    }),
    "llm_ann_ivf_residual" -> ((s, d) => {
      // two-level residual index at PARTIAL probes — nProbe=2 of
      // nlist=4 coarse cells, nProbeSub=1 of nsplit=2 residual
      // subcells — so the oracle replays the full deployment
      // approximation (train both levels, assign, route, rank), not
      // just the exhaustive-probe exactness the contract tests cover
      val e = emb(s, d)
      Similarity.ivfProbe(e.filter(col("vec_id") < 10),
        Similarity.ivfTrainedIndex(e, nlist = 4, splits = Seq(2),
          iters = 5), k = 5, nProbe = Seq(2, 1))
    }),
    "llm_ann_ivf_residual3" -> ((s, d) => {
      // three-level residual index at PARTIAL probes (round 11 — the
      // rung past the two-level key's ~1B-vector saturation): all
      // three Lloyd trainings, the (cell, sub, sub2) assignment and
      // the three-stage routing replay in one oracle statement
      val e = emb(s, d)
      Similarity.ivfProbe(e.filter(col("vec_id") < 10),
        Similarity.ivfTrainedIndex(e, nlist = 4, splits = Seq(2, 2),
          iters = 5), k = 5, nProbe = Seq(2, 1, 1))
    }),
    "llm_ann_pq" -> ((s, d) => {
      // product-quantization ADC: corpus compressed to m=4 codes, a
      // query scores a candidate with 4 table lookups — the code-table
      // member of the ANN family; training + encoding + search all
      // deterministic, replayed by one oracle SQL statement
      val e = emb(s, d)
      Similarity.pqTopK(e.filter(col("vec_id") < 10), e, k = 5)
    }),
    "llm_ann_ivfpq" -> ((s, d) => {
      // the composed production index: IVF cells bound WHICH candidates
      // a query touches, PQ codes bound WHAT each costs, and the exact
      // refine stage re-scores the 20-candidate shortlist — coarse
      // assignment, encoding, probe, ADC scan, and refine all replay in
      // the single oracle statement
      val e = emb(s, d)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e, k = 5,
        nProbe = 4, rerank = 20)
    }),
    // cluster-balanced (diversity) sampling: Lloyd cells as strata,
    // alpha=0 temperature = uniform target over cells — upweights
    // sparse regions of embedding space, the curation move SemDeDup-
    // style pipelines pair with dedup. Pure composition of two verified
    // operators; clustering + rates + keep test replay in one oracle.
    "llm_cluster_balance" -> ((s, d) => {
      val asg = Similarity.lloydAssign(emb(s, d), nlist = 4)
        .withColumnRenamed("vec_id", "doc_id")
      CorpusOps.mixTemperature(docs(s, d).join(asg, Seq("doc_id")),
        "cell", alpha = 0.0, targetFrac = 0.5)
    }),
    "llm_semdedup" -> ((s, d) =>
      // SemDeDup: deterministic-Lloyd cells block the pair comparisons;
      // a vector is dropped iff a lower-id cluster-mate exceeds tau.
      // Training + assignment + pruning replay in one composed oracle.
      Similarity.semDedup(emb(s, d), tau = 0.4, nlist = 4, iters = 5)),
    "llm_semdedup_groups" -> ((s, d) =>
      // paper-faithful variant: one representative per connected
      // duplicate group (min-label closure over the verified pair graph)
      Similarity.semDedupGroups(emb(s, d), tau = 0.4, nlist = 4,
        iters = 5)),
    "llm_embed_dedup" -> ((s, d) =>
      // embedding-space near-dup member of the dedup family: parity-sign
      // LSH blocking + exact-cosine verification. tau sits where this
      // synthetic corpus has genuine neighbors (max pairwise cosine
      // ≈ 0.51 — the vectors are near-orthogonal): ~60 pairs at sf0.01.
      // Recall is the LSH blocking's (the oracle replicates blocking +
      // verify, so the output is exactly defined either way).
      Similarity.cosineNearDupPairs(emb(s, d), tau = 0.4)),
    // ingest-time SEMANTIC probe: the %5==0 slice arrives as the batch,
    // the rest is the corpus — same blocking + verify as llm_embed_dedup
    "llm_incr_embed_dedup" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.incrementalCosineNearDups(
        e.filter(col("vec_id") % 5 === 0),
        e.filter(col("vec_id") % 5 =!= 0), tau = 0.4)
    }),
    // the which-index-do-I-ship table: recall@5 of every ANN variant
    // against the exact ranking, one row per index, all deterministic —
    // the metric sweep itself is oracle-checked
    "llm_ann_recall_all" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(q, e, k = 5).localCheckpoint()
      def row(m: String, ap: org.apache.spark.sql.DataFrame) =
        Similarity.recallAtK(ap, bf, k = 5).withColumn("method", lit(m))
      // the two-level residual index is the shared prefix of THREE of
      // the swept variants — ivf_residual probes it directly,
      // ivf_residual3 adds one level to it, and ivf_trained is exactly
      // its level 0 (same centers, same assignment) — so it is built
      // ONCE here instead of three Lloyd trainings + three coarse
      // argmins (rows byte-identical by construction: the fused
      // builders run the same steps)
      val i2 = Similarity.ivfTrainedIndex(e, nlist = 4, splits = Seq(2),
        iters = 5)
      val ix = i2.copy(assignment = i2.assignment.localCheckpoint())
      row("ivf", Similarity.ivfProbe(q, Similarity.ivfIndex(e), k = 5,
          nProbe = Seq(4)))
        .union(row("ivf_residual",
          Similarity.ivfProbe(q, ix, k = 5, nProbe = Seq(2, 1))))
        .union(row("ivf_residual3", Similarity.ivfProbe(q,
          Similarity.addLevel(ix, nsplit = 2, iters = 5), k = 5,
          nProbe = Seq(2, 1, 1))))
        .union(row("ivf_trained",
          Similarity.ivfProbe(q, ix.take(1), k = 5, nProbe = Seq(2))))
        .union(row("ivfpq", Similarity.ivfPqTopK(q, e, k = 5,
          nProbe = 4, rerank = 20)))
        .union(row("pq", Similarity.pqTopK(q, e, k = 5)))
        .orderBy("method")
    }),
    "llm_ann_recall" -> ((s, d) => {
      // continuous ANN quality measurement: recall@5 of the IVF index
      // against the exact ranking, in-engine (deterministic both sides,
      // so even the metric itself is oracle-checked)
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfProbe(q, Similarity.ivfIndex(e), k = 5,
          nProbe = Seq(4)),
        Similarity.bruteForceTopK(q, e, k = 5), k = 5)
    }),
    "llm_curation" -> ((s, d) =>
      // the end-to-end training-data curation flow: quality gate ∧
      // language gate ∧ near-dup keep decision (TextOps.curate)
      TextOps.curate(docs(s, d))),
    "llm_curation_multi" -> ((s, d) =>
      // the multi-language deployment shape (r14): ONE scan + ONE
      // language-independent dedup keep join for a language SET —
      // provably ≡ the per-language union, at 1/|langs| the dedup cost
      TextOps.curateMulti(docs(s, d), langs = Seq("en", "fr"))),
    "llm_curation_strict" -> ((s, d) =>
      // full pre-training gate stack: quality ∧ language ∧ dedup-keep ∧
      // ¬boilerplate (p95-level 3-gram repetition cut on this corpus)
      TextOps.curate(docs(s, d), maxDup3 = 0.01)),
    // the operator-facing drop report for the same strict gate stack:
    // per-stage in/dropped/out counts in the sequential gate order
    "llm_curation_funnel" -> ((s, d) =>
      TextOps.curationFunnel(docs(s, d), maxDup3 = 0.01)),
    // which ingestion sources are dirty: per-source near-dup loser rates
    "llm_dedup_by_source" -> ((s, d) =>
      CorpusOps.dedupRateBySource(docs(s, d))),
    "llm_multimodal" -> ((s, d) => Multimodal.documentsAsMedia(s, docs(s, d))),
    "llm_multimodal_frames" -> ((s, d) =>
      Multimodal.documentsAsFrames(s, docs(s, d))),
    "llm_event_pairs" -> ((s, d) =>
      // batch twin of the stream-stream interval join: same-user event
      // pairs within a 5-minute band, counted per user
      graft.streaming.EventStreams.intervalJoinBatch(
        graft.sources.Tables(s, d, "events"))),
    "llm_sessions_batch" -> ((s, d) =>
      // batch twin of the streaming sessionizer — same 30-min-gap session
      // definition, gaps-and-islands form (SURVEY §2.D streaming row)
      graft.streaming.EventStreams.sessionizeBatch(
        graft.sources.Tables(s, d, "events"))),
    // windowed corpus ingest monitor: ONE function serves batch and
    // streaming (window() groups identically; watermark is a batch
    // no-op), so this batch run oracle-checks the streaming rollup.
    // Synthetic event time: doc_id minutes past a fixed origin.
    "llm_monitor_windows" -> ((s, d) => {
      val withTs = docs(s, d).withColumn("ts",
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP '2026-01-01 00:00:00')"))
      graft.streaming.EventStreams.corpusMonitor(withTs)
        .orderBy("window_start", "source")
    }),
    // embedding-drift monitor: per-window centroid vs corpus centroid
    // cosine drift over the hashing-trick embeddings
    "llm_drift_windows" -> ((s, d) => {
      val withTs = docs(s, d).withColumn("ts",
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP '2026-01-01 00:00:00')"))
      CorpusOps.driftWindows(withTs)
    }),
    // reference-anchored drift (the streamable form, run in batch mode
    // — the batch run IS the stream's oracle-checkable twin): windows
    // compared against the pinned en-slice centroid
    "llm_drift_ref" -> ((s, d) => {
      val withTs = docs(s, d).withColumn("ts",
        expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
          "TIMESTAMP '2026-01-01 00:00:00')"))
      graft.streaming.EventStreams.streamingDrift(withTs,
          docs(s, d).filter(col("lang") === "en"))
        .orderBy("window_start")
    }),
    // UniMax epoch-capped mixing: budget spread uniformly across
    // languages, small strata capped at one epoch — the principled
    // alternative to temperature mixing; allocation + keep test replay
    // in one oracle statement
    "llm_mix_unimax" -> ((s, d) =>
      CorpusOps.mixUnimax(docs(s, d), "lang", budgetFrac = 0.5,
        maxEpochs = 1)),
    // DSIR importance weights: log p_target/p_raw under add-1 unigram
    // models (target = English slice) — integer micro-unit dot products
    "llm_dsir" -> ((s, d) => CorpusOps.dsirWeights(docs(s, d))),
    // the data-selection cut: top-100 docs by importance weight via
    // TakeOrderedAndProject (never a global window)
    "llm_dsir_select" -> ((s, d) =>
      CorpusOps.dsirWeights(docs(s, d), ordered = false)
        .orderBy(desc("log_weight"), asc("doc_id")).limit(100)),
    // CCNet-style perplexity filter: add-1 unigram LM trained on the
    // English slice, every doc scored by per-token avg NLL
    "llm_perplexity" -> ((s, d) => TextOps.perplexity(docs(s, d))),
    // bigram-LM perplexity: token-transition NLL under an add-1
    // conditional model trained on the en slice (prefix-count fallback
    // for unseen pairs)
    "llm_perplexity_bigram" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.perplexityBigram(all, all.filter(col("lang") === "en"))
    }),
    // CCNet head/middle/tail: per-lang perplexity terciles by exact
    // integer rank arithmetic over the micro-unit avg_nll order
    "llm_ccnet_buckets" -> ((s, d) => TextOps.ccnetBuckets(docs(s, d))),
    // the deployment form: fixed avg_nll cut points, pure per-row gate
    "llm_ccnet_fixed" -> ((s, d) =>
      TextOps.ccnetBucketsFixed(docs(s, d), headMax = 3.40,
        middleMax = 3.41)),
    // token-budget selection: best-quality docs until 15k tokens (the
    // one boundary doc may straddle, the pack discipline)
    "llm_token_budget" -> ((s, d) =>
      CorpusOps.tokenBudgetSelect(docs(s, d), budget = 15000L)),
    // one-scan per-doc data-quality report (curate's fusion, reporting
    // instead of filtering)
    "llm_scorecard" -> ((s, d) => TextOps.scorecard(docs(s, d))),
    // Shannon token entropy: the lexical-diversity / keyword-spam
    // feature, exact integer micro-unit sums per doc
    "llm_entropy" -> ((s, d) => TextOps.entropy(docs(s, d))),
    // C4-style bad-words gate on exact whitespace tokens
    "llm_blocklist" -> ((s, d) =>
      TextOps.blocklist(docs(s, d), Seq("slow", "spam", "junk"),
        maxHits = 2)),
    // quality-curriculum read order: replicable shard + in-shard rank
    "llm_curriculum" -> ((s, d) => CorpusOps.curriculumOrder(docs(s, d))),
    // hybrid retrieval: BM25 keyword arm + exact-cosine embedding arm
    // fused by Reciprocal Rank Fusion on integer micro-units
    "llm_hybrid_rrf" -> ((s, d) =>
      Retrieval.hybridRrf(docs(s, d), emb(s, d),
        Seq("spark", "window", "table"), queryVecId = 0L, k = 10,
        kEach = 20)),
    // BPE tokenizer training: 3 merges learned from corpus word
    // frequencies (the whole loop — pair counts, argmax, rewrite —
    // replays in the unrolled oracle CTEs)
    "llm_bpe_merges" -> ((s, d) => TextOps.bpeLearn(docs(s, d), nMerges = 3)),
    // applying the learned tokenizer: per-doc word vs BPE-symbol counts;
    // the oracle re-learns the same merges and re-encodes
    "llm_bpe_encode" -> ((s, d) => {
      val m = TextOps.bpeLearn(docs(s, d), nMerges = 3).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(docs(s, d), m)
    }),
    // the shipped tokenizer artifact: character inventory + merges as
    // one (token_id, token) table
    "llm_bpe_vocab" -> ((s, d) => TextOps.bpeVocab(docs(s, d), nMerges = 3)),
    // per-source tokenizer cost: BPE symbols per word + whole-word
    // coverage under the same 3-merge table the encode query replays
    "llm_bpe_fertility" -> ((s, d) => {
      val m = TextOps.bpeLearn(docs(s, d), nMerges = 3).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeFertility(docs(s, d), m)
    }),
    "llm_hll_distinct" -> ((s, d) =>
      // 100 TB distinct counting: HLL sketch vs exact. The sketch value
      // itself is impl-defined, so the checkable output is the exact
      // count plus an in-tolerance flag for the sketch (rsd 0.02,
      // asserted to land within 5×rsd).
      Tables(s, d, "lineitem").agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_d"),
          countDistinct(col("l_partkey")).as("exact_d"))
        .select(col("exact_d"),
          (abs(col("approx_d") - col("exact_d")).cast("double") /
            col("exact_d") <= 0.1).as("approx_ok"))))

  /** Unrolled-CTE prefix shared by the BPE oracles: `w`/`v0` = corpus
    * word frequencies as char representations (the one corpus-scale
    * stage); per step k: adjacent-pair counts (`pK`), the
    * (count desc, pair asc) argmax (`bK`), and the rewritten vocab
    * (`vK` — pad, double literal replace, trim: byte-identical to
    * `TextOps.applyMerge`). */
  private def bpeCtes(steps: Int): String = {
    val v0 = "w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS tf FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) > 0 GROUP BY word), " +
      "v0 AS (SELECT array_to_string(regexp_extract_all(word, '.'), ' ') " +
      "AS repr, tf FROM w)"
    val stepCtes = (1 to steps).map { k =>
      val prev = s"v${k - 1}"
      val f = s"' ' || (SELECT pair FROM b$k) || ' '"
      val t = s"' ' || (SELECT replace(pair, ' ', '') FROM b$k) || ' '"
      s"p$k AS (SELECT unnest([syms[i] || ' ' || syms[i+1] " +
        s"FOR i IN range(1, len(syms))]) AS pair, tf " +
        s"FROM (SELECT string_split(repr, ' ') AS syms, tf FROM $prev)), " +
        s"b$k AS (SELECT pair, CAST(SUM(tf) AS BIGINT) AS cnt FROM p$k " +
        "GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1), " +
        s"v$k AS (SELECT trim(replace(replace(' ' || repr || ' ', $f, $t), " +
        s"$f, $t)) AS repr, tf FROM $prev)"
    }.mkString(", ")
    s"$v0, $stepCtes"
  }

  private def bpeMergeRow(k: Int): String =
    s"SELECT CAST($k AS BIGINT) AS step, string_split(pair, ' ')[1] AS lhs, " +
      s"string_split(pair, ' ')[2] AS rhs, cnt AS pair_count FROM b$k"

  /** The per-word encode chain of the llm_bpe_encode oracle — char
    * split, then each learned merge as pad + double replace + trim, in
    * learned order (columns q1..qN carry the merge pairs). */
  private def bpeEncodeExpr(steps: Int): String =
    (1 to steps).map(k => s"q$k").foldLeft(
      "array_to_string(regexp_extract_all(w, '.'), ' ')") { (x, q) =>
      val f = s"' ' || $q || ' '"
      val t = s"' ' || replace($q, ' ', '') || ' '"
      s"trim(replace(replace(' ' || $x || ' ', $f, $t), $f, $t))"
    }

  /** The distinct-shingle CTE shared by the contamination/novelty/
    * dedup-closure replicas (`Dedup.withShingleSets`'s SQL twin): docs
    * shorter than `n` tokens fall back to their distinct tokens. Emits
    * the WITH prefix (RECURSIVE when a downstream CTE needs it) through
    * the `s` CTE's trailing ", ". */
  private def shingleCteSql(n: Int, recursive: Boolean = false): String =
    ((if (recursive) "WITH RECURSIVE " else "WITH ") +
      "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"s AS (SELECT doc_id, CASE WHEN len(toks) < $n THEN list_distinct(toks) " +
      "ELSE list_distinct([" +
      (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
        .mkString(" || ' ' || ") + " " +
      s"FOR i IN range(1, len(toks) - ${n - 2})]) END AS sh FROM t), ")

  /** Dedup-family closure replica — the pinned llm_dedup_groups shape,
    * parameterized for the fuzz grid (exhaustive rounded-Jaccard pair
    * set at `threshold`, recursive connected-component closure, min-id
    * keep). Grid validity: like the near-dup grid, the Spark side's
    * LSH banding achieves full recall at thresholds >= 0.5 on the
    * near-identical planted duplicates — and the differential fails
    * loudly if recall ever drops. */
  private[graft] def dedupGroupsSql(shingle: Int,
      threshold: Double): String =
    (shingleCteSql(shingle, recursive = true) +
      "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      s"len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 >= $threshold), " +
      "cl AS (SELECT doc_a AS a, doc_b AS b FROM p " +
      "UNION SELECT doc_b, doc_a FROM p), " +
      "r AS (SELECT a AS node, b AS x FROM cl " +
      "UNION SELECT r.node, cl.b FROM r JOIN cl ON cl.a = r.x) " +
      "SELECT node AS doc_id, LEAST(node, MIN(x)) AS keep_id FROM r " +
      "GROUP BY node ORDER BY doc_id")

  /** Deterministic split-assignment replica — the pinned llm_split
    * shape, parameterized for the fuzz grid. Thresholds come from the
    * ONE shared derivation (`CorpusOps.splitThresholds`) the engine's
    * `splitExpr` also consumes — first match wins, last name is the
    * ELSE arm. */
  private[graft] def splitSql(fractions: Seq[(String, Double)]): String = {
    val whens = CorpusOps.splitThresholds(fractions).map { case (nm, t) =>
      s"WHEN u < $t THEN ${sqlStr(nm)}"
    }.mkString(" ")
    ("SELECT doc_id, CASE " + whens +
      s" ELSE ${sqlStr(fractions.last._1)} END AS split FROM " +
      "(SELECT doc_id, CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8)) AS BIGINT) AS u " +
      "FROM documents) ORDER BY doc_id")
  }

  /** Hashing-trick featurizer replica — the pinned llm_featurize base
    * shape, parameterized for the fuzz grid (sha256 bucket mod `dim`,
    * bit-30 sign, L2-normalized 1e-4-rounded components). */
  private[graft] def featurizeSql(dim: Int): String =
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "hs AS (SELECT doc_id, list_transform(toks, tok -> CAST(CONCAT('0x', SUBSTR(sha256(tok), 1, 15)) AS BIGINT)) AS hl FROM t), " +
      "v AS (SELECT doc_id, [CAST(COALESCE(list_sum(list_transform(hl, h -> " +
      s"CASE WHEN h % $dim = i THEN (CASE WHEN (h >> 30) & 1 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0) AS BIGINT) " +
      s"FOR i IN range(0, $dim)] AS v FROM hs), " +
      "n AS (SELECT doc_id, v, SQRT(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)) AS nrm FROM v) " +
      "SELECT doc_id, CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0) " +
      "ELSE list_transform(v, x -> FLOOR(CAST(x AS DOUBLE) / nrm * 10000 + 0.5) / 10000) END AS embedding " +
      "FROM n ORDER BY doc_id")

  /** The per-dimension unpivot the driver-facing llm_featurize query
    * ships (the compare cannot hash array cells), parameterized over
    * the embedded featurizer and its dimension. */
  private[graft] def featurizeUnpivotSql(fSql: String, dim: Int): String =
    (s"""WITH f AS ($fSql) """ +
      "SELECT f.doc_id, CAST(r.range AS INTEGER) AS dim, " +
      "f.embedding[CAST(r.range AS INTEGER) + 1] AS component " +
      s"FROM f, range(0, $dim) r ORDER BY doc_id, dim")

  /** Quality-calibration histogram replica — the pinned
    * llm_quality_calibration shape, parameterized for the fuzz grid
    * (`buckets` must divide 10000, the exact 1e-4 integer form). */
  private[graft] def calibrationSql(qSql: String, buckets: Int): String =
    (s"""WITH q AS ($qSql), """ +
      s"b AS (SELECT LEAST(CAST(FLOOR(quality * 10000 + 0.5) AS BIGINT) // ${10000 / buckets}, ${buckets - 1}) AS bucket FROM q), " +
      "a AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket) " +
      "SELECT bucket, n_docs, " +
      "FLOOR(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM a) * 10000 + 0.5) / 10000 AS share " +
      "FROM a ORDER BY bucket")

  /** Dup-family size-histogram replica — the pinned llm_dup_group_sizes
    * shape over a (possibly re-parameterized) dedup-groups closure. */
  private[graft] def dupGroupSizesSql(groupsSql: String): String =
    (s"""WITH g AS ($groupsSql), """ +
      "f AS (SELECT keep_id, CAST(COUNT(*) AS BIGINT) AS group_size " +
      "FROM g GROUP BY keep_id) " +
      "SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups " +
      "FROM f GROUP BY group_size ORDER BY group_size")

  /** Cross-source dup-matrix replica — the pinned llm_source_overlap
    * shape over a (possibly re-parameterized) verified pair oracle. */
  private[graft] def sourceOverlapSql(pairsSql: String): String =
    (s"""WITH p AS ($pairsSql) """ +
      "SELECT LEAST(da.source, db.source) AS source_a, " +
      "GREATEST(da.source, db.source) AS source_b, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
      "FROM p JOIN documents da ON da.doc_id = p.doc_a " +
      "JOIN documents db ON db.doc_id = p.doc_b " +
      "GROUP BY 1, 2 ORDER BY source_a, source_b")

  /** Contamination-score replica — the pinned llm_contamination shape,
    * parameterized for the fuzz grid (eval slice = doc_id % evalMod =
    * evalRem, probed against the train slice's distinct n-grams). */
  private[graft] def contaminationSql(n: Int, evalMod: Int, evalRem: Int,
      flagThreshold: Double): String =
    (shingleCteSql(n) +
      s"tr AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % $evalMod <> $evalRem), " +
      s"ev AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % $evalMod = $evalRem), " +
      "j AS (SELECT ev.doc_id, COUNT(*) AS n_ngrams, COUNT(tr.g) AS n_hit " +
      "FROM ev LEFT JOIN tr ON ev.g = tr.g GROUP BY ev.doc_id) " +
      "SELECT doc_id, n_ngrams, n_hit, " +
      "FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 AS contamination, " +
      s"FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 >= $flagThreshold " +
      "AS contaminated FROM j ORDER BY doc_id")

  /** Decontamination replica — the pinned llm_decontaminate shape,
    * parameterized for the fuzz grid (probe direction flipped: train
    * docs scored against the eval slice's distinct n-grams). */
  private[graft] def decontaminateSql(n: Int, evalMod: Int, evalRem: Int,
      maxOverlap: Double): String =
    (shingleCteSql(n) +
      s"ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % $evalMod = $evalRem), " +
      s"tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % $evalMod <> $evalRem), " +
      "j AS (SELECT tr.doc_id, COUNT(*) AS n_ngrams, COUNT(ev.g) AS n_hit " +
      "FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id) " +
      "SELECT doc_id, n_ngrams, n_hit, " +
      "FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 AS overlap, " +
      s"FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 >= $maxOverlap " +
      "AS dropped FROM j ORDER BY doc_id")

  /** First-occurrence n-gram novelty replica — the pinned
    * llm_ngram_novelty shape, parameterized for the fuzz grid. */
  private[graft] def ngramNoveltySql(n: Int): String =
    (shingleCteSql(n) +
      "gr AS (SELECT doc_id, unnest(sh) AS g FROM s), " +
      "f AS (SELECT g, MIN(doc_id) AS first_id FROM gr GROUP BY g), " +
      "j AS (SELECT gr.doc_id, CASE WHEN f.first_id = gr.doc_id THEN 1 ELSE 0 END AS nw " +
      "FROM gr JOIN f USING (g)) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams, " +
      "CAST(SUM(nw) AS BIGINT) AS n_new, " +
      "FLOOR(CAST(SUM(nw) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS novelty " +
      "FROM j GROUP BY doc_id ORDER BY doc_id")

  /** Reference-anchored ingest-novelty replica — the pinned
    * llm_novelty_ref shape, parameterized for the fuzz grid (batch =
    * doc_id % mod = rem, reference = the rest). */
  private[graft] def noveltyRefSql(n: Int, mod: Int, rem: Int): String =
    (shingleCteSql(n) +
      s"ref AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % $mod <> $rem), " +
      s"e AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % $mod = $rem), " +
      "j AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams, " +
      "CAST(SUM(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new " +
      "FROM e LEFT JOIN ref ON ref.g = e.g GROUP BY e.doc_id) " +
      "SELECT doc_id, n_ngrams, n_new, " +
      "FLOOR(CAST(n_new AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 AS novelty " +
      "FROM j ORDER BY doc_id")

  /** Corpus-vs-target token-KL replica — the pinned llm_token_kl shape,
    * parameterized for the fuzz grid (add-1 smoothing over the joint
    * vocabulary, 1e-12 integer micro-unit contributions). */
  private[graft] def tokenKlSql(targetLang: String): String =
    ("WITH r AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "cq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cq FROM r GROUP BY tok), " +
      s"tg AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE lang = ${sqlStr(targetLang)}), " +
      "ct AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct FROM tg GROUP BY tok), " +
      "j AS (SELECT cq.tok, cq.cq, COALESCE(ct.ct, 0) AS ct FROM cq LEFT JOIN ct ON ct.tok = cq.tok), " +
      "st AS (SELECT CAST(SUM(cq) AS BIGINT) AS nq, CAST(SUM(ct) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS v FROM j), " +
      "c AS (SELECT CAST(FLOOR(CAST(ct + 1 AS DOUBLE) / (nt + v + 1) * " +
      "(LN(CAST(ct + 1 AS DOUBLE) / (nt + v + 1)) - LN(CAST(cq + 1 AS DOUBLE) / (nq + v + 1))) * 1e12 + 0.5) AS BIGINT) AS c12 FROM j, st) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab, " +
      "FLOOR(CAST(SUM(c12) AS DOUBLE) / 1e12 * 1000000 + 0.5) / 1000000 AS kl FROM c")

  /** Windowed embedding-drift replica — the pinned llm_drift_windows
    * shape, parameterized for the fuzz grid over the featurizer
    * dimension (integer per-dim window sums, one cosine per window
    * against the global centroid; window fixed at the operator's
    * 10-minute bucket). */
  private[graft] def driftWindowsSql(dim: Int): String = {
    val sums = (0 until dim)
      .map(i => s"CAST(SUM(e4[${i + 1}]) AS BIGINT) AS s$i").mkString(", ")
    val gsums = (0 until dim)
      .map(i => s"CAST(SUM(s$i) AS BIGINT) AS g$i").mkString(", ")
    val dot = (0 until dim)
      .map(i => s"CAST(s$i AS DOUBLE) * CAST(g$i AS DOUBLE)")
      .mkString(" + ")
    val nw = (0 until dim)
      .map(i => s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE)")
      .mkString(" + ")
    val ng = (0 until dim)
      .map(i => s"CAST(g$i AS DOUBLE) * CAST(g$i AS DOUBLE)")
      .mkString(" + ")
    s"""WITH f AS (${featurizeSql(dim)}), """ +
      "e AS (SELECT doc_id, list_transform(embedding, " +
      "x -> CAST(FLOOR(x * 10000 + 0.5) AS BIGINT)) AS e4 FROM f), " +
      "t AS (SELECT doc_id, TIMESTAMP '2026-01-01 00:00:00' " +
      "+ doc_id * INTERVAL 1 MINUTE AS ts FROM documents), " +
      "j AS (SELECT time_bucket(INTERVAL '10 minutes', t.ts) AS window_start, e4 " +
      "FROM t JOIN e USING (doc_id)), " +
      s"w AS (SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_docs, $sums " +
      "FROM j GROUP BY window_start), " +
      s"g AS (SELECT $gsums FROM w) " +
      "SELECT window_start, n_docs, " +
      s"CASE WHEN ($nw) = 0 OR ($ng) = 0 THEN NULL " +
      s"ELSE FLOOR((1.0 - ($dot) / (SQRT($nw) * SQRT($ng))) * 10000 + 0.5) / 10000 " +
      "END AS drift FROM w, g ORDER BY window_start"
  }

  /** Multimodal stub-decode replica — the pinned llm_multimodal shape,
    * parameterized for the fuzz grid (payload bytes folded into `dim`
    * integer accumulators, one float divide, rounded squared norm). */
  private[graft] def multimodalSql(dim: Int): String =
    ("WITH t AS (SELECT doc_id, hex(encode(text)) AS hx, " +
      "octet_length(encode(text)) AS n FROM documents), " +
      // the generate_series TVF cannot take a lateral bound; the scalar
      // list function range(0, n) + UNNEST can
      s"b AS (SELECT doc_id, i % $dim AS dim, " +
      "CAST(CONCAT('0x', SUBSTR(hx, 2 * i + 1, 2)) AS BIGINT) AS byte " +
      "FROM (SELECT doc_id, hx, UNNEST(range(0, n)) AS i FROM t) u), " +
      "s AS (SELECT t.doc_id, d.dim, COALESCE(SUM(b.byte), 0) AS sb " +
      s"FROM t CROSS JOIN generate_series(0, ${dim - 1}) d(dim) " +
      "LEFT JOIN b ON b.doc_id = t.doc_id AND b.dim = d.dim " +
      "GROUP BY t.doc_id, d.dim), " +
      "f AS (SELECT doc_id, dim, " +
      "CAST(CAST(CAST(sb AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS fv FROM s), " +
      "l AS (SELECT doc_id, LIST(fv * fv ORDER BY dim) AS sq FROM f GROUP BY doc_id) " +
      s"SELECT doc_id AS media_id, CAST($dim AS INTEGER) AS feat_dim, " +
      "FLOOR(list_reduce(list_prepend(0.0, sq), (a, x) -> a + x) * 10000 + 0.5) / 10000 " +
      "AS feat_sq_norm FROM l ORDER BY media_id")

  /** Multimodal frame-pipeline replica — the pinned
    * llm_multimodal_frames shape, parameterized for the fuzz grid
    * (nearest-byte resize to `targetW`×1, `frameBytes` frames, every
    * `stride`-th kept, `featDim`-accumulator stub decode per frame). */
  private[graft] def multimodalFramesSql(targetW: Int, frameBytes: Int,
      stride: Int, featDim: Int): String =
    ("WITH t AS (SELECT doc_id, hex(encode(text)) AS hx, " +
      "octet_length(encode(text)) AS n FROM documents), " +
      "r AS (SELECT doc_id, i, CAST(CONCAT('0x', " +
      s"SUBSTR(hx, 2 * (((i * n) // $targetW) % n) + 1, 2)) AS BIGINT) AS byte " +
      s"FROM t, generate_series(0, ${targetW - 1}) g(i)), " +
      s"fr AS (SELECT doc_id, i // $frameBytes AS frame_no, (i % $frameBytes) % $featDim AS dim, " +
      s"SUM(byte) AS sb FROM r WHERE (i // $frameBytes) % $stride = 0 " +
      s"GROUP BY doc_id, i // $frameBytes, (i % $frameBytes) % $featDim), " +
      "f AS (SELECT doc_id, frame_no, dim, " +
      "CAST(CAST(CAST(sb AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS fv FROM fr), " +
      "l AS (SELECT doc_id, frame_no, LIST(fv * fv ORDER BY dim) AS sq " +
      "FROM f GROUP BY doc_id, frame_no) " +
      "SELECT doc_id AS media_id, CAST(frame_no AS INTEGER) AS frame_no, " +
      "FLOOR(list_reduce(list_prepend(0.0, sq), (a, x) -> a + x) * 10000 + 0.5) / 10000 " +
      "AS feat_sq_norm FROM l ORDER BY media_id, frame_no")

  /** Incremental-ingest near-dup replica — the pinned llm_incr_dedup
    * shape, parameterized for the fuzz grid (batch = doc_id % mod =
    * rem probed against the rest as the standing corpus; exhaustive
    * rounded-Jaccard with the near-dup grid's recall caveat:
    * thresholds stay >= 0.5). */
  private[graft] def incrDedupSql(n: Int, mod: Int, rem: Int,
      threshold: Double): String =
    (shingleCteSql(n) +
      "p AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, " +
      "FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 AS jaccard " +
      s"FROM s a JOIN s b ON a.doc_id % $mod = $rem AND b.doc_id % $mod <> $rem) " +
      s"SELECT new_id, corpus_id, jaccard FROM p WHERE jaccard >= $threshold " +
      "ORDER BY new_id, corpus_id")

  /** Incremental-ingest admission replica — the pinned llm_incr_admit
    * shape, parameterized for the fuzz grid (admit = batch docs with NO
    * over-threshold corpus match). */
  private[graft] def incrAdmitSql(n: Int, mod: Int, rem: Int,
      threshold: Double): String =
    (shingleCteSql(n) +
      "p AS (SELECT a.doc_id AS new_id, " +
      "FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 AS jaccard " +
      s"FROM s a JOIN s b ON a.doc_id % $mod = $rem AND b.doc_id % $mod <> $rem) " +
      s"SELECT doc_id FROM documents WHERE doc_id % $mod = $rem " +
      s"AND doc_id NOT IN (SELECT new_id FROM p WHERE jaccard >= $threshold) " +
      "ORDER BY doc_id")

  /** CCNet per-lang tercile replica — the pinned llm_ccnet_buckets
    * shape, parameterized for the fuzz grid via its embedded
    * perplexity CTE (usually [[perplexitySql]]). */
  private[graft] def ccnetBucketsSql(pplSql: String): String =
    (s"""WITH p AS ($pplSql), """ +
      "j AS (SELECT p.doc_id, d.lang, p.avg_nll FROM p " +
      "JOIN documents d ON d.doc_id = p.doc_id), " +
      "r AS (SELECT doc_id, lang, avg_nll, " +
      "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY lang) AS cnt FROM j) " +
      "SELECT doc_id, lang, avg_nll, " +
      "['head','middle','tail'][CAST(3 * (rn - 1) // cnt AS INTEGER) + 1] AS bucket " +
      "FROM r ORDER BY doc_id")

  /** Hybrid-retrieval RRF replica — the pinned llm_hybrid_rrf shape,
    * parameterized for the fuzz grid (BM25 keyword arm at the stock
    * k1=1.2/b=0.75 `Retrieval.hybridRrf` uses internally, exact-cosine
    * embedding arm, both kEach-bounded, fused at RRF constant `c`). */
  private[graft] def hybridRrfSql(terms: Seq[String], queryVecId: Long,
      k: Int, kEach: Int, c: Int): String = {
    val termList = terms.map(sqlStr).mkString(", ")
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "st AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS sdl, CAST(COUNT(*) AS BIGINT) AS n FROM t), " +
      "e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM t), " +
      "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl " +
      s"FROM e WHERE tok IN ($termList) GROUP BY doc_id, tok), " +
      "df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY tok), " +
      "co AS (SELECT tf.doc_id, CAST(FLOOR(" +
      "((LN(CAST(1 AS DOUBLE) + (st.n - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE))) * tf.tf) " +
      "* (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))) " +
      "/ (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) " +
      "+ (CAST(0.75 AS DOUBLE) * tf.dl) / (CAST(st.sdl AS DOUBLE) / st.n))) " +
      "* 1000000 + 0.5) AS BIGINT) AS c6 " +
      "FROM tf JOIN df ON df.tok = tf.tok, st), " +
      "bs AS (SELECT doc_id, SUM(c6) AS s6 FROM co GROUP BY doc_id), " +
      "bm AS (SELECT doc_id, FLOOR(CAST(s6 AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS score " +
      s"FROM bs ORDER BY s6 DESC, doc_id LIMIT $kEach), " +
      "kw AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rank FROM bm), " +
      s"q AS (SELECT LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id = $queryVecId), " +
      "cc AS (SELECT vec_id AS neighbor_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce FROM embeddings), " +
      "sc AS (SELECT neighbor_id, LIST_INNER_PRODUCT(qe, ce) AS raw_dot FROM q CROSS JOIN cc), " +
      "an AS (SELECT neighbor_id AS doc_id, CAST(ROW_NUMBER() OVER (" +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS BIGINT) AS ann_rank FROM sc), " +
      s"af AS (SELECT doc_id, ann_rank FROM an WHERE ann_rank <= $kEach), " +
      "f AS (SELECT COALESCE(kw.doc_id, af.doc_id) AS doc_id, kw.kw_rank, af.ann_rank " +
      "FROM kw FULL JOIN af ON af.doc_id = kw.doc_id), " +
      "g AS (SELECT doc_id, kw_rank, ann_rank, " +
      s"(COALESCE(CAST(FLOOR(1000000.0 / ($c + kw_rank) + 0.5) AS BIGINT), 0) " +
      s"+ COALESCE(CAST(FLOOR(1000000.0 / ($c + ann_rank) + 0.5) AS BIGINT), 0)) AS rrf6 FROM f) " +
      "SELECT doc_id, COALESCE(kw_rank, -1) AS kw_rank, COALESCE(ann_rank, -1) AS ann_rank, rrf6, " +
      "FLOOR(CAST(rrf6 AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS rrf_score " +
      s"FROM g ORDER BY rrf6 DESC, doc_id LIMIT $k")
  }

  /** Span-duplication stats replica — the pinned llm_span_dups shape,
    * parameterized for the fuzz grid (rolling `span`-token windows,
    * global occurrence counts, per-doc dup fraction vs
    * `flagThreshold`). */
  private[graft] def spanDupsSql(span: Int, flagThreshold: Double): String =
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"g AS (SELECT doc_id, UNNEST([array_to_string(list_slice(toks, i, i + ${span - 1}), ' ') " +
      s"FOR i IN range(1, len(toks) - ${span - 2})]) AS gk FROM t WHERE len(toks) >= $span), " +
      "c AS (SELECT gk, COUNT(*) AS n_occ FROM g GROUP BY gk), " +
      "d AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, " +
      "CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans " +
      "FROM g JOIN c ON c.gk = g.gk GROUP BY g.doc_id) " +
      "SELECT t.doc_id, COALESCE(d.n_spans, 0) AS n_spans, " +
      "COALESCE(d.n_dup_spans, 0) AS n_dup_spans, " +
      "COALESCE(FLOOR(CAST(d.n_dup_spans AS DOUBLE) / d.n_spans * 10000 + 0.5) / 10000, " +
      "CAST(0 AS DOUBLE)) AS dup_fraction, " +
      "COALESCE(FLOOR(CAST(d.n_dup_spans AS DOUBLE) / d.n_spans * 10000 + 0.5) / 10000, " +
      s"CAST(0 AS DOUBLE)) >= $flagThreshold AS flagged " +
      "FROM t LEFT JOIN d ON d.doc_id = t.doc_id ORDER BY t.doc_id")

  /** Keep-first span-removal replica — the pinned llm_span_remove
    * shape, parameterized for the fuzz grid. */
  private[graft] def spanRemoveSql(span: Int): String =
    ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
      "g0 AS (SELECT doc_id, UNNEST([struct_pack(pos := i, " +
      s"gk := array_to_string(list_slice(toks, i, i + ${span - 1}), ' ')) " +
      s"FOR i IN range(1, len(toks) - ${span - 2})]) AS w FROM t WHERE len(toks) >= $span), " +
      "g AS (SELECT doc_id, CAST(w.pos AS INTEGER) AS pos, w.gk AS gk FROM g0), " +
      "rk AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gk) AS n_occ, " +
      "ROW_NUMBER() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn FROM g), " +
      "rem AS (SELECT DISTINCT doc_id, pos + CAST(r2.range AS INTEGER) AS tp " +
      s"FROM rk, range(0, $span) r2 WHERE n_occ > 1 AND rn > 1), " +
      "rl AS (SELECT doc_id, list_sort(list(tp)) AS removed FROM rem GROUP BY doc_id) " +
      "SELECT t.doc_id, CASE WHEN rl.removed IS NULL THEN t.text " +
      "ELSE COALESCE(array_to_string([t.toks[j] FOR j IN range(1, len(t.toks) + 1) " +
      "IF NOT list_contains(rl.removed, j)], ' '), '') END AS clean_text, " +
      "CAST(COALESCE(len(rl.removed), 0) AS BIGINT) AS n_removed " +
      "FROM t LEFT JOIN rl ON rl.doc_id = t.doc_id ORDER BY t.doc_id")

  /** Cross-document boilerplate-removal replica — the pinned
    * llm_boilerplate shape, parameterized for the fuzz grid (windows in
    * >= `minDocs` DISTINCT docs removed everywhere, no canonical
    * owner). */
  private[graft] def boilerplateSql(span: Int, minDocs: Int): String =
    ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
      "g0 AS (SELECT doc_id, UNNEST([struct_pack(pos := i, " +
      s"gk := array_to_string(list_slice(toks, i, i + ${span - 1}), ' ')) " +
      s"FOR i IN range(1, len(toks) - ${span - 2})]) AS w FROM t WHERE len(toks) >= $span), " +
      "g AS (SELECT doc_id, CAST(w.pos AS INTEGER) AS pos, w.gk AS gk FROM g0), " +
      "c AS (SELECT gk FROM (SELECT gk, COUNT(DISTINCT doc_id) AS nd " +
      s"FROM g GROUP BY gk) WHERE nd >= $minDocs), " +
      "rem AS (SELECT DISTINCT g.doc_id, g.pos + CAST(r2.range AS INTEGER) AS tp " +
      s"FROM g, c, range(0, $span) r2 WHERE g.gk = c.gk), " +
      "rl AS (SELECT doc_id, list_sort(list(tp)) AS removed FROM rem GROUP BY doc_id) " +
      "SELECT t.doc_id, CASE WHEN rl.removed IS NULL THEN t.text " +
      "ELSE COALESCE(array_to_string([t.toks[j] FOR j IN range(1, len(t.toks) + 1) " +
      "IF NOT list_contains(rl.removed, j)], ' '), '') END AS clean_text, " +
      "CAST(COALESCE(len(rl.removed), 0) AS BIGINT) AS n_removed " +
      "FROM t LEFT JOIN rl ON rl.doc_id = t.doc_id ORDER BY t.doc_id")

  /** Within-doc repeated-window cleanup replica — the pinned
    * llm_within_doc_dedup shape, parameterized for the fuzz grid
    * (keep-first inside each document, pure per-row). */
  private[graft] def withinDocDedupSql(span: Int): String =
    ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
      "g AS (SELECT doc_id, text, toks, " +
      s"[array_to_string(list_slice(toks, i, i + ${span - 1}), ' ') " +
      s"FOR i IN range(1, len(toks) - ${span - 2})] AS grams FROM t), " +
      "d AS (SELECT doc_id, text, toks, " +
      "[i FOR i IN range(1, len(grams) + 1) " +
      "IF list_position(grams, grams[i]) < i] AS ds FROM g), " +
      "r AS (SELECT doc_id, text, toks, " +
      s"list_distinct(flatten([range(s, s + $span) FOR s IN ds])) AS rm FROM d) " +
      "SELECT doc_id, CASE WHEN len(rm) = 0 THEN text " +
      "ELSE COALESCE(array_to_string([toks[j] FOR j IN range(1, len(toks) + 1) " +
      "IF NOT list_contains(rm, j)], ' '), '') END AS clean_text, " +
      "CAST(len(rm) AS BIGINT) AS n_removed " +
      "FROM r ORDER BY doc_id")

  /** The per-stratum rate CASE shared by the mixing replicas: keys
    * render in the given sequence order (semantically order-free —
    * strata keys are distinct). */
  private def rateCase(rates: Seq[(String, Double)], default: String,
      render: Double => String): String =
    "CASE lang " + rates.map { case (k, v) =>
      s"WHEN ${sqlStr(k)} THEN ${render(v)}"
    }.mkString(" ") + s" ELSE $default END"

  /** Exact-quota stratified mixing replica — the pinned llm_mix_quota
    * shape, parameterized for the fuzz grid. */
  private[graft] def mixQuotaSql(rates: Seq[(String, Double)],
      defaultRate: Double): String =
    ("WITH k AS (SELECT doc_id, lang, " +
      "md5(CAST(doc_id AS VARCHAR) || '#mix') AS sk FROM documents), " +
      "r AS (SELECT doc_id, lang, " +
      "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS sample_rank, " +
      "COUNT(*) OVER (PARTITION BY lang) AS n, " +
      rateCase(rates, defaultRate.toString, _.toString) + " AS rate FROM k) " +
      "SELECT doc_id, lang, sample_rank FROM r " +
      "WHERE sample_rank <= CEIL(n * rate) ORDER BY doc_id")

  /** Shuffle-free rate-sampling replica — the pinned llm_mix_rate
    * shape, parameterized for the fuzz grid. The hex thresholds are
    * computed by the SAME rule as `CorpusOps.mixRate.thresholdHex`
    * ('g' sorts above all hex => keep-all at rate >= 1). */
  private[graft] def mixRateSql(rates: Seq[(String, Double)],
      defaultRate: Double): String = {
    def hex(r: Double): String =
      if (r >= 1.0) "g"
      else f"${math.max(0L, (r * 0x100000000L).toLong)}%08x"
    ("SELECT doc_id, lang FROM documents " +
      "WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8) < " +
      rateCase(rates, s"'${hex(defaultRate)}'", v => s"'${hex(v)}'") + " " +
      "ORDER BY doc_id")
  }

  /** Temperature-mixing replica — the pinned llm_mix_temperature shape,
    * parameterized for the fuzz grid (p^alpha integer-micro-unit
    * weights, exact-integer rate arithmetic, numeric md5 threshold). */
  private[graft] def mixTemperatureSql(alpha: Double,
      targetFrac: Double): String =
    ("WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY lang), " +
      "t AS (SELECT SUM(n_s) AS n FROM c), " +
      "w AS (SELECT lang, n_s, n, " +
      s"CAST(FLOOR(POW(CAST(n_s AS DOUBLE) / n, $alpha) * 1000000 + 0.5) AS BIGINT) AS w6 FROM c, t), " +
      "ws AS (SELECT SUM(w6) AS ws6 FROM w), " +
      "r AS (SELECT lang, LEAST(CAST(1 AS DOUBLE), " +
      s"CAST($targetFrac AS DOUBLE) * CAST(n * w6 AS DOUBLE) / CAST(ws6 * n_s AS DOUBLE)) AS rate FROM w, ws) " +
      "SELECT d.doc_id, d.lang, FLOOR(r.rate * 1000000 + 0.5) / 1000000 AS rate " +
      "FROM documents d JOIN r ON r.lang = d.lang " +
      "WHERE CAST(CONCAT('0x', SUBSTR(md5(CAST(d.doc_id AS VARCHAR) || '#mix'), 1, 8)) AS BIGINT) " +
      "< CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT) ORDER BY d.doc_id")

  /** UniMax water-filling replica — the pinned llm_mix_unimax shape,
    * parameterized for the fuzz grid (exact BIGINT caps/cumsums, one
    * fair-share division, numeric md5 keep test). */
  private[graft] def mixUnimaxSql(budgetFrac: Double,
      maxEpochs: Int): String =
    ("WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY lang), " +
      "t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k FROM c), " +
      s"a AS (SELECT lang, n_s, n, k, n_s * $maxEpochs AS cap, " +
      s"CAST(ROW_NUMBER() OVER (ORDER BY n_s * $maxEpochs, lang) AS BIGINT) AS idx, " +
      s"CAST(COALESCE(SUM(n_s * $maxEpochs) OVER (ORDER BY n_s * $maxEpochs, lang " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum, " +
      s"CAST(FLOOR(n * $budgetFrac) AS BIGINT) AS bud FROM c, t), " +
      "b AS (SELECT *, cap * (k - idx + 1) <= bud - cum AS capped FROM a), " +
      "p AS (SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS csum, " +
      "CAST(COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS np FROM b), " +
      "r AS (SELECT lang, LEAST(CAST(1 AS DOUBLE), " +
      "(CASE WHEN capped THEN CAST(cap AS DOUBLE) " +
      "ELSE FLOOR(CAST(bud - csum AS DOUBLE) / GREATEST(k - np, 1)) END) " +
      "/ CAST(n_s AS DOUBLE)) AS rate FROM b, p) " +
      "SELECT d.doc_id, d.lang, FLOOR(r.rate * 1000000 + 0.5) / 1000000 AS rate " +
      "FROM documents d JOIN r ON r.lang = d.lang " +
      "WHERE CAST(CONCAT('0x', SUBSTR(md5(CAST(d.doc_id AS VARCHAR) || '#mix'), 1, 8)) AS BIGINT) " +
      "< CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT) ORDER BY d.doc_id")

  /** The two-hex-digit md5 fold of the replicable shard path —
    * `CorpusOps.shardExpr(replicable = true)`'s exact SQL twin. */
  private def shardFoldSql: String =
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 1)) - 1) * 16 " +
      "+ (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 2, 1)) - 1))"

  /** Replicable-shard replica — the pinned llm_shard shape,
    * parameterized for the fuzz grid (nShards <= 256: the fold yields
    * 0..255). */
  private[graft] def shardSql(nShards: Int): String =
    "SELECT doc_id, " +
      s"CAST($shardFoldSql AS BIGINT) % $nShards " +
      "AS shard FROM documents ORDER BY doc_id"

  /** In-shard sequence-packing replica — the pinned llm_pack shape,
    * parameterized for the fuzz grid (floor-cumsum window per shard,
    * single-space token formula). */
  private[graft] def packSql(budget: Int, nShards: Int): String =
    ("WITH s AS (SELECT doc_id, " +
      s"CAST($shardFoldSql AS BIGINT) % $nShards AS shard, " +
      "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens FROM documents) " +
      "SELECT doc_id, shard, n_tokens, " +
      "CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${budget}.0) AS BIGINT) AS seq_id " +
      "FROM s ORDER BY doc_id")

  /** Vocabulary-cut replica — the pinned llm_vocab shape, parameterized
    * for the fuzz grid ((tf desc, token asc) is a total order, so any
    * maxSize cut is deterministic). */
  private[graft] def vocabSql(maxSize: Int): String =
    ("SELECT token, CAST(COUNT(*) AS BIGINT) AS tf, " +
      "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
      s"FROM documents) GROUP BY token ORDER BY tf DESC, token LIMIT $maxSize")

  /** Context-window chunking replica — the pinned llm_chunk shape,
    * parameterized for the fuzz grid (stride = window - overlap). */
  private[graft] def chunkSql(window: Int, overlap: Int): String = {
    val stride = window - overlap
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"p AS (SELECT doc_id, toks, GREATEST(1, CAST(CEIL((len(toks) - $window) / ${stride}.0) AS BIGINT) + 1) AS nc FROM t), " +
      "c AS (SELECT doc_id, unnest([{'chunk_id': i, 'chunk_text': " +
      s"array_to_string(list_slice(toks, i*$stride + 1, i*$stride + $window), ' ')} " +
      "FOR i IN range(0, nc)], recursive := true) FROM p) " +
      "SELECT doc_id, chunk_id, chunk_text, " +
      "CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_chunk_tokens " +
      "FROM c ORDER BY doc_id, chunk_id")
  }

  /** Token-budget selection replica — the pinned llm_token_budget
    * shape, parameterized for the fuzz grid; `qmSql` is the
    * quality-model oracle whose logit feeds score4. */
  private[graft] def tokenBudgetSql(qmSql: String, budget: Long): String =
    (s"""WITH qm AS ($qmSql), """ +
      "q AS (SELECT doc_id, " +
      "CAST(FLOOR(1.0 / (1.0 + EXP(-(CAST(logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) AS BIGINT) AS score4 FROM qm), " +
      "n AS (SELECT doc_id, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens FROM documents), " +
      "w AS (SELECT q.doc_id, q.score4, n.n_tokens, " +
      "COALESCE(SUM(n.n_tokens) OVER (ORDER BY q.score4 DESC, q.doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef " +
      "FROM q JOIN n ON n.doc_id = q.doc_id) " +
      s"SELECT doc_id, score4, n_tokens, bef < $budget AS kept " +
      "FROM w ORDER BY doc_id")

  /** Curriculum-order replica — the pinned llm_curriculum shape,
    * parameterized for the fuzz grid via its shard CTE (`shSql`,
    * usually [[shardSql]]) and the quality-model oracle. */
  private[graft] def curriculumSql(shSql: String, qmSql: String): String =
    (s"""WITH sh AS ($shSql), """ +
      s"""qm AS ($qmSql), """ +
      "s AS (SELECT sh.doc_id, sh.shard, " +
      "CAST(FLOOR(1.0 / (1.0 + EXP(-(CAST(qm.logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) AS BIGINT) AS score4 " +
      "FROM sh JOIN qm ON qm.doc_id = sh.doc_id) " +
      "SELECT doc_id, shard, score4, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY shard " +
      "ORDER BY score4 DESC, doc_id) AS BIGINT) AS ord " +
      "FROM s ORDER BY doc_id")

  /** The DSIR weight pipeline shared by llm_dsir and llm_dsir_select —
    * parameterized by the target-slice language. */
  private def dsirBody(targetLang: String): String =
    ("WITH e AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "raw AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cq FROM e GROUP BY tok), " +
      s"tgt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct FROM e WHERE lang = ${sqlStr(targetLang)} GROUP BY tok), " +
      "j AS (SELECT raw.tok, raw.cq, COALESCE(tgt.ct, 0) AS ct FROM raw LEFT JOIN tgt ON tgt.tok = raw.tok), " +
      "st AS (SELECT CAST(SUM(cq) AS BIGINT) AS nq, CAST(SUM(ct) AS BIGINT) AS nt, " +
      "CAST(COUNT(*) AS BIGINT) AS v FROM j), " +
      "r AS (SELECT tok, CAST(FLOOR((LN(CAST(ct + 1 AS DOUBLE) / (nt + v + 1)) " +
      "- LN(CAST(cq + 1 AS DOUBLE) / (nq + v + 1))) * 1000000 + 0.5) AS BIGINT) AS ratio6 FROM j, st), " +
      "dc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY doc_id, tok), " +
      "s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(SUM(c * ratio6) AS BIGINT) AS s6 " +
      "FROM dc JOIN r ON r.tok = dc.tok GROUP BY doc_id) " +
      "SELECT doc_id, n_tokens, FLOOR(CAST(s6 AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS log_weight " +
      "FROM s")

  /** DSIR importance-weight replica — the pinned llm_dsir shape,
    * parameterized for the fuzz grid. */
  private[graft] def dsirSql(targetLang: String): String =
    dsirBody(targetLang) + " ORDER BY doc_id"

  /** DSIR top-k selection replica — the pinned llm_dsir_select shape,
    * parameterized for the fuzz grid (rounded-weight total order). */
  private[graft] def dsirSelectSql(targetLang: String, limit: Int): String =
    dsirBody(targetLang) + s" ORDER BY log_weight DESC, doc_id LIMIT $limit"

  /** Unigram-perplexity replica — the pinned llm_perplexity shape,
    * parameterized for the fuzz grid (add-1 LM on the `refLang` slice,
    * micro-unit NLL sums, ppl flag threshold). */
  private[graft] def perplexitySql(refLang: String,
      flagPpl: Double): String =
    (s"WITH tr AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE lang = ${sqlStr(refLang)}), " +
      "cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY tok), " +
      "st AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM cnt), " +
      "nl AS (SELECT tok, CAST(FLOOR(-LN(CAST(c + 1 AS DOUBLE) / (n + v + 1)) * 1000000 + 0.5) AS BIGINT) AS nll6 FROM cnt, st), " +
      "un AS (SELECT CAST(FLOOR(-LN(CAST(1 AS DOUBLE) / (n + v + 1)) * 1000000 + 0.5) AS BIGINT) AS unll6 FROM st), " +
      "e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(COALESCE(nl.nll6, un.unll6)) AS BIGINT) AS s6 " +
      "FROM e LEFT JOIN nl ON nl.tok = e.tok, un GROUP BY doc_id) " +
      "SELECT doc_id, n_tokens, " +
      "FLOOR(CAST(s6 AS DOUBLE) / 1000000 / n_tokens * 10000 + 0.5) / 10000 AS avg_nll, " +
      "FLOOR(EXP(FLOOR(CAST(s6 AS DOUBLE) / 1000000 / n_tokens * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS ppl, " +
      s"FLOOR(EXP(FLOOR(CAST(s6 AS DOUBLE) / 1000000 / n_tokens * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 > $flagPpl AS flagged " +
      "FROM s ORDER BY doc_id")

  /** Fixed-cut CCNet-bucket replica — the pinned llm_ccnet_fixed shape,
    * parameterized for the fuzz grid; cut points render at two decimals
    * (the pinned 3.40 would otherwise print 3.4). */
  private[graft] def ccnetFixedSql(pplSql: String, headMax: Double,
      middleMax: Double): String =
    (s"""WITH p AS ($pplSql), """ +
      "j AS (SELECT p.doc_id, d.lang, p.avg_nll FROM p " +
      "JOIN documents d ON d.doc_id = p.doc_id) " +
      "SELECT doc_id, lang, avg_nll, " +
      // Locale.ROOT: the f interpolator uses the JVM default locale, so
      // a comma-decimal locale would render 'avg_nll <= 3,40' — invalid
      // SQL. Same fix discipline as FuzzGen.cell.
      "CASE WHEN avg_nll <= %.2f THEN 'head' WHEN avg_nll <= %.2f THEN 'middle' "
        .formatLocal(java.util.Locale.ROOT, headMax, middleMax) +
      "ELSE 'tail' END AS bucket FROM j ORDER BY doc_id")

  /** Blocklist-screen replica — the pinned llm_blocklist shape,
    * parameterized for the fuzz grid (exact-token membership count +
    * threshold flag). */
  private[graft] def blocklistSql(words: Seq[String],
      maxHits: Int): String = {
    val list = words.map(sqlStr).mkString(", ")
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) " +
      "SELECT doc_id, CAST(len(list_filter(toks, x -> " +
      s"list_contains([$list], x))) AS BIGINT) AS n_hits, " +
      s"len(list_filter(toks, x -> list_contains([$list], x))) >= $maxHits AS blocked " +
      "FROM t ORDER BY doc_id")
  }

  /** Bloom-decontamination replica (the pinned llm_decontaminate_bloom
    * shape), parameterized over (mBits, numHashes) for the fuzz grid —
    * with adaptive filter sizing in the engine (CorpusOps.bloomBuild),
    * the probe math at NON-default sizes is live deployment behavior
    * and deserves differential proof, not just the 65536-bit pinned
    * point. The eval slice (doc_id % 10 = 7), shingle n = 3, and the
    * 0.5 drop line stay the pinned shape's. */
  private[graft] def bloomSql(mBits: Long = 65536L,
      numHashes: Int = 4): String =
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN list_distinct(toks) " +
      "ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
      "FOR i IN range(1, len(toks) - 1)]) END AS sh FROM t), " +
      "ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 10 = 7), " +
      s"eh AS (SELECT CAST(CONCAT('0x', SUBSTR(sha256(g), 1, 15)) AS BIGINT) % $mBits AS h1, " +
      s"CAST(CONCAT('0x', SUBSTR(sha256(g), 16, 15)) AS BIGINT) % $mBits AS h2 FROM ev), " +
      s"ep AS (SELECT (h1 + r.range * h2) % $mBits AS pos FROM eh, range(0, $numHashes) r), " +
      "bm AS (SELECT CAST(pos // 63 AS INTEGER) AS w, " +
      "bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits FROM ep GROUP BY 1), " +
      "tg AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 7), " +
      s"th AS (SELECT doc_id, g, CAST(CONCAT('0x', SUBSTR(sha256(g), 1, 15)) AS BIGINT) % $mBits AS h1, " +
      s"CAST(CONCAT('0x', SUBSTR(sha256(g), 16, 15)) AS BIGINT) % $mBits AS h2 FROM tg), " +
      s"tp AS (SELECT doc_id, g, (h1 + r.range * h2) % $mBits AS pos FROM th, range(0, $numHashes) r), " +
      "tj AS (SELECT doc_id, g, MIN(CASE WHEN ((COALESCE(bm.bits, 0) >> CAST(pos % 63 AS INTEGER)) & 1) = 1 " +
      "THEN 1 ELSE 0 END) AS hit FROM tp LEFT JOIN bm ON bm.w = CAST(pos // 63 AS INTEGER) " +
      "GROUP BY doc_id, g) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams, " +
      "CAST(SUM(hit) AS BIGINT) AS n_maybe, " +
      "FLOOR(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS overlap_ub, " +
      "FLOOR(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 >= 0.5 AS dropped " +
      "FROM tj GROUP BY doc_id ORDER BY doc_id")

  /** Whole-BPE-training replica over `steps` merges — the pinned
    * llm_bpe_merges shape, parameterized for the fuzz grid. */
  private[graft] def bpeMergesSql(steps: Int): String =
    "WITH " + bpeCtes(steps) + " " +
      (1 to steps).map(bpeMergeRow).mkString(" UNION ALL ") +
      " ORDER BY step"

  /** Encode replica over `steps` learned merges — the pinned
    * llm_bpe_encode shape, parameterized for the fuzz grid. */
  private[graft] def bpeEncodeSql(steps: Int): String =
    "WITH " + bpeCtes(steps) + ", " +
      "m AS (SELECT " +
      (1 to steps).map(i => s"(SELECT pair FROM b$i) AS q$i")
        .mkString(", ") + "), " +
      "enc AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
      "w -> length(w) > 0) AS toks, " +
      (1 to steps).map(i => s"q$i").mkString(", ") +
      " FROM documents, m) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "CAST(COALESCE(list_sum(list_transform(toks, w -> len(string_split(" +
      bpeEncodeExpr(steps) + ", ' ')))), 0) AS BIGINT) AS n_bpe " +
      "FROM enc ORDER BY doc_id"

  /** BM25 replica — the pinned llm_bm25 shape, parameterized for the
    * fuzz grid. `1.0 - b` is computed in SCALA and interpolated (the
    * Spark side uses `lit(1.0 - b)`), while `k1 + 1` stays an in-engine
    * IEEE add on both sides — the same double sequence either way. */
  private[graft] def bm25Sql(terms: Seq[String], k: Int, k1: Double,
      b: Double): String = {
    val termList = terms.map(sqlStr).mkString(", ")
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "st AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS sdl, CAST(COUNT(*) AS BIGINT) AS n FROM t), " +
      "e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM t), " +
      "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl " +
      s"FROM e WHERE tok IN ($termList) GROUP BY doc_id, tok), " +
      "df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY tok), " +
      "co AS (SELECT tf.doc_id, CAST(FLOOR(" +
      "((LN(CAST(1 AS DOUBLE) + (st.n - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE))) * tf.tf) " +
      s"* (CAST($k1 AS DOUBLE) + CAST(1 AS DOUBLE))) " +
      s"/ (tf.tf + CAST($k1 AS DOUBLE) * (CAST(${1.0 - b} AS DOUBLE) " +
      s"+ (CAST($b AS DOUBLE) * tf.dl) / (CAST(st.sdl AS DOUBLE) / st.n))) " +
      "* 1000000 + 0.5) AS BIGINT) AS c6 " +
      "FROM tf JOIN df ON df.tok = tf.tok, st), " +
      "s AS (SELECT doc_id, SUM(c6) AS s6 FROM co GROUP BY doc_id) " +
      "SELECT doc_id, FLOOR(CAST(s6 AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS score " +
      s"FROM s ORDER BY s6 DESC, doc_id LIMIT $k"
  }

  // ------------------------------------------------------------------
  // Parameterized oracle builders (round-10 directive #5): each builder
  // generalizes the pinned oracle string it replaced — the pinned map
  // entries below call these at the pinned parameters, and the LLM fuzz
  // corpus (graft.fuzz.LlmFuzzSeed) calls the same builders across a
  // parameter grid, so the pinned oracle and the fuzz replay can never
  // drift apart.
  // ------------------------------------------------------------------

  /** `toks[i] || ' ' || toks[i+1] || …` — an s-token shingle. s ≥ 2. */
  private def shingleTerm(s: Int): String =
    (0 until s).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")

  /** Tokenize + distinct s-shingle CTEs (t, s) over documents. */
  private def shingleCte(s: Int): String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"s AS (SELECT doc_id, CASE WHEN len(toks) < $s THEN list_distinct(toks) " +
      s"ELSE list_distinct([${shingleTerm(s)} " +
      s"FOR i IN range(1, len(toks) - ${s - 2})]) END AS sh FROM t), "

  /** Exhaustive-Jaccard near-dup replica at shingle size `s`, threshold
    * `theta` (valid wherever the LSH banding achieves full recall —
    * near-identical planted duplicates; the fuzz grid pins thresholds
    * where that holds and the differential itself verifies it). */
  private[graft] def nearDupPairsSql(s: Int, theta: Double): String =
    shingleCte(s) +
      "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 AS jaccard " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id) " +
      s"SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= $theta " +
      "ORDER BY doc_a, doc_b"

  /** MOSS winnowing replica: k-gram sha-derived hashes, window-w min
    * with rightmost-min position rule. */
  private[graft] def winnowSql(k: Int, w: Int): String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "h AS (SELECT doc_id, [CAST(CONCAT('0x', SUBSTR(sha256(" +
      s"array_to_string(list_slice(toks, i, i + ${k - 1}), ' ')), 1, 15)) AS BIGINT) " +
      s"FOR i IN range(1, len(toks) - ${k - 2})] AS hs FROM t), " +
      "f0 AS (SELECT doc_id, [struct_pack(" +
      s"pos := j + len(list_slice(hs, j, j + ${w - 1})) - " +
      s"list_position(list_reverse(list_slice(hs, j, j + ${w - 1})), " +
      s"list_min(list_slice(hs, j, j + ${w - 1}))), " +
      s"fp := list_min(list_slice(hs, j, j + ${w - 1}))) " +
      s"FOR j IN range(1, greatest(len(hs) - ${w - 1}, 1) + 1)] AS fps " +
      "FROM h WHERE len(hs) > 0), " +
      "f AS (SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp " +
      "FROM (SELECT doc_id, unnest(fps) AS s FROM f0)) " +
      "SELECT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM f " +
      "ORDER BY doc_id, pos, fp"

  /** Winnow overlap report: distinct (doc, fp) meet on fp, ≥ minShared. */
  private[graft] def winnowMatchesSql(k: Int, w: Int, minShared: Int): String =
    s"""WITH fr AS (${winnowSql(k, w)}), """ +
      "d AS (SELECT DISTINCT doc_id, fp FROM fr), " +
      "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(COUNT(*) AS BIGINT) AS n_shared " +
      "FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2) " +
      s"SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= $minShared " +
      "ORDER BY doc_a, doc_b"

  /** Containment ground truth: exhaustive space-padded substring test,
    * inner side ≥ w + k − 1 tokens (the winnowing recall domain). */
  private[graft] def containmentSql(k: Int, w: Int): String =
    "SELECT a.doc_id AS inner_id, b.doc_id AS outer_id " +
      "FROM documents a, documents b " +
      "WHERE a.doc_id <> b.doc_id AND LENGTH(a.text) < LENGTH(b.text) " +
      s"AND LENGTH(a.text) - LENGTH(REPLACE(a.text, ' ', '')) + 1 >= ${w + k - 1} " +
      "AND CONTAINS(' ' || b.text || ' ', ' ' || a.text || ' ') " +
      "ORDER BY inner_id, outer_id"

  /** Brute-force cosine top-k replica over the first nq query vectors. */
  private[graft] def annCosineSql(k: Int, nq: Int): String =
    "WITH q AS (SELECT vec_id AS query_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe " +
      s"FROM embeddings WHERE vec_id < $nq), " +
      "c AS (SELECT vec_id AS neighbor_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce " +
      "FROM embeddings), " +
      "s AS (SELECT query_id, neighbor_id, LIST_INNER_PRODUCT(qe, ce) AS raw_dot FROM q CROSS JOIN c), " +
      "rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM s) " +
      s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"

  /** Strided-IVF replica. `stride = 0` replays the adaptive ladder (the
    * pinned form); an explicit stride pins the centroid subset. */
  private[graft] def annIvfSql(stride: Int, nProbe: Int, k: Int): String = {
    val centsCte =
      if (stride > 0)
        s"cents AS (SELECT vec_id AS cid, xv AS cv FROM x WHERE vec_id % $stride = 0), "
      else
        "st AS (SELECT CASE WHEN n < 5000 THEN 31 WHEN n < 20000 THEN 62 WHEN n < 80000 THEN 124 " +
          "WHEN n < 320000 THEN 248 WHEN n < 1280000 THEN 496 WHEN n < 5120000 THEN 992 " +
          "WHEN n < 20480000 THEN 1984 WHEN n < 81920000 THEN 3968 ELSE 7936 END AS s " +
          "FROM (SELECT COUNT(*) AS n FROM embeddings) c), " +
          "cents AS (SELECT vec_id AS cid, xv AS cv FROM x CROSS JOIN st WHERE vec_id % st.s = 0), "
    "WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
      "FROM embeddings), " +
      centsCte +
      "asg AS (SELECT vec_id AS neighbor_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN cents c) q WHERE rn = 1), " +
      "qc AS (SELECT query_id, cell FROM " +
      "(SELECT x.vec_id AS query_id, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      s"FROM x CROSS JOIN cents c WHERE x.vec_id < 10) q WHERE rn <= $nProbe), " +
      "s AS (SELECT qc.query_id, asg.neighbor_id, " +
      "LIST_INNER_PRODUCT(qx.xv, nx.xv) AS raw_dot " +
      "FROM qc JOIN asg ON asg.cell = qc.cell " +
      "JOIN x qx ON qx.vec_id = qc.query_id JOIN x nx ON nx.vec_id = asg.neighbor_id), " +
      "rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM s) " +
      s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"
  }

  /** Same-user event-pair interval-join replica (the batch twin of the
    * stream-stream interval join) — the pinned llm_event_pairs shape,
    * parameterized for the fuzz grid. */
  private[graft] def eventPairsSql(maxDelayMinutes: Int): String =
    "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events) " +
      "SELECT l.user_id, COUNT(*) AS n_pairs FROM e l JOIN e r " +
      "ON r.user_id = l.user_id " +
      s"AND r.ts_ms > l.ts_ms AND r.ts_ms <= l.ts_ms + ${maxDelayMinutes * 60000L} " +
      "GROUP BY l.user_id ORDER BY l.user_id"

  /** Gaps-and-islands sessionization replica (the batch twin of the
    * streaming sessionizer) — the pinned llm_sessions_batch shape,
    * parameterized for the fuzz grid. */
  private[graft] def sessionsBatchSql(gapMinutes: Int): String =
    "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events), " +
      "f AS (SELECT *, LAG(ts_ms) OVER (PARTITION BY user_id " +
      "ORDER BY ts_ms, event_id) AS prev FROM e), " +
      s"g AS (SELECT *, CASE WHEN prev IS NULL OR ts_ms - prev > ${gapMinutes * 60000L} " +
      "THEN 1 ELSE 0 END AS new_s FROM f), " +
      "s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id " +
      "ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
      "SELECT user_id, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms, " +
      "COUNT(*) AS n_events, FLOOR(SUM(value) * 10000 + 0.5) / 10000 AS value_sum " +
      "FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms"

  /** PQ codebook + encoding + query-distance-table CTE block shared by
    * [[annPqSql]] and [[annIvfPqSql]] (round-12 — the last ANN variants
    * without parameterized oracle builders): `ksub` codewords from the
    * first strided corpus vectors, `m` subvectors of 64/m dims, ADC
    * tables for the first `nq` queries. `centsName` keeps the pinned
    * ivfpq text's `pcents` (its `cents` is taken by the coarse level). */
  private def pqCtes(centsName: String, m: Int, ksub: Int, stride: Int,
      nq: Int): String = {
    val sd = 64 / m
    s"$centsName AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, xv AS cv FROM " +
      s"(SELECT vec_id, xv FROM x WHERE vec_id % $stride = 0 ORDER BY vec_id LIMIT $ksub) t), " +
      s"sub AS (SELECT s FROM generate_series(0, ${m - 1}) g(s)), " +
      s"xs AS (SELECT vec_id, s, xv[s*$sd+1 : s*$sd+$sd] AS sv FROM x CROSS JOIN sub), " +
      s"cs AS (SELECT cid, s, cv[s*$sd+1 : s*$sd+$sd] AS csv FROM $centsName CROSS JOIN sub), " +
      "enc AS (SELECT vec_id, s, cid AS code FROM " +
      "(SELECT xs.vec_id, xs.s, cs.cid, ROW_NUMBER() OVER (PARTITION BY xs.vec_id, xs.s " +
      "ORDER BY FLOOR(LIST_DISTANCE(xs.sv, cs.csv) * 1000000 + 0.5) / 1000000, cs.cid) AS rn " +
      "FROM xs JOIN cs ON cs.s = xs.s) q WHERE rn = 1), " +
      "qd AS (SELECT xs.vec_id AS query_id, xs.s, cs.cid, " +
      "LIST_INNER_PRODUCT(xs.sv, cs.csv) AS d " +
      s"FROM xs JOIN cs ON cs.s = xs.s WHERE xs.vec_id < $nq)"
  }

  /** Final ranking shared by the PQ family: rerank = 0 ranks the ADC
    * scores directly; rerank > 0 shortlists by ADC then re-scores the
    * shortlist with the exact inner product (the pinned ivfpq shape). */
  private def pqRankSql(k: Int, rerank: Int): String =
    if (rerank == 0)
      "rk AS (SELECT query_id, neighbor_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
        "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM sc) " +
        s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
        "ORDER BY query_id, rank"
    else
      "short AS (SELECT query_id, neighbor_id FROM " +
        "(SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS rn FROM sc) t " +
        s"WHERE rn <= $rerank), " +
        "ex AS (SELECT sh.query_id, sh.neighbor_id, " +
        "LIST_INNER_PRODUCT(qx.xv, nx.xv) AS raw_dot FROM short sh " +
        "JOIN x qx ON qx.vec_id = sh.query_id JOIN x nx ON nx.vec_id = sh.neighbor_id), " +
        "rk AS (SELECT query_id, neighbor_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
        "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM ex) " +
        s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
        "ORDER BY query_id, rank"

  /** Product-quantization ADC replica, fully parameterized (m must
    * divide 64). The pinned llm_ann_pq form is
    * annPqSql(4, 16, 31, 10, 5). */
  private[graft] def annPqSql(m: Int, ksub: Int, stride: Int, nq: Int,
      k: Int, rerank: Int = 0): String = {
    val dotSum = (0 until m).map(i => s"q$i.d").mkString(" + ")
    val encJoins = (1 until m).map(i =>
      s"JOIN (SELECT * FROM enc WHERE s = $i) e$i ON e$i.vec_id = e0.vec_id ").mkString
    val qdJoins =
      "JOIN (SELECT * FROM qd WHERE s = 0) q0 ON q0.cid = e0.code " +
        (1 until m).map(i =>
          s"JOIN (SELECT * FROM qd WHERE s = $i) q$i ON q$i.cid = e$i.code " +
            s"AND q$i.query_id = q0.query_id ").mkString
    "WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
      "FROM embeddings), " +
      pqCtes("cents", m, ksub, stride, nq) + ", " +
      "sc AS (SELECT q0.query_id, e0.vec_id AS neighbor_id, " +
      s"$dotSum AS raw_dot " +
      "FROM (SELECT * FROM enc WHERE s = 0) e0 " +
      encJoins + qdJoins.stripSuffix(" ") + "), " +
      pqRankSql(k, rerank)
  }

  /** IVF+PQ replica, fully parameterized: the strided coarse
    * assignment/probe CTEs (coarseStride = 0 replays the adaptive
    * ladder, the pinned form) + the PQ codebook/encoding CTEs, ADC
    * scores restricted to probed cells, a rerank-candidate shortlist
    * re-scored exactly. The pinned llm_ann_ivfpq form is
    * annIvfPqSql(0, 4, 4, 16, 31, 10, 5, 20). */
  private[graft] def annIvfPqSql(coarseStride: Int, nProbe: Int, m: Int,
      ksub: Int, pqStride: Int, nq: Int, k: Int, rerank: Int): String = {
    val coarseCte =
      if (coarseStride > 0)
        s"coarse AS (SELECT vec_id AS cid, xv AS cv FROM x WHERE vec_id % $coarseStride = 0), "
      else
        "st AS (SELECT CASE WHEN n < 5000 THEN 31 WHEN n < 20000 THEN 62 WHEN n < 80000 THEN 124 " +
          "WHEN n < 320000 THEN 248 WHEN n < 1280000 THEN 496 WHEN n < 5120000 THEN 992 " +
          "WHEN n < 20480000 THEN 1984 WHEN n < 81920000 THEN 3968 ELSE 7936 END AS s " +
          "FROM (SELECT COUNT(*) AS n FROM embeddings) c), " +
          "coarse AS (SELECT vec_id AS cid, xv AS cv FROM x CROSS JOIN st WHERE vec_id % st.s = 0), "
    val dotSum = (0 until m).map(i => s"q$i.d").mkString(" + ")
    val encJoins = (0 until m).map(i =>
      s"JOIN (SELECT * FROM enc WHERE s = $i) e$i ON e$i.vec_id = asg.neighbor_id ").mkString
    val qdJoins = (0 until m).map(i =>
      s"JOIN (SELECT * FROM qd WHERE s = $i) q$i ON q$i.cid = e$i.code " +
        s"AND q$i.query_id = qc.query_id ").mkString
    "WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
      "FROM embeddings), " +
      coarseCte +
      "asg AS (SELECT vec_id AS neighbor_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN coarse c) q WHERE rn = 1), " +
      "qc AS (SELECT query_id, cell FROM " +
      "(SELECT x.vec_id AS query_id, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      s"FROM x CROSS JOIN coarse c WHERE x.vec_id < $nq) q WHERE rn <= $nProbe), " +
      pqCtes("pcents", m, ksub, pqStride, nq) + ", " +
      "sc AS (SELECT qc.query_id, asg.neighbor_id, " +
      s"$dotSum AS raw_dot " +
      "FROM qc JOIN asg ON asg.cell = qc.cell " +
      encJoins + qdJoins.stripSuffix(" ") + "), " +
      pqRankSql(k, rerank)
  }

  /** Sign-LSH embedding near-dup replica. `nproj = 0` replays the
    * adaptive projection ladder with the pinned 3 tables (the pinned
    * form); explicit nproj pins projections/width/tables. */
  private[graft] def embedDedupSql(nproj: Int, w: Double, tau: Double,
      numTables: Int): String = {
    val sgnCte = (uMax: Int) =>
      "sgn AS (SELECT u, LIST(CASE WHEN ((((48271 * (u * 1024 + j) + 11) % 2147483647) * " +
        "((69621 * (u * 1024 + j) + 101) % 2147483647)) % 2147483647) % 2 = 0 " +
        "THEN -1.0 ELSE 1.0 END ORDER BY j) AS sv " +
        s"FROM generate_series(0, $uMax) g1(u), generate_series(0, 63) g2(j) GROUP BY u), "
    val blocking =
      if (nproj > 0)
        sgnCte(numTables * nproj - 1) +
          "fl AS (SELECT x.vec_id, gt.t, gi.i, " +
          s"GREATEST(LEAST(CAST(FLOOR(LIST_INNER_PRODUCT(x.xv, s.sv) / $w) AS BIGINT) + 32, 63), 0) AS f " +
          s"FROM x CROSS JOIN generate_series(0, ${numTables - 1}) gt(t) " +
          s"CROSS JOIN generate_series(0, ${nproj - 1}) gi(i) JOIN sgn s ON s.u = gt.t + $numTables * gi.i), "
      else
        "hh AS (SELECT CASE WHEN n < 1200 THEN 1 WHEN n < 2400 THEN 2 WHEN n < 4800 THEN 3 " +
          "WHEN n < 9600 THEN 4 WHEN n < 19200 THEN 5 WHEN n < 38400 THEN 6 " +
          "WHEN n < 76800 THEN 7 WHEN n < 153600 THEN 8 WHEN n < 307200 THEN 9 " +
          "ELSE 10 END AS h FROM (SELECT COUNT(*) AS n FROM embeddings) c), " +
          sgnCte(29) +
          "fl AS (SELECT x.vec_id, gt.t, gi.i, " +
          s"GREATEST(LEAST(CAST(FLOOR(LIST_INNER_PRODUCT(x.xv, s.sv) / $w) AS BIGINT) + 32, 63), 0) AS f " +
          s"FROM x CROSS JOIN hh CROSS JOIN generate_series(0, ${numTables - 1}) gt(t) " +
          s"CROSS JOIN generate_series(0, 9) gi(i) JOIN sgn s ON s.u = gt.t + $numTables * gi.i " +
          "WHERE gi.i < hh.h), "
    "WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
      "FROM embeddings), " +
      blocking +
      "bk AS (SELECT vec_id, t, LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), " +
      "LIST(f ORDER BY i)), (acc, v) -> acc * 64 + v) AS b FROM fl GROUP BY vec_id, t), " +
      "cand AS (SELECT DISTINCT a.vec_id AS doc_a, b2.vec_id AS doc_b " +
      "FROM bk a JOIN bk b2 ON a.t = b2.t AND a.b = b2.b AND a.vec_id < b2.vec_id), " +
      "v AS (SELECT doc_a, doc_b, LIST_INNER_PRODUCT(xa.xv, xb.xv) / " +
      "(SQRT(LIST_INNER_PRODUCT(xa.xv, xa.xv)) * SQRT(LIST_INNER_PRODUCT(xb.xv, xb.xv))) AS c " +
      "FROM cand JOIN x xa ON xa.vec_id = doc_a JOIN x xb ON xb.vec_id = doc_b) " +
      s"SELECT doc_a, doc_b, FLOOR(c * 10000 + 0.5) / 10000 AS cos_sim " +
      s"FROM v WHERE c >= $tau ORDER BY doc_a, doc_b"
  }

  /** SimHash Hamming-band pair replica at the given radius (≤ 3: the
    * 4×15-bit pigeonhole blocking is exact there). `skSql` is the
    * simhash sketch oracle to embed (base("llm_simhash")). */
  private[graft] def simhashPairsSql(skSql: String, maxHamming: Int): String =
    s"""WITH sk AS ($skSql), """ +
      "b AS (SELECT doc_id, simhash, i AS band, " +
      "(simhash >> (15 * i)) & 32767 AS bkey " +
      "FROM sk, generate_series(0, 3) g(i)), " +
      "p AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming " +
      "FROM b a JOIN b c ON a.band = c.band AND a.bkey = c.bkey " +
      "AND a.doc_id < c.doc_id) " +
      s"SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $maxHamming " +
      "ORDER BY doc_a, doc_b"

  /** Trained-IVF replica: the composed Lloyd chain
    * (MlQueries.lloydCentroidCte) + argmin assignment + probe + rank —
    * fully parameterized (nlist, iters, nProbe, k); the pinned
    * llm_ann_ivf_trained entry calls it at (4, 5, 2, 5). */
  private[graft] def annIvfTrainedSql(nlist: Int, iters: Int,
      nProbe: Int, k: Int): String =
    graft.ml.MlQueries.lloydCentroidCte(k = nlist, iters = iters, dim = 64) +
      s", cents AS (SELECT cluster AS cid, cv FROM c$iters)" +
      ", asg AS (SELECT vec_id AS neighbor_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
      ", qc AS (SELECT query_id, cell FROM " +
      "(SELECT x.vec_id AS query_id, c.cid AS cell, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      s"FROM x CROSS JOIN cents c WHERE x.vec_id < 10) q WHERE rn <= $nProbe)" +
      ", sc AS (SELECT qc.query_id, asg.neighbor_id, " +
      "LIST_INNER_PRODUCT(qx.xv, nx.xv) AS raw_dot " +
      "FROM qc JOIN asg ON asg.cell = qc.cell " +
      "JOIN x qx ON qx.vec_id = qc.query_id JOIN x nx ON nx.vec_id = asg.neighbor_id)" +
      ", rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM sc) " +
      s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"

  /** Residual-Lloyd CTE: the DuckDB unroll of
    * [[Similarity.lloydCentersJoin]] run on the `resid` CTE — id-ordered
    * r6 init, ROUNDED-distance argmin (the rounded rule of the Lloyd
    * kernel; the exact rule's CTE uses raw distance), r6 means,
    * empty clusters keep their center. Valid only while the trainer's
    * hash-systematic subsample is the identity (m = max(1, n/(256k)) =
    * 1, i.e. n < 512k at k=2 — true at the sf0.01 gate's 500 vectors;
    * DuckDB has no xxhash64 to replay a real subsample). */
  private def residualLloydCte(k: Int, iters: Int, dim: Int,
      pfx: String = "r", src: String = "resid"): String = {
    val sb = new StringBuilder
    sb ++= s", ${pfx}0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, " +
      "LIST_TRANSFORM(rv, v -> FLOOR(v * 1000000 + 0.5) / 1000000) AS cv " +
      s"FROM (SELECT vec_id, rv FROM $src ORDER BY vec_id LIMIT $k) t0)"
    sb ++= s", ${pfx}d AS MATERIALIZED (SELECT vec_id, i, rv[i] AS v " +
      s"FROM $src, generate_series(1, $dim) t(i))"
    for (i <- 1 to iters) {
      sb ++= s", ${pfx}a$i AS MATERIALIZED (SELECT vec_id, cluster FROM " +
        "(SELECT r.vec_id, c.cluster, ROW_NUMBER() OVER (PARTITION BY r.vec_id " +
        "ORDER BY FLOOR(LIST_DISTANCE(r.rv, c.cv) * 1000000 + 0.5), c.cluster) AS rn " +
        s"FROM $src r CROSS JOIN $pfx${i - 1} c) q WHERE rn = 1)"
      sb ++= s", ${pfx}m$i AS MATERIALIZED (SELECT a.cluster, d.i, " +
        "FLOOR(AVG(d.v) * 1000000 + 0.5) / 1000000 AS m " +
        s"FROM ${pfx}a$i a JOIN ${pfx}d d ON d.vec_id = a.vec_id GROUP BY a.cluster, d.i)"
      sb ++= s", $pfx$i AS MATERIALIZED (SELECT p.cluster, " +
        "CASE WHEN COUNT(m.m) = 0 THEN p.cv ELSE LIST(m.m ORDER BY m.i) END AS cv " +
        s"FROM $pfx${i - 1} p LEFT JOIN ${pfx}m$i m ON m.cluster = p.cluster " +
        "GROUP BY p.cluster, p.cv)"
    }
    sb.toString
  }

  /** Two-level residual-IVF replica ([[Similarity.ivfTrainedIndex]]
    * with one residual level): level 1 is the exact-trainer Lloyd chain + rounded-argmin corpus
    * assignment (the llm_ann_ivf_trained stages), then residuals
    * against the assigned coarse center, a [[residualLloydCte]] second
    * Lloyd run, sub assignment, two-stage query routing (nProbe coarse
    * cells, nProbeSub residual subcells per probed cell), candidates on
    * the composite (cell, sub) key, and the family's rounded-dot rank.
    * One SQL statement replays BOTH trainings and the whole probe. */
  private[graft] def annIvfResidualSql(nlist: Int, nsplit: Int,
      iters: Int, nProbe: Int, nProbeSub: Int, k: Int): String = {
    val dim = 64
    graft.ml.MlQueries.lloydCentroidCte(k = nlist, iters = iters, dim = dim) +
      s", cents AS (SELECT cluster AS cid, cv FROM c$iters)" +
      ", asg AS (SELECT vec_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5), c.cid) AS rn " +
      "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
      ", resid AS MATERIALIZED (SELECT x.vec_id, " +
      s"[x.xv[i] - c.cv[i] FOR i IN range(1, ${dim + 1})] AS rv " +
      "FROM x JOIN asg ON asg.vec_id = x.vec_id " +
      "JOIN cents c ON c.cid = asg.cell)" +
      residualLloydCte(nsplit, iters, dim) +
      s", scents AS (SELECT cluster AS sid, cv FROM r$iters)" +
      ", sasg AS (SELECT vec_id, sid AS sub FROM " +
      "(SELECT r.vec_id, c.sid, ROW_NUMBER() OVER (PARTITION BY r.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(r.rv, c.cv) * 1000000 + 0.5), c.sid) AS rn " +
      "FROM resid r CROSS JOIN scents c) q WHERE rn = 1)" +
      ", idx AS (SELECT asg.vec_id AS neighbor_id, asg.cell, sasg.sub " +
      "FROM asg JOIN sasg ON sasg.vec_id = asg.vec_id)" +
      ", qc AS (SELECT query_id, cell, qr FROM " +
      "(SELECT x.vec_id AS query_id, c.cid AS cell, " +
      s"[x.xv[i] - c.cv[i] FOR i IN range(1, ${dim + 1})] AS qr, " +
      "ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN cents c WHERE x.vec_id < 10) q " +
      s"WHERE rn <= $nProbe)" +
      ", qs AS (SELECT query_id, cell, sub FROM " +
      "(SELECT qc.query_id, qc.cell, s.sid AS sub, " +
      "ROW_NUMBER() OVER (PARTITION BY qc.query_id, qc.cell " +
      "ORDER BY FLOOR(LIST_DISTANCE(qc.qr, s.cv) * 1000000 + 0.5) / 1000000, s.sid) AS rn " +
      "FROM qc CROSS JOIN scents s) q " +
      s"WHERE rn <= $nProbeSub)" +
      ", sc AS (SELECT qs.query_id, idx.neighbor_id, " +
      "LIST_INNER_PRODUCT(qx.xv, nx.xv) AS raw_dot " +
      "FROM qs JOIN idx ON idx.cell = qs.cell AND idx.sub = qs.sub " +
      "JOIN x qx ON qx.vec_id = qs.query_id JOIN x nx ON nx.vec_id = idx.neighbor_id)" +
      ", rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM sc) " +
      s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"
  }

  /** Three-level residual-IVF replica ([[Similarity.ivfTrainedIndex]]
    * with two residual levels): the [[annIvfResidualSql]] chain extended once — level-2 residuals
    * against the assigned second-level center, a third
    * [[residualLloydCte]] run (prefix `t`), sub2 assignment, and the
    * third routing stage on the query's level-2 residual; candidates
    * meet on (cell, sub, sub2). One statement replays all THREE
    * trainings and the whole probe. */
  private[graft] def annIvfResidual3Sql(nlist: Int, nsplit: Int,
      nsplit3: Int, iters: Int, nProbe: Int, nProbeSub: Int,
      nProbeSub3: Int, k: Int): String = {
    val dim = 64
    graft.ml.MlQueries.lloydCentroidCte(k = nlist, iters = iters, dim = dim) +
      s", cents AS (SELECT cluster AS cid, cv FROM c$iters)" +
      ", asg AS (SELECT vec_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5), c.cid) AS rn " +
      "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
      ", resid AS MATERIALIZED (SELECT x.vec_id, " +
      s"[x.xv[i] - c.cv[i] FOR i IN range(1, ${dim + 1})] AS rv " +
      "FROM x JOIN asg ON asg.vec_id = x.vec_id " +
      "JOIN cents c ON c.cid = asg.cell)" +
      residualLloydCte(nsplit, iters, dim) +
      s", scents AS (SELECT cluster AS sid, cv FROM r$iters)" +
      ", sasg AS (SELECT vec_id, sid AS sub FROM " +
      "(SELECT r.vec_id, c.sid, ROW_NUMBER() OVER (PARTITION BY r.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(r.rv, c.cv) * 1000000 + 0.5), c.sid) AS rn " +
      "FROM resid r CROSS JOIN scents c) q WHERE rn = 1)" +
      ", resid2 AS MATERIALIZED (SELECT r.vec_id, " +
      s"[r.rv[i] - s.cv[i] FOR i IN range(1, ${dim + 1})] AS rv " +
      "FROM resid r JOIN sasg ON sasg.vec_id = r.vec_id " +
      "JOIN scents s ON s.sid = sasg.sub)" +
      residualLloydCte(nsplit3, iters, dim, pfx = "t", src = "resid2") +
      s", tcents AS (SELECT cluster AS tid, cv FROM t$iters)" +
      ", tasg AS (SELECT vec_id, tid AS sub2 FROM " +
      "(SELECT r.vec_id, c.tid, ROW_NUMBER() OVER (PARTITION BY r.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(r.rv, c.cv) * 1000000 + 0.5), c.tid) AS rn " +
      "FROM resid2 r CROSS JOIN tcents c) q WHERE rn = 1)" +
      ", idx AS (SELECT asg.vec_id AS neighbor_id, asg.cell, sasg.sub, tasg.sub2 " +
      "FROM asg JOIN sasg ON sasg.vec_id = asg.vec_id " +
      "JOIN tasg ON tasg.vec_id = asg.vec_id)" +
      ", qc AS (SELECT query_id, cell, qr FROM " +
      "(SELECT x.vec_id AS query_id, c.cid AS cell, " +
      s"[x.xv[i] - c.cv[i] FOR i IN range(1, ${dim + 1})] AS qr, " +
      "ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN cents c WHERE x.vec_id < 10) q " +
      s"WHERE rn <= $nProbe)" +
      ", qs AS (SELECT query_id, cell, sub, qr2 FROM " +
      "(SELECT qc.query_id, qc.cell, s.sid AS sub, " +
      s"[qc.qr[i] - s.cv[i] FOR i IN range(1, ${dim + 1})] AS qr2, " +
      "ROW_NUMBER() OVER (PARTITION BY qc.query_id, qc.cell " +
      "ORDER BY FLOOR(LIST_DISTANCE(qc.qr, s.cv) * 1000000 + 0.5) / 1000000, s.sid) AS rn " +
      "FROM qc CROSS JOIN scents s) q " +
      s"WHERE rn <= $nProbeSub)" +
      ", qt AS (SELECT query_id, cell, sub, sub2 FROM " +
      "(SELECT qs.query_id, qs.cell, qs.sub, t.tid AS sub2, " +
      "ROW_NUMBER() OVER (PARTITION BY qs.query_id, qs.cell, qs.sub " +
      "ORDER BY FLOOR(LIST_DISTANCE(qs.qr2, t.cv) * 1000000 + 0.5) / 1000000, t.tid) AS rn " +
      "FROM qs CROSS JOIN tcents t) q " +
      s"WHERE rn <= $nProbeSub3)" +
      ", sc AS (SELECT qt.query_id, idx.neighbor_id, " +
      "LIST_INNER_PRODUCT(qx.xv, nx.xv) AS raw_dot " +
      "FROM qt JOIN idx ON idx.cell = qt.cell AND idx.sub = qt.sub AND idx.sub2 = qt.sub2 " +
      "JOIN x qx ON qx.vec_id = qt.query_id JOIN x nx ON nx.vec_id = idx.neighbor_id)" +
      ", rk AS (SELECT query_id, neighbor_id, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
      "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM sc) " +
      s"SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $k " +
      "ORDER BY query_id, rank"
  }

  /** SemDeDup replica: the same Lloyd chain + within-cell verified
    * pairs + low-id-wins keep rule, parameterized (tau, nlist, iters);
    * the pinned llm_semdedup entry calls it at (0.4, 4, 5). */
  private[graft] def semDedupSql(tau: Double, nlist: Int,
      iters: Int): String =
    graft.ml.MlQueries.lloydCentroidCte(k = nlist, iters = iters, dim = 64) +
      s", cents AS (SELECT cluster AS cid, cv FROM c$iters)" +
      ", asg AS (SELECT vec_id, cid AS cell FROM " +
      "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
      "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
      "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
      ", cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b " +
      "FROM asg a JOIN asg b ON b.cell = a.cell AND a.vec_id < b.vec_id)" +
      ", dup AS (SELECT DISTINCT doc_b AS vec_id FROM cand " +
      "JOIN x xa ON xa.vec_id = doc_a JOIN x xb ON xb.vec_id = doc_b " +
      "WHERE LIST_INNER_PRODUCT(xa.xv, xb.xv) / " +
      "(SQRT(LIST_INNER_PRODUCT(xa.xv, xa.xv)) * " +
      s"SQRT(LIST_INNER_PRODUCT(xb.xv, xb.xv))) >= $tau) " +
      "SELECT asg.vec_id, asg.cell, dup.vec_id IS NULL AS keep " +
      "FROM asg LEFT JOIN dup ON dup.vec_id = asg.vec_id ORDER BY asg.vec_id"

  val oracle: Map[String, String] = {
    val base = Map(
    "llm_text_stats" ->
      ("SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars, " +
        "CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens, " +
        "FLOOR(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / " +
        "(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) * 10000 + 0.5) / 10000 AS avg_token_len " +
        "FROM documents ORDER BY doc_id"),
    "llm_dedup_exact" ->
      ("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt " +
        "FROM documents GROUP BY text ORDER BY keep_id"),
    "llm_ann_cosine" -> annCosineSql(k = 5, nq = 10),
    // the TopKJoin plan node is exact — same defining SQL as the
    // declarative brute-force path
    "llm_ann_native" ->
      ("WITH q AS (SELECT vec_id AS query_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS qe " +
        "FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS neighbor_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS ce " +
        "FROM embeddings), " +
        "s AS (SELECT query_id, neighbor_id, LIST_INNER_PRODUCT(qe, ce) AS raw_dot FROM q CROSS JOIN c), " +
        "rk AS (SELECT query_id, neighbor_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
        "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM s) " +
        "SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= 5 " +
        "ORDER BY query_id, rank"),
    "llm_hll_distinct" ->
      "SELECT COUNT(DISTINCT l_partkey) AS exact_d, TRUE AS approx_ok FROM lineitem",
    // UniMax water-filling replica: ascending-cap visit order, exact
    // bigint caps/cumsums, one fair-share division, numeric md5 keep test
    "llm_mix_unimax" -> mixUnimaxSql(budgetFrac = 0.5, maxEpochs = 1),
    // DSIR replica: joint vocab from raw counts, per-TYPE log ratio
    // floored to 1e-6 micro-units, per-doc exact bigint dot products
    "llm_dsir" -> dsirSql(targetLang = "en"),
    // the selection cut over the same weights (rounded-weight total order)
    "llm_dsir_select" -> dsirSelectSql(targetLang = "en", limit = 100),
    // perplexity replica: per-TYPE -ln p floored to micro-units (add-1
    // smoothing, shared unseen mass), exact bigint per-doc sums, one exp
    // on a 1e-6-stabilized input
    "llm_perplexity" -> perplexitySql(refLang = "en", flagPpl = 5000.0),
    // RRF fusion replica: the bm25 CTE (s6 order bounds the arm, rounded
    // score re-ranks it) + the exact-cosine CTE (1e-6-rounded dot order),
    // fused as integer micro-unit reciprocal ranks
    "llm_hybrid_rrf" -> hybridRrfSql(Seq("spark", "window", "table"),
      queryVecId = 0L, k = 10, kEach = 20, c = 60),
    // interval-join replica: same epoch-ms truncation, pairs strictly
    // after the left event within the 10-minute band, counted per user
    "llm_event_pairs" -> eventPairsSql(maxDelayMinutes = 10),
    // gaps-and-islands replica: epoch_ms truncation chain (ns→µs→ms)
    // floors identically on both engines for positive timestamps
    "llm_sessions_batch" -> sessionsBatchSql(gapMinutes = 30),
    // the LSH banding achieves full recall at threshold 0.5 on this
    // corpus (duplicates are near-identical), so the verified output
    // equals the exhaustive Jaccard≥0.5 pair set
    "llm_near_dup_pairs" -> nearDupPairsSql(s = 3, theta = 0.5),
    // incremental ingestion replicas: exhaustive cross-Jaccard between
    // the % 5 == 0 incoming batch and the rest (full-recall LSH, same
    // justification as llm_near_dup_pairs)
    "llm_incr_dedup" -> incrDedupSql(n = 3, mod = 5, rem = 0,
      threshold = 0.5),
    "llm_incr_admit" -> incrAdmitSql(n = 3, mod = 5, rem = 0,
      threshold = 0.5),
    // component closure of the verified near-dup pair graph: recursive
    // reachability (components are tiny duplicate families), keep = the
    // smallest reachable id
    "llm_dedup_groups" -> dedupGroupsSql(shingle = 3, threshold = 0.5),
    // duplicate-fraction per granularity: 1 - distinct/total, with the
    // short-doc guard via NULL gram lists (ratio 0 on both engines)
    "llm_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, toks, " +
        "CASE WHEN len(toks) < 2 THEN NULL ELSE " +
        "[toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] END AS g2, " +
        "CASE WHEN len(toks) < 3 THEN NULL ELSE " +
        "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
        "FOR i IN range(1, len(toks) - 1)] END AS g3 FROM t), " +
        "r AS (SELECT doc_id, " +
        "CASE WHEN len(toks) <= 0 THEN 0.0 ELSE " +
        "1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS d1, " +
        "CASE WHEN g2 IS NULL THEN 0.0 ELSE " +
        "1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS d2, " +
        "CASE WHEN g3 IS NULL THEN 0.0 ELSE " +
        "1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS d3 FROM g) " +
        "SELECT doc_id, FLOOR(d1 * 10000 + 0.5) / 10000 AS dup_token_ratio, " +
        "FLOOR(d2 * 10000 + 0.5) / 10000 AS dup_2gram_ratio, " +
        "FLOOR(d3 * 10000 + 0.5) / 10000 AS dup_3gram_ratio, " +
        "d3 > 0.5 AS repetitive FROM r ORDER BY doc_id"),
    // same planted-PII construction and regexes as the Spark side
    // (patterns restricted to the java.util.regex ∩ RE2 common subset)
    "llm_pii_redact" ->
      ("WITH t AS (SELECT doc_id, text || ' u' || CAST(doc_id AS VARCHAR) || " +
        "'@ex.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) || " +
        "' ssn 123-45-6789 tel +1 555-0199' AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, " +
        "CAST(len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip, " +
        "CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn, " +
        "CAST(len(regexp_extract_all(text, '\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'), " +
        "'[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'), " +
        "'\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted " +
        "FROM t ORDER BY doc_id"),
    // consuming composition: same planting + same patterns, aggregated
    // (all-integer cells, so the compare is exact)
    "llm_pii_consume" ->
      (piiPlantCte + "SELECT " +
        TextOps.piiPatterns.map { case (name, pat, _) =>
          s"CAST(SUM(len(regexp_extract_all(text, '$pat'))) AS BIGINT) " +
            s"AS n_$name"
        }.mkString(", ") +
        s", CAST(SUM(LEN($piiRedactedSqlExpr)) AS BIGINT) " +
        "AS redacted_chars FROM t"),
    "llm_normalize_consume" ->
      ("WITH n AS (SELECT doc_id, text, " +
        "TRIM(regexp_replace(regexp_replace(LOWER(text), " +
        "'[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm_text " +
        "FROM documents) " +
        "SELECT CAST(SUM(LEN(norm_text)) AS BIGINT) AS norm_chars, " +
        "CAST(SUM(CASE WHEN norm_text <> text THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_changed, " +
        "CAST(COUNT(DISTINCT norm_text) AS BIGINT) AS n_distinct FROM n"),
    // eval split = doc_id % 10 = 7; distinct train 3-grams probed by
    // each eval doc's distinct 3-grams (the Dedup.shingles short-doc
    // fallback to distinct tokens applies on both sides)
    "llm_contamination" -> contaminationSql(n = 3, evalMod = 10,
      evalRem = 7, flagThreshold = 0.5),
    // decontamination replica: the same shingle CTEs with the probe
    // direction flipped (train docs scored against distinct eval grams)
    "llm_decontaminate" -> decontaminateSql(n = 3, evalMod = 10,
      evalRem = 7, maxOverlap = 0.5),
    // rollup replica: GROUP BY ROLLUP with the null grouping labels
    // coalesced to '<all>' on both engines
    "llm_stats_rollup" ->
      ("SELECT COALESCE(source, '<all>') AS source, COALESCE(lang, '<all>') AS lang, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY ROLLUP (source, lang) ORDER BY source, lang"),
    // per-source token-length distribution: quantile_cont shares
    // percentile's pos = p*(n-1) linear-interpolation definition; mean
    // is exact-bigint sum / count in both engines
    "llm_length_stats" ->
      ("WITH t AS (SELECT source, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tok FROM documents) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "FLOOR(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS mean_tokens, " +
        "FLOOR(quantile_cont(n_tok, 0.5) * 10000 + 0.5) / 10000 AS p50_tokens, " +
        "FLOOR(quantile_cont(n_tok, 0.9) * 10000 + 0.5) / 10000 AS p90_tokens, " +
        "FLOOR(quantile_cont(n_tok, 0.99) * 10000 + 0.5) / 10000 AS p99_tokens " +
        "FROM t GROUP BY source ORDER BY source"),
    // split thresholds are the cumulative fractions in 2^32 units:
    // floor(0.9*2^32)=3865470566, floor(0.95*2^32)=4080218931; the md5
    // key parse is the llm_mix_temperature pattern
    "llm_split" -> splitSql(Seq("train" -> 0.9, "val" -> 0.05,
      "test" -> 0.05)),
    // KL replica: identical smoothing, identical per-type expression
    // tree, exact bigint contribution sum
    "llm_token_kl" -> tokenKlSql(targetLang = "en"),
    // classifier-gate replica: the llm_quality feature CTE feeds the
    // same logit6-then-exp expression tree
    "llm_quality_model" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio, " +
        "CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / " +
        "GREATEST(LENGTH(text), 1) AS alpha_ratio, " +
        "CAST(LENGTH(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['the','a','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks) " +
        "AS stopword_ratio FROM t), " +
        "z AS (SELECT doc_id, CAST(FLOOR((-4.0 + uniq_ratio * 2.0 + alpha_ratio * 4.0 + " +
        "stopword_ratio * 3.0 + mean_token_len * 0.5) * 1000000 + 0.5) AS BIGINT) AS logit6 FROM s) " +
        "SELECT doc_id, logit6, " +
        "FLOOR(1.0 / (1.0 + EXP(-(CAST(logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) / 10000 AS score, " +
        "FLOOR(1.0 / (1.0 + EXP(-(CAST(logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) / 10000 >= 0.5 AS keep " +
        "FROM z ORDER BY doc_id"),
    // feature-hashing replica: sha256 buckets/signs, integer signed
    // counts, one sqrt on an exact integer sum
    "llm_featurize" -> featurizeSql(dim = 16),
    // hashed-key variant: xxhash64 is join-key-internal, so the string
    // n-gram SQL is the exact oracle for the hashed plan's output too
    "llm_contamination_hashed" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN list_distinct(toks) " +
        "ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
        "FOR i IN range(1, len(toks) - 1)]) END AS sh FROM t), " +
        "tr AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 10 <> 7), " +
        "ev AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 = 7), " +
        "j AS (SELECT ev.doc_id, COUNT(*) AS n_ngrams, COUNT(tr.g) AS n_hit " +
        "FROM ev LEFT JOIN tr ON ev.g = tr.g GROUP BY ev.doc_id) " +
        "SELECT doc_id, n_ngrams, n_hit, " +
        "FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 AS contamination, " +
        "FLOOR(CAST(n_hit AS DOUBLE) / n_ngrams * 10000 + 0.5) / 10000 >= 0.5 " +
        "AS contaminated FROM j ORDER BY doc_id"),
    // normalization replica: DuckDB regexp_replace needs the 'g' flag
    // for the replace-all semantics Spark has by default
    "llm_normalize" ->
      ("SELECT doc_id, TRIM(regexp_replace(regexp_replace(LOWER(text), " +
        "'[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm_text, " +
        "TRIM(regexp_replace(regexp_replace(LOWER(text), " +
        "'[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) <> text AS changed " +
        "FROM documents ORDER BY doc_id"),
    "llm_dedup_normalized" ->
      ("WITH n AS (SELECT doc_id, TRIM(regexp_replace(regexp_replace(" +
        "LOWER(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS text " +
        "FROM documents) " +
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt " +
        "FROM n GROUP BY text ORDER BY keep_id"),
    // span-dup replica: rolling 20-token windows (generate_series start
    // positions, space-joined slices = gramsAll), global occurrence
    // counts, per-doc rollup; spanless docs re-enter via left join
    "llm_span_dups" -> spanDupsSql(span = 20, flagThreshold = 0.5),
    // span-removal replica: windows with their 1-based start position
    // (correlated range lateral), keep-first via rank over (doc_id, pos)
    // within each window key, covered token indices exploded + deduped,
    // text rebuilt by a position-filtered list comprehension
    // (the builder's COALESCE around array_to_string: DuckDB's
    // array_to_string is NULL on an empty list where Spark's array_join
    // is '' — a fully-removed doc)
    "llm_span_remove" -> spanRemoveSql(span = 20),
    // md5-ordered exact-quota stratified sample — the hex key replays in
    // any engine and lexicographic order on lowercase hex = numeric order
    "llm_mix_quota" -> mixQuotaSql(Seq("en" -> 0.5, "de" -> 0.25,
      "es" -> 1.0, "zh" -> 0.125), defaultRate = 0.5),
    // shuffle-free variant: first 8 hex chars of the same key under the
    // per-stratum threshold ('g' sorts above all hex => keep-all)
    "llm_mix_rate" -> mixRateSql(Seq("en" -> 0.5, "de" -> 0.25,
      "es" -> 1.0, "zh" -> 0.125), defaultRate = 0.5),
    // temperature mixing replica: per-stratum counts → integer-micro-unit
    // normalized p^0.3 weights → exact-integer rate arithmetic → numeric
    // md5 threshold (hex prefix parsed as a number, same as Spark's conv)
    "llm_mix_temperature" -> mixTemperatureSql(alpha = 0.3,
      targetFrac = 0.5),
    // BM25 replica: identical parenthesization to the Spark expression
    // (per-term contributions floor to 1e-6 integer micro-units; the
    // per-doc SUM is then exact, so ranking is engine-independent)
    "llm_bm25" -> bm25Sql(Seq("spark", "window", "table"), k = 20,
      k1 = 1.2, b = 0.75),
    // shard value = first two hex chars of the md5 sampling key (strpos
    // in the digit alphabet = hex value), folded mod 8 — byte-identical
    // to the Spark replicable path
    "llm_shard" -> shardSql(nShards = 8),
    // seq_id = floor(tokens-before-this-doc / budget) within the shard,
    // doc_id order; token count is the single-space formula of llm_stats
    "llm_pack" -> packSql(budget = 2048, nShards = 8),
    // (tf desc, token asc) is a total order, so the top-500 cut is
    // deterministic in both engines
    "llm_vocab" -> vocabSql(maxSize = 500),
    // window=32 overlap=8 => stride 24; chunk list built per doc and
    // unnested, exactly the Spark transform+posexplode
    "llm_chunk" -> chunkSql(window = 32, overlap = 8),
    "llm_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) " +
        "AS bpe_tokens FROM documents ORDER BY doc_id"),
    "llm_quality" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio, " +
        "CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / " +
        "GREATEST(LENGTH(text), 1) AS alpha_ratio, " +
        "CAST(LENGTH(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['the','a','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks) " +
        "AS stopword_ratio FROM t) " +
        "SELECT doc_id, FLOOR(uniq_ratio * 10000 + 0.5) / 10000 AS uniq_ratio, " +
        "FLOOR(alpha_ratio * 10000 + 0.5) / 10000 AS alpha_ratio, " +
        "FLOOR(mean_token_len * 10000 + 0.5) / 10000 AS mean_token_len, " +
        "FLOOR(stopword_ratio * 10000 + 0.5) / 10000 AS stopword_ratio, " +
        "FLOOR(LEAST(1.0, uniq_ratio * 0.4 + alpha_ratio * 0.4 + " +
        "LEAST(stopword_ratio * 4, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality " +
        "FROM s ORDER BY doc_id"),
    // deterministic sign-projection LSH: parity-derived ±1 projections,
    // bucket = floor(dot/2), equal-bucket candidates, true-distance gate
    "llm_ann_lsh_det" ->
      ("WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
        "FROM embeddings), " +
        "sgn AS (SELECT t, LIST(CASE WHEN ((2 * t + 3) * j + 104729 * t + 12345) % 2 = 0 " +
        "THEN -1.0 ELSE 1.0 END ORDER BY j) AS sv " +
        "FROM generate_series(0, 2) g1(t), generate_series(0, 63) g2(j) GROUP BY t), " +
        "qb AS (SELECT q.vec_id AS query_id, q.xv AS qe, s.t, " +
        "FLOOR(LIST_INNER_PRODUCT(q.xv, s.sv) / 2.0) AS b " +
        "FROM x q CROSS JOIN sgn s WHERE q.vec_id < 10), " +
        "cb AS (SELECT c.vec_id AS neighbor_id, c.xv AS ce, s.t, " +
        "FLOOR(LIST_INNER_PRODUCT(c.xv, s.sv) / 2.0) AS b " +
        "FROM x c CROSS JOIN sgn s), " +
        "cand AS (SELECT query_id, neighbor_id, MIN(LIST_DISTANCE(qe, ce)) AS d " +
        "FROM qb JOIN cb ON cb.t = qb.t AND cb.b = qb.b " +
        "GROUP BY query_id, neighbor_id) " +
        "SELECT query_id, neighbor_id, FLOOR(d * 10000 + 0.5) / 10000 AS dist " +
        "FROM cand WHERE d <= 1.2 ORDER BY query_id, neighbor_id"),
    // IVF replica: same strided centroids, ROW_NUMBER argmin assignment
    // on 1e-6-rounded LIST_DISTANCE (the tiebreak order Spark's
    // min(struct) uses), probe join, dot-product rank
    "llm_ann_ivf" -> annIvfSql(stride = 0, nProbe = 4, k = 5),
    // PQ-ADC replica: strided 16-codeword codebook per 16-dim subspace,
    // ROW_NUMBER argmin encoding on 1e-6-rounded subspace LIST_DISTANCE
    // (Spark's array_position-of-min tiebreak order), then the ADC score
    // as an explicit left-associated 4-term sum of code-table lookups
    "llm_ann_pq" -> annPqSql(m = 4, ksub = 16, stride = 31, nq = 10,
      k = 5),
    // IVF+PQ replica: llm_ann_ivf's coarse assignment/probe CTEs +
    // llm_ann_pq's codebook/encoding CTEs, ADC scores restricted to
    // probed cells, 20-candidate shortlist re-scored with the exact
    // inner product, then ranked
    "llm_ann_ivfpq" -> annIvfPqSql(coarseStride = 0, nProbe = 4,
      m = 4, ksub = 16, pqStride = 31, nq = 10, k = 5, rerank = 20),
    // trained-IVF replica: the ml_lloyd_fixed CTE chain trains the
    // centroids, then the same assignment/probe/rank stages as
    // llm_ann_ivf run against them — one SQL statement replays index
    // training AND search
    "llm_ann_ivf_trained" ->
      annIvfTrainedSql(nlist = 4, iters = 5, nProbe = 2, k = 5),
    // residual-IVF replica at PARTIAL probes: both Lloyd trainings, the
    // composite (cell, sub) blocking and the two-stage routing replay
    // in one statement — the deployment approximation itself is
    // oracle-checked, complementing ScaleLaddersSpec's
    // exhaustive-probe ≡ brute-force contract
    "llm_ann_ivf_residual" ->
      annIvfResidualSql(nlist = 4, nsplit = 2, iters = 5,
        nProbe = 2, nProbeSub = 1, k = 5),
    // three-level twin: all three trainings + (cell, sub, sub2)
    // routing in one statement
    "llm_ann_ivf_residual3" ->
      annIvfResidual3Sql(nlist = 4, nsplit = 2, nsplit3 = 2, iters = 5,
        nProbe = 2, nProbeSub = 1, nProbeSub3 = 1, k = 5),
    // cluster-balance replica: Lloyd assignment verbatim, then the
    // temperature-rate pipeline with alpha=0 over cell strata (pow(p,0)
    // = 1 exactly, so the only float is the final rate arithmetic on
    // exact integers) and the numeric md5 keep test
    "llm_cluster_balance" ->
      (graft.ml.MlQueries.lloydCentroidCte(k = 4, iters = 5, dim = 64) +
        ", cents AS (SELECT cluster AS cid, cv FROM c5)" +
        ", asg AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
        "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
        "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
        ", cellc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_s " +
        "FROM asg JOIN documents d ON d.doc_id = asg.vec_id GROUP BY cell)" +
        ", cellt AS (SELECT SUM(n_s) AS n FROM cellc)" +
        ", cellw AS (SELECT cell, n_s, n, " +
        "CAST(FLOOR(POW(CAST(n_s AS DOUBLE) / n, 0.0) * 1000000 + 0.5) AS BIGINT) AS w6 " +
        "FROM cellc, cellt)" +
        ", cellws AS (SELECT SUM(w6) AS ws6 FROM cellw)" +
        ", cellr AS (SELECT cell, LEAST(CAST(1 AS DOUBLE), " +
        "CAST(0.5 AS DOUBLE) * CAST(n * w6 AS DOUBLE) / CAST(ws6 * n_s AS DOUBLE)) AS rate " +
        "FROM cellw, cellws) " +
        "SELECT a.vec_id AS doc_id, a.cell, " +
        "FLOOR(r.rate * 1000000 + 0.5) / 1000000 AS rate " +
        "FROM asg a JOIN cellr r ON r.cell = a.cell " +
        "WHERE CAST(CONCAT('0x', SUBSTR(md5(CAST(a.vec_id AS VARCHAR) || '#mix'), 1, 8)) AS BIGINT) " +
        "< CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT) ORDER BY doc_id"),
    // SemDeDup replica: the trained-IVF Lloyd CTE + assignment verbatim,
    // then within-cell pairs and the low-id-wins keep rule (a vector is
    // dropped iff a lower-id cluster-mate's exact cosine reaches tau)
    "llm_semdedup" -> semDedupSql(tau = 0.4, nlist = 4, iters = 5),
    // group-keep variant: the same Lloyd + within-cell verified pairs,
    // then the recursive min-label closure (the llm_dedup_groups shape)
    // and a left join so pairless vectors keep themselves
    "llm_semdedup_groups" ->
      ((graft.ml.MlQueries.lloydCentroidCte(k = 4, iters = 5, dim = 64) +
        ", cents AS (SELECT cluster AS cid, cv FROM c5)" +
        ", asg AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT x.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY x.vec_id " +
        "ORDER BY FLOOR(LIST_DISTANCE(x.xv, c.cv) * 1000000 + 0.5) / 1000000, c.cid) AS rn " +
        "FROM x CROSS JOIN cents c) q WHERE rn = 1)" +
        ", cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b " +
        "FROM asg a JOIN asg b ON b.cell = a.cell AND a.vec_id < b.vec_id)" +
        ", sp AS (SELECT doc_a, doc_b FROM cand " +
        "JOIN x xa ON xa.vec_id = doc_a JOIN x xb ON xb.vec_id = doc_b " +
        "WHERE LIST_INNER_PRODUCT(xa.xv, xb.xv) / " +
        "(SQRT(LIST_INNER_PRODUCT(xa.xv, xa.xv)) * SQRT(LIST_INNER_PRODUCT(xb.xv, xb.xv))) >= 0.4)" +
        ", cl AS (SELECT doc_a AS a, doc_b AS b FROM sp " +
        "UNION SELECT doc_b, doc_a FROM sp)" +
        ", r AS (SELECT a AS node, b AS xx FROM cl " +
        "UNION SELECT r.node, cl.b FROM r JOIN cl ON cl.a = r.xx)" +
        ", kp AS (SELECT node, LEAST(node, MIN(xx)) AS keep FROM r GROUP BY node) " +
        "SELECT asg.vec_id, asg.cell, COALESCE(kp.keep, asg.vec_id) AS keep_id " +
        "FROM asg LEFT JOIN kp ON kp.node = asg.vec_id ORDER BY asg.vec_id")
        .replaceFirst("^WITH ", "WITH RECURSIVE ")),
    // embedding near-dup replica: parity signs → adaptive composite
    // floor buckets (the projections-per-table CASE ladder over
    // COUNT(*) mirrors Similarity.adaptiveProjections — integer
    // thresholds, so cross-engine exact; base-64 fold of the clamped
    // floors mirrors signBucketsExpr) → pair candidates → exact cosine
    // (same multiply/divide order as the Spark-side cosine:
    // dot / (norm_a * norm_b))
    "llm_embed_dedup" -> embedDedupSql(nproj = 0, w = 2.0, tau = 0.4,
      numTables = 3),
    // asymmetric twin of llm_embed_dedup: identical blocking + verify,
    // candidates restricted to (batch slice) x (corpus remainder)
    "llm_incr_embed_dedup" ->
      ("WITH x AS (SELECT vec_id, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS xv " +
        "FROM embeddings), " +
        // the projection ladder keys off the CORPUS side (vec_id%5<>0),
        // matching incrementalCosineNearDups' corpus-driven auto mode
        "hh AS (SELECT CASE WHEN n < 1200 THEN 1 WHEN n < 2400 THEN 2 WHEN n < 4800 THEN 3 " +
        "WHEN n < 9600 THEN 4 WHEN n < 19200 THEN 5 WHEN n < 38400 THEN 6 " +
        "WHEN n < 76800 THEN 7 WHEN n < 153600 THEN 8 WHEN n < 307200 THEN 9 " +
        "ELSE 10 END AS h FROM (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 5 <> 0) c), " +
        "sgn AS (SELECT u, LIST(CASE WHEN ((((48271 * (u * 1024 + j) + 11) % 2147483647) * " +
        "((69621 * (u * 1024 + j) + 101) % 2147483647)) % 2147483647) % 2 = 0 " +
        "THEN -1.0 ELSE 1.0 END ORDER BY j) AS sv " +
        "FROM generate_series(0, 29) g1(u), generate_series(0, 63) g2(j) GROUP BY u), " +
        "fl AS (SELECT x.vec_id, gt.t, gi.i, " +
        "GREATEST(LEAST(CAST(FLOOR(LIST_INNER_PRODUCT(x.xv, s.sv) / 2.0) AS BIGINT) + 32, 63), 0) AS f " +
        "FROM x CROSS JOIN hh CROSS JOIN generate_series(0, 2) gt(t) " +
        "CROSS JOIN generate_series(0, 9) gi(i) JOIN sgn s ON s.u = gt.t + 3 * gi.i " +
        "WHERE gi.i < hh.h), " +
        "bk AS (SELECT vec_id, t, LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), " +
        "LIST(f ORDER BY i)), (acc, v) -> acc * 64 + v) AS b FROM fl GROUP BY vec_id, t), " +
        "cand AS (SELECT DISTINCT a.vec_id AS new_id, b2.vec_id AS corpus_id " +
        "FROM bk a JOIN bk b2 ON a.t = b2.t AND a.b = b2.b " +
        "AND a.vec_id % 5 = 0 AND b2.vec_id % 5 <> 0), " +
        "v AS (SELECT new_id, corpus_id, LIST_INNER_PRODUCT(xa.xv, xb.xv) / " +
        "(SQRT(LIST_INNER_PRODUCT(xa.xv, xa.xv)) * SQRT(LIST_INNER_PRODUCT(xb.xv, xb.xv))) AS c " +
        "FROM cand JOIN x xa ON xa.vec_id = new_id JOIN x xb ON xb.vec_id = corpus_id) " +
        "SELECT new_id, corpus_id, FLOOR(c * 10000 + 0.5) / 10000 AS cos_sim " +
        "FROM v WHERE c >= 0.4 ORDER BY new_id, corpus_id"),
    // replicable minhash: sha2 shingle hashes + the modular mixing
    // family (reduce mod 2^52, multiplier ≤65, Mersenne-prime modulus);
    // bands fold each 4-wide signature slice from the band index
    "llm_dedup_minhash" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s1 AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN list_distinct(toks) " +
        "ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
        "FOR i IN range(1, len(toks) - 1)]) END AS sh FROM t), " +
        "hs AS (SELECT doc_id, CAST(CONCAT('0x', SUBSTR(sha256(s), 1, 15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, UNNEST(sh) AS s FROM s1) ex), " +
        "mins AS (SELECT doc_id, g.s, " +
        "MIN(((2 * g.s + 3) * (h % 4503599627370496) + (104729 * g.s + 12345)) " +
        "% 2305843009213693951) AS m " +
        "FROM hs, generate_series(0, 31) g(s) GROUP BY doc_id, g.s), " +
        "sig AS (SELECT doc_id, LIST(m ORDER BY s) AS sg FROM mins GROUP BY doc_id), " +
        "bnd AS (SELECT doc_id, LIST(bv ORDER BY b) AS bl FROM " +
        "(SELECT doc_id, b, list_reduce(list_prepend(b, list_slice(sg, 4 * b + 1, 4 * b + 4)), " +
        "(acc, v) -> ((acc % 4503599627370496) * 31 + (v % 4503599627370496) + 7) " +
        "% 2305843009213693951) AS bv FROM sig, generate_series(0, 7) gb(b)) q " +
        "GROUP BY doc_id) " +
        "SELECT s.doc_id AS doc_id, array_to_string(s.sg, ',') AS signature, " +
        "array_to_string(b2.bl, ',') AS bands FROM sig s " +
        "JOIN bnd b2 ON b2.doc_id = s.doc_id ORDER BY s.doc_id"),
    // rotate-left-1 XOR fold; the rotate is decomposed into 62-bit mask
    // arithmetic because DuckDB's << refuses signed overflow
    "llm_fingerprint" ->
      ("WITH t AS (SELECT doc_id, LIST_TRANSFORM(string_split(text, ' '), " +
        "tok -> CAST(CONCAT('0x', SUBSTR(sha256(tok), 1, 15)) AS BIGINT)) AS hs " +
        "FROM documents) " +
        "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), hs), " +
        "(acc, h) -> xor(((acc & 4611686018427387903) * 2 + " +
        "(CASE WHEN acc < 0 THEN 1 ELSE 0 END)) " +
        "- ((acc >> 62) & 1) * 9223372036854775807 - ((acc >> 62) & 1), h)) " +
        "AS fingerprint FROM t ORDER BY doc_id"),
    // 60-bit sha2 token hashes: bits 60..63 are always 0, so summing
    // bits 0..59 reconstructs the exact packed long
    "llm_simhash" ->
      ("WITH t AS (SELECT doc_id, CAST(CONCAT('0x', SUBSTR(sha256(tok), 1, 15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) u), " +
        "bits AS (SELECT doc_id, i, " +
        "SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM t, generate_series(0, 59) g(i) GROUP BY doc_id, i) " +
        "SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id ORDER BY doc_id"),
    // stub decode = per-dim INTEGER byte sums (exact) + one double
    // divide + one float32 rounding — all replicable: bytes come from
    // hex(encode(text)), the REAL cast mirrors Java's .toFloat, and the
    // squared-norm reduce runs in dim order like the Spark-side fold
    "llm_multimodal" -> multimodalSql(dim = 16),
    // resize(128×1, nearest-byte pick) → 32-byte frames, stride 2 →
    // 8-dim stub decode per frame; same integer-sum replication
    "llm_multimodal_frames" -> multimodalFramesSql(targetW = 128,
      frameBytes = 32, stride = 2, featDim = 8),
    "llm_langid" ->
      ("WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, text, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['der','die','das','und','ist','nicht','ich','mit','ein','zu'], x))) AS DOUBLE) / " +
        "GREATEST(len(toks), 1) AS sde, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['the','a','and','of','to','in','is','you','that','it'], x))) AS DOUBLE) / " +
        "GREATEST(len(toks), 1) AS sen, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['el','la','los','de','que','y','en','un','es','por'], x))) AS DOUBLE) / " +
        "GREATEST(len(toks), 1) AS ses, " +
        "CAST(len(list_filter(toks, x -> list_contains(" +
        "['le','les','et','une','est','que','pour','dans','il','au'], x))) AS DOUBLE) / " +
        "GREATEST(len(toks), 1) AS sfr, " +
        "CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) " +
        "AS DOUBLE) / GREATEST(LENGTH(text), 1) AS cjk FROM t), " +
        "b AS (SELECT doc_id, cjk, sde, sen, ses, sfr, " +
        "GREATEST(sde, sen, ses, sfr) AS best FROM s) " +
        "SELECT doc_id, CASE WHEN cjk > 0.25 THEN 'zh' " +
        "WHEN best > 0 AND sde = best THEN 'de' WHEN best > 0 AND sen = best THEN 'en' " +
        "WHEN best > 0 AND ses = best THEN 'es' WHEN best > 0 AND sfr = best THEN 'fr' " +
        "ELSE 'und' END AS pred_lang, " +
        "FLOOR(GREATEST(cjk, best) * 10000 + 0.5) / 10000 AS confidence " +
        "FROM b ORDER BY doc_id"),
    // winnowing replica: sha2 gram hashes, per-window list_min with the
    // rightmost tie-break via reversed list_position, DISTINCT rows
    // standing in for Spark's per-row array_distinct (a (pos, fp) pair
    // can only repeat within one doc). In base so the matches oracle
    // composes on it verbatim.
    "llm_winnow" -> winnowSql(k = 3, w = 4))
    // curation replica composed from the three verified operator oracles
    // — nested WITH is legal inside a DuckDB CTE body, so each piece
    // embeds verbatim and stays in lock-step with its standalone entry
    val full = base + ("llm_curation" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        s"""l AS (${base("llm_langid")}), """ +
        s"""g AS (${base("llm_dedup_groups")}) """ +
        "SELECT q.doc_id, q.quality, l.pred_lang FROM q JOIN l USING (doc_id) " +
        "LEFT JOIN g USING (doc_id) " +
        "WHERE q.quality >= 0.5 AND l.pred_lang = 'en' " +
        "AND (g.keep_id IS NULL OR g.keep_id = q.doc_id) ORDER BY doc_id")) +
    // multi-language curation: identical composed CTEs with the
    // language gate widened to a set — the engine side shares ONE scan
    // and ONE dedup keep join across the languages (curateMulti), and
    // this replica proves the output equals the naive per-language form
    ("llm_curation_multi" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        s"""l AS (${base("llm_langid")}), """ +
        s"""g AS (${base("llm_dedup_groups")}) """ +
        "SELECT q.doc_id, q.quality, l.pred_lang FROM q JOIN l USING (doc_id) " +
        "LEFT JOIN g USING (doc_id) " +
        "WHERE q.quality >= 0.5 AND l.pred_lang IN ('en', 'fr') " +
        "AND (g.keep_id IS NULL OR g.keep_id = q.doc_id) ORDER BY doc_id")) +
    // strict curation: the same composed-verbatim CTE discipline, plus
    // the repetition oracle as a fourth gate on its rounded ratio
    ("llm_curation_strict" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        s"""l AS (${base("llm_langid")}), """ +
        s"""g AS (${base("llm_dedup_groups")}), """ +
        s"""r AS (${base("llm_repetition")}) """ +
        "SELECT q.doc_id, q.quality, l.pred_lang FROM q JOIN l USING (doc_id) " +
        "JOIN r USING (doc_id) LEFT JOIN g USING (doc_id) " +
        "WHERE q.quality >= 0.5 AND l.pred_lang = 'en' " +
        "AND (g.keep_id IS NULL OR g.keep_id = q.doc_id) " +
        "AND r.dup_3gram_ratio <= 0.01 ORDER BY doc_id")) +
    // text-to-neighbors composition: the verified featurize oracle
    // embeds verbatim and feeds the llm_ann_cosine ranking (float-cast
    // like the parquet embeddings, double accumulation like graft_dot)
    ("llm_ann_text" ->
      (s"""WITH f AS (${base("llm_featurize")}), """ +
        "q AS (SELECT doc_id AS query_id, list_transform(embedding, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS qe FROM f WHERE doc_id < 5), " +
        "c AS (SELECT doc_id AS neighbor_id, list_transform(embedding, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS ce FROM f), " +
        "s AS (SELECT query_id, neighbor_id, LIST_INNER_PRODUCT(qe, ce) AS raw_dot FROM q CROSS JOIN c), " +
        "rk AS (SELECT query_id, neighbor_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY FLOOR(raw_dot * 1000000 + 0.5) / 1000000 DESC, neighbor_id) AS INTEGER) AS rank, " +
        "FLOOR(raw_dot * 10000 + 0.5) / 10000 AS sim FROM s) " +
        "SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= 5 " +
        "ORDER BY query_id, rank")) +
    // monitor replica: DuckDB time_bucket's sub-month buckets align to
    // the 2000-01-03 (Monday) origin — epoch 946857600, divisible by
    // 600, so 10-minute boundaries land on Spark's epoch-aligned grid.
    // CAUTION on other widths: check divisibility against 946857600,
    // NOT the 2000-01-01 epoch (946684800) — the two differ by
    // 172800 s, and a width dividing one but not the other would shift
    // every DuckDB bucket. Quality comes from the embedded llm_quality
    // CTE re-floored to exact 1e-4-unit bigints before the
    // order-independent sum.
    ("llm_monitor_windows" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        "t AS (SELECT doc_id, source, text, " +
        "TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts FROM documents), " +
        "w AS (SELECT t.source, time_bucket(INTERVAL '10 minutes', t.ts) AS window_start, " +
        "CAST(LENGTH(t.text) - LENGTH(REPLACE(t.text, ' ', '')) + 1 AS BIGINT) AS n_tok, " +
        "CAST(FLOOR(q.quality * 10000 + 0.5) AS BIGINT) AS q4 " +
        "FROM t JOIN q ON q.doc_id = t.doc_id) " +
        "SELECT window_start, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tok) AS BIGINT) AS n_tokens, " +
        "FLOOR(CAST(SUM(q4) AS DOUBLE) / COUNT(*) / 10000 * 10000 + 0.5) / 10000 AS mean_quality " +
        "FROM w GROUP BY window_start, source ORDER BY window_start, source")) +
    // per-source dup-rate replica: the dedup-groups closure CTE embeds
    // verbatim, the accounting is one join + grouped counters
    ("llm_dedup_by_source" ->
      (s"""WITH g AS (${base("llm_dedup_groups")}) """ +
        "SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN g.keep_id IS NOT NULL AND g.keep_id <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
        "FLOOR(CAST(SUM(CASE WHEN g.keep_id IS NOT NULL AND g.keep_id <> d.doc_id THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*) * 10000 + 0.5) / 10000 AS dup_rate " +
        "FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id " +
        "GROUP BY d.source ORDER BY d.source")) +
    // funnel replica: same composed gate CTEs, sequential survivor
    // counters unpivoted into the four fixed stage rows
    ("llm_curation_funnel" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        s"""l AS (${base("llm_langid")}), """ +
        s"""g AS (${base("llm_dedup_groups")}), """ +
        s"""r AS (${base("llm_repetition")}), """ +
        "f AS (SELECT q.doc_id, q.quality >= 0.5 AS gq, " +
        "l.pred_lang = 'en' AS gl, r.dup_3gram_ratio <= 0.01 AS gr, " +
        "(g.keep_id IS NULL OR g.keep_id = q.doc_id) AS gd " +
        "FROM q JOIN l USING (doc_id) JOIN r USING (doc_id) " +
        "LEFT JOIN g USING (doc_id)), " +
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, " +
        "CAST(SUM(CASE WHEN gq THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(SUM(CASE WHEN gq AND gl THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(SUM(CASE WHEN gq AND gl AND gr THEN 1 ELSE 0 END) AS BIGINT) AS n3, " +
        "CAST(SUM(CASE WHEN gq AND gl AND gr AND gd THEN 1 ELSE 0 END) AS BIGINT) AS n4 FROM f) " +
        "SELECT * FROM (" +
        "SELECT CAST(1 AS BIGINT) AS stage_id, 'quality' AS stage, n0 AS n_in, n1 AS n_out, n0 - n1 AS n_dropped FROM c " +
        "UNION ALL SELECT 2, 'language', n1, n2, n1 - n2 FROM c " +
        "UNION ALL SELECT 3, 'boilerplate', n2, n3, n2 - n3 FROM c " +
        "UNION ALL SELECT 4, 'dedup', n3, n4, n3 - n4 FROM c) " +
        "ORDER BY stage_id")) +
    // band-blocked simhash pairs: the sketch CTE embeds the verified
    // llm_simhash oracle verbatim; 4 bands x 15 bits, bit_count verify
    ("llm_simhash_pairs" -> simhashPairsSql(base("llm_simhash"), maxHamming = 3)) +
    // recall replica: both ANN oracles embed verbatim, the metric is the
    // per-query hit fraction averaged over the exact side's queries
    ("llm_ann_recall" ->
      (s"""WITH iv AS (${base("llm_ann_ivf")}), """ +
        s"""bf AS (${base("llm_ann_cosine")}), """ +
        "h AS (SELECT iv.query_id, COUNT(*) AS hit FROM iv JOIN bf " +
        "ON bf.query_id = iv.query_id AND bf.neighbor_id = iv.neighbor_id " +
        "GROUP BY iv.query_id) " +
        "SELECT FLOOR(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / (COUNT(*) * 5) " +
        "* 10000 + 0.5) / 10000 AS recall_at_k, COUNT(*) AS n_queries " +
        "FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN h USING (query_id)")) +
    // BPE training replica: the whole 3-merge loop unrolled — per-step
    // pair counts, argmax, and the pad/double-replace/trim rewrite
    ("llm_bpe_merges" -> bpeMergesSql(3)) +
    // encode replica: re-learn the same merges, then re-encode each doc
    // word-by-word with the identical pad/replace/trim chain
    ("llm_bpe_encode" -> bpeEncodeSql(3)) +
    // fertility replica: the encode CTEs with a per-word unnest and a
    // source-keyed rollup (pieces per word evaluated once per word)
    ("llm_bpe_fertility" ->
      ("WITH " + bpeCtes(3) + ", " +
        "m AS (SELECT (SELECT pair FROM b1) AS q1, (SELECT pair FROM b2) AS q2, " +
        "(SELECT pair FROM b3) AS q3), " +
        "enc AS (SELECT source, list_filter(string_split(text, ' '), " +
        "w -> length(w) > 0) AS toks, q1, q2, q3 FROM documents, m), " +
        "pw AS (SELECT source, CAST(len(string_split(" + bpeEncodeExpr(3) +
        ", ' ')) AS BIGINT) AS pieces FROM " +
        "(SELECT source, unnest(toks) AS w, q1, q2, q3 FROM enc)), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(SUM(pieces) AS BIGINT) AS n_pieces, " +
        "CAST(SUM(CASE WHEN pieces = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole " +
        "FROM pw GROUP BY source) " +
        "SELECT source, n_words, n_pieces, " +
        "FLOOR(CAST(n_pieces AS DOUBLE) / n_words * 10000 + 0.5) / 10000 AS fertility, " +
        "FLOOR(CAST(n_whole AS DOUBLE) / n_words * 10000 + 0.5) / 10000 AS whole_word_rate " +
        "FROM a ORDER BY source")) +
    // drift replica: the verified featurize oracle embeds verbatim;
    // components re-floor to exact 1e-4 BIGINTs, centroids are integer
    // per-dim sums (cosine is scale-invariant), and the one cosine per
    // window is the same left-to-right double tree on both engines.
    // time_bucket origin: see the llm_monitor_windows note — 10-minute
    // widths divide DuckDB's 2000-01-03 origin epoch, so buckets align.
    ("llm_drift_windows" -> driftWindowsSql(dim = 16)) +
    // reference-drift replica: featurize is per-doc, so ONE featurize
    // CTE serves both sides — the reference centroid is the en-slice's
    // per-dim sums, window sums come from the same e4 frame
    ("llm_drift_ref" -> {
      val sums = (0 until 16)
        .map(i => s"CAST(SUM(e4[${i + 1}]) AS BIGINT) AS s$i").mkString(", ")
      val gsums = (0 until 16)
        .map(i => s"CAST(SUM(e4[${i + 1}]) AS BIGINT) AS g$i").mkString(", ")
      val dot = (0 until 16)
        .map(i => s"CAST(s$i AS DOUBLE) * CAST(g$i AS DOUBLE)")
        .mkString(" + ")
      val nw = (0 until 16)
        .map(i => s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE)")
        .mkString(" + ")
      val ng = (0 until 16)
        .map(i => s"CAST(g$i AS DOUBLE) * CAST(g$i AS DOUBLE)")
        .mkString(" + ")
      s"""WITH f AS (${base("llm_featurize")}), """ +
        "e AS (SELECT doc_id, list_transform(embedding, " +
        "x -> CAST(FLOOR(x * 10000 + 0.5) AS BIGINT)) AS e4 FROM f), " +
        s"g AS (SELECT $gsums FROM e JOIN documents d USING (doc_id) " +
        "WHERE d.lang = 'en'), " +
        "t AS (SELECT doc_id, TIMESTAMP '2026-01-01 00:00:00' " +
        "+ doc_id * INTERVAL 1 MINUTE AS ts FROM documents), " +
        "j AS (SELECT time_bucket(INTERVAL '10 minutes', t.ts) AS window_start, e4 " +
        "FROM t JOIN e USING (doc_id)), " +
        s"w AS (SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_docs, $sums " +
        "FROM j GROUP BY window_start) " +
        "SELECT window_start, n_docs, " +
        s"CASE WHEN ($nw) = 0 OR ($ng) = 0 THEN NULL " +
        s"ELSE FLOOR((1.0 - ($dot) / (SQRT($nw) * SQRT($ng))) * 10000 + 0.5) / 10000 " +
        "END AS drift FROM w, g ORDER BY window_start"
    }) +
    // recall sweep replica: every variant's verified oracle embeds
    // verbatim; per variant the same hit-fraction reduction as
    // llm_ann_recall, one labeled row each
    ("llm_ann_recall_all" -> {
      def recallRow(m: String, cte: String) =
        s"SELECT '$m' AS method, " +
          "FLOOR(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / (COUNT(*) * 5) " +
          "* 10000 + 0.5) / 10000 AS recall_at_k, COUNT(*) AS n_queries " +
          "FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN " +
          s"(SELECT a.query_id, COUNT(*) AS hit FROM $cte a JOIN bf " +
          "ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id " +
          "GROUP BY a.query_id) h USING (query_id)"
      s"""WITH bf AS (${base("llm_ann_cosine")}), """ +
        s"""iv AS (${base("llm_ann_ivf")}), """ +
        s"""ir AS (SELECT query_id, neighbor_id FROM (${base("llm_ann_ivf_residual")})), """ +
        s"""ir3 AS (SELECT query_id, neighbor_id FROM (${base("llm_ann_ivf_residual3")})), """ +
        s"""it AS (${base("llm_ann_ivf_trained")}), """ +
        s"""pq AS (${base("llm_ann_pq")}), """ +
        s"""ip AS (${base("llm_ann_ivfpq")}) """ +
        "SELECT method, recall_at_k, n_queries FROM (" +
        recallRow("ivf", "iv") + " UNION ALL " +
        recallRow("ivf_residual", "ir") + " UNION ALL " +
        recallRow("ivf_residual3", "ir3") + " UNION ALL " +
        recallRow("ivf_trained", "it") + " UNION ALL " +
        recallRow("ivfpq", "ip") + " UNION ALL " +
        recallRow("pq", "pq") + ") ORDER BY method"
    }) +
    // vocab-artifact replica: the same unrolled 3-merge CTEs, character
    // inventory ids from a binary-collation ROW_NUMBER, merge ids offset
    // by the inventory size
    ("llm_bpe_vocab" ->
      ("WITH " + bpeCtes(3) + ", " +
        "ch AS (SELECT DISTINCT unnest(regexp_extract_all(word, '.')) AS token FROM w), " +
        "ci AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id, token FROM ch), " +
        "cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM ch), " +
        "mg AS (SELECT CAST(cc.c + k.step - 1 AS BIGINT) AS token_id, " +
        "replace(k.pair, ' ', '') AS token FROM " +
        "(SELECT CAST(1 AS BIGINT) AS step, pair FROM b1 " +
        "UNION ALL SELECT 2, pair FROM b2 " +
        "UNION ALL SELECT 3, pair FROM b3) k, cc) " +
        "SELECT token_id, token FROM " +
        "(SELECT * FROM ci UNION ALL SELECT * FROM mg) ORDER BY token_id")) +
    // scalar-reshaped featurize oracle: the driver's comparator sorts
    // rows with pandas and cannot sort array cells, so the registered
    // entry posexplodes each vector to (doc_id, dim, component) rows.
    // base("llm_featurize") keeps the array form for the llm_ann_text
    // composition above; this override only changes the checked shape.
    ("llm_featurize" ->
      featurizeUnpivotSql(base("llm_featurize"), dim = 16)) +
    // cross-source dup matrix: the verified pair oracle embeds verbatim,
    // sources joined by id, lexicographically undirected
    ("llm_source_overlap" ->
      sourceOverlapSql(base("llm_near_dup_pairs"))) +
    // first-occurrence novelty: the contamination shingle CTE verbatim,
    // min-doc_id first occurrence per gram, per-doc new-gram fraction
    ("llm_ngram_novelty" -> ngramNoveltySql(n = 3)) +
    // calibration replica: the quality oracle embeds verbatim; bucketing
    // on the exact 1e-4 integer form, share over the bucket totals
    ("llm_quality_calibration" ->
      calibrationSql(base("llm_quality"), buckets = 10)) +
    // family-size histogram: the dedup-groups closure CTE embeds
    // verbatim, two grouped counts over it
    ("llm_dup_group_sizes" ->
      dupGroupSizesSql(base("llm_dedup_groups"))) +
    // Bloom decontamination replica: the filter is fully deterministic
    // (sha256 double-hash, 65536 bits, 4 probes), so DuckDB rebuilds the
    // identical bitmap with bit_or and replays every probe — the
    // approximation itself is oracle-checked, not just bounded
    ("llm_decontaminate_bloom" -> bloomSql()) +
    // quality-aware keep replica: the dedup-groups closure + the quality
    // model embed verbatim; singletons re-enter via the documents left
    // join, the family winner ranks on (score4 desc, doc_id)
    ("llm_dedup_keep_best" ->
      (s"""WITH g AS (${base("llm_dedup_groups")}), """ +
        s"""qm AS (${base("llm_quality_model")}), """ +
        "f AS (SELECT d.doc_id, COALESCE(g.keep_id, d.doc_id) AS family_id " +
        "FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id), " +
        "s AS (SELECT f.doc_id, f.family_id, " +
        "CAST(FLOOR(1.0 / (1.0 + EXP(-(CAST(qm.logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) AS BIGINT) AS score4 " +
        "FROM f JOIN qm ON qm.doc_id = f.doc_id), " +
        "b AS (SELECT family_id, doc_id AS keep_id FROM " +
        "(SELECT family_id, doc_id, ROW_NUMBER() OVER " +
        "(PARTITION BY family_id ORDER BY score4 DESC, doc_id) AS rn FROM s) " +
        "WHERE rn = 1) " +
        "SELECT s.doc_id, s.family_id, b.keep_id, s.score4, " +
        "s.doc_id = b.keep_id AS kept " +
        "FROM s JOIN b USING (family_id) ORDER BY s.doc_id")) +
    // boilerplate replica: the span_remove window CTE at span 10, gated
    // on >= 3 DISTINCT docs per window key, removal covers EVERY
    // occurrence (no keep-first rank)
    ("llm_boilerplate" -> boilerplateSql(span = 10, minDocs = 3)) +
    // blocklist replica: exact-token membership count + threshold flag
    ("llm_blocklist" -> blocklistSql(Seq("slow", "spam", "junk"),
      maxHits = 2)) +
    // entropy replica: per-type counts once (nested-lambda capture),
    // micro-unit contributions, exact bigint sum per doc
    ("llm_entropy" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "list_transform(list_distinct(toks), tt -> " +
        "CAST(len(list_filter(toks, x -> x = tt)) AS BIGINT)) AS cnts FROM t), " +
        "e AS (SELECT doc_id, n_tokens, list_sum(list_transform(cnts, cc -> " +
        "CAST(FLOOR(-(CAST(cc AS DOUBLE) / n_tokens) * LN(CAST(cc AS DOUBLE) / n_tokens) * 1000000 + 0.5) AS BIGINT))) AS s6 FROM c) " +
        "SELECT doc_id, n_tokens, " +
        "FLOOR(CAST(s6 AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS entropy " +
        "FROM e ORDER BY doc_id")) +
    // scorecard replica: the five verified operator oracles embed
    // verbatim and join on doc_id — the Spark side computes the same
    // columns from one fused scan
    ("llm_scorecard" ->
      (s"""WITH q AS (${base("llm_quality")}), """ +
        s"""l AS (${base("llm_langid")}), """ +
        s"""r AS (${base("llm_repetition")}), """ +
        s"""qm AS (${base("llm_quality_model")}), """ +
        s"""st AS (${base("llm_text_stats")}) """ +
        "SELECT q.doc_id, st.n_tokens, q.quality, l.pred_lang, " +
        "r.dup_3gram_ratio, " +
        "CAST(FLOOR(1.0 / (1.0 + EXP(-(CAST(qm.logit6 AS DOUBLE) / 1000000))) * 10000 + 0.5) AS BIGINT) AS score4, " +
        "(q.quality >= 0.5 AND l.pred_lang = 'en') AS keep " +
        "FROM q JOIN l USING (doc_id) JOIN r USING (doc_id) " +
        "JOIN qm USING (doc_id) JOIN st USING (doc_id) ORDER BY doc_id")) +
    // curriculum replica: the shard + quality-model oracles embed
    // verbatim; rank = row_number per shard over (score4 desc, doc_id)
    ("llm_curriculum" ->
      curriculumSql(base("llm_shard"), base("llm_quality_model"))) +
    // reference-novelty replica: the incremental-ingest shingle CTEs
    // with the batch probing the rest's DISTINCT gram set
    ("llm_novelty_ref" -> noveltyRefSql(n = 3, mod = 5, rem = 0)) +
    // containment replica: the EXHAUSTIVE ground truth restricted to
    // the operator's contract domain — inner docs of >= w+k-1 = 6
    // tokens (single-space token formula), exactly where the winnowing
    // guarantee gives full recall. Equality holds BY CONSTRUCTION, not
    // by the data happening to lack short contained docs; the
    // padded-substring verify is exact on both engines.
    ("llm_containment" -> containmentSql(k = 3, w = 4)) +
    // the overlap report: distinct (doc, fp) pairs meet on the
    // fingerprint value, >= 5 shared values per pair
    ("llm_winnow_matches" -> winnowMatchesSql(k = 3, w = 4, minShared = 5)) +
    // bigram perplexity replica: bigram/unigram type counts from the en
    // slice, per-TYPE micro-unit costs (pair seen -> prefix-conditional;
    // pair unseen -> prefix fallback; prefix unseen -> V+1 constant),
    // exact bigint doc sums, stabilized exp — the llm_perplexity
    // discipline one order up
    ("llm_perplexity_bigram" ->
      ("WITH tr AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE lang = 'en'), " +
        "uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM " +
        "(SELECT unnest(toks) AS tok FROM tr) GROUP BY tok), " +
        "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni), " +
        "bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cb FROM " +
        "(SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bg FROM tr) GROUP BY bg), " +
        "bco AS (SELECT bg, CAST(FLOOR(-LN(CAST(cb + 1 AS DOUBLE) / (cu + v + 1)) * 1000000 + 0.5) AS BIGINT) AS nll6 " +
        "FROM bgc JOIN uni ON uni.tok = string_split(bg, ' ')[1], st), " +
        "pco AS (SELECT tok, CAST(FLOOR(-LN(CAST(1 AS DOUBLE) / (cu + v + 1)) * 1000000 + 0.5) AS BIGINT) AS punll6 FROM uni, st), " +
        "un AS (SELECT CAST(FLOOR(-LN(CAST(1 AS DOUBLE) / (v + 1)) * 1000000 + 0.5) AS BIGINT) AS u0 FROM st), " +
        "e AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bg " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)), " +
        "s AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(COALESCE(bco.nll6, pco.punll6, un.u0)) AS BIGINT) AS s6 " +
        "FROM e LEFT JOIN bco ON bco.bg = e.bg " +
        "LEFT JOIN pco ON pco.tok = string_split(e.bg, ' ')[1], un GROUP BY e.doc_id) " +
        "SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, " +
        "CASE WHEN s.n_bigrams > 0 THEN FLOOR(CAST(s.s6 AS DOUBLE) / 1000000 / s.n_bigrams * 10000 + 0.5) / 10000 END AS avg_nll, " +
        "CASE WHEN s.n_bigrams > 0 THEN FLOOR(EXP(FLOOR(CAST(s.s6 AS DOUBLE) / 1000000 / s.n_bigrams * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 END AS ppl, " +
        "COALESCE(CASE WHEN s.n_bigrams > 0 THEN FLOOR(EXP(FLOOR(CAST(s.s6 AS DOUBLE) / 1000000 / s.n_bigrams * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 > 5000.0 END, FALSE) AS flagged " +
        "FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id ORDER BY d.doc_id")) +
    // within-doc dedup replica: per-row list comprehensions — windows,
    // earlier-first-occurrence starts via list_position, covered
    // positions flattened + deduped, position-filtered rebuild
    ("llm_within_doc_dedup" -> withinDocDedupSql(span = 3)) +
    // CCNet tercile replica: the perplexity oracle embeds verbatim;
    // bucket = floor(3*(rank-1)/count) over (avg_nll, doc_id) per lang
    ("llm_ccnet_buckets" -> ccnetBucketsSql(base("llm_perplexity"))) +
    // fixed-threshold form: same scoring CTE, per-row cut-point gate on
    // the 1e-4-floored avg_nll (identical doubles on both engines)
    ("llm_ccnet_fixed" ->
      ccnetFixedSql(base("llm_perplexity"), headMax = 3.40,
        middleMax = 3.41)) +
    // token-budget replica: the quality-model oracle embeds verbatim;
    // kept = tokens of strictly-better docs (score4 desc, doc_id) under
    // the budget, token count by the single-space formula of llm_pack
    ("llm_token_budget" ->
      tokenBudgetSql(base("llm_quality_model"), budget = 15000L))
    // the hashed-key novelty twins share their string-key siblings'
    // oracles VERBATIM: xxhash64 keys only change the join/agg key,
    // never a per-doc count (collision odds ~ |G|²/2⁶⁵)
    full +
      ("llm_ngram_novelty_hashed" -> full("llm_ngram_novelty")) +
      ("llm_novelty_ref_hashed" -> full("llm_novelty_ref")) +
      // value verdict for the seeded-LSH quality check: the boolean
      // gates stay constant rows, but the recall bound's denominator —
      // the exact in-radius pair count — is recomputed by DuckDB itself
      ("llm_ann_lsh" -> graft.core.VerifyUtils.valueVerdictSql(
        Seq("ann_lsh_no_false_positives", "ann_lsh_range_recall_ge_60pct"),
        Seq("SELECT 'ann_lsh_true_pairs' AS metric, " +
          "CAST(COUNT(*) AS DOUBLE) AS value FROM " +
          "(SELECT LIST_DISTANCE(" +
          "LIST_TRANSFORM(q.embedding, v -> CAST(v AS DOUBLE)), " +
          "LIST_TRANSFORM(c.embedding, v -> CAST(v AS DOUBLE))) AS d " +
          "FROM embeddings q CROSS JOIN embeddings c " +
          "WHERE q.vec_id < 10) t " +
          // same 1e-6 pre-rounding as the Spark-side truth filter
          "WHERE FLOOR(d * 1000000 + 0.5) / 1000000 <= 1.2")))
  }
}
