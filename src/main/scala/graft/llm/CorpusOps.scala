package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators: train/eval contamination
  * detection and deterministic stratified mixing samplers.
  *
  * Both families are 100 TB-shaped by construction: contamination joins
  * on (optionally hashed) n-gram keys with ids-only payloads, and the
  * rate sampler is a shuffle-free per-row hash threshold. The reference
  * has no equivalent; these generalize its tokenize-then-aggregate text
  * path (`ml/IDFRunner.scala:102-111`) to corpus hygiene.
  */
object CorpusOps {

  /** Train/eval n-gram contamination check — the standard benchmark-leak
    * screen run before training. Docs with `doc_id % evalMod == evalRem`
    * form the eval split; every distinct token n-gram of an eval doc is
    * probed against the distinct n-gram set of the train split, and each
    * eval doc reports its overlap fraction.
    *
    * Scale shape: the train set is reduced to distinct n-grams with
    * map-side partial aggregation before the join, the join is n-gram
    * equi-keyed carrying only (doc_id) on the probe side, and with
    * `hashKeys = true` the join key is an 8-byte xxhash64 of the n-gram
    * instead of the string (collision odds ~ |G|²/2⁶⁵ — negligible
    * against corpus-scale n-gram counts, and only ever inflates n_hit).
    * Nothing in the plan is proportional to pair counts; it is two scans
    * plus one key-partitioned shuffle.
    */
  def contamination(docs: DataFrame, n: Int = 3, evalMod: Int = 10,
      evalRem: Int = 7, flagThreshold: Double = 0.5,
      hashKeys: Boolean = false): DataFrame = {
    val sh = Dedup.withShingleSets(docs, n)
    def key(c: org.apache.spark.sql.Column) =
      if (hashKeys) xxhash64(c) else c
    val trainG = sh.filter(col("doc_id") % evalMod =!= evalRem)
      .select(explode(col("shingle_set")).as("g"))
      .select(key(col("g")).as("gk")).distinct()
    val evalG = sh.filter(col("doc_id") % evalMod === evalRem)
      .select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .select(col("doc_id"), key(col("g")).as("gk"))
    evalG.join(trainG.withColumn("hit", lit(1L)), Seq("gk"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        TextOps.r4(col("n_hit").cast("double") / col("n_ngrams"))
          .as("contamination"))
      .withColumn("contaminated", col("contamination") >= flagThreshold)
      .orderBy("doc_id")
  }

  /** Eval decontamination — [[contamination]] with the roles flipped,
    * the REMOVAL direction a pipeline actually executes before
    * training: every TRAIN doc reports what fraction of its n-grams
    * appear in the eval split's distinct n-gram set, and docs at or
    * over `maxOverlap` are flagged `dropped`.
    *
    * Scale shape: this direction is strictly friendlier than
    * [[contamination]] — the built side is the EVAL n-gram set
    * (benchmarks are tiny next to a 100 TB corpus), so the probe join
    * broadcasts it (size-gated) and the train corpus never shuffles
    * for the join; the per-doc aggregate is a doc_id-keyed hash agg.
    * `hashKeys = true` swaps string n-grams for 8-byte xxhash64 keys
    * (same collision argument as [[contamination]]). */
  def decontaminate(docs: DataFrame, n: Int = 3, evalMod: Int = 10,
      evalRem: Int = 7, maxOverlap: Double = 0.5,
      hashKeys: Boolean = false): DataFrame = {
    val sh = Dedup.withShingleSets(docs, n)
    def key(c: org.apache.spark.sql.Column) =
      if (hashKeys) xxhash64(c) else c
    val evalG = sh.filter(col("doc_id") % evalMod === evalRem)
      .select(explode(col("shingle_set")).as("g"))
      .select(key(col("g")).as("gk")).distinct()
      .withColumn("hit", lit(1L))
      .localCheckpoint() // feeds the probe join AND the size gate
    val nEval = evalG.count()
    val trainG = sh.filter(col("doc_id") % evalMod =!= evalRem)
      .select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .select(col("doc_id"), key(col("g")).as("gk"))
    trainG.join(graft.core.Hints.broadcastIfSmall(evalG, nEval),
        Seq("gk"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        TextOps.r4(col("n_hit").cast("double") / col("n_ngrams")).as("overlap"))
      .withColumn("dropped", col("overlap") >= maxOverlap)
      .orderBy("doc_id")
  }

  /** Corpus composition rollup — the per-(source, lang) accounting a
    * training-data platform reports: doc, token (single-space formula),
    * and char totals at every grouping level of `ROLLUP(source, lang)`,
    * with the null grouping labels coalesced to `<all>` so the output
    * is engine-portable. One scan, map-side-combined aggregate over a
    * bounded (source × lang) key space. */
  def statsRollup(docs: DataFrame): DataFrame = {
    docs.select(col("source"), col("lang"), TextOps.nTokExpr.as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chr").as("n_chars"))
      .select(coalesce(col("source"), lit("<all>")).as("source"),
        coalesce(col("lang"), lit("<all>")).as("lang"),
        col("n_docs"), col("n_tokens"), col("n_chars"))
      .orderBy("source", "lang")
  }

  /** Deterministic per-doc sampling key: md5 of the salted id. Both the
    * quota and rate samplers order/threshold on this hex string — md5 is
    * identical in any engine, and lexicographic order on lowercase hex
    * equals numeric order, so the sample is replicable everywhere. */
  private def sampleKey(salt: String) =
    md5(concat(col("doc_id").cast("string"), lit(salt)))

  /** The shard-assignment expression shared by [[shard]] and [[pack]]
    * (pack inlines it rather than joining, so packing stays one scan).
    * The replicable path folds two md5 hex digits (256 values), so it
    * caps nShards at 256 — validated by the callers. */
  private def shardExpr(nShards: Int, replicable: Boolean,
      salt: String): org.apache.spark.sql.Column = {
    require(nShards > 0, s"need nShards > 0, got $nShards")
    require(!replicable || nShards <= 256,
      s"replicable sharding folds 2 md5 hex digits (256 values); " +
        s"nShards=$nShards would leave shards ${256}..${nShards - 1} empty")
    if (replicable) {
      // position of each hex char in the digit alphabet = its value
      val d1 = instr(lit("0123456789abcdef"),
        substring(sampleKey(salt), 1, 1)) - 1
      val d2 = instr(lit("0123456789abcdef"),
        substring(sampleKey(salt), 2, 1)) - 1
      ((d1 * 16 + d2) % nShards).cast("long")
    } else pmod(xxhash64(concat(col("doc_id").cast("string"), lit(salt))),
      lit(nShards)).cast("long")
  }

  /** Deterministic hash sharding for training export — the write-side
    * counterpart of [[mixRate]]'s read-side sampling: shard ∈
    * [0, nShards), assigned by hash so shards are balanced regardless of
    * id layout, stable across runs, and independent of partitioning.
    *
    * Stock path keys on full-width xxhash64 (the 100 TB path);
    * `replicable = true` derives the shard from the first two hex chars
    * of the md5 sampling key (0..255, folded mod nShards ≤ 256 —
    * balanced to ±1/256) so any engine replays the assignment exactly.
    * The assignment itself is a pure per-row projection — no shuffle, no
    * state; `ordered = true` (the oracle-presentation default) appends a
    * global ORDER BY, so pass `ordered = false` on the export path
    * (e.g. into `Writers.sharded`, which re-partitions anyway). */
  def shard(docs: DataFrame, nShards: Int = 8,
      replicable: Boolean = false, salt: String = "#shard",
      ordered: Boolean = true): DataFrame = {
    val out = docs.select(col("doc_id"),
      shardExpr(nShards, replicable, salt).as("shard"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Greedy-by-order sequence packing for training export: within each
    * shard, docs in doc_id order pack into sequences of ~`budget` tokens;
    * `seq_id = floor(tokens_before / budget)`. A doc may straddle a
    * boundary by less than its own length (bounded overflow), which keeps
    * packing a pure window over the shard partition instead of a
    * sequential reset loop — the property that makes it distributable:
    * each shard's window sorts locally after one hash exchange on
    * `shard`, and shards are independent, so the 100 TB plan is
    * exchange + per-partition sort, never a global single-partition
    * window. Token counts use the single-space formula from
    * [[TextOps.stats]] so the oracle replays them with pure string
    * functions. `ordered = false` skips the presentation ORDER BY (the
    * in-shard window still sorts each shard internally). */
  def pack(docs: DataFrame, budget: Int = 2048, nShards: Int = 8,
      replicable: Boolean = false, salt: String = "#shard",
      ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"need budget > 0, got $budget")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = docs.select(col("doc_id"),
        shardExpr(nShards, replicable, salt).as("shard"),
        TextOps.nTokExpr.as("n_tokens"))
      .withColumn("seq_id",
        floor(coalesce(sum("n_tokens").over(w), lit(0L)) / budget.toDouble)
          .cast("long"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Exact-quota stratified mixing sample: per stratum (language, source,
    * …) keep exactly `ceil(stratum_count × rate)` docs, chosen by
    * deterministic hash order — the "data mixing" step that reweights a
    * corpus toward target domain proportions with a reproducible,
    * seed-free sample.
    *
    * Uses one window rank per stratum. At 100 TB a single giant stratum
    * serializes its window into one task — for that regime use
    * [[mixRate]], which needs no shuffle at all; keep the quota variant
    * for when exact per-stratum counts are contractual (eval set
    * construction).
    */
  def mixQuota(docs: DataFrame, strataCol: String = "lang",
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 0.5, salt: String = "#mix"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val w = Window.partitionBy(strataCol).orderBy(sampleKey(salt), col("doc_id"))
    val cw = Window.partitionBy(strataCol)
    docs.select(col("doc_id"), col(strataCol),
        row_number().over(w).cast("long").as("sample_rank"),
        count(lit(1)).over(cw).as("stratum_n"), rate.as("rate"))
      .filter(col("sample_rank") <= ceil(col("stratum_n") * col("rate")))
      .select("doc_id", strataCol, "sample_rank")
      .orderBy("doc_id")
  }

  /** Temperature-based mixing sampler — the multilingual/domain
    * rebalancing formula (sampling probability ∝ p^α, the XLM-R /
    * mC4 convention): strata shares p_s are reweighted to
    * q_s ∝ p_s^α and the corpus is downsampled to ≈ `targetFrac` of its
    * rows with per-stratum rates that realize q. α = 1 keeps natural
    * proportions (every stratum sampled at `targetFrac`); α → 0 flattens
    * toward uniform, upweighting rare strata. Rates cap at 1 (a stratum
    * cannot be oversampled without replacement — the standard truncation).
    *
    * Cross-engine exactness: stratum weights p^α round to 1e-6 and
    * normalize as INTEGER micro-units (the one float SUM becomes an
    * exact bigint sum), so each rate is literal-from-integers double
    * arithmetic; the per-row keep test compares the md5 key's leading
    * 8 hex digits NUMERICALLY against floor(rate·2³²).
    *
    * Scale shape: one tiny per-stratum aggregate (map-side partials),
    * rates broadcast back, then the same shuffle-free per-row threshold
    * filter as [[mixRate]] — no window, no global state. */
  def mixTemperature(docs: DataFrame, strataCol: String = "lang",
      alpha: Double = 0.3, targetFrac: Double = 0.5,
      salt: String = "#mix"): DataFrame = {
    require(alpha >= 0.0, s"need alpha >= 0, got $alpha")
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"need 0 < targetFrac <= 1, got $targetFrac")
    // materialized once: feeds the weight projection AND the size gate
    // for the rate broadcast (one row per stratum — fine for languages
    // or sources, unbounded for a URL-domain strata column)
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).as("n_s"))
      .localCheckpoint()
    val nStrata = counts.count()
    val total = counts.agg(sum("n_s").as("n")) // one literal row
    // w6 = round(p^alpha * 1e6) as bigint; W6 = Σ w6 exact
    val w6 = floor(pow(col("n_s").cast("double") / col("n"), alpha) * 1e6
      + 0.5).cast("long")
    val weights = counts.crossJoin(broadcast(total))
      .select(col(strataCol), col("n_s"), col("n"), w6.as("w6"))
    val wSum = weights.agg(sum("w6").as("ws6")) // exact integer sum
    // rate = targetFrac * (N * w6) / (W6 * n_s): exact bigint products,
    // one double multiply + one divide — deterministic in any engine
    // size-gated broadcast: one row per stratum is tiny for languages or
    // sources but unbounded for a URL-domain strata column — past the
    // gate AQE plans the join from runtime statistics instead of a
    // forced build (same discipline as the graph per-node frames)
    val rates = graft.core.Hints.broadcastIfSmall(
      weights.crossJoin(broadcast(wSum))
        .select(col(strataCol),
          least(lit(1.0), lit(targetFrac) * (col("n") * col("w6")).cast("double")
            / (col("ws6") * col("n_s")).cast("double")).as("rate")),
      nStrata)
    val u = conv(substring(sampleKey(salt), 1, 8), 16, 10).cast("long")
    docs.join(rates, Seq(strataCol))
      .filter(u < floor(col("rate") * 4294967296.0).cast("long"))
      .select(col("doc_id"), col(strataCol),
        (floor(col("rate") * 1e6 + 0.5) / 1e6).as("rate"))
      .orderBy("doc_id")
  }

  /** UniMax mixing sampler — epoch-capped uniform allocation (Chung et
    * al. 2023): a total budget of `floor(N · budgetFrac)` docs is spread
    * as uniformly as possible across strata, except no stratum
    * contributes more than `maxEpochs` passes over its own data. The
    * water-filling solution: visit strata in ascending size order; a
    * stratum whose cap is below the fair share of the remaining budget
    * takes its cap, every remaining stratum splits what is left evenly.
    * This is the principled alternative to temperature mixing
    * ([[mixTemperature]]) — rare strata are upweighted to uniform but
    * never repeated past the epoch cap.
    *
    * Cross-engine exactness: caps, budgets, and cumulative sums are
    * exact BIGINT arithmetic; the capped test `cap·slots ≤ budget − cum`
    * multiplies integers (no division); the single fair-share division
    * happens once, as doubles built from exact integers, then floors.
    * The per-row keep test is the same numeric md5 threshold as
    * [[mixTemperature]].
    *
    * Scale shape: the allocation runs on the per-stratum counts frame
    * (one row per stratum — the window and the pivot aggregate are over
    * that tiny frame, never the corpus); rates join back size-gated, and
    * the keep test is a shuffle-free per-row filter. */
  def mixUnimax(docs: DataFrame, strataCol: String = "lang",
      budgetFrac: Double = 0.5, maxEpochs: Int = 1,
      salt: String = "#mix"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetFrac > 0.0 && budgetFrac <= maxEpochs,
      s"need 0 < budgetFrac <= maxEpochs, got $budgetFrac vs $maxEpochs")
    require(maxEpochs >= 1, s"need maxEpochs >= 1, got $maxEpochs")
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).as("n_s"))
      .localCheckpoint() // one row per stratum; feeds gate + allocation
    val nStrata = counts.count()
    val tot = counts.agg(sum("n_s").as("n"),
      count(lit(1)).as("k")) // one literal row
    // ascending-cap visit order; cum = Σ caps of already-visited strata
    val ord = Window.orderBy(col("cap"), col(strataCol)) // k rows, bounded
    val annot = counts.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_s"), col("n"), col("k"),
        (col("n_s") * maxEpochs).as("cap"))
      .select(col("*"),
        row_number().over(ord).cast("long").as("idx"),
        coalesce(sum("cap").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cum"),
        floor(col("n") * budgetFrac).cast("long").as("bud"))
      .withColumn("capped",
        col("cap") * (col("k") - col("idx") + 1) <= col("bud") - col("cum"))
      .localCheckpoint() // referenced twice: rows + pivot aggregate
    // pivot stats: how much budget the capped prefix consumed
    val pivot = broadcast(annot.agg(
      coalesce(sum(when(col("capped"), col("cap"))), lit(0L)).as("csum"),
      coalesce(sum(when(col("capped"), lit(1L))), lit(0L)).as("np")))
    val alloc = when(col("capped"), col("cap").cast("double"))
      .otherwise(floor((col("bud") - col("csum")).cast("double") /
        greatest(col("k") - col("np"), lit(1L))))
    val rates = graft.core.Hints.broadcastIfSmall(
      annot.crossJoin(pivot)
        .select(col(strataCol),
          least(lit(1.0), alloc / col("n_s").cast("double")).as("rate")),
      nStrata)
    val u = conv(substring(sampleKey(salt), 1, 8), 16, 10).cast("long")
    docs.join(rates, Seq(strataCol))
      .filter(u < floor(col("rate") * 4294967296.0).cast("long"))
      .select(col("doc_id"), col(strataCol),
        (floor(col("rate") * 1e6 + 0.5) / 1e6).as("rate"))
      .orderBy("doc_id")
  }

  /** DSIR importance weights (Xie et al. 2023, unigram-feature form):
    * each document's log importance weight `Σ_w c_{d,w} · (ln p_t(w) −
    * ln q(w))` under add-1-smoothed unigram models of the TARGET slice
    * (`strataCol = targetVal`, e.g. curated-domain docs) versus the RAW
    * corpus, both smoothed over the raw corpus's joint vocabulary. Docs
    * that look like the target get high weights; data selection keeps
    * the top slice (see the `llm_dsir_select` query: a
    * TakeOrderedAndProject cut, never a global window).
    *
    * Cross-engine exactness: the per-TYPE log ratio is floored once to
    * 1e-6 micro-units on the vocab frame; per-doc weights are exact
    * BIGINT dot products `Σ c_{d,w} · ratio6(w)` — summation-order
    * independent, same discipline as [[TextOps.bm25]].
    *
    * Scale shape: two vocab-sized aggregates (map-side partials), one
    * size-gated broadcast join onto per-doc token counts (the exploded
    * corpus pre-aggregates to (doc, token, c) before joining, so the
    * join input is distinct-pairs, not raw occurrences), one hash agg
    * keyed on doc_id. */
  /** The (raw corpus, target corpus) token-count vocab frame shared by
    * the DSIR and KL families: `(tok, cq, ct)` over the raw
    * corpus's joint vocabulary (target counts left-joined, absent = 0),
    * a thunk for its row count, and the broadcast one-row totals
    * `(nq, nt, v)`. localCheckpoint'ed because every caller references
    * it at least twice (totals + per-type projection) — without it each
    * reference re-runs the corpus-scale token aggregates. The count is
    * a THUNK, not a value: only the DSIR caller needs it (for the
    * broadcast size gate), and an eager count would charge every KL
    * call an extra vocab-sized job it then discards. */
  private def vocabFrame(docs: DataFrame,
      targetDocs: DataFrame): (DataFrame, () => Long, DataFrame) = {
    val toks = split(col("text"), " ")
    val raw = docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cq"))
    val tgt = targetDocs
      .select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    // FULL outer: the joint vocabulary is the union of both corpora's
    // types. With a slice target this degenerates to the raw vocab
    // (slice tokens ⊆ raw — the oracle-checked case, values unchanged);
    // with an EXTERNAL target, target-only tokens must stay in the
    // frame and the nt/v totals, or exactly the strongest drift (new
    // vocabulary) would vanish from the KL sum and misnormalize p_t.
    val joined = raw.join(tgt, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("cq"), lit(0L)).as("cq"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .localCheckpoint()
    val st = broadcast(joined.agg(sum("cq").as("nq"), sum("ct").as("nt"),
      count(lit(1)).as("v")))
    (joined, () => joined.count(), st)
  }

  def dsirWeights(docs: DataFrame, strataCol: String = "lang",
      targetVal: String = "en", ordered: Boolean = true): DataFrame =
    dsirWeightsAgainst(docs, docs.filter(col(strataCol) === targetVal),
      ordered)

  /** [[dsirWeights]] with an EXTERNAL target corpus — the setup the
    * paper actually runs (target = a curated corpus like Wikipedia, not
    * a slice of the raw corpus). The slice form is this with
    * `target = docs.filter(strataCol === targetVal)`; both share one
    * implementation, so the slice-based oracle transfers. */
  def dsirWeightsAgainst(docs: DataFrame, targetDocs: DataFrame,
      ordered: Boolean = true): DataFrame = {
    val toks = split(col("text"), " ")
    val (joined, nVocabF, st) = vocabFrame(docs, targetDocs)
    // ratio6 = floor((ln p_t − ln q)·1e6 + ½) per token TYPE
    val ratio6 = floor((
      log((col("ct") + 1).cast("double") / (col("nt") + col("v") + 1)) -
        log((col("cq") + 1).cast("double") / (col("nq") + col("v") + 1)))
      * 1e6 + 0.5).cast("long")
    val ratios = graft.core.Hints.broadcastIfSmall(
      joined.crossJoin(st).select(col("tok"), ratio6.as("ratio6")), nVocabF())
    val out = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .join(ratios, Seq("tok")) // every scored token is in the joint vocab
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("ratio6")).as("s6"))
      .select(col("doc_id"), col("n_tokens"),
        TextOps.r4(col("s6").cast("double") / 1e6)
          .as("log_weight"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** The one place the split boundaries are derived: ascending
    * cumulative fractions floored into 2^32 units, one `(name,
    * threshold)` per non-last bucket (the last name is the ELSE arm).
    * Both [[splitExpr]] and the oracle replica
    * (`LlmQueries.splitSql`) consume THIS list, so the engine and the
    * oracle can never disagree on a boundary by a 2^-32 accumulation
    * difference. */
  private[graft] def splitThresholds(
      fractions: Seq[(String, Double)]): Seq[(String, Long)] = {
    val cums = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    fractions.init.zip(cums.init)
      .map { case ((nm, _), c) => nm -> math.floor(c * 4294967296.0).toLong }
  }

  /** The bucket-assignment Column behind [[splitAssign]] — exposed
    * within the object so compositions ([[exportTrainingSet]]) assign
    * splits in the same projection as their other columns instead of
    * paying an id-equi-join. */
  private def splitExpr(fractions: Seq[(String, Double)],
      salt: String): org.apache.spark.sql.Column = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      s"need non-empty positive fractions, got $fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    require(fractions.map(_._1).distinct.size == fractions.size,
      s"duplicate split names in $fractions")
    val u = conv(substring(sampleKey(salt), 1, 8), 16, 10).cast("long")
    // first match wins over the shared ascending thresholds
    splitThresholds(fractions)
      .foldRight(lit(fractions.last._1)) { case ((nm, t), acc) =>
        when(u < t, nm).otherwise(acc)
      }
  }

  /** Deterministic train/val/test assignment — the split every training
    * run needs pinned before anything else: each doc lands in exactly one
    * named bucket, chosen by the numeric value of its md5 sampling key
    * against cumulative `fractions` thresholds. Hash-based (not
    * row-number-based), so the assignment is stable under corpus
    * reordering, repartitioning, and incremental ingestion — a doc's
    * split never changes when its neighbors do.
    *
    * The last bucket is the catch-all (`otherwise`), so threshold
    * rounding can never drop a row. Expected (not exact) proportions —
    * the [[mixRate]] trade: the plan is a pure per-row projection, no
    * shuffle, no window, replicable in any engine with md5.
    */
  def splitAssign(docs: DataFrame,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "#split", ordered: Boolean = true): DataFrame = {
    val out = docs.select(col("doc_id"),
      splitExpr(fractions, salt).as("split"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Deterministic curriculum ordering for training export: each doc's
    * replicable [[shard]] plus its quality rank WITHIN the shard
    * (score4 desc, ties → doc_id) — the read order a quality-curriculum
    * sampler consumes shard-by-shard (easy/high-quality data first
    * within each shard, every shard independently ordered so readers
    * never coordinate). Output `(doc_id, shard, score4, ord)`.
    *
    * Scale shape: the shard and score are pure per-row projections; the
    * rank is ONE window per shard ([[pack]]'s discipline — a hash
    * exchange on `shard` + a per-partition sort, never a global
    * window), and the assignment is stable under repartitioning since
    * both shard and rank derive from (doc content, id) alone. */
  def curriculumOrder(docs: DataFrame, nShards: Int = 8,
      ordered: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(desc("score4"), asc("doc_id"))
    val out = docs.select(col("doc_id"),
        shardExpr(nShards, replicable = true, "#shard").as("shard"),
        TextOps.score4(TextOps.qualityLogit6Expr()).as("score4"))
      .withColumn("ord", row_number().over(w).cast("long"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Token-budget selection: keep the highest-quality documents whose
    * combined token count fits a training budget — "give me the best
    * N-token corpus" — the greedy cut over the quality-model ordering
    * (score desc, doc_id asc). A doc is kept iff the tokens of every
    * strictly-better doc total UNDER the budget, so exactly one doc may
    * straddle the boundary ([[pack]]'s bounded-overflow discipline,
    * which is what keeps the rule windowable). Output
    * `(doc_id, score4, n_tokens, kept)` for every doc.
    *
    * Scale shape: NO global window. The per-row projection (score4,
    * n_tokens) aggregates into a score-keyed histogram — bounded by the
    * 10001 possible score4 values, the Lloyd-centers driver-state
    * discipline — and the driver walks it best-first to find the one
    * score bucket where the cumulative token count crosses the budget.
    * Docs above the cut keep unconditionally, docs below drop
    * unconditionally (both pure per-row tests); ONLY the cut bucket's
    * docs pay a window (single-partition, bounded by one score value's
    * population — the corpus never sorts globally). The corpus is
    * scanned ONCE: the 24-byte (doc_id, score4, n_tokens) projection is
    * localCheckpoint'ed and reused by the histogram job and both output
    * branches (re-deriving it would run the partly-interpreted feature
    * pack three times).
    *
    * Skew bound: score4 is a sigmoid, so tail logits compress into few
    * score values and a quality-homogeneous corpus can land a LARGE
    * fraction of its docs in the single cut bucket. When the cut
    * bucket's population exceeds `maxCutWindow`, a SECOND driver-side
    * histogram walk splits it by doc_id range (up to 4096 equal-width
    * ranges — order-preserving, since the within-bucket tiebreak IS
    * doc_id asc): ranges before the crossing range keep, ranges after
    * drop, and only the one crossing range pays the single-partition
    * window — worst case ~1/4096 of the bucket instead of all of it. */
  def tokenBudgetSelect(docs: DataFrame, budget: Long,
      maxCutWindow: Long = 1L << 22): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    val scored = docs.select(col("doc_id"),
      TextOps.score4(TextOps.qualityLogit6Expr()).as("score4"),
      TextOps.nTokExpr.as("n_tokens"))
      .localCheckpoint()
    val hist = scored.groupBy("score4")
      .agg(sum("n_tokens").as("btoks"), count(lit(1)).as("ndocs"))
      .collect() // bounded: score4 has at most 10001 distinct values
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    // walk buckets best-first for the one where cumulative tokens cross
    var cum = 0L
    var cut = -1L
    var cutDocs = 0L
    var cumBefore = 0L
    val it = hist.iterator
    while (it.hasNext && cut < 0) {
      val (s4, t, nd) = it.next()
      if (cum + t >= budget) { cut = s4; cumBefore = cum; cutDocs = nd }
      cum += t
    }
    if (cut < 0) { // whole corpus fits the budget
      scored.withColumn("kept", lit(true)).orderBy("doc_id")
    } else {
      val win = org.apache.spark.sql.expressions.Window
        .orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val cutBucket0 = scored.filter(col("score4") === cut)
      val cutBucket = if (cutDocs <= maxCutWindow) {
        cutBucket0.withColumn("kept",
          coalesce(sum("n_tokens").over(win), lit(0L)) +
            lit(cumBefore) < budget)
      } else {
        // second histogram walk: split the oversized bucket by doc_id
        // range so only the crossing range windows (docstring)
        val mm = cutBucket0.agg(min("doc_id"), max("doc_id")).head()
        val lo = mm.getLong(0)
        val wd = math.max(1L, (mm.getLong(1) - lo) / 4096L + 1L)
        val sub = floor((col("doc_id") - lo) / wd).cast("long")
        val subHist = cutBucket0.groupBy(sub.as("sb"))
          .agg(sum("n_tokens").as("t"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var c = cumBefore
        var scut = -1L
        var cumBefore2 = 0L
        val sit = subHist.iterator
        while (sit.hasNext && scut < 0) {
          val (sb, t) = sit.next()
          if (c + t >= budget) { scut = sb; cumBefore2 = c }
          c += t
        }
        // scut >= 0: the bucket as a whole crosses the budget
        cutBucket0.filter(sub =!= scut)
          .withColumn("kept", sub < scut)
          .unionByName(cutBucket0.filter(sub === scut)
            .withColumn("kept",
              coalesce(sum("n_tokens").over(win), lit(0L)) +
                lit(cumBefore2) < budget))
      }
      scored.filter(col("score4") =!= cut)
        .withColumn("kept", col("score4") > cut)
        .unionByName(cutBucket)
        .orderBy("doc_id")
    }
  }

  /** End-to-end training-set materialization — the whole pre-training
    * data flow in one call: curate (quality ∧ language ∧ dedup-keep ∧
    * ¬boilerplate via [[TextOps.curate]]), assign the deterministic
    * train/val/test split and shard, and write JSONL laid out
    * `split=<s>/shard=<n>/` so a trainer reads one partition directory
    * as a unit.
    *
    * Scale shape: curate's one-scan-plus-keep-join produces the
    * survivor ids; the survivors rejoin their payload once (id
    * equi-join), and split + shard are assigned IN THE SAME projection
    * (no further joins — [[splitExpr]]/[[shardExpr]] are pure
    * expressions). The write repartitions on (split, shard) so each
    * task writes exactly one partition directory. */
  def exportTrainingSet(docs: DataFrame, path: String,
      minQuality: Double = 0.5, lang: String = "en",
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxDup3: Double = 1.0,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      nShards: Int = 8): Unit =
    exportAssigned(docs,
      TextOps.curate(docs, minQuality, lang, shingleSize,
        threshold, maxDup3).select("doc_id"),
      path, fractions, nShards)

  /** The export tail of [[exportTrainingSet]] with the kept set as an
    * input: rejoin the survivor ids to their payload once, assign
    * split + shard in the SAME projection, write partitioned JSONL.
    * Public so a pipeline with its own gate stack (e.g. curate →
    * decontaminate → semantic dedup) can feed its chained survivor
    * set straight into the standard layout. */
  def exportAssigned(docs: DataFrame, keptIds: DataFrame, path: String,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      nShards: Int = 8): Unit = {
    // the public contract must be robust to a survivor set that carries
    // duplicate doc_ids (e.g. a union of gate outputs): without distinct
    // the join would silently duplicate exported rows (r13 advice)
    val assigned = docs.join(keptIds.select("doc_id").distinct(),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        splitExpr(fractions, "#split").as("split"),
        shardExpr(nShards, replicable = false, "#shard").as("shard"))
    graft.sources.Writers.jsonl(
      assigned.repartition(col("split"), col("shard")),
      path, partitionBy = Seq("split", "shard"))
  }

  /** Corpus length diagnostics — the per-source token-count distribution
    * a pipeline checks before choosing packing budgets and context
    * windows: doc counts, mean, and exact interpolated percentiles
    * (p50/p90/p99) of the single-space token count. Percentiles use the
    * linear-interpolation definition (`pos = p·(n−1)`) that Spark's
    * `percentile` and ANSI `quantile_cont` share, so the oracle replays
    * them exactly.
    *
    * Scale shape: one scan; exact percentiles group-sort within each
    * source partition (map-side partial counts do not apply to exact
    * quantiles — that is the price of exactness; for a monitoring-only
    * number swap in `approx_percentile`, same output schema). The key
    * space is bounded (one row per source). */
  def lengthStats(docs: DataFrame): DataFrame = {
    import TextOps.r4
    docs.select(col("source"), TextOps.nTokExpr.as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        // mean as exact-bigint sum / count (not avg()) so both engines
        // divide identical integers
        r4(sum("n_tok").cast("double") / count(lit(1))).as("mean_tokens"),
        percentile(col("n_tok"), typedLit(Seq(0.5, 0.9, 0.99))).as("pct"))
      .select(col("source"), col("n_docs"), col("mean_tokens"),
        r4(col("pct").getItem(0)).as("p50_tokens"),
        r4(col("pct").getItem(1)).as("p90_tokens"),
        r4(col("pct").getItem(2)).as("p99_tokens"))
      .orderBy("source")
  }

  /** Unigram KL divergence `KL(target ‖ corpus)` — the mixture-design
    * diagnostic that quantifies how far a target slice's token
    * distribution sits from the raw corpus (the quantity DSIR importance
    * weights are log-ratios of; see [[dsirWeights]]). Both distributions
    * are add-1-smoothed over the raw corpus's joint vocabulary (the
    * [[dsirWeights]] smoothing convention), so every term is finite; the
    * sum runs over observed types (the smoothed unseen-type mass is
    * excluded, as in any finite-vocab KL estimate).
    *
    * Cross-engine exactness: each type's contribution
    * `p_t · (ln p_t − ln q)` floors ONCE to 1e-12 units on the vocab
    * frame; the corpus-wide total is an exact BIGINT sum — independent
    * of summation order, same discipline as [[dsirWeights]]' ratio6.
    *
    * Scale shape: two vocab-sized aggregates with map-side partials, a
    * bounded final aggregate over the vocab frame. The corpus is
    * scanned twice (raw + target slice) and never shuffled beyond the
    * token-keyed aggregation. */
  def tokenKl(docs: DataFrame, strataCol: String = "lang",
      targetVal: String = "en"): DataFrame =
    tokenKlAgainst(docs, docs.filter(col(strataCol) === targetVal))

  /** [[tokenKl]] with an EXTERNAL target corpus — corpus-drift
    * monitoring between two snapshots, or distance to a curated
    * reference corpus. Shares the slice form's implementation. */
  def tokenKlAgainst(docs: DataFrame, targetDocs: DataFrame): DataFrame = {
    val (joined, _, st) = vocabFrame(docs, targetDocs)
    val pt = (col("ct") + 1).cast("double") / (col("nt") + col("v") + 1)
    val pq = (col("cq") + 1).cast("double") / (col("nq") + col("v") + 1)
    val c12 = floor(pt * (log(pt) - log(pq)) * 1e12 + 0.5).cast("long")
    joined.crossJoin(st)
      .select(c12.as("c12"))
      .agg(count(lit(1)).as("n_vocab"), sum("c12").as("s12"))
      .select(col("n_vocab"),
        (floor(col("s12").cast("double") / 1e12 * 1e6 + 0.5) / 1e6).as("kl"))
  }

  /** Per-source duplication rates — the corpus-health readout that tells
    * a pipeline WHICH ingestion sources are dirty: every doc joins the
    * near-dup keep decision ([[Dedup.dedupGroups]]; docs outside any dup
    * pair keep themselves), and each source reports its doc count, loser
    * count, and duplicate rate.
    *
    * Scale shape: the dedup machinery is the verified banded pipeline
    * (ids-only candidates); the accounting adds one left equi-join on
    * doc_id and a bounded per-source aggregate with map-side partials. */
  def dedupRateBySource(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val isDup = col("keep_id").isNotNull && col("keep_id") =!= col("doc_id")
    docs.select(col("doc_id"), col("source"))
      .join(Dedup.dedupGroups(docs, shingleSize, threshold),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(isDup, 1L).otherwise(0L)), lit(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        TextOps.r4(col("n_dups").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy("source")
  }

  /** Shuffle-free rate-based mixing sample: keep a doc iff the first 8
    * hex chars of its sampling key fall under the stratum's rate
    * threshold. Expected (not exact) per-stratum proportions, but the
    * plan is a pure per-row filter — no exchange, no window — so it is
    * the 100 TB path. Deterministic and engine-replicable like
    * [[mixQuota]]. */
  def mixRate(docs: DataFrame, strataCol: String = "lang",
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 0.5, salt: String = "#mix",
      ordered: Boolean = true): DataFrame = {
    def thresholdHex(r: Double): String =
      if (r >= 1.0) "g" // sorts above every hex char: keep all
      else f"${math.max(0L, (r * 0x100000000L).toLong)}%08x"
    val thr = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(thresholdHex(v))).otherwise(acc)
    }
    val out = docs.filter(substring(sampleKey(salt), 1, 8) < thr)
      .select(col("doc_id"), col(strataCol))
    // ordered=false keeps the filter streaming-composable (a sort is
    // illegal in an append-mode stream; the sampler itself is stateless)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Cross-source duplication matrix — which sources copy from which:
    * every verified near-dup pair ([[Dedup.nearDupPairs]]) maps to its
    * (source, source) pair, reported undirected (lexicographically
    * ordered) with pair counts. The curation diagnostic behind
    * source-level dedup decisions: a heavy off-diagonal cell means two
    * feeds mirror each other and one can be dropped wholesale.
    *
    * Scale shape: the LSH pair machinery bounds everything upstream;
    * this adds two id-keyed joins against an ids+source projection and
    * one hash agg over a (sources²)-bounded key space. */
  def sourceOverlap(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.nearDupPairs(docs, shingleSize, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Per-doc n-gram novelty — the fraction of a doc's distinct n-grams
    * whose FIRST corpus occurrence (minimum doc_id) is that doc. Low
    * novelty marks template/boilerplate-heavy documents that n-gram
    * Jaccard misses when the copying is diffuse (many sources, no
    * single near-dup partner); the memorization-risk screen run next
    * to span-level dup stats.
    *
    * Scale shape: same as [[contamination]] — one explode to distinct
    * per-doc n-grams, one gram-keyed hash agg for first occurrence
    * (map-side partial min), one gram-keyed equi-join carrying ids
    * only, one doc-keyed agg. Nothing pair-proportional. */
  /** N-gram novelty against an EXTERNAL reference corpus — the ingest
    * diagnostic ("how much genuinely new material does this batch
    * add?") the within-corpus [[ngramNovelty]] cannot express: each
    * doc's distinct n-grams probe the reference's DISTINCT gram set,
    * novelty = the unseen fraction. The deployment shape of every
    * `Against` sibling ([[TextOps.perplexityAgainst]],
    * [[tokenKlAgainst]], [[bloomDecontaminateAgainst]]).
    *
    * Scale shape: the reference reduces to distinct gram keys with
    * map-side partials BEFORE anything joins (the contamination
    * discipline, direction flipped); the probe is a gram equi-join
    * carrying doc ids only; the rollup is a doc-keyed hash agg. */
  def ngramNoveltyAgainst(docs: DataFrame, refDocs: DataFrame,
      n: Int = 3, hashKeys: Boolean = false): DataFrame = {
    // hashKeys: probe on 8-byte xxhash64 keys instead of gram strings
    // (the contamination/decontaminate discipline) — at 100 TB the
    // reference gram set and the join exchange shrink ~an order of
    // magnitude; a collision only ever marks a novel gram as seen
    def key(c: org.apache.spark.sql.Column) =
      if (hashKeys) xxhash64(c) else c
    // gram explode EXPANDS corpus-scale (one row per gram): fan the doc
    // side out so the explode + shuffle write use the whole machine
    // (measured at ×30: 10.8 → 3.8 s; ≥2 MB floor so the exchange's
    // fixed cost never shows at tiny corpora)
    val g = Dedup.withShingleSets(Dedup.fanOut(docs, 2L << 20), n)
      .select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .select(col("doc_id"), key(col("g")).as("g"))
    val ref = Dedup.withShingleSets(Dedup.fanOut(refDocs, 2L << 20), n)
      .select(explode(col("shingle_set")).as("g"))
      .select(key(col("g")).as("g")).distinct()
      .withColumn("seen", lit(1))
    g.join(ref, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_ngrams"), col("n_new"),
        TextOps.r4(col("n_new").cast("double") / col("n_ngrams"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  def ngramNovelty(docs: DataFrame, n: Int = 3,
      hashKeys: Boolean = false): DataFrame = {
    // hashKeys mirrors [[ngramNoveltyAgainst]]: the first-occurrence
    // agg and the probe join key on 8-byte xxhash64 values instead of
    // gram strings (a collision merges two grams' first occurrence —
    // bounded by |G|²/2⁶⁵ like every hashed-key sibling)
    def key(c: org.apache.spark.sql.Column) =
      if (hashKeys) xxhash64(c) else c
    // same corpus-scale gram expansion as [[ngramNoveltyAgainst]]
    val g = Dedup.withShingleSets(Dedup.fanOut(docs, 2L << 20), n)
      .select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .select(col("doc_id"), key(col("g")).as("g"))
    val first = g.groupBy("g").agg(min("doc_id").as("first_id"))
    g.join(first, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("doc_id"), col("n_ngrams"), col("n_new"),
        TextOps.r4(col("n_new").cast("double") / col("n_ngrams"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** Quality-score calibration histogram: corpus share per decile (or
    * `buckets`-ile) of [[TextOps.quality]] — the threshold-picking
    * diagnostic behind every `quality >= x` gate. Bucketing runs on
    * the score's EXACT 1e-4 integer form (`q4 div (10000/buckets)`),
    * so no float boundary can disagree across engines.
    *
    * Scale shape: per-row projection + one hash agg over ≤ `buckets`
    * keys; the share divides by the total via a window on the
    * bucket-bounded aggregate frame, never the corpus. */
  def qualityCalibration(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets > 0 && 10000 % buckets == 0,
      s"buckets must divide 10000, got $buckets")
    val q4 = floor(TextOps.qualityScoreExpr * 10000 + 0.5).cast("long")
    // q4 is a nonneg integer ≤ 10000 and exact bucket multiples are
    // exactly representable doubles, so floor(q4 / width) never crosses
    // an integer boundary — identical to DuckDB's `//` integer division
    val bucket = least(
      floor(q4 / lit((10000 / buckets).toDouble)).cast("long"),
      lit((buckets - 1).toLong)).as("bucket")
    val agged = docs.select(bucket).groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // ≤ buckets rows — single partition is the point
    agged
      .select(col("bucket"), col("n_docs"),
        TextOps.r4(col("n_docs").cast("double") / sum("n_docs").over(w))
          .as("share"))
      .orderBy("bucket")
  }

  /** Second independent 60-bit sha256 hash (hex chars 16–30) — pairs
    * with [[Dedup.sha2TokenHash]] (chars 1–15) for the
    * Kirsch–Mitzenmacher double-hashing scheme in
    * [[bloomDecontaminate]]. Engine-replicable like its sibling. */
  private def sha2TokenHash2(t: org.apache.spark.sql.Column) =
    conv(substring(sha2(t, 256), 16, 15), 16, 10).cast("long")

  /** [[decontaminate]] through a replicable Bloom filter — the shape
    * that survives an eval set too large to broadcast raw: the eval
    * split's distinct n-grams compress into an `mBits`-bit Bloom
    * bitmap (built with a corpus-side bit_or aggregate, collected as
    * `⌈mBits/63⌉` longs — 63-bit words so no replicating engine ever
    * evaluates a checked `1 << 63`; driver state bounded by
    * construction, the Lloyd-center discipline), and the train corpus
    * probes it as a
    * PURE PER-ROW projection against the literal bitmap: no join, no
    * shuffle of corpus n-grams at all; the only exchange left is the
    * doc-keyed final aggregate.
    *
    * One-sided by construction: a Bloom filter has no false negatives,
    * so `n_maybe >= ` the exact [[decontaminate]] `n_hit` per doc and
    * `dropped` is a SUPERSET of the exact screen's (the safe direction
    * — contaminated docs can never slip through; the false-positive
    * rate `(1 - e^(-k·n/m))^k` over-drops a bounded sliver). Hashing
    * is the replicable sha256 double-hash family, so the bitmap and
    * every probe replay exactly in any engine — the full output is
    * oracle-checkable despite being an approximation of the exact op.
    *
    * NOTE on `mBits`: this slice form keeps the FIXED `1 << 16` default
    * only to preserve the pinned-oracle shape (the llm_decontaminate_
    * bloom oracle replays that exact bitmap); a fixed-size filter
    * SATURATES on a large eval slice and silently drops the whole
    * corpus (the ×30 rehearsal failure, SCALE_r13 §4). Scale callers
    * must pass `mBits = 0` — adaptive sizing from the eval corpus, the
    * default on [[bloomDecontaminateAgainst]] and the streaming form. */
  def bloomDecontaminate(docs: DataFrame, n: Int = 3, evalMod: Int = 10,
      evalRem: Int = 7, maxOverlap: Double = 0.5,
      mBits: Int = 1 << 16, numHashes: Int = 4): DataFrame =
    bloomDecontaminateAgainst(
      docs.filter(col("doc_id") % evalMod =!= evalRem),
      docs.filter(col("doc_id") % evalMod === evalRem),
      n, maxOverlap, mBits, numHashes)

  /** [[bloomDecontaminate]] with an EXTERNAL eval corpus — the
    * deployment shape (benchmarks live in their own tables, not in an
    * id-modulo slice of the training corpus). The slice form delegates
    * here, so the oracle-checked path and this one share every line.
    * Default `mBits = 0` = adaptive sizing (see [[bloomBuild]]) — at
    * deployment the eval-set size is not known at call-site-authoring
    * time, and a saturated filter silently drops the whole corpus. */
  def bloomDecontaminateAgainst(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int = 3, maxOverlap: Double = 0.5,
      mBits: Int = 0, numHashes: Int = 4): DataFrame =
    bloomScreen(trainDocs, evalDocs, n, maxOverlap, mBits, numHashes)
      .orderBy("doc_id")

  /** [[bloomDecontaminateAgainst]] without the presentation sort, for
    * callers that materialize the screened set (the curation chain). */
  private[llm] def bloomScreen(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int, maxOverlap: Double, mBits: Int,
      numHashes: Int): DataFrame = {
    val (bitmap, m) = bloomBuild(evalDocs, n, mBits, numHashes)
    val bm = typedlit(bitmap.toSeq)
    // probe: per-row, codegen'd — k unrolled literal-array lookups
    val hit = bloomHitExpr(bm, m, numHashes)(col("g"))
    Dedup.withShingleSets(trainDocs, n)
      .select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .withColumn("hit", when(hit, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), sum("hit").as("n_maybe"))
      .select(col("doc_id"), col("n_ngrams"), col("n_maybe"),
        TextOps.r4(col("n_maybe").cast("double") / col("n_ngrams"))
          .as("overlap_ub"))
      .withColumn("dropped", col("overlap_ub") >= maxOverlap)
  }

  /** Duplicate-family size histogram: how many near-dup groups
    * ([[Dedup.dedupGroups]]) exist at each family size — the dedup-ROI
    * diagnostic (a corpus dominated by size-2 families dedups very
    * differently from one with thousand-doc template families, where
    * group-keep removes (size−1)/size of the bytes).
    *
    * Scale shape: the pair machinery bounds everything upstream; this
    * adds two hash aggs over the (families)-bounded keep frame. */
  def dupGroupSizes(docs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame =
    Dedup.dedupGroups(docs, shingleSize, threshold)
      .groupBy("keep_id").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .orderBy("group_size")

  /** Embedding-drift monitor — the distribution-shift diagnostic a
    * continuously-ingested corpus needs: per event-time window, the
    * cosine drift `1 − cos(window centroid, corpus centroid)` of the
    * hashing-trick embeddings ([[TextOps.featurize]]). A spike marks a
    * window whose content distribution moved (a new crawl source, a
    * language flip, spam floods) long before token-level stats react.
    *
    * Cross-engine exactness: embedding components re-floor to exact
    * 1e-4-unit BIGINTs; window and corpus centroids are then integer
    * per-dimension SUMS (cosine is scale-invariant, so the division by
    * n never happens) and the one cosine per window evaluates the same
    * left-to-right double expression in any engine.
    *
    * Scale shape: featurize's doc-keyed aggregate, one (window)-keyed
    * hash agg with 16 integer partial sums, a single-row global
    * aggregate broadcast back, and one cosine per window row. */
  def driftWindows(docs: DataFrame, dim: Int = 16): DataFrame = {
    val f = TextOps.featurize(docs, dim, ordered = false)
    val e4 = transform(col("embedding"),
      x => floor(x * 10000 + 0.5).cast("long"))
    val rows = docs.select(col("doc_id"), col("ts"))
      .join(f, Seq("doc_id"))
      .select(col("ts"), e4.as("e4"))
    val sums = (0 until dim).map(i =>
      sum(element_at(col("e4"), i + 1)).as(s"s$i"))
    val aggCols = count(lit(1)).as("n_docs") +: sums
    val w = rows.groupBy(window(col("ts"), "10 minutes"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("window.start").as("window_start") +: col("n_docs") +:
        (0 until dim).map(i => col(s"s$i")): _*)
    val g = broadcast(w.agg(
      (0 until dim).map(i => sum(col(s"s$i")).as(s"g$i")).head,
      (0 until dim).map(i => sum(col(s"s$i")).as(s"g$i")).tail: _*))
    // products in DOUBLE: integer squares of corpus-level sums overflow
    // int64 past ~3e5 docs (ANSI = runtime error); the fixed
    // left-to-right double tree evaluates identically in any engine
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dot = (0 until dim).map(i => d(col(s"s$i")) * d(col(s"g$i")))
      .reduce(_ + _)
    val nw = (0 until dim).map(i => d(col(s"s$i")) * d(col(s"s$i")))
      .reduce(_ + _)
    val ng = (0 until dim).map(i => d(col(s"g$i")) * d(col(s"g$i")))
      .reduce(_ + _)
    w.crossJoin(g)
      .select(col("window_start"), col("n_docs"),
        when(nw === 0 || ng === 0, lit(null).cast("double"))
          .otherwise(TextOps.r4(lit(1.0) - dot / (sqrt(nw) * sqrt(ng))))
          .as("drift"))
      .orderBy("window_start")
  }

  /** Builds the `⌈m/63⌉`-word Bloom bitmap over the distinct token
    * n-grams of `evalDocs`: k double-hash positions per gram, word-
    * indexed bit_or aggregate, collected driver-side (bounded by `m`,
    * never by the corpus). Returns (bitmap, resolved m).
    *
    * `mBits = 0` sizes the filter FROM the eval corpus: the smallest
    * power of two ≥ 10 bits per distinct n-gram (k = 4 → ~1.2% FPR),
    * clamped to [2^16, 2^26]. A fixed 2^16 saturates once the eval set
    * carries more than ~6.5k distinct grams — the ×30 pipeline
    * rehearsal measured fill ratio → 1 and every probe reading "maybe"
    * (26,025 survivors → 3), the one-sided guarantee collapsing to
    * drop-everything. The clamp floor keeps small-eval behavior (every
    * pinned oracle and spec fixture) bit-identical to the old fixed
    * default. */
  private[graft] def bloomBuild(evalDocs: DataFrame, n: Int,
      mBits: Int, numHashes: Int): (Array[Long], Int) = {
    require(mBits == 0 || (mBits >= 64 && mBits <= (1 << 26)),
      s"need mBits = 0 (adaptive) or 64 <= mBits <= 2^26, got $mBits")
    require(numHashes > 0 && numHashes <= 16,
      s"need 0 < numHashes <= 16, got $numHashes")
    val (grams, nGrams) = graft.core.Observed.checkpointCounted(
      Dedup.withShingleSets(evalDocs, n)
        .select(explode(col("shingle_set")).as("g")).distinct())
    val m =
      if (mBits > 0) mBits
      else {
        var mm = 1 << 16
        while (mm < (1 << 26) && mm < 10L * nGrams) mm <<= 1
        mm
      }
    val h1 = pmod(Dedup.sha2TokenHash(col("g")), lit(m.toLong))
    val h2 = pmod(sha2TokenHash2(col("g")), lit(m.toLong))
    val posRows = grams
      .select(h1.as("h1"), h2.as("h2"))
      .select(explode(sequence(lit(0L), lit(numHashes - 1L))).as("s"),
        col("h1"), col("h2"))
      .select(((col("h1") + col("s") * col("h2")) % m).as("pos"))
      // 63-bit words (sign bit unused): an engine with CHECKED shift
      // arithmetic (DuckDB) rejects 1 << 63, so the replicable layout
      // never touches it
      .select(expr("CAST(pos DIV 63 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("bits"))
      .collect()
    val bitmap = new Array[Long]((m + 62) / 63)
    posRows.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    (bitmap, m)
  }

  /** All-k-bits-set membership test for one n-gram column against the
    * literal bitmap — pure column expressions (ShiftRight via
    * `call_function`, so the shift amount can be a column), usable both
    * on an exploded gram column (codegen'd, the batch path) and inside
    * a HOF lambda (interpreted, the per-row streaming path). The
    * integer-boundary safety of `pos / 63.0`: pos < 2^26 and exact
    * multiples of 63 are exactly representable, so the correctly-
    * rounded division never crosses an integer boundary. */
  private[graft] def bloomHitExpr(bm: org.apache.spark.sql.Column,
      mBits: Int, numHashes: Int)(
      g: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h1 = pmod(Dedup.sha2TokenHash(g), lit(mBits.toLong))
    val h2 = pmod(sha2TokenHash2(g), lit(mBits.toLong))
    (0 until numHashes).map { s =>
      val pos = (h1 + lit(s.toLong) * h2) % mBits
      val word = element_at(bm, (pos / lit(63.0)).cast("int") + 1)
      call_function("shiftright", word, (pos % 63).cast("int"))
        .bitwiseAND(lit(1L)) === 1
    }.reduce(_ && _)
  }
}
