package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * stats, quality scoring, language ID, BPE-ish token counting, and
  * document fingerprinting.
  *
  * Everything here is built from codegen'd built-in expressions and
  * higher-order functions — no UDFs — so the whole stage stays inside
  * WholeStageCodegen and distributes embarrassingly (per-row, no shuffle).
  * The per-row curation gates ([[gates]]) evaluate through a native
  * kernel instead when the session carries GraftExtensions.
  * The reference's closest machinery is its tokenize-then-aggregate IDF
  * path (`ml/IDFRunner.scala:102-111`); these operators generalize that
  * per-document feature extraction.
  */
object TextOps {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** The single-space token count `len(text) − len(no-spaces) + 1` —
    * ONE definition for the formula every oracle replays with pure
    * string functions ([[stats]], rollups, packing, the streaming
    * monitor); five inlined copies previously risked drifting one
    * operator away from its oracle-checked twins. */
  private[graft] def nTokExpr: Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("long")

  /** 4-decimal floor-rounding — the cross-engine-canonical form the
    * DuckDB oracles replicate exactly (Spark ROUND ≠ DuckDB ROUND).
    * Shared across the engine so the convention has ONE definition
    * (CorpusOps ratio columns and the streaming jaccard use it too). */
  private[graft] def r4(c: Column) = floor(c * 10000 + 0.5) / 10000

  /** Deterministic per-document stats. The token count is defined by the
    * single-space formula (len - len(no-spaces) + 1) so the SQL oracle can
    * reproduce it with pure string functions in any dialect. */
  def stats(docs: DataFrame): DataFrame = {
    val nWs = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTokExpr.as("n_tokens"),
      (floor((length(col("text")) - nWs).cast("double") / (nWs + 1) * 10000 + 0.5) / 10000)
        .as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** The stopword list of the quality score's stopword ratio. */
  private[graft] val qualityStopwords =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Heuristic quality features — unique-token ratio, alphabetic-
    * character ratio, mean token length, stopword ratio, the standard
    * cheap pre-training quality filters — as a (uniqRatio, alphaRatio,
    * meanTokenLen, stopwordRatio) expression pack over an unresolved
    * `text` column, shared by [[quality]], [[qualityScoreExpr]] and
    * [[qualityLogit6Expr]]. */
  private def qualityParts: (Column, Column, Column, Column) = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val stop = typedLit(qualityStopwords)
    val uniqRatio = size(array_distinct(toks)).cast("double") / n
    val alphaRatio = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double") / greatest(length(col("text")), lit(1))
    val meanLen = (length(col("text")) - (n - 1)).cast("double") / n
    val stopRatio = size(filter(toks, t => array_contains(stop, t)))
      .cast("double") / n
    (uniqRatio, alphaRatio, meanLen, stopRatio)
  }

  /** The blended quality score in [0,1], rounded — identical to the
    * `quality` column of [[quality]]. */
  private[graft] def qualityScoreExpr: Column = {
    val (uniqRatio, alphaRatio, _, stopRatio) = qualityParts
    r4(least(lit(1.0),
      uniqRatio * 0.4 + alphaRatio * 0.4 + least(stopRatio * 4, lit(1.0)) * 0.2))
  }

  def quality(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    val (uniqRatio, alphaRatio, meanLen, stopRatio) = qualityParts
    val out = docs.select(
      col("doc_id"),
      r4(uniqRatio).as("uniq_ratio"),
      r4(alphaRatio).as("alpha_ratio"),
      r4(meanLen).as("mean_token_len"),
      r4(stopRatio).as("stopword_ratio"),
      // quality = blended score in [0,1]: penalize dup-heavy or
      // non-alphabetic or stopword-free (keyword-spam-like) text.
      qualityScoreExpr.as("quality"))
    // ordered=false keeps the projection streaming-composable (a sort is
    // illegal in an append-mode stream; the op itself is stateless)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** The quality-model logit floored ONCE to 1e-6 micro-units (an exact
    * BIGINT) — the shared core of [[qualityModel]] and the selection
    * ops that rank on its score ([[Dedup.dedupKeepBest]],
    * `CorpusOps.tokenBudgetSelect`). */
  private[llm] def qualityLogit6Expr(bias: Double = -4.0,
      wUniq: Double = 2.0, wAlpha: Double = 4.0, wStop: Double = 3.0,
      wLen: Double = 0.5): Column = {
    val (uniqRatio, alphaRatio, meanLen, stopRatio) = qualityParts
    floor((lit(bias) + uniqRatio * wUniq + alphaRatio * wAlpha +
      stopRatio * wStop + meanLen * wLen) * 1e6 + 0.5).cast("long")
  }

  /** 1e-4-integer sigmoid of a micro-unit logit — the exact ordering /
    * argmax key the selection ops sort on (the rounded double `score`
    * column of [[qualityModel]] could round-trip off by one ulp). */
  private[llm] def score4(logit6: Column): Column =
    floor(lit(1.0) / (lit(1.0) +
      exp(-(logit6.cast("double") / 1e6))) * 1e4 + 0.5).cast("long")

  /** Model-based quality filter — the GPT-3/CCNet-style classifier gate:
    * a logistic model over the [[quality]] feature pack scores each doc
    * and `keep = score >= threshold` is the filter decision. The weights
    * default to a hand-set separator over the heuristic features (in
    * production they come from a fit against labeled data — e.g. the
    * library's own LogisticRegression, SURVEY §2.B3 — but scoring, the
    * 100 TB-side operation, is exactly this per-row projection either
    * way).
    *
    * Cross-engine exactness: the logit is floored ONCE to 1e-6
    * micro-units (`logit6`, an exact BIGINT), so both engines
    * exponentiate bit-identical doubles; the score then rounds to 4
    * decimals like every ratio column ([[quality]] discipline, same
    * stabilized-exp convention as [[perplexity]]).
    *
    * Scale shape: pure per-row codegen'd projection — no shuffle, no
    * state; composes with [[curate]]'s id-equi-join pattern. */
  def qualityModel(docs: DataFrame, bias: Double = -4.0,
      wUniq: Double = 2.0, wAlpha: Double = 4.0, wStop: Double = 3.0,
      wLen: Double = 0.5, threshold: Double = 0.5,
      ordered: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"need 0 < threshold < 1, got $threshold")
    val logit6 = qualityLogit6Expr(bias, wUniq, wAlpha, wStop, wLen)
    // staged projections: the (partly interpreted) feature pack
    // evaluates ONCE into logit6; score and keep derive from the
    // materialized columns (single-reference rule)
    val out = docs
      .select(col("doc_id"), logit6.as("logit6"))
      .select(col("doc_id"), col("logit6"),
        r4(lit(1.0) / (lit(1.0) +
          exp(-(col("logit6").cast("double") / 1e6)))).as("score"))
      .select(col("doc_id"), col("logit6"), col("score"),
        (col("score") >= threshold).as("keep"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Hashing-trick text featurization (feature hashing, Weinberger et
    * al. 2009): each token hashes to one of `dim` buckets with a ±1
    * sign, the signed counts are L2-normalized, and the result is a
    * dense embedding computed from NOTHING but the text — the
    * from-text on-ramp to the ANN / semantic-dedup family
    * ([[Similarity.bruteForceTopK]], [[Similarity.semDedup]], …) when
    * no external embedding model is in the loop.
    *
    * Hashes derive from sha2-256 ([[Dedup.sha2TokenHash]]: bucket =
    * h mod dim, sign = bit 30 of h), so any engine replays the exact
    * vectors. Components round to 4 decimals after the one sqrt —
    * norm² is an exact integer sum, so both engines root identical
    * doubles.
    *
    * Scale shape: explode + dim-column codegen'd hash aggregate with
    * map-side partials — the [[Dedup.simHash]] design: the interpreted
    * per-row lambda form measured ~3× slower end-to-end (nested HOF
    * lambdas pay a per-invocation interpretation cost; the signed
    * bucket sums here are straight codegen). One doc_id-keyed shuffle
    * of (int, long) pairs; normalization is per-row off the assembled
    * vector, referenced once per the single-reference rule. dim caps
    * at 1024: the aggregate is one column per dimension, and past
    * `spark.sql.codegen.maxFields` (default 100) whole-stage fusion
    * falls back to per-expression codegen — still compiled, but plans
    * in the thousands of columns only add planner cost. */
  def featurize(docs: DataFrame, dim: Int = 16,
      ordered: Boolean = true): DataFrame = {
    require(dim > 0 && dim <= 1024, s"need 0 < dim <= 1024, got $dim")
    val exploded = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Dedup.sha2TokenHash(col("tok")).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(dim)).cast("int").as("i"),
        when(shiftright(col("h"), 30).bitwiseAND(1) === 0, 1L)
          .otherwise(-1L).as("s"))
    val sums = (0 until dim).map(i =>
      sum(when(col("i") === i, col("s")).otherwise(0L)).as(s"v$i"))
    val out = exploded.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        array((0 until dim).map(i => col(s"v$i")): _*).as("v"))
      .select(col("doc_id"), col("v"),
        sqrt(aggregate(col("v"), lit(0L), (a, x) => a + x * x)
          .cast("double")).as("nrm"))
      .select(col("doc_id"),
        when(col("nrm") === 0, transform(col("v"), _ => lit(0.0)))
          .otherwise(transform(col("v"), x =>
            floor(x.cast("double") / col("nrm") * 10000 + 0.5) / 10000))
          .as("embedding"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Per-row twin of [[featurize]] — the same hashing-trick embedding
    * as a single Column over `text`, with no doc-keyed aggregate, so it
    * composes into append-mode STREAMING plans (the [[minHashPerRow]]
    * pattern). Value-identical by construction: the per-slot sums are
    * integer and commutative, and the norm/rounding chain reuses the
    * exact expressions of the batch path. Cost is O(dim·|tokens|)
    * interpreted lambda steps per row — right for ingest micro-batches;
    * corpus-scale featurization keeps the codegen'd aggregate. */
  private[graft] def featurizePerRow(dim: Int = 16): Column = {
    require(dim > 0 && dim <= 1024, s"need 0 < dim <= 1024, got $dim")
    val hl = transform(tokens(col("text")), t => Dedup.sha2TokenHash(t))
    def sign(h: Column) =
      when(shiftright(h, 30).bitwiseAND(1) === 0, 1L).otherwise(-1L)
    val v = aggregate(hl, array_repeat(lit(0L), dim),
      (acc, h) => transform(acc, (x, i) =>
        x + when(pmod(h, lit(dim)).cast("int") === i, sign(h))
          .otherwise(0L)))
    val nrm = sqrt(aggregate(v, lit(0L), (a, x) => a + x * x).cast("double"))
    when(nrm === 0, transform(v, _ => lit(0.0)))
      .otherwise(transform(v, x =>
        floor(x.cast("double") / nrm * 10000 + 0.5) / 10000))
  }

  private[graft] val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "you", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "mit", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "es", "por"),
    "fr" -> Seq("le", "les", "et", "une", "est", "que", "pour", "dans", "il", "au"))

  /** Stopword/character-class language ID (en/de/es/fr + CJK → zh) as a
    * (pred_lang, confidence) expression pair over an unresolved `text`
    * column, shared by [[langId]] and the declarative [[curate]] gates.
    * Scores = stopword hit-rate per language; CJK characters dominate.
    * Deterministic argmax with 'und' (undetermined) when nothing
    * matches. */
  private[llm] def langIdExprs: (Column, Column) = {
    val toks = tokens(lower(col("text")))
    val nTok = greatest(size(toks), lit(1))
    val hits = langStopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
      val arr = typedLit(ws)
      l -> (size(filter(toks, t => array_contains(arr, t))).cast("double") / nTok)
    }
    val cjkRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", "")))
      .cast("double") / greatest(length(col("text")), lit(1))
    val best = hits.map(_._2).reduce(greatest(_, _))
    val pick = hits.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, l).otherwise(acc)
    }
    (when(cjkRatio > 0.25, "zh").otherwise(pick),
      r4(greatest(cjkRatio, best)))
  }

  def langId(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    val (predLang, confidence) = langIdExprs
    val out = docs.select(
      col("doc_id"), predLang.as("pred_lang"), confidence.as("confidence"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks — the usual cheap proxy for LLM token budgeting. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("bpe_tokens"))
      .orderBy("doc_id")

  /** Rolling-hash document fingerprint: rotate-left-1 XOR fold over
    * per-token hashes. Order-sensitive (unlike a token-set hash) and
    * ANSI-safe (bit ops only, no overflowing arithmetic). `tokenHash`
    * defaults to xxhash64; pass [[Dedup.sha2TokenHash]] for a
    * cross-engine-replicable fingerprint. */
  def fingerprint(docs: DataFrame,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val hashes = transform(tokens(col("text")), t => tokenHash(t))
    val fp = aggregate(hashes, lit(0L), (acc, h) =>
      shiftleft(acc, 1).bitwiseOR(shiftrightunsigned(acc, 63)).bitwiseXOR(h))
    docs.select(col("doc_id"), fp.as("fingerprint")).orderBy("doc_id")
  }

  /** All n-grams of a token array in order, duplicates kept (unlike
    * [[Dedup.shingles]], which distincts) — repetition measurement needs
    * the raw multiplicity. Empty array when the doc is shorter than n. */
  private[llm] def gramsAll(toks: Column, n: Int): Column =
    // array_join(slice(...)) evaluates `toks` ONCE per gram; the former
    // concat_ws over n element_at calls re-evaluated the whole toks
    // expression n times per gram inside the interpreted lambda — 20x
    // the tokenize cost at span widths (identical output: split yields
    // no nulls, and array_join == concat_ws on null-free string arrays)
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i.cast("int"), lit(n)), " ")))

  /** `1 - distinct/total` duplicate fraction of an array, 0 when empty,
    * with the total supplied in CLOSED FORM: the k-grams of an n-token
    * array number exactly n − k + 1, so the empty-guard and the
    * denominator are cheap integer arithmetic on `size(tokens)` and the
    * expensive gram array is referenced exactly once. This matters
    * because higher-order-function lambdas are interpreted, not
    * codegen'd, and every extra Column reference re-evaluates the whole
    * chain — the previous `size(arr)`-based form referenced the gram
    * build three times (guard, distinct, total), which made the
    * strict-curation filter ~3× the cost of the gram build itself
    * (measured 8.4 s → ~3 s at sf0.1). */
  private def dupRatioClosed(arr: Column, total: Column): Column =
    when(total <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(arr)).cast("double") / total)

  /** Rounded duplicate-3-gram fraction — identical to the
    * `dup_3gram_ratio` column of [[repetition]]; shared with the
    * declarative [[curate]] gates. */
  private[llm] def dup3RatioExpr: Column =
    r4(dupRatioClosed(gramsAll(tokens(col("text")), 3),
      size(tokens(col("text"))) - 2))

  /** Within-document repetition ratios — the Gopher-style repetitive-text
    * filters (duplicate-token fraction, duplicate 2-gram / 3-gram
    * fraction). `1 - distinct/total` per granularity; a doc whose 3-grams
    * are mostly repeats of each other is boilerplate or spam. Pure
    * per-row codegen'd HOFs: no shuffle, embarrassingly parallel at any
    * scale. */
  def repetition(docs: DataFrame, flagThreshold: Double = 0.5): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val dupTok = dupRatioClosed(toks, n)
    val dup2 = dupRatioClosed(gramsAll(toks, 2), n - 1)
    val dup3 = dupRatioClosed(gramsAll(toks, 3), n - 2)
    docs.select(
      col("doc_id"),
      r4(dupTok).as("dup_token_ratio"),
      r4(dup2).as("dup_2gram_ratio"),
      r4(dup3).as("dup_3gram_ratio"),
      (dup3 > flagThreshold).as("repetitive"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by [[piiRedact]] and its oracle: kept to syntax
    * both java.util.regex and RE2 interpret identically (no lookaround,
    * no backrefs). Replacement order = listing order; counts are taken on
    * the original text. */
  private[llm] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}", "<PHONE>"))

  /** PII redaction for corpus preparation: masks emails, IPv4 addresses,
    * SSN-shaped ids, and +CC-prefixed phone numbers with typed tokens and
    * reports per-type match counts. regexp_replace/regexp_extract_all are
    * codegen'd string expressions — per-row, zero shuffle, so the pass
    * costs one scan of the corpus at any scale. Counts are computed on
    * the input text; replacements apply in [[piiPatterns]] order (email
    * before IP so `a@1.2.3.4`-style locals resolve as email). */
  def piiRedact(docs: DataFrame, textCol: String = "text",
      ordered: Boolean = true): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, token)) => regexp_replace(acc, pat, token)
    }
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val out = docs.select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Corpus token vocabulary — the tokenizer-training precursor: distinct
    * whitespace tokens with term frequency and document frequency, ranked
    * (tf desc, token asc — a total order, so the cut is deterministic)
    * and cut to `maxSize`.
    *
    * Scale shape: explode → hash aggregate keyed on token (tf partials
    * combine map-side; df needs the distinct (token, doc_id) pairs, so
    * the shuffle carries one row per distinct pair, never raw token
    * occurrences) → `TakeOrderedAndProject` for the ranked cut, which
    * keeps maxSize rows per partition and merges — no global sort
    * materialization. */
  def vocab(docs: DataFrame, maxSize: Int = 1000): DataFrame = {
    require(maxSize > 0, s"need maxSize > 0, got $maxSize")
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), asc("token")).limit(maxSize)
  }

  /** Fixed-window token chunking with overlap — the context-length
    * splitter of a training-data pipeline: each doc becomes
    * `max(1, ceil((n - window) / (window - overlap)) + 1)` chunks of up
    * to `window` tokens whose starts advance by `window - overlap`; the
    * final chunk may be short, a shorter-than-window doc is one chunk.
    * Pure per-row explode — chunk counts scale with each doc's own
    * length, nothing global, so the 100 TB plan is a single scan whose
    * only exchange is the `ordered = true` presentation ORDER BY (pass
    * `ordered = false` on the export path). */
  def chunk(docs: DataFrame, window: Int = 128, overlap: Int = 16,
      ordered: Boolean = true): DataFrame = {
    require(window > overlap && overlap >= 0,
      s"need window > overlap >= 0, got window=$window overlap=$overlap")
    val stride = window - overlap
    val toks = tokens(col("text"))
    val nChunks = greatest(lit(1L),
      ceil((size(toks) - window) / stride.toDouble) + 1)
    val chunks = transform(sequence(lit(0L), nChunks - 1),
      i => array_join(slice(toks, (i * stride + 1).cast("int"), lit(window)), " "))
    val out = docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"),
        size(tokens(col("chunk_text"))).cast("long").as("n_chunk_tokens"))
    if (ordered) out.orderBy("doc_id", "chunk_id") else out
  }

  /** Text normalization — the canonical pre-dedup transform (CCNet-style):
    * lowercase, strip everything outside [a-z0-9 ], collapse whitespace
    * runs, trim. Exact dedup over the normalized text then catches
    * case/punctuation variants of the same content. Pure per-row
    * codegen'd string expressions (regexes stay in the java∩RE2 subset,
    * like [[piiRedact]], so any engine replays them); no unicode NFC —
    * normalization forms differ across engines and the corpus is ASCII.
    * Output (doc_id, norm_text, changed). */
  def normalize(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]+", " "),
      " +", " "))
    docs.select(col("doc_id"), norm.as("norm_text"),
        (norm =!= col(textCol)).as("changed"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval over the corpus — the ranking a training-data
    * pipeline uses for dataset search and targeted decontamination
    * sweeps (Robertson–Spärck Jones BM25, the Okapi formulation with
    * `idf = ln(1 + (N − df + ½)/(df + ½))`).
    *
    * Cross-engine exactness: per-(doc, term) contributions are rounded
    * to 1e-6 and summed as INTEGER micro-units, so the per-doc score is
    * independent of float summation order — the one place a naive BM25
    * would diverge between engines. The only transcendental is `ln`,
    * applied to identical double inputs on both sides.
    *
    * Scale shape: one corpus scan explodes tokens and keeps only query
    * terms (the filter runs before the aggregate, so the shuffle carries
    * matching (doc, term) partial counts only — a |terms|-bounded sliver
    * of the corpus); `df` aggregates that already-tiny frame and
    * broadcasts back; the ranked cut is TakeOrderedAndProject. Corpus
    * length stats are one scalar aggregate joined as a broadcast
    * literal-row. Nothing driver-side, nothing proportional to corpus
    * pairs. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k > 0, s"need k > 0, got $k")
    val toks = tokens(col("text"))
    // corpus stats: Σdl and N as exact integers; ONE double divide for
    // avgdl happens inside the scoring expression on both engines
    val stats = broadcast(
      docs.select(size(tokens(col("text"))).cast("long").as("dl"))
        .agg(sum("dl").as("sdl"), count(lit(1)).as("n")))
    val tf = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val df = broadcast(tf.groupBy("tok")
      .agg(count_distinct(col("doc_id")).as("df")))
    // explicit association: (idf * tf) * (k1+1) / denom, with
    // denom = tf + k1 * (1 - b + (b * dl) / (sdl / n)) — the SQL oracle
    // parenthesizes identically, so the double sequence matches
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + (lit(b) * col("dl")) /
        (col("sdl").cast("double") / col("n")))
    val c6 = floor(((idf * col("tf")) * lit(k1 + 1.0)) / denom * 1e6 + 0.5)
      .cast("long")
    val scored = tf.join(df, Seq("tok")).crossJoin(stats)
      .select(col("doc_id"), c6.as("c6"))
      .groupBy("doc_id").agg(sum("c6").as("s6"))
    scored
      .orderBy(desc("s6"), asc("doc_id")).limit(k)
      .select(col("doc_id"),
        (floor(col("s6") / 1e6 * 10000 + 0.5) / 10000).as("score"))
  }

  /** Space-separated character representation of a word — the BPE
    * working form. `regexp_extract_all(w, '.')` (not `split(w, "")`)
    * because its char-splitting semantics are identical in every
    * regex engine. */
  private def charRepr(w: Column): Column =
    array_join(regexp_extract_all(w, lit("."), lit(0)), " ")

  /** One whole-symbol BPE merge applied to a space-separated symbol
    * string: pad, literal-replace " a b " → " ab " TWICE (pass one
    * takes alternating links of an a-b-a-b chain — sequential
    * left-to-right non-overlapping replace semantics, identical in
    * every engine; the survivors are isolated, so pass two takes every
    * remaining occurrence), trim. */
  private def applyMerge(repr: Column, a: String, b: String): Column = {
    val from = s" $a $b "
    val to = s" $a$b "
    trim(replace(replace(concat(lit(" "), repr, lit(" ")),
      lit(from), lit(to)), lit(from), lit(to)))
  }

  /** BPE tokenizer training (Sennrich et al. 2016, word-level form):
    * learn `nMerges` byte-pair merges from corpus word frequencies.
    * Output one row per learned merge: (step, lhs, rhs, pair_count) —
    * the merge table IS the tokenizer artifact ([[bpeEncode]] applies
    * it). No end-of-word marker (the classic `</w>`): merges never
    * cross word boundaries here, so the marker would be dead weight.
    *
    * Scale shape: the ONE corpus-scale stage is the word-frequency
    * aggregate (explode → map-side-combined hash agg; the shuffle
    * carries one row per distinct word). Everything after runs on that
    * vocab-bounded frame: each ROUND explodes adjacent symbol pairs of
    * the word REPRESENTATIONS (weighted by tf — never re-reading the
    * corpus), takes the top-`mergesPerRound` pairs by (count desc,
    * pair asc) via TakeOrderedAndProject, and rewrites representations
    * with two literal replaces per kept merge. Driver state is one
    * (pair, count) row per merge — bounded by `nMerges`, like the
    * Lloyd-center collects. Each round localCheckpoints to cap
    * lineage, the repo's iterative-loop discipline.
    *
    * `mergesPerRound` is the job-cadence lever: sequential BPE at
    * production merge counts (32k–100k) would schedule one tiny Spark
    * job per merge; batching applies up to m merges per round, cutting
    * driver round-trips ~m×. Each round examines the top 4m candidate
    * pairs in (count desc, pair asc) rank order and keeps up to m that
    * are SYMBOL-DISJOINT (a candidate sharing a symbol with a better
    * kept pair — or naming a symbol a better kept pair just created —
    * is deferred to a later round, where its count is re-measured):
    * merging (a,b) only perturbs adjacencies that touch a or b, so
    * every kept pair's recorded count is exact at application time.
    * The classic divergence from strictly-sequential BPE remains: a
    * merge CREATED mid-round (e.g. (x, ab) after (a,b)) cannot
    * out-rank this round's survivors until the next round, and a kept
    * lower-count pair may precede a deferred higher-count one in step
    * order. Early rounds are inventory-limited (at most
    * |symbols| / 2 disjoint pairs exist), so the cadence win
    * compounds as merges grow the symbol inventory — the production
    * 32k–100k regime, where the vocabulary holds thousands of
    * symbols. `mergesPerRound = 1` (the default) IS
    * strictly-sequential BPE, bit-identical to the pre-batching
    * implementation — the oracle-checked path. */
  def bpeLearn(docs: DataFrame, nMerges: Int = 10,
      mergesPerRound: Int = 1): DataFrame = {
    require(mergesPerRound > 0 && mergesPerRound <= 4096,
      s"need 0 < mergesPerRound <= 4096, got $mergesPerRound")
    // the real ceiling is ROUNDS (driver round-trips), not merges
    require(nMerges > 0 && (nMerges + mergesPerRound - 1) / mergesPerRound
        <= 10000,
      s"nMerges=$nMerges at mergesPerRound=$mergesPerRound exceeds the " +
        "10000-round cadence cap; raise mergesPerRound")
    val session = docs.sparkSession
    import session.implicits._
    var vocab = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .select(charRepr(col("word")).as("repr"), col("tf"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val m = math.min(mergesPerRound, nMerges - step + 1)
      // fetch deeper than m: dense symbol conflicts near the top of the
      // ranking would otherwise starve the round (tiny rows, driver-safe)
      val best = vocab
        .select(explode(gramsAll(split(col("repr"), " "), 2)).as("pair"),
          col("tf"))
        .groupBy("pair").agg(sum("tf").as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(4 * m).collect()
      if (best.isEmpty) exhausted = true // every word is one symbol
      else {
        // greedy symbol-disjoint filter in rank order: `touched` holds
        // every symbol a kept pair reads AND the symbol it writes, so no
        // later kept pair can consume a mid-round creation
        val touched = scala.collection.mutable.Set[String]()
        val kept = best.iterator
          .map(r => (r.getString(0), r.getLong(1)))
          .filter { case (pair, _) =>
            val Array(a, b) = pair.split(" ", 2)
            if (touched(a) || touched(b)) false
            else { touched += a; touched += b; touched += (a + b); true }
          }.take(m).toSeq
        var repr = col("repr")
        kept.foreach { case (pair, cnt) =>
          val Array(a, b) = pair.split(" ", 2)
          merges += ((step.toLong, a, b, cnt))
          repr = applyMerge(repr, a, b)
          step += 1
        }
        val prev = vocab
        vocab = vocab.select(repr.as("repr"), col("tf")).localCheckpoint()
        prev.unpersist(blocking = false)
      }
    }
    // steps were appended in ascending order: no Spark sort needed
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** BPE tokenizer vocabulary — the id table a training export ships:
    * the corpus's character inventory (binary-sorted, ids 0..C−1)
    * followed by one entry per learned merge in learned order (id
    * C+step−1, token = lhs+rhs). Character ids are assignment-stable
    * under corpus reordering (sorted, not first-seen).
    *
    * Scale shape: one corpus scan for the distinct-character inventory
    * (hash agg over ≤ |alphabet| keys), a window over that bounded
    * inventory frame for the ids, plus [[bpeLearn]]'s own loop; the
    * merge rows come from its bounded driver-side table. */
  def bpeVocab(docs: DataFrame, nMerges: Int = 3,
      mergesPerRound: Int = 1): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val inv = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(regexp_extract_all(col("word"), lit("."), lit(0)))
        .as("token"))
      .distinct()
      .localCheckpoint() // feeds the id window AND the offset count
    // single-partition window is the point: the inventory is bounded
    // by the alphabet, never the corpus
    val w = org.apache.spark.sql.expressions.Window.orderBy("token")
    val charIds = inv.select(
      (row_number().over(w) - 1).cast("long").as("token_id"), col("token"))
    val c = inv.count()
    val mergeRows = bpeLearn(docs, nMerges, mergesPerRound).collect()
      .map(r => (c + r.getLong(0) - 1, r.getString(1) + r.getString(2)))
    charIds.union(mergeRows.toSeq.toDF("token_id", "token"))
      .orderBy("token_id")
  }

  /** BPE encoding with a learned merge table: every word char-splits
    * and replays the merges IN LEARNED ORDER; the output counts
    * whitespace words vs resulting BPE symbols per doc — the token
    * budget a trained tokenizer would actually bill. `merges` is the
    * driver-side artifact from [[bpeLearn]] (bounded by nMerges).
    * Pure per-row expressions — one corpus scan, no shuffle beyond the
    * `ordered` presentation sort. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      ordered: Boolean = true): DataFrame = {
    val toks = filter(tokens(col("text")), w => length(w) > 0)
    val encodeWord = (w: Column) => merges.foldLeft(charRepr(w)) {
      case (acc, (a, b)) => applyMerge(acc, a, b)
    }
    // (a [[Dedup.fanOut]] here measured 36% SLOWER at ×30 — the codegen'd
    // merge replay is cheaper than an extra payload exchange)
    val out = docs.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      coalesce(aggregate(toks, lit(0L),
        (acc, w) => acc + size(split(encodeWord(w), " "))), lit(0L))
        .as("n_bpe"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Per-source tokenizer-cost accounting — the fertility diagnostic a
    * tokenizer team runs before committing to a merge table: for each
    * source, how many BPE symbols per whitespace word the learned
    * merges produce (`fertility`, the per-word token bill) and what
    * share of words encode as ONE symbol (`whole_word_rate`, vocabulary
    * coverage). High-fertility sources blow the training token budget;
    * near-zero whole-word rates flag vocabulary/domain mismatch.
    * `merges` is [[bpeLearn]]'s bounded driver-side artifact, as in
    * [[bpeEncode]]. Output
    * `(source, n_words, n_pieces, fertility, whole_word_rate)`.
    *
    * Scale shape: one corpus scan explodes words; the per-word encode
    * replay runs ONCE per word (unlike a naive two-aggregate form that
    * would replay the merge chain twice); the rollup is a hash agg
    * keyed on source — output bounded by the source inventory, map-side
    * partials carry three longs per (partition, source). */
  def bpeFertility(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = filter(tokens(col("text")), w => length(w) > 0)
    val encodeWord = (w: Column) => merges.foldLeft(charRepr(w)) {
      case (acc, (a, b)) => applyMerge(acc, a, b)
    }
    docs.select(col("source"), explode(toks).as("w"))
      .select(col("source"),
        size(split(encodeWord(col("w")), " ")).cast("long").as("pieces"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("pieces").as("n_pieces"),
        sum(when(col("pieces") === 1, 1L).otherwise(0L)).as("n_whole"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        r4(col("n_pieces").cast("double") / col("n_words"))
          .as("fertility"),
        r4(col("n_whole").cast("double") / col("n_words"))
          .as("whole_word_rate"))
      .orderBy("source")
  }

  /** Unigram-LM perplexity scoring — the CCNet-style quality filter: an
    * add-1-smoothed unigram language model is trained on the `refLang`
    * slice of the corpus and every document is scored by its per-token
    * average negative log-likelihood; high-perplexity docs (off-language,
    * gibberish, boilerplate code) get flagged. `p(w) = (c_w + 1) /
    * (N + V + 1)` with one shared unseen-token mass `1 / (N + V + 1)`.
    *
    * Cross-engine exactness: each token TYPE's −ln p is floored once to
    * 1e-6 integer micro-units on the (vocab-sized) counts frame; per-doc
    * scores are then exact BIGINT sums of those micro-units, so document
    * scores are independent of float summation order. The only
    * transcendentals are `ln` (per vocab entry) and one `exp` per doc,
    * both applied to identical double inputs on either engine — the same
    * discipline as [[bm25]]'s idf.
    *
    * Scale shape: one corpus scan aggregates reference token counts
    * (map-side partials; shuffle carries one row per distinct token); the
    * scoring scan explodes tokens and joins the vocab frame — size-gated
    * broadcast, so the exploded corpus never shuffles when the vocab fits
    * (a natural-language vocab does; past the gate AQE plans from runtime
    * stats). Per-doc aggregation is a hash agg keyed on doc_id. Nothing
    * driver-side, nothing pairwise. */
  def perplexity(docs: DataFrame, refLang: String = "en",
      flagThreshold: Double = 5000.0, ordered: Boolean = true): DataFrame =
    perplexityAgainst(docs, docs.filter(col("lang") === refLang),
      flagThreshold, ordered)

  /** [[perplexity]] with an EXTERNAL reference corpus — the CCNet
    * deployment shape (the LM trains on curated Wikipedia, not on a
    * slice of the corpus being scored). The slice form is this with
    * `refDocs = docs.filter(lang === refLang)`, so its oracle transfers
    * to the shared implementation. */
  def perplexityAgainst(docs: DataFrame, refDocs: DataFrame,
      flagThreshold: Double = 5000.0, ordered: Boolean = true): DataFrame = {
    // (measured: a [[Dedup.fanOut]] here LOSES at the ×30 stress corpus
    // — plain tokenize+explode is light enough that the extra payload
    // exchange costs more than the parallelism buys; the shuffle agg
    // after it is already wide)
    val cnt = refDocs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the nll projection AND the size gate
    val nVocab = cnt.count()
    val st = broadcast(cnt.agg(sum("c").as("n"), count(lit(1)).as("v")))
    // per-TYPE micro-unit cost: nll6 = floor(-ln((c+1)/(n+v+1))·1e6 + ½);
    // the unseen cost reuses the same expression with c = 0
    def nll6(c: Column, n: Column, v: Column) =
      floor(-log(c.cast("double") / (n + v + 1)) * 1e6 + 0.5).cast("long")
    val costs = graft.core.Hints.broadcastIfSmall(
      cnt.crossJoin(st).select(col("tok"),
        nll6(col("c") + 1, col("n"), col("v")).as("nll6")), nVocab)
    val unseen = broadcast(st.select(
      nll6(lit(1), col("n"), col("v")).as("unll6")))
    val avg = col("s6").cast("double") / 1e6 / col("n_tokens")
    val avg6 = floor(avg * 1e6 + 0.5) / 1e6 // exp input, stabilized first
    val out = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(costs, Seq("tok"), "left")
      .crossJoin(unseen)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("nll6"), col("unll6"))).as("s6"))
      .select(col("doc_id"), col("n_tokens"),
        r4(avg).as("avg_nll"),
        r4(exp(avg6)).as("ppl"))
      .withColumn("flagged", col("ppl") > flagThreshold)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Bigram-LM perplexity — one order up from [[perplexityAgainst]]'s
    * unigram model, the step toward CCNet's n-gram KenLM scoring: each
    * doc is scored by the average negative log-likelihood of its token
    * TRANSITIONS under an add-1-smoothed conditional
    * `p(w | prev) = (c(prev w) + 1) / (c(prev) + V + 1)` trained on
    * `refDocs` (V = reference unigram vocab size; an unseen prefix
    * falls back to `c(prev) = 0`). Repetitive gibberish that fools a
    * unigram model (common words, nonsense order) scores high here.
    * Docs with fewer than 2 tokens carry zero transitions and NULL
    * scores. Output `(doc_id, n_bigrams, avg_nll, ppl, flagged)`.
    *
    * Cross-engine exactness ([[perplexityAgainst]]'s discipline): the
    * cost of each bigram TYPE — and each prefix's unseen-pair cost —
    * floors ONCE to 1e-6 micro-units on the vocab-sized frames; per-doc
    * scores are exact BIGINT sums, and the one exp per doc sees a
    * 1e-6-stabilized input.
    *
    * Scale shape: two vocab-sized aggregates off the reference corpus
    * (bigram types, unigram types), one vocab-frame equi-join putting
    * prefix counts next to bigram counts, then the scoring scan joins
    * both cost frames size-gated — when the vocabs fit the gate the
    * exploded corpus never shuffles; the per-doc rollup is a doc-keyed
    * hash agg. Nothing driver-side beyond the gate counts. */
  def perplexityBigram(docs: DataFrame, refDocs: DataFrame,
      flagThreshold: Double = 5000.0, ordered: Boolean = true): DataFrame = {
    val uni = refDocs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
      .localCheckpoint() // feeds the size gate, V, and two cost frames
    val nVocab = uni.count()
    val st = broadcast(uni.agg(count(lit(1)).as("v")))
    def nll6(num: Column, den: Column) =
      floor(-log(num.cast("double") / den) * 1e6 + 0.5).cast("long")
    // toks staged bound (gramsAll's lambda would re-split per gram)
    val bg = refDocs.select(tokens(col("text")).as("toks"))
      .select(explode(gramsAll(col("toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .localCheckpoint() // feeds the MEASURED size gate and the join
    val nBigrams = bg.count()
    // bigram costs carry their prefix's count: one vocab-frame join.
    // The gate uses the measured bigram-type count — token-shuffled
    // spam or code can push bigram diversity far past any multiple of
    // the unigram vocab, and an assumed bound would force-broadcast it.
    val bgCosts = graft.core.Hints.broadcastIfSmall(
      bg.select(col("bg"), element_at(split(col("bg"), " "), 1).as("tok"),
          col("cb"))
        .join(uni, Seq("tok"))
        .crossJoin(st)
        .select(col("bg"), nll6(col("cb") + 1,
          col("cu") + col("v") + 1).as("nll6")),
      nBigrams)
    // unseen-pair cost per seen prefix; constant fallback for unseen
    val preCosts = graft.core.Hints.broadcastIfSmall(
      uni.crossJoin(st).select(col("tok"),
        nll6(lit(1), col("cu") + col("v") + 1).as("punll6")), nVocab)
    val unseen = broadcast(st.select(
      nll6(lit(1), col("v") + 1).as("u0")))
    val avg = col("s6").cast("double") / 1e6 / col("n_bigrams")
    val avg6 = floor(avg * 1e6 + 0.5) / 1e6
    val out = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode_outer(gramsAll(col("toks"), 2)).as("bg"))
      .withColumn("pre", element_at(split(col("bg"), " "), 1))
      .join(bgCosts, Seq("bg"), "left")
      .join(preCosts.withColumnRenamed("tok", "pre"), Seq("pre"), "left")
      .crossJoin(unseen)
      .groupBy("doc_id")
      .agg(count(col("bg")).as("n_bigrams"),
        sum(when(col("bg").isNotNull,
          coalesce(col("nll6"), col("punll6"), col("u0")))).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") > 0, r4(avg)).as("avg_nll"),
        when(col("n_bigrams") > 0, r4(exp(avg6))).as("ppl"))
      .withColumn("flagged",
        coalesce(col("ppl") > flagThreshold, lit(false)))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
    * language, docs rank by their unigram-LM perplexity against the
    * `refLang` reference slice and split into head / middle / tail
    * thirds — head (lowest perplexity, most reference-like) is what
    * CCNet keeps outright, middle is optionally kept, tail is dropped
    * or down-weighted. Ranking runs on the exact micro-unit `avg_nll`
    * (ties → doc_id), and the bucket index is pure integer arithmetic
    * `floor(3·(rank−1)/count)` — both engines replay it bit-for-bit.
    * Output `(doc_id, lang, avg_nll, bucket)`.
    *
    * Scale shape: the [[perplexityAgainst]] pipeline plus ONE window
    * partitioned by language — a group-sort whose skew is bounded by
    * the largest language's share, acceptable for the corpus-analysis
    * / threshold-derivation role this op plays ([[mixQuota]]'s exact
    * stratified discipline). The production filter-at-ingest path is
    * [[ccnetBucketsFixed]]: derive the cut points ONCE from this (or
    * from a sample), then gate per-row with zero shuffles. */
  def ccnetBuckets(docs: DataFrame, refLang: String = "en",
      ordered: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("avg_nll"), col("doc_id"))
    val n = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val out = perplexity(docs, refLang, ordered = false)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        row_number().over(w).as("rn"), count(lit(1)).over(n).as("cnt"))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        element_at(typedLit(Seq("head", "middle", "tail")),
          (floor(lit(3) * (col("rn") - 1) / col("cnt")) + 1).cast("int"))
          .as("bucket"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** The deployment form of [[ccnetBuckets]]: bucket by FIXED
    * `avg_nll` cut points (doc ≤ headMax → head, ≤ middleMax → middle,
    * else tail) instead of within-corpus ranks — CCNet's actual
    * at-scale shape, where thresholds come from a reference run and
    * each incoming shard buckets independently. Pure per-row
    * projection after the [[perplexityAgainst]] scoring scan: no
    * window, no shuffle beyond perplexity's own doc-keyed agg, and
    * bucket assignment is stable under corpus growth (a rank bucket
    * reshuffles every doc's fate whenever the corpus changes). */
  def ccnetBucketsFixed(docs: DataFrame, headMax: Double,
      middleMax: Double, refLang: String = "en",
      ordered: Boolean = true): DataFrame = {
    require(headMax <= middleMax,
      s"need headMax <= middleMax, got $headMax > $middleMax")
    val out = perplexity(docs, refLang, ordered = false)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("avg_nll") <= headMax, "head")
          .when(col("avg_nll") <= middleMax, "middle")
          .otherwise("tail").as("bucket"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Blocklist screen — the C4-style "bad words" gate (C4 dropped any
    * page containing a blocklisted word; Dolma/RefinedWeb run the same
    * shape with larger lists): counts blocklisted token hits per doc
    * and flags docs at or above `maxHits`. Matching is exact on
    * whitespace tokens (no substring surprises — "class" never trips
    * an "ass" entry). Output `(doc_id, n_hits, blocked)`.
    *
    * Pure per-row projection: the list broadcasts as an array literal
    * (bounded — real blocklists are hundreds of entries), the count is
    * one codegen'd filter over the bound token array; no shuffle, no
    * state, stream-composable with `ordered = false`. */
  def blocklist(docs: DataFrame, words: Seq[String],
      maxHits: Int = 1, ordered: Boolean = true): DataFrame = {
    require(words.nonEmpty, "need a non-empty blocklist")
    // multi-word phrases can never equal a space-split token (they'd
    // silently count 0 forever) and an empty entry would match the
    // empty tokens consecutive spaces produce — both are caller bugs,
    // surfaced here instead of as silent mis-filtering
    require(words.forall(w => w.nonEmpty && !w.contains(' ')),
      s"blocklist entries must be single non-empty tokens; got " +
        words.filter(w => w.isEmpty || w.contains(' ')).take(3)
          .mkString("'", "', '", "'"))
    require(maxHits >= 1, s"need maxHits >= 1, got $maxHits")
    val bad = typedLit(words)
    val out = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(filter(col("toks"), t => array_contains(bad, t)))
          .cast("long").as("n_hits"))
      .withColumn("blocked", col("n_hits") >= maxHits)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Per-document token entropy (Shannon, nats) — the lexical-diversity
    * feature the heuristic ratios miss: keyword-stuffed spam has low
    * entropy at normal `uniq_ratio`-ish lengths, template boilerplate
    * sits far below natural text of the same length.
    * `H = −Σ_types (c/n)·ln(c/n)`; each TYPE's contribution floors once
    * to 1e-6 micro-units so the per-doc sum is an exact integer and the
    * feature replays cross-engine ([[perplexity]]'s discipline). Pure
    * per-row HOF projection over the bound token array — no shuffle,
    * stream-composable; per-row work is O(types × tokens), bounded by
    * the doc's own length. Output `(doc_id, n_tokens, entropy)`. */
  def entropy(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    // counts staged as a bound column so each type's O(tokens) count
    // filter runs exactly once (the bind-once discipline); the fold
    // then touches only the small counts array
    val counts = transform(array_distinct(col("toks")), t =>
      size(filter(col("toks"), x => x === t)).cast("long"))
    val out = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"), counts.as("cnts"))
      .select(col("doc_id"), col("n_tokens"),
        r4(aggregate(col("cnts"), lit(0L), (a, c) => {
          val p = c.cast("double") / col("n_tokens").cast("double")
          a + floor(-p * log(p) * 1e6 + 0.5).cast("long")
        }).cast("double") / 1e6).as("entropy"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** One-scan document scorecard — the per-doc data-quality report a
    * curation dashboard reads: token count, heuristic quality,
    * predicted language, 3-gram repetition, the classifier score, and
    * the composed keep verdict, fused into a SINGLE projection
    * ([[curate]]'s one-scan discipline, reporting instead of
    * filtering). Every column reuses its operator's own expression
    * ([[qualityScoreExpr]], [[langIdExprs]], [[dup3RatioExpr]],
    * [[score4]]∘[[qualityLogit6Expr]], [[nTokExpr]]), so the scorecard
    * stays in lock-step with the oracle-checked standalone ops.
    * Per-row, shuffle-free, stream-composable with `ordered = false`. */
  def scorecard(docs: DataFrame, minQuality: Double = 0.5,
      lang: String = "en", ordered: Boolean = true): DataFrame = {
    val out = docs.select(col("doc_id"),
        nTokExpr.as("n_tokens"),
        qualityScoreExpr.as("quality"),
        langIdExprs._1.as("pred_lang"),
        dup3RatioExpr.as("dup_3gram_ratio"),
        score4(qualityLogit6Expr()).as("score4"))
      .withColumn("keep",
        col("quality") >= minQuality && col("pred_lang") === lang)
    if (ordered) out.orderBy("doc_id") else out
  }

  /** The per-row curation gates as `(doc_id, quality, pred_lang,
    * dup_3gram_ratio)` in ONE corpus scan. In a session carrying
    * GraftExtensions all three come from the native
    * `graft_curate_gate` kernel ([[graft.functions.CurateGate]],
    * bit-identical by construction); otherwise from the operators' own
    * declarative expressions ([[qualityScoreExpr]], [[langIdExprs]],
    * [[dup3RatioExpr]]), which interpret six lambda calls per token.
    * The kernel's struct is projected once and its fields read off the
    * bound column (single-reference rule); a filter on those fields is
    * still pushed below the projection by Catalyst and re-evaluates the
    * kernel per conjunct — one compiled call each, which stays far below
    * the cost of a materialization. */
  private def gates(docs: DataFrame): DataFrame =
    gatesImpl(docs,
      docs.sparkSession.catalog.functionExists("graft_curate_gate"))

  /** [[gates]] with the kernel choice forced — the spec differential
    * runs both paths in one extended session. */
  private[graft] def gatesImpl(docs: DataFrame, native: Boolean): DataFrame =
    if (native)
      docs.select(col("doc_id"), expr("graft_curate_gate(text)").as("g"))
        .select(col("doc_id"), col("g.quality").as("quality"),
          col("g.pred_lang").as("pred_lang"),
          col("g.dup_3gram_ratio").as("dup_3gram_ratio"))
    else
      docs.select(col("doc_id"), qualityScoreExpr.as("quality"),
        langIdExprs._1.as("pred_lang"), dup3RatioExpr.as("dup_3gram_ratio"))

  /** End-to-end training-data curation: quality gate ∧ language gate ∧
    * near-dup keep decision (strict mode adds ¬boilerplate) — the flow a
    * 100 TB corpus pipeline runs before tokenization; [[curateMulti]]
    * with one language. */
  def curate(docs: DataFrame, minQuality: Double = 0.5,
      lang: String = "en", shingleSize: Int = 3,
      threshold: Double = 0.5, maxDup3: Double = 1.0): DataFrame =
    curateMulti(docs, minQuality, Seq(lang), shingleSize, threshold, maxDup3)

  /** Multi-language [[curate]] — exactly the UNION of the per-language
    * curate calls (each doc has ONE predicted language, so
    * `pred_lang ∈ langs` partitions that union), computed with ONE
    * corpus scan and ONE dedup keep join instead of |langs| of each.
    * The dedup keep decision is language-INDEPENDENT
    * ([[Dedup.dedupGroups]] never reads the language), so the per-
    * language composition paid the full minhash pipeline once per
    * language for identical results — and the r14 ×300 composition
    * rung measured the second run landing in a heap aged by the first
    * run's checkpoint blocks, reading 2-3× the first at matched quiet
    * canaries. A multi-language funnel (the deployment shape: keep
    * en+de+fr, say) should always enter here.
    *
    * Every non-dedup gate is a pure per-row expression, so they share
    * ONE corpus scan ([[gates]]; at 100 TB, the former operator-per-scan
    * + join composition read the corpus up to 4x and shuffled it for
    * each doc_id equi-join). The [[Dedup.dedupGroups]] keep decision is
    * the single remaining id-equi-join, survivors-only on the probe
    * side; docs outside any dup pair carry no dedupGroups row and keep
    * themselves (left join). */
  def curateMulti(docs: DataFrame, minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en"), shingleSize: Int = 3,
      threshold: Double = 0.5, maxDup3: Double = 1.0): DataFrame =
    curateKept(docs, minQuality, langs, shingleSize, threshold, maxDup3)
      .orderBy("doc_id")

  /** [[curateMulti]] without the presentation sort, for callers that
    * materialize the kept set (the curation chain). */
  private[llm] def curateKept(docs: DataFrame, minQuality: Double,
      langs: Seq[String], shingleSize: Int, threshold: Double,
      maxDup3: Double): DataFrame = {
    require(langs.nonEmpty, "need at least one language")
    val perRow = gates(docs)
      .filter(col("quality") >= minQuality &&
        col("pred_lang").isin(langs: _*) &&
        (if (maxDup3 >= 1.0) lit(true)
         else col("dup_3gram_ratio") <= maxDup3))
    perRow.join(Dedup.dedupGroups(docs, shingleSize, threshold),
        Seq("doc_id"), "left")
      .filter(col("keep_id").isNull || col("keep_id") === col("doc_id"))
      .select("doc_id", "quality", "pred_lang")
  }

  /** Curation funnel report — the per-gate drop accounting an operator
    * of a [[curate]]-style pipeline watches: for each stage in the
    * sequential gate order (quality → language → boilerplate → dedup),
    * how many docs entered, how many it dropped, how many survived.
    * Gates are [[curate]]'s own ([[gates]], [[Dedup.dedupGroups]]
    * keep), so the funnel is exactly the accounting of its filter.
    *
    * Scale shape: the same ONE corpus scan + one dedup keep join as
    * [[curate]], then a single 5-counter aggregate (map-side partials)
    * unpivoted into 4 fixed rows — output size is constant. */
  def curationFunnel(docs: DataFrame, minQuality: Double = 0.5,
      lang: String = "en", shingleSize: Int = 3,
      threshold: Double = 0.5, maxDup3: Double = 1.0): DataFrame = {
    val flags = gates(docs).select(col("doc_id"),
        (col("quality") >= minQuality).as("g_quality"),
        (col("pred_lang") === lang).as("g_lang"),
        (if (maxDup3 >= 1.0) lit(true) else col("dup_3gram_ratio") <= maxDup3)
          .as("g_rep"))
      .join(Dedup.dedupGroups(docs, shingleSize, threshold),
        Seq("doc_id"), "left")
      .withColumn("g_dedup",
        col("keep_id").isNull || col("keep_id") === col("doc_id"))
    def surv(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val c = flags.agg(
      count(lit(1)).as("n0"),
      surv(col("g_quality")).as("n1"),
      surv(col("g_quality") && col("g_lang")).as("n2"),
      surv(col("g_quality") && col("g_lang") && col("g_rep")).as("n3"),
      surv(col("g_quality") && col("g_lang") && col("g_rep") &&
        col("g_dedup")).as("n4"))
    c.select(expr(
        "stack(4, 1, 'quality', n0, n1, 2, 'language', n1, n2, " +
          "3, 'boilerplate', n2, n3, 4, 'dedup', n3, n4) " +
          "AS (stage_id, stage, n_in, n_out)"))
      .select(col("stage_id").cast("long").as("stage_id"), col("stage"),
        col("n_in"), col("n_out"), (col("n_in") - col("n_out")).as("n_dropped"))
      .orderBy("stage_id")
  }
}
