package graft.fuzz

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{CorpusOps, Dedup, LlmQueries, Similarity, TextOps}
import graft.sources.Tables

/** Parameter-grid differential fuzz over the LLM operator surface
  * (round-10 directive #5): every case pairs a DSL invocation with the
  * SAME parameterized oracle builder the pinned query uses
  * (LlmQueries.winnowSql / containmentSql / annCosineSql / annIvfSql /
  * embedDedupSql / simhashPairsSql / nearDupPairsSql), so the pinned
  * oracle and the fuzz replay share one SQL-generation path. The grid is
  * PINNED (no RNG — the parameters ARE the corpus); expectations are
  * committed DuckDB hashes in src/test/resources/llm_fuzz_expected.json.
  *
  * Regenerating:
  *   sbt "Test/runMain graft.fuzz.LlmFuzzDump /tmp/llm_fuzz.json"
  *   python3 tools/fuzz_expected.py /tmp/llm_fuzz.json \
  *     /root/testdata/sf0.001 src/test/resources/llm_fuzz_expected.json
  *
  * Grid-validity notes:
  *  - winnow/matches/containment/ann/simhash/embed cases are EXACT
  *    replicas at any parameters (the oracle replays blocking + verify).
  *  - near-dup Jaccard cases rely on LSH full recall at the pinned
  *    (shingle, threshold) points; thresholds stay ≥ 0.5 where the
  *    32-hash/4-row banding's S-curve makes misses vanishingly unlikely
  *    on the planted near-identical duplicates — and the differential
  *    itself fails loudly if recall ever drops.
  */
object LlmFuzzSeed {

  final case class LlmCase(id: String, sql: String,
      run: (SparkSession, String) => DataFrame)

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  lazy val cases: Seq[LlmCase] = {
    val winnow = for {
      k <- Seq(2, 3, 5); w <- Seq(2, 4, 6, 8)
    } yield LlmCase(s"lfz_winnow_k${k}_w$w",
      LlmQueries.winnowSql(k, w),
      (s, d) => Dedup.winnow(docs(s, d), k, w))

    val matches = Seq((2, 4, 3), (3, 4, 2), (3, 6, 2), (5, 3, 2),
      (4, 4, 4), (3, 8, 2)).map { case (k, w, m) =>
      LlmCase(s"lfz_winmatch_k${k}_w${w}_m$m",
        LlmQueries.winnowMatchesSql(k, w, m),
        (s, d) => Dedup.winnowMatches(docs(s, d), k, w, m))
    }

    val containment = Seq((2, 3), (3, 3), (4, 5), (2, 5), (3, 6))
      .map { case (k, w) =>
        LlmCase(s"lfz_contain_k${k}_w$w",
          LlmQueries.containmentSql(k, w),
          (s, d) => Dedup.containmentPairs(docs(s, d), k, w))
      }

    val brute = Seq((1, 10), (3, 5), (7, 12), (10, 3), (5, 20))
      .map { case (k, nq) =>
        LlmCase(s"lfz_brute_k${k}_q$nq",
          LlmQueries.annCosineSql(k, nq),
          (s, d) => {
            val e = emb(s, d)
            Similarity.bruteForceTopK(
              e.filter(col("vec_id") < nq), e, k)
          })
      }

    val ivf = (for {
      stride <- Seq(17, 31, 63, 101); nProbe <- Seq(2, 4)
    } yield (stride, nProbe, 5)) ++ Seq((31, 3, 3), (63, 5, 3))
    val annIvf = ivf.map { case (stride, nProbe, k) =>
      LlmCase(s"lfz_ivf_s${stride}_p${nProbe}_k$k",
        LlmQueries.annIvfSql(stride, nProbe, k),
        (s, d) => {
          val e = emb(s, d)
          Similarity.ivfProbe(e.filter(col("vec_id") < 10),
            Similarity.ivfIndex(e, centroidStride = stride), k,
            nProbe = Seq(nProbe))
        })
    }

    val embed = Seq(
      (1, 2.0, 0.4, 3), (2, 2.0, 0.4, 3), (3, 2.0, 0.3, 3),
      (2, 1.0, 0.5, 3), (2, 4.0, 0.4, 3), (4, 2.0, 0.4, 2),
      (1, 2.0, 0.2, 4), (3, 3.0, 0.35, 3)).map { case (np, w, tau, nt) =>
      LlmCase(s"lfz_embed_h${np}_w${w}_t${tau}_n$nt",
        LlmQueries.embedDedupSql(np, w, tau, nt),
        (s, d) => Similarity.cosineNearDupPairs(emb(s, d), tau,
          bucketLength = w, numTables = nt, dim = 64, nproj = np))
    }

    val simhash = Seq(0, 1, 2, 3).map { mh =>
      LlmCase(s"lfz_simhash_h$mh",
        LlmQueries.simhashPairsSql(LlmQueries.oracle("llm_simhash"), mh),
        (s, d) => Dedup.simHashNearDupPairs(docs(s, d),
          Dedup.sha2TokenHash, maxHamming = mh))
    }

    val nearDup = Seq((2, 0.5), (3, 0.5), (4, 0.5), (2, 0.7),
      (3, 0.7), (4, 0.7), (3, 0.6)).map { case (sh, theta) =>
      LlmCase(s"lfz_neardup_s${sh}_t$theta",
        LlmQueries.nearDupPairsSql(sh, theta),
        (s, d) => Dedup.nearDupPairs(docs(s, d), shingleSize = sh,
          threshold = theta))
    }

    // trained-quantizer paths (the r10 packed-argmin + kernel sites):
    // whole Lloyd fit + assignment + probe replayed per parameter point
    val trained = Seq((2, 3, 1, 3), (4, 3, 2, 5), (8, 5, 3, 5),
      (4, 2, 2, 7), (6, 4, 2, 4), (8, 2, 4, 3)).map {
      case (nlist, iters, nProbe, k) =>
        LlmCase(s"lfz_ivftr_n${nlist}_i${iters}_p${nProbe}_k$k",
          LlmQueries.annIvfTrainedSql(nlist, iters, nProbe, k),
          (s, d) => {
            val e = emb(s, d)
            Similarity.ivfProbe(e.filter(col("vec_id") < 10),
              Similarity.ivfTrainedIndex(e, nlist = nlist, iters = iters),
              k = k, nProbe = Seq(nProbe))
          })
    }
    val semdedup = Seq((0.3, 4, 5), (0.5, 4, 3), (0.4, 8, 5),
      (0.35, 2, 4), (0.45, 6, 3)).map { case (tau, nlist, iters) =>
      LlmCase(s"lfz_semdd_t${tau}_n${nlist}_i$iters",
        LlmQueries.semDedupSql(tau, nlist, iters),
        (s, d) => Similarity.semDedup(emb(s, d), tau, nlist, iters))
    }

    // two-level residual index (round 11): BOTH Lloyd trainings, the
    // composite (cell, sub) assignment and the two-stage routing replay
    // per parameter point. Valid at sf0.001's 500 vectors for any
    // nsplit (the level-2 trainer's subsample stays the identity —
    // see residualLloydCte's scaladoc).
    val residual = Seq((2, 2, 3, 1, 1, 3), (4, 2, 5, 2, 1, 5),
      (4, 3, 3, 2, 2, 5), (6, 2, 4, 3, 1, 4), (4, 2, 5, 4, 2, 7),
      (8, 2, 3, 2, 2, 3)).map {
      case (nlist, nsplit, iters, nProbe, nProbeSub, k) =>
        LlmCase(
          s"lfz_ivfres_n${nlist}_s${nsplit}_i${iters}_p${nProbe}x${nProbeSub}_k$k",
          LlmQueries.annIvfResidualSql(nlist, nsplit, iters, nProbe,
            nProbeSub, k),
          (s, d) => {
            val e = emb(s, d)
            Similarity.ivfProbe(e.filter(col("vec_id") < 10),
              Similarity.ivfTrainedIndex(e, nlist = nlist,
                splits = Seq(nsplit), iters = iters),
              k = k, nProbe = Seq(nProbe, nProbeSub))
          })
    }

    // three-level residual index (round 11): all THREE trainings + the
    // (cell, sub, sub2) routing per parameter point
    val residual3 = Seq((4, 2, 2, 3, 2, 1, 1, 5), (2, 2, 2, 3, 1, 1, 1, 3),
      (4, 2, 2, 5, 2, 2, 2, 4)).map {
      case (nlist, nsplit, nsplit3, iters, p1, p2, p3, k) =>
        LlmCase(
          s"lfz_ivfr3_n${nlist}s${nsplit}t${nsplit3}_i${iters}_p$p1$p2${p3}_k$k",
          LlmQueries.annIvfResidual3Sql(nlist, nsplit, nsplit3, iters,
            p1, p2, p3, k),
          (s, d) => {
            val e = emb(s, d)
            Similarity.ivfProbe(e.filter(col("vec_id") < 10),
              Similarity.ivfTrainedIndex(e, nlist = nlist,
                splits = Seq(nsplit, nsplit3), iters = iters),
              k = k, nProbe = Seq(p1, p2, p3))
          })
    }

    // PQ ADC (round 12 — the last ANN variants without fuzz):
    // codebook/encoding/ADC-table replay per (m, ksub, stride) point,
    // with and without the exact rerank stage. m must divide 64 and
    // stays <= 4: the oracle's explicit left-associated m-way ADC join
    // (order-fixed float sum, the exactness requirement) makes DuckDB's
    // join enumeration blow up at m = 8 (16 relations) — measured: the
    // m=8 statement never returned while every m<=4 point runs <= 2 s.
    // (stride, ksub) must leave ksub strided vectors in the corpus
    // (ceil(500/stride) at sf0.001): Spark's pqCodebook REQUIRES the
    // full codebook while the SQL LIMIT silently shrinks it
    val pq = Seq((2, 16, 31, 5, 0), (4, 8, 17, 3, 0), (4, 8, 63, 5, 5),
      (4, 16, 17, 5, 10), (2, 5, 101, 4, 0), (4, 16, 31, 7, 20)).map {
      case (m, ksub, stride, k, rerank) =>
        LlmCase(s"lfz_pq_m${m}_c${ksub}_s${stride}_k${k}_r$rerank",
          LlmQueries.annPqSql(m, ksub, stride, nq = 10, k, rerank),
          (s, d) => {
            val e = emb(s, d)
            Similarity.pqTopK(e.filter(col("vec_id") < 10), e, k,
              m = m, ksub = ksub, stride = stride, rerank = rerank)
          })
    }

    // IVF+PQ composition: explicit coarse stride (pins the cell set),
    // probe width, code geometry and rerank per point
    val ivfpq = Seq((31, 2, 4, 16, 10), (63, 4, 2, 16, 20),
      (31, 3, 4, 8, 0), (101, 4, 2, 8, 20)).map {
      case (cs, nProbe, m, ksub, rerank) =>
        LlmCase(s"lfz_ivfpq_cs${cs}_p${nProbe}_m${m}_c${ksub}_r$rerank",
          LlmQueries.annIvfPqSql(cs, nProbe, m, ksub, pqStride = 31,
            nq = 10, k = 5, rerank = rerank),
          (s, d) => {
            val e = emb(s, d)
            Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e, k = 5,
              centroidStride = cs, nProbe = nProbe, m = m, ksub = ksub,
              stride = 31, rerank = rerank)
          })
    }

    // streaming batch-twins (round 12): the gaps-and-islands
    // sessionizer and the same-user interval join, fuzzed over the gap
    // / delay band — the knobs the streaming deployment actually tunes
    val sessions = Seq(10, 60, 120).map { gap =>
      LlmCase(s"lfz_sessions_g$gap",
        LlmQueries.sessionsBatchSql(gap),
        (s, d) => graft.streaming.EventStreams.sessionizeBatch(
          Tables(s, d, "events"), gapMinutes = gap))
    }
    val pairs = Seq(2, 30).map { band =>
      LlmCase(s"lfz_eventpairs_b$band",
        LlmQueries.eventPairsSql(band),
        (s, d) => graft.streaming.EventStreams.intervalJoinBatch(
          Tables(s, d, "events"), maxDelayMinutes = band))
    }

    // BPE training/encode over the merge count (round 12): the whole
    // learn loop — per-step pair counts, argmax, pad/double-replace/
    // trim rewrite — unrolls per step on both sides
    val bpeM = Seq(1, 2, 4).map { n =>
      LlmCase(s"lfz_bpemerges_n$n",
        LlmQueries.bpeMergesSql(n),
        (s, d) => TextOps.bpeLearn(docs(s, d), nMerges = n))
    }
    val bpeE = Seq(2, 4).map { n =>
      LlmCase(s"lfz_bpeencode_n$n",
        LlmQueries.bpeEncodeSql(n),
        (s, d) => {
          val m = TextOps.bpeLearn(docs(s, d), nMerges = n).collect()
            .map(r => (r.getString(1), r.getString(2))).toSeq
          TextOps.bpeEncode(docs(s, d), m)
        })
    }

    // BM25 over (terms, k, k1, b): 1.0 - b interpolates the SAME Scala
    // double the Spark side uses (lit(1.0 - b)); k1 + 1 stays an
    // in-engine IEEE add on both sides
    val bm25 = Seq(
      (Seq("scan", "merge"), 10, 1.5, 0.5),
      (Seq("window"), 15, 0.9, 0.25),
      (Seq("scan", "column", "join", "query"), 30, 2.0, 0.75)).map {
      case (terms, k, k1, b) =>
        LlmCase(s"lfz_bm25_t${terms.size}_k${k}_k1${(k1 * 10).toInt}" +
            s"_b${(b * 100).toInt}",
          LlmQueries.bm25Sql(terms, k, k1, b),
          (s, d) => TextOps.bm25(docs(s, d), terms, k, k1, b))
    }

    // ---- curation/selection/span families (round-12: the last LLM
    // surfaces without a parameter grid). Every case replays the SAME
    // parameterized builder its pinned oracle now calls; all of these
    // are exact replicas at any parameters (integer micro-units /
    // md5-threshold keep tests / total-order cuts — no recall
    // assumptions anywhere in this block).

    // rolling-window span family over the window length (and the
    // span_dups flag threshold): span < 10 puts every doc in scope,
    // span 30 exercises the short-doc guard (docs are 10..99 tokens)
    val spanD = Seq((5, 0.5), (10, 0.5), (30, 0.5), (10, 0.2)).map {
      case (span, thr) =>
        LlmCase(s"lfz_spandups_s${span}_t${(thr * 10).toInt}",
          LlmQueries.spanDupsSql(span, thr),
          (s, d) => Dedup.spanDups(docs(s, d), span, thr))
    }
    val spanR = Seq(5, 10, 30).map { span =>
      LlmCase(s"lfz_spanrem_s$span",
        LlmQueries.spanRemoveSql(span),
        (s, d) => Dedup.spanRemove(docs(s, d), span))
    }
    val withinDoc = Seq(2, 5, 10).map { span =>
      LlmCase(s"lfz_withindoc_s$span",
        LlmQueries.withinDocDedupSql(span),
        (s, d) => Dedup.withinDocDedup(docs(s, d), span))
    }
    val boiler = Seq((5, 2), (5, 3), (10, 5), (20, 2)).map {
      case (span, minDocs) =>
        LlmCase(s"lfz_boiler_s${span}_m$minDocs",
          LlmQueries.boilerplateSql(span, minDocs),
          (s, d) => Dedup.boilerplateRemove(docs(s, d), span, minDocs))
    }

    // mixing samplers over their deployment knobs. The two rate maps
    // exercise non-pinned strata ('fr' was always the ELSE arm) and a
    // keep-all rate below/above the default
    val rateMaps = Seq(
      ("a", Seq("en" -> 0.25, "fr" -> 0.75), 0.4),
      ("b", Seq("zh" -> 1.0, "de" -> 0.1), 0.1))
    val mixQ = rateMaps.map { case (tag, rates, dflt) =>
      LlmCase(s"lfz_mixquota_$tag",
        LlmQueries.mixQuotaSql(rates, dflt),
        (s, d) => CorpusOps.mixQuota(docs(s, d), "lang",
          scala.collection.immutable.ListMap(rates: _*), dflt))
    }
    val mixR = rateMaps.map { case (tag, rates, dflt) =>
      LlmCase(s"lfz_mixrate_$tag",
        LlmQueries.mixRateSql(rates, dflt),
        (s, d) => CorpusOps.mixRate(docs(s, d), "lang",
          scala.collection.immutable.ListMap(rates: _*), dflt))
    }
    // alpha = 0.0 flattens to uniform (POW(x, 0) = 1 in both engines),
    // alpha = 1.0 keeps natural proportions at exactly targetFrac
    val mixT = Seq((0.0, 0.5), (0.7, 0.5), (1.0, 0.3), (0.3, 0.8)).map {
      case (alpha, tf) =>
        LlmCase(s"lfz_mixtemp_a${(alpha * 10).toInt}_f${(tf * 10).toInt}",
          LlmQueries.mixTemperatureSql(alpha, tf),
          (s, d) => CorpusOps.mixTemperature(docs(s, d), "lang", alpha, tf))
    }
    val mixU = Seq((0.3, 1), (0.8, 2), (0.25, 1), (1.0, 2)).map {
      case (bf, me) =>
        LlmCase(s"lfz_mixuni_b${(bf * 100).toInt}_e$me",
          LlmQueries.mixUnimaxSql(bf, me),
          (s, d) => CorpusOps.mixUnimax(docs(s, d), "lang", bf, me))
    }

    // training-export family: shard count (incl. a non-power-of-2 mod
    // of the two-hex-digit fold), pack budget, vocab cut, chunk stride
    // (overlap 0 = disjoint windows)
    val shardC = Seq(4, 5, 16).map { n =>
      LlmCase(s"lfz_shard_n$n",
        LlmQueries.shardSql(n),
        (s, d) => CorpusOps.shard(docs(s, d), n, replicable = true))
    }
    val packC = Seq((512, 4), (8192, 8), (1024, 16)).map {
      case (budget, n) =>
        LlmCase(s"lfz_pack_b${budget}_n$n",
          LlmQueries.packSql(budget, n),
          (s, d) => CorpusOps.pack(docs(s, d), budget, n,
            replicable = true))
    }
    // the synthetic corpus has exactly 31 distinct tokens, so cuts must
    // sit BELOW that to bind (the first grid used 50/200/1000 and all
    // three hashed identically — a vacuous grid the sensitivity check
    // now rejects); 31 keeps one deliberate whole-vocab edge point
    val vocabC = Seq(5, 15, 31).map { m =>
      LlmCase(s"lfz_vocab_m$m",
        LlmQueries.vocabSql(m),
        (s, d) => TextOps.vocab(docs(s, d), m))
    }
    val chunkC = Seq((16, 4), (64, 16), (32, 0), (24, 8)).map {
      case (w, o) =>
        LlmCase(s"lfz_chunk_w${w}_o$o",
          LlmQueries.chunkSql(w, o),
          (s, d) => TextOps.chunk(docs(s, d), w, o))
    }

    // selection: budget 5000 cuts inside the corpus (~28k tokens at
    // sf0.001), 30000 exercises the whole-corpus-fits branch, 1 the
    // first-bucket-crosses edge; curriculum over the shard count
    val tokBudget = Seq(5000L, 30000L, 1L).map { b =>
      LlmCase(s"lfz_tokbudget_b$b",
        LlmQueries.tokenBudgetSql(
          LlmQueries.oracle("llm_quality_model"), b),
        (s, d) => CorpusOps.tokenBudgetSelect(docs(s, d), b))
    }
    val curr = Seq(4, 16).map { n =>
      LlmCase(s"lfz_curriculum_n$n",
        LlmQueries.curriculumSql(LlmQueries.shardSql(n),
          LlmQueries.oracle("llm_quality_model")),
        (s, d) => CorpusOps.curriculumOrder(docs(s, d), n))
    }

    // scoring family: DSIR/perplexity over the reference slice (every
    // lang slice is nonempty at sf0.001), ccnet cut points, blocklist
    val dsirC = Seq("de", "zh").map { lang =>
      LlmCase(s"lfz_dsir_$lang",
        LlmQueries.dsirSql(lang),
        (s, d) => CorpusOps.dsirWeights(docs(s, d), targetVal = lang))
    }
    val dsirSel = Seq(("es", 50)).map { case (lang, lim) =>
      LlmCase(s"lfz_dsirsel_${lang}_k$lim",
        LlmQueries.dsirSelectSql(lang, lim),
        (s, d) => CorpusOps.dsirWeights(docs(s, d), targetVal = lang,
          ordered = false)
          .orderBy(org.apache.spark.sql.functions.desc("log_weight"),
            org.apache.spark.sql.functions.asc("doc_id")).limit(lim))
    }
    val pplC = Seq(("de", 5000.0), ("fr", 1000.0)).map {
      case (lang, flag) =>
        LlmCase(s"lfz_ppl_${lang}_f${flag.toInt}",
          LlmQueries.perplexitySql(lang, flag),
          (s, d) => TextOps.perplexity(docs(s, d), lang, flag))
    }
    val ccnetC = Seq((3.35, 3.45), (3.30, 3.50)).map { case (h, m) =>
      LlmCase(s"lfz_ccnet_h${(h * 100).toInt}_m${(m * 100).toInt}",
        LlmQueries.ccnetFixedSql(
          LlmQueries.perplexitySql("en", 5000.0), h, m),
        (s, d) => TextOps.ccnetBucketsFixed(docs(s, d), h, m))
    }
    // blocklist words are real vocab tokens (scan/merge occur up to
    // 8-10 times per doc), so n_hits > 1 occurs and the maxHits
    // threshold genuinely binds — the original spam/junk grid was
    // partially vacuous (0 corpus hits made w3_h1 ≡ w1_h1 and the
    // h3 case an all-zero screen)
    val blockC = Seq(
      (Seq("slow", "scan", "merge"), 1),
      (Seq("slow"), 1),
      (Seq("scan", "merge"), 3)).map { case (words, mh) =>
      LlmCase(s"lfz_block_w${words.size}_h$mh",
        LlmQueries.blocklistSql(words, mh),
        (s, d) => TextOps.blocklist(docs(s, d), words, mh))
    }

    // contamination screens over (shingle n, eval split, threshold) —
    // exact replicas: the probe is a distinct-gram equi-join, never
    // probabilistic
    val contamC = Seq((2, 10, 3, 0.5), (4, 7, 2, 0.3), (3, 5, 1, 0.7))
      .map { case (n, mod, rem, thr) =>
        LlmCase(s"lfz_contam_n${n}_m${mod}_r${rem}_t${(thr * 10).toInt}",
          LlmQueries.contaminationSql(n, mod, rem, thr),
          (s, d) => CorpusOps.contamination(docs(s, d), n, mod, rem, thr))
      }
    // Bloom screen over (mBits, numHashes) — with adaptive sizing in
    // the engine, non-default filter geometries are live deployment
    // behavior; the 4096-bit point saturates visibly (high FPR) so the
    // family is guaranteed parameter-sensitive, and the probe math
    // (double-hash positions, 63-bit words) replays at every size
    val bloomC = Seq((4096L, 4), (65536L, 2), (131072L, 4)).map {
      case (m, k) =>
        LlmCase(s"lfz_bloom_m${m}_k$k",
          LlmQueries.bloomSql(m, k),
          (s, d) => CorpusOps.bloomDecontaminate(docs(s, d),
            mBits = m.toInt, numHashes = k))
    }
    val decontamC = Seq((2, 10, 3, 0.5), (3, 4, 2, 0.3)).map {
      case (n, mod, rem, thr) =>
        LlmCase(s"lfz_decontam_n${n}_m${mod}_r${rem}_t${(thr * 10).toInt}",
          LlmQueries.decontaminateSql(n, mod, rem, thr),
          (s, d) => CorpusOps.decontaminate(docs(s, d), n, mod, rem, thr))
    }
    val noveltyC = Seq(2, 4).map { n =>
      LlmCase(s"lfz_novelty_n$n",
        LlmQueries.ngramNoveltySql(n),
        (s, d) => CorpusOps.ngramNovelty(docs(s, d), n))
    }
    val noveltyRefC = Seq((3, 4, 1), (2, 7, 3)).map { case (n, mod, rem) =>
      LlmCase(s"lfz_novref_n${n}_m${mod}_r$rem",
        LlmQueries.noveltyRefSql(n, mod, rem),
        (s, d) => {
          val all = docs(s, d)
          CorpusOps.ngramNoveltyAgainst(
            all.filter(col("doc_id") % mod === rem),
            all.filter(col("doc_id") % mod =!= rem), n)
        })
    }

    // CCNet terciles over the reference slice (the fixed-cut form is
    // covered by ccnetC above); hybrid RRF over query terms, query
    // vector, arm depths and the RRF constant
    val ccnetTerc = Seq("de", "es").map { lang =>
      LlmCase(s"lfz_ccnetterc_$lang",
        LlmQueries.ccnetBucketsSql(LlmQueries.perplexitySql(lang, 5000.0)),
        (s, d) => TextOps.ccnetBuckets(docs(s, d), lang))
    }
    val rrfC = Seq(
      (Seq("scan", "merge"), 5L, 5, 10, 30),
      (Seq("scan", "column", "join", "query"), 3L, 15, 25, 60),
      (Seq("window"), 0L, 10, 20, 10)).map {
      case (terms, qv, k, kEach, c) =>
        LlmCase(s"lfz_rrf_t${terms.size}_q${qv}_k${k}_e${kEach}_c$c",
          LlmQueries.hybridRrfSql(terms, qv, k, kEach, c),
          (s, d) => graft.llm.Retrieval.hybridRrf(docs(s, d), emb(s, d),
            terms, qv, k, kEach, c))
    }

    // split fractions (thresholds re-derived by splitExpr's exact rule),
    // calibration bucket counts (must divide 10000), featurize dims
    // (unpivoted like the pinned query — the compare can't hash arrays)
    val splitC = Seq(
      ("a", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      ("b", Seq("train" -> 0.7, "holdout" -> 0.3))).map {
      case (tag, fracs) =>
        LlmCase(s"lfz_split_$tag",
          LlmQueries.splitSql(fracs),
          (s, d) => CorpusOps.splitAssign(docs(s, d), fracs))
    }
    val calibC = Seq(20, 50).map { b =>
      LlmCase(s"lfz_calib_b$b",
        LlmQueries.calibrationSql(LlmQueries.oracle("llm_quality"), b),
        (s, d) => CorpusOps.qualityCalibration(docs(s, d), b))
    }
    val featC = Seq(8, 32).map { dim =>
      LlmCase(s"lfz_feat_d$dim",
        LlmQueries.featurizeUnpivotSql(LlmQueries.featurizeSql(dim), dim),
        (s, d) => TextOps.featurize(docs(s, d), dim, ordered = false)
          .select(col("doc_id"),
            org.apache.spark.sql.functions.posexplode(col("embedding"))
              .as(Seq("dim", "component")))
          .orderBy("doc_id", "dim"))
    }

    // the dedup-family closure itself over (shingle, threshold) — the
    // exhaustive-Jaccard + recursive-components oracle at thresholds
    // >= 0.5 where the LSH banding's recall is exact on this corpus —
    // and its two downstream accounting views
    val groupsC = Seq((2, 0.6), (4, 0.5)).map { case (sh, thr) =>
      LlmCase(s"lfz_groups_s${sh}_t${(thr * 10).toInt}",
        LlmQueries.dedupGroupsSql(sh, thr),
        (s, d) => Dedup.dedupGroups(docs(s, d), sh, thr))
    }
    val groupSizesC = Seq((2, 0.5), (4, 0.7)).map { case (sh, thr) =>
      LlmCase(s"lfz_groupsizes_s${sh}_t${(thr * 10).toInt}",
        LlmQueries.dupGroupSizesSql(LlmQueries.dedupGroupsSql(sh, thr)),
        (s, d) => CorpusOps.dupGroupSizes(docs(s, d), sh, thr))
    }
    val overlapC = Seq((2, 0.6)).map { case (sh, thr) =>
      LlmCase(s"lfz_overlap_s${sh}_t${(thr * 10).toInt}",
        LlmQueries.sourceOverlapSql(LlmQueries.nearDupPairsSql(sh, thr)),
        (s, d) => CorpusOps.sourceOverlap(docs(s, d), sh, thr))
    }

    // incremental-ingest twins over (shingle, ingest split, threshold)
    // — same LSH-recall caveat as the neardup grid (thresholds >= 0.5)
    val incrD = Seq((3, 4, 1, 0.5), (2, 5, 2, 0.6)).map {
      case (n, mod, rem, thr) =>
        LlmCase(s"lfz_incrdedup_n${n}_m${mod}_r${rem}_t${(thr * 10).toInt}",
          LlmQueries.incrDedupSql(n, mod, rem, thr),
          (s, d) => {
            val all = docs(s, d)
            Dedup.incrementalNearDups(
              all.filter(col("doc_id") % mod === rem),
              all.filter(col("doc_id") % mod =!= rem), n, thr)
          })
    }
    val incrA = Seq((3, 4, 1, 0.5), (2, 7, 0, 0.6)).map {
      case (n, mod, rem, thr) =>
        LlmCase(s"lfz_incradmit_n${n}_m${mod}_r${rem}_t${(thr * 10).toInt}",
          LlmQueries.incrAdmitSql(n, mod, rem, thr),
          (s, d) => {
            val all = docs(s, d)
            Dedup.incrementalAdmit(
              all.filter(col("doc_id") % mod === rem),
              all.filter(col("doc_id") % mod =!= rem), n, thr)
          })
    }

    // multimodal plumbing over (decode dim) and the frame pipeline over
    // (resize width, frame bytes, stride, per-frame decode dim) — exact
    // integer-sum replicas; stride 1 keeps every frame, a short last
    // chunk groups naturally on both sides
    val mmC = Seq(8, 32).map { dim =>
      LlmCase(s"lfz_mm_d$dim",
        LlmQueries.multimodalSql(dim),
        (s, d) => graft.llm.Multimodal.documentsAsMedia(s, docs(s, d), dim))
    }
    val mmFrames = Seq((64, 16, 2, 4), (96, 24, 1, 6), (128, 32, 3, 8))
      .map { case (w, fb, st, fd) =>
        LlmCase(s"lfz_mmframes_w${w}_b${fb}_s${st}_d$fd",
          LlmQueries.multimodalFramesSql(w, fb, st, fd),
          (s, d) => graft.llm.Multimodal.documentsAsFrames(s, docs(s, d),
            w, fb, st, fd))
      }

    // corpus-vs-slice token KL over the target slice; windowed
    // embedding drift over the featurizer dimension
    val klC = Seq("de", "zh").map { lang =>
      LlmCase(s"lfz_tokenkl_$lang",
        LlmQueries.tokenKlSql(lang),
        (s, d) => CorpusOps.tokenKl(docs(s, d), targetVal = lang))
    }
    val driftC = Seq(8, 32).map { dim =>
      LlmCase(s"lfz_drift_d$dim",
        LlmQueries.driftWindowsSql(dim),
        (s, d) => {
          val withTs = docs(s, d).withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "timestampadd(MINUTE, CAST(doc_id AS INT), " +
                "TIMESTAMP '2026-01-01 00:00:00')"))
          CorpusOps.driftWindows(withTs, dim)
        })
    }

    winnow ++ matches ++ containment ++ brute ++ annIvf ++ embed ++
      simhash ++ nearDup ++ trained ++ semdedup ++ residual ++
      residual3 ++ pq ++ ivfpq ++ sessions ++ pairs ++ bpeM ++ bpeE ++
      bm25 ++ spanD ++ spanR ++ withinDoc ++ boiler ++ mixQ ++ mixR ++
      mixT ++ mixU ++ shardC ++ packC ++ vocabC ++ chunkC ++
      tokBudget ++ curr ++ dsirC ++ dsirSel ++ pplC ++ ccnetC ++
      blockC ++ bloomC ++ contamC ++ decontamC ++ noveltyC ++ noveltyRefC ++
      ccnetTerc ++ rrfC ++ splitC ++ calibC ++ featC ++ groupsC ++
      groupSizesC ++ overlapC ++ incrD ++ incrA ++ mmC ++ mmFrames ++
      klC ++ driftC
  }
}

/** Dumps the LLM fuzz corpus SQL for tools/fuzz_expected.py.
  * Run: sbt "Test/runMain graft.fuzz.LlmFuzzDump <out.json>". */
object LlmFuzzDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/llm_fuzz.json")
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = LlmFuzzSeed.cases
      .map(c => s"${q(c.id)}: ${q(c.sql)}")
      .mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${LlmFuzzSeed.cases.size} cases to $out")
  }
}
