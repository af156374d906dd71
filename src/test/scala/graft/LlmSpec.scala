package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm._
import graft.sources.Tables

class LlmSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Spark jobs of one `Pipeline.curateChain` over sf0.001 in the test
    * session (local[4], 4 shuffle partitions, AQE on). */
  private val ChainJobs = 46

  private lazy val tinyDocs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"), // exact dup of 1
    (3L, "the cat sat on the big mat"), // near dup of 1
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("text stats: hand-computed") {
    val r = TextOps.stats(tinyDocs).collect()
    // "the cat sat on the mat": 22 chars, 6 tokens, 17 letters / 6 = 2.8333
    assert(r(0).getLong(1) == 22)
    assert(r(0).getLong(2) == 6)
    assert(math.abs(r(0).getDouble(3) - 2.8333) < 1e-9)
  }

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(tinyDocs).collect()
    assert(r.length == 3)
    val byKeep = r.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byKeep(1L) == 2) // docs 1+2 collapse
    assert(byKeep(3L) == 1 && byKeep(4L) == 1)
  }

  test("near-dup pairs: near dup found, unrelated not paired") {
    val pairs = Dedup.nearDupPairs(tinyDocs, shingleSize = 1, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: near-dups differ in few bits, unrelated in many") {
    val h = Dedup.simHash(tinyDocs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) == 0) // identical text
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("fingerprint is order-sensitive and collision-free on the fixture") {
    val fp = TextOps.fingerprint(
      Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
  }

  test("langid on multilingual fixtures") {
    val df = Seq(
      (1L, "der hund ist nicht mit der katze im haus"),
      (2L, "el perro es un animal que vive en la casa por años"),
      (3L, "le chien est dans la maison pour une nuit"),
      (4L, "the cat is in that house and it is you"),
      (5L, "你好 世界 这 是 一个 测试 文档")
    ).toDF("doc_id", "text")
    val preds = TextOps.langId(df).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(preds == Map(1L -> "de", 2L -> "es", 3L -> "fr", 4L -> "en", 5L -> "zh"))
  }

  test("bpe-ish token count >= whitespace token count") {
    val r = TextOps.tokenCount(Seq((1L, "hello, world! x2")).toDF("doc_id", "text"))
      .collect()(0)
    assert(r.getLong(1) == 3) // ws tokens
    assert(r.getLong(2) == 6) // hello / , / world / ! / x / 2
  }

  test("brute-force topk: hand-computed ordering") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, k = 3).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L)) // by dot desc
    assert(r.map(_.getInt(2)).toSeq == Seq(1, 2, 3))
    assert(math.abs(r(1).getDouble(3) - 0.9) < 1e-9)
  }

  test("lsh neighbors find self-matches on real embeddings") {
    val e = Tables(spark, sf0001, "embeddings")
    val r = Similarity.lshNeighbors(
      e.filter($"vec_id" < 5), e, maxDist = 0.001).collect()
    val selfPairs = r.filter(x => x.getLong(0) == x.getLong(1))
    assert(selfPairs.length == 5) // each query finds itself at dist 0
  }

  test("multimodal stub pipeline is deterministic") {
    val docs = Tables(spark, sf0001, "documents").limit(20)
    val a = Multimodal.documentsAsMedia(spark, docs).collect()
    val b = Multimodal.documentsAsMedia(spark, docs).collect()
    assert(a.nonEmpty && a.sameElements(b))
    assert(a.forall(_.getDouble(2) > 0))
  }

  test("deterministic sign-projection LSH finds self-matches at distance 0") {
    val e = Tables(spark, sf0001, "embeddings")
    val r = Similarity.lshNeighborsDeterministic(
      e.filter($"vec_id" < 5), e, maxDist = 0.001).collect()
    val selfPairs = r.filter(x => x.getLong(0) == x.getLong(1))
    assert(selfPairs.length == 5) // identical vectors share every bucket
  }

  test("dedup groups: a duplicate chain collapses to its smallest id") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base), (11L, base + " extra"), (12L, (2 to 31).map(i => s"tok$i").mkString(" ")),
      (20L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val r = Dedup.dedupGroups(docs, shingleSize = 3, threshold = 0.5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(10L -> 10L, 11L -> 10L, 12L -> 10L)) // 20 not in any pair
  }

  test("dedup groups: a 10-hop duplicate chain collapses to ONE keep group") {
    // 11 sliding windows of 25 distinct tokens, stride 4: adjacent docs
    // share 21 tokens → 19 of 27 3-gram shingles union → jaccard 19/27 ≈
    // 0.704 ≥ 0.5; two-hop docs share 17 tokens → jaccard 15/31 ≈ 0.484 <
    // 0.5, so the pair graph is a pure PATH of diameter 10 — a fixed
    // 8-round label propagation would split it into two keep groups.
    val words = (0 until 65).map(i => f"tok$i%03d")
    val docs = (0 to 10).map { d =>
      (100L + d, words.slice(d * 4, d * 4 + 25).mkString(" "))
    }.toDF("doc_id", "text")
    // 1 row per band (32 bands) makes every jaccard-0.7 pair an LSH
    // candidate with near-certainty; guard the fixture: exactly the 10
    // adjacent pairs survive exact-jaccard verification
    val pairs = Dedup.nearDupPairs(docs, shingleSize = 3, threshold = 0.5,
      numHashes = 32, rowsPerBand = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs == (0 until 10).map(d => (100L + d, 101L + d)).toSet)
    val groups = Dedup.dedupGroups(docs, shingleSize = 3, threshold = 0.5,
      numHashes = 32, rowsPerBand = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(groups == (0 to 10).map(d => (100L + d) -> 100L).toMap)
  }

  test("pq topk: planted clusters retrieved, rerank lifts recall, reruns bit-equal") {
    // 4 tight clusters of 10 in 64-dim: member = one-hot axis base +
    // small deterministic per-id jitter on a second axis
    val pts = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(64)(0.0f)
      v(c * 16) = 1.0f
      v(c * 16 + 1) = 0.01f * (i / 4)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val qs = pts.filter($"vec_id" < 4) // one query per cluster
    // stride 1: the first 4 strided ids are 0..3 — one codeword per
    // cluster, so each 16-dim subspace carries its cluster's axis
    val r = Similarity.pqTopK(qs, pts, k = 3, m = 4, ksub = 4, stride = 1)
      .collect()
    assert(r.length == 12)
    // every retrieved neighbor lies in the query's cluster
    r.foreach(x => assert(x.getLong(1) % 4 == x.getLong(0) % 4, x.toString))
    val again = Similarity.pqTopK(qs, pts, k = 3, m = 4, ksub = 4, stride = 1)
      .collect()
    assert(r.sameElements(again))
    // refine stage: exact re-rank of the ADC shortlist can only improve
    // recall vs the exact ranking, and its sims ARE the exact dots
    val e = Tables(spark, sf0001, "embeddings")
    val eq = e.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(eq, e, k = 5)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, exact, k = 5).head().getDouble(0)
    val pure = recall(Similarity.pqTopK(eq, e, k = 5, stride = 7))
    val refined = recall(Similarity.pqTopK(eq, e, k = 5, stride = 7,
      rerank = 50))
    assert(refined >= pure, s"rerank lowered recall: $pure -> $refined")
    assert(refined >= 0.5, s"refined recall too low: $refined")
  }

  test("ivf+pq composed index: refined sims are exact dots, reruns bit-equal") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val r = Similarity.ivfPqTopK(q, e, k = 5, centroidStride = 7,
      nProbe = 3, rerank = 20).collect()
    assert(r.length == 25) // 5 queries × k
    // the refine stage re-scored with exact dots, so every reported sim
    // must equal the brute-force sim for that (query, neighbor) pair
    val bf = Similarity.bruteForceTopK(q, e, k = 500).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    r.foreach(x => assert(
      bf((x.getLong(0), x.getLong(1))) == x.getDouble(3), x.toString))
    val again = Similarity.ivfPqTopK(q, e, k = 5, centroidStride = 7,
      nProbe = 3, rerank = 20).collect()
    assert(r.sameElements(again))
  }

  test("recall@k with an empty exact side returns 0 rows, not a null metric") {
    val e = Tables(spark, sf0001, "embeddings")
    val some = Similarity.bruteForceTopK(e.filter($"vec_id" < 3), e, k = 5)
    val none = some.filter($"query_id" < 0)
    assert(Similarity.recallAtK(some, none, k = 5).count() == 0)
    // sanity: self-recall on a real exact side is 1.0
    val r = Similarity.recallAtK(some, some, k = 5).collect()
    assert(r.length == 1 && r(0).getDouble(0) == 1.0)
  }

  test("ivf topk: self found, sims agree with brute force, cells pruned") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val ivf = Similarity.ivfProbe(q, Similarity.ivfIndex(e), k = 5).collect()
    assert(ivf.nonEmpty)
    // every query retrieves itself (its own cell is always probed)
    val selfHits = ivf.filter(r => r.getLong(0) == r.getLong(1))
    assert(selfHits.length == 5)
    // IVF is a subset search: any reported (query, neighbor, sim) must
    // carry the same sim brute force computes for that pair
    val bf = Similarity.bruteForceTopK(q, e, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(ivf.forall(r =>
      math.abs(bf((r.getLong(0), r.getLong(1))) - r.getDouble(3)) < 1e-9))
  }

  test("curation keeps the clean original, drops dup/language/quality losers") {
    val docs = Seq(
      (10L, "the cat and the dog play in the garden all day"), // keeper
      (11L, "the cat and the dog play in the garden all day today"), // near-dup loser
      (12L, "der hund und die katze ist nicht hier und das ist gut"), // wrong language
      (13L, "a a a a a a a a a a")) // low quality (uniq_ratio 0.1)
      .toDF("doc_id", "text")
    val kept = TextOps.curate(docs).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(10L), kept.toString)
  }

  test("strict curation additionally drops boilerplate the base gates pass") {
    val docs = Seq(
      (10L, "the cat and the dog play in the garden all day"), // keeper
      // quality-passing english text whose 3-grams repeat heavily:
      // the base pipeline keeps it, the strict repetition gate drops it
      (14L, "the big dog runs fast the big dog runs fast the big dog runs fast the big dog runs fast"))
      .toDF("doc_id", "text")
    val base = TextOps.curate(docs).collect().map(_.getLong(0)).toSeq
    val strict = TextOps.curate(docs, maxDup3 = 0.2).collect().map(_.getLong(0)).toSeq
    assert(base == Seq(10L, 14L), base.toString)
    assert(strict == Seq(10L), strict.toString)
  }

  test("curateMulti equals the union of per-language curates, on the " +
      "corpus and on a mixed fixture") {
    // the multi-language form exists because the dedup keep set is
    // language-independent — ONE scan + ONE dedup must reproduce the
    // |langs|-scan union exactly (each doc has one predicted language,
    // so pred_lang ∈ langs partitions the union)
    val docs = Tables(spark, sf0001, "documents")
    val langs = Seq("en", "fr")
    val multi = TextOps.curateMulti(docs, langs = langs, maxDup3 = 0.9)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    val union = langs.flatMap(l =>
        TextOps.curate(docs, lang = l, maxDup3 = 0.9)
          .collect().map(r => (r.getLong(0), r.getString(2))))
      .sortBy(_._1)
    assert(multi == union, s"multi=${multi.size} union=${union.size}")
    assert(multi.nonEmpty)
    // single-language multi degenerates to curate itself
    val one = TextOps.curateMulti(docs, langs = Seq("en"))
      .collect().map(_.getLong(0)).toSeq
    val base = TextOps.curate(docs).collect().map(_.getLong(0)).toSeq
    assert(one == base)
  }

  test("curateChain releases stage intermediates: persisted-RDD delta " +
      "is bounded by the stage outputs") {
    // r14 ×300 rung: the dedup/bloom/semdedup intermediates (shingle
    // sets, band tables, label rounds) are localCheckpoints nothing
    // unpersists — held across stages they aged the heap 1.6× and
    // would OOM at a big-enough corpus. The chain must end holding at
    // most its stage OUTPUTS (3 checkpointing stages).
    val out = java.nio.file.Files
      .createTempDirectory("graft_chain_spec").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, stages) = Pipeline.curateChain(spark, sf0001, out)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(stages.map(_.name) ==
      Seq("curate", "bloom_decontam", "semdedup", "split_export"))
    val leaked = (after -- before).size
    assert(leaked <= 3, s"chain left $leaked persisted RDDs behind " +
      "(expected at most its 3 stage-output checkpoints)")
    // survivors monotone non-increasing through the gates
    assert(stages.map(_.survivors).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("curateChain runs a pinned number of Spark jobs on sf0.001") {
    // one job per materialization: stage outputs and operator
    // checkpoints count their rows in their own job, the small-graph
    // dedup resolves in one collect. A change that adds a job per stage
    // boundary or per label round moves this number.
    val out = java.nio.file.Files
      .createTempDirectory("graft_chain_jobs").toString
    val sc = spark.sparkContext
    val tag = "graft-chain-job-pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try Pipeline.curateChain(spark, sf0001, out)
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.ListenerBusFlush(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == ChainJobs, s"curateChain ran ${jobs.get} jobs")
  }

  test("union-find components equal the distributed label rounds") {
    val chain = (1L until 60L).map(i => (i + 1, i)) // long, reversed
    val star = (201L to 210L).map(l => (205L, l)).filter(p => p._2 != 205L)
    val dups = Seq((300L, 301L), (301L, 300L), (300L, 301L), (302L, 301L))
    for (pairs <- Seq(chain, star, dups, chain ++ star ++ dups)) {
      val df = pairs.toDF("doc_a", "doc_b")
      def comps(distributed: Boolean) =
        Dedup.minLabelComponents(df, distributed).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uf = comps(distributed = false)
      assert(uf == comps(distributed = true))
      assert(uf.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    }
    assert(Dedup.minLabelComponents(Seq((2L, 1L), (3L, 2L)).toDF("doc_a",
      "doc_b")).collect().forall(_.getLong(1) == 1L))
  }

  test("vocab: tf counts occurrences, df counts docs, rank cut is total") {
    val docs = Seq(
      (1L, "the cat the cat the"),
      (2L, "the dog"),
      (3L, "zebra")).toDF("doc_id", "text")
    val v = TextOps.vocab(docs, maxSize = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 'the': tf 4 across docs 1+2 => df 2; 'cat': tf 2 df 1; then the
    // tf-1 tie breaks token-ascending => 'dog' beats 'zebra' at the cut
    assert(v.toSeq == Seq(("the", 4L, 2L), ("cat", 2L, 1L), ("dog", 1L, 1L)))
  }

  test("shard: stable, in-range, and balanced on both hash paths") {
    val docs = Tables(spark, sf0001, "documents")
    for (replicable <- Seq(false, true)) {
      val a = CorpusOps.shard(docs, nShards = 8, replicable = replicable)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val b = CorpusOps.shard(docs, nShards = 8, replicable = replicable)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(a.sameElements(b)) // deterministic across runs
      assert(a.forall { case (_, s) => s >= 0 && s < 8 })
      val counts = a.groupBy(_._2).values.map(_.length)
      // hash balance: no shard more than 3x the ideal eighth
      assert(counts.max <= a.length * 3 / 8, counts.toSeq.sorted)
    }
  }

  test("shard: invalid nShards fail fast instead of degrading silently") {
    val docs = Tables(spark, sf0001, "documents")
    // replicable path folds 2 hex digits: >256 shards would silently
    // leave the tail empty, so it must throw instead
    intercept[IllegalArgumentException] {
      CorpusOps.shard(docs, nShards = 512, replicable = true)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.shard(docs, nShards = 0)
    }
    // the stock xxhash64 path has no digit cap
    assert(CorpusOps.shard(docs, nShards = 512).collect()
      .forall(r => r.getLong(1) >= 0 && r.getLong(1) < 512))
  }

  test("pack: seq_id is the floor-cumsum of in-shard tokens before the doc") {
    val docs = Tables(spark, sf0001, "documents")
    val rows = CorpusOps.pack(docs, budget = 500, nShards = 4,
      replicable = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._2).values.foreach { shardRows =>
      var cum = 0L
      shardRows.sortBy(_._1).foreach { case (_, _, n, seqId) =>
        assert(seqId == cum / 500, s"cum=$cum seq=$seqId")
        cum += n
      }
    }
    // budget respected up to the documented bounded overflow: tokens
    // BEFORE each doc stay inside its sequence's budget window
    assert(rows.nonEmpty && rows.map(_._4).max >= 1)
  }

  test("chunk: windows advance by stride, short docs are one chunk, " +
      "overlap reconstructs the doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b")).toDF("doc_id", "text")
    val r = TextOps.chunk(docs, window = 4, overlap = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getLong(3)))
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    // overlap=1: dropping each successor's first token rebuilds the doc
    val rebuilt = (d1.head._3 +: d1.tail.map(_._3.split(" ").drop(1)
      .mkString(" "))).mkString(" ")
    assert(rebuilt == (1 to 10).map(i => s"t$i").mkString(" "))
    assert(r.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b"))
  }

  test("recall@k: identical rankings score 1.0, disjoint score 0.0") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
    val perfect = Similarity.recallAtK(bf, bf, k = 5).head()
    assert(perfect.getDouble(0) == 1.0 && perfect.getLong(1) == 5)
    // shift the approx side's neighbors so no pair matches
    val shifted = bf.withColumn("neighbor_id",
      org.apache.spark.sql.functions.col("neighbor_id") + 1000000L)
    assert(Similarity.recallAtK(shifted, bf, k = 5).head().getDouble(0) == 0.0)
  }

  test("trained ivf: self found, sims agree with brute force") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val ivf = Similarity.ivfProbe(q, Similarity.ivfTrainedIndex(e, nlist = 4),
      k = 5, nProbe = Seq(2)).collect()
    assert(ivf.nonEmpty)
    // a query's own cell is its nearest cell, so it always finds itself
    assert(ivf.count(r => r.getLong(0) == r.getLong(1)) == 5)
    val bf = Similarity.bruteForceTopK(q, e, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(ivf.forall(r =>
      math.abs(bf((r.getLong(0), r.getLong(1))) - r.getDouble(3)) < 1e-9))
  }

  test("cosine near-dup pairs: planted duplicate found, orthogonal not paired") {
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val base = vec(j => if (j < 8) 1.0f else 0.0f)
    val nearDup = vec(j => if (j < 8) (if (j == 0) 0.99f else 1.0f) else 0.0f)
    val ortho = vec(j => if (j >= 32) 1.0f else 0.0f)
    val e = Seq((0L, base), (1L, nearDup), (2L, ortho))
      .toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDupPairs(e, tau = 0.9).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(r.head.getDouble(2) > 0.99)
  }

  test("semdedup: near-identical cluster-mate dropped low-id-wins, " +
      "cross-cluster vectors untouched") {
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val a = vec(j => if (j < 8) 1.0f else 0.0f)
    val b = vec(j => if (j >= 32) 1.0f else 0.0f) // orthogonal cluster
    // ids 0 and 1 are the Lloyd init centers — one per planted cluster
    val e = Seq(
      (0L, a),
      (1L, b),
      (2L, vec(j => if (j < 8) (if (j == 0) 0.99f else 1.0f) else 0.0f)),
      (3L, vec(j => if (j < 16) 1.0f else 0.0f)), // same cluster, below tau
      (4L, vec(j => if (j >= 40) 1.0f else 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(e, tau = 0.9, nlist = 2, iters = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2)))
      .toMap
    // cells: {0,2,3} vs {1,4}
    assert(r(0L)._1 == r(2L)._1 && r(0L)._1 == r(3L)._1)
    assert(r(1L)._1 == r(4L)._1 && r(0L)._1 != r(1L)._1)
    // only the planted near-duplicate is dropped, and the LOWER id wins
    assert(!r(2L)._2, "near-dup of vec 0 must be dropped")
    assert(Seq(0L, 1L, 3L, 4L).forall(r(_)._2), r.toString)
  }

  test("semdedup stats: cell/candidate/verified decomposition matches " +
      "the hand-computed blocking structure") {
    // same fixture as the semdedup test above: cells {0,2,3} and {1,4}
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val e = Seq(
      (0L, vec(j => if (j < 8) 1.0f else 0.0f)),
      (1L, vec(j => if (j >= 32) 1.0f else 0.0f)),
      (2L, vec(j => if (j < 8) (if (j == 0) 0.99f else 1.0f) else 0.0f)),
      (3L, vec(j => if (j < 16) 1.0f else 0.0f)),
      (4L, vec(j => if (j >= 40) 1.0f else 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semDedupStats(e, tau = 0.9, nlist = 2, iters = 3)
      .head()
    assert(r.getLong(0) == 2L, s"n_cells: $r")
    assert(r.getLong(1) == 3L, s"max_occupancy: $r") // cell {0,2,3}
    // candidates = C(3,2) + C(2,2-ish) = 3 + 1; verified at tau=0.9 is
    // exactly the planted near-dup pair (0,2)
    assert(r.getLong(2) == 4L, s"candidate_pairs: $r")
    assert(r.getLong(3) == 1L, s"verified_pairs: $r")
  }

  test("span dups: exact-dup docs fully flagged, partial overlap counted, " +
      "short docs zero, hashed keys identical") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // exact dup: every span repeated
      (3L, "the cat sat on the big mat"), // shares 3 of its 5 spans
      (4L, "completely different words entirely here now"),
      (5L, "too short") // < span tokens: zero spans, 0.0 fraction
    ).toDF("doc_id", "text")
    val r = Dedup.spanDups(docs, span = 3).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == (4L, 4L, 1.0, true) && r(2L) == (4L, 4L, 1.0, true))
    assert(r(3L) == (5L, 3L, 0.6, true))
    assert(r(4L) == (4L, 0L, 0.0, false))
    assert(r(5L) == (0L, 0L, 0.0, false))
    // the xxhash64 key path only changes the JOIN KEY — absent a 64-bit
    // collision the output is identical (same guarantee as contamination)
    val h = Dedup.spanDups(docs, span = 3, hashKeys = true).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(h == r)
  }

  test("semdedup groups: star-shaped dup group collapses to one " +
      "representative where the pairwise rule keeps two") {
    val dim = 64
    def block(lo: Int, hi: Int) =
      (0 until dim).map(j => if (j >= lo && j < hi) 1.0f else 0.0f).toArray
    // cluster A: 1 = left block, 3 = right block, 5 = both blocks.
    // cos(1,5) = cos(3,5) = 1/sqrt(2) ~ 0.707; cos(1,3) = 0 — a star.
    // cluster B (orthogonal): 2 and 4, no dups. Init centers = ids 1,2.
    val e = Seq(
      (1L, block(0, 8)), (2L, block(32, 40)), (3L, block(8, 16)),
      (4L, block(40, 48)), (5L, block(0, 16))
    ).toDF("vec_id", "embedding")
    val grp = Similarity.semDedupGroups(e, tau = 0.7, nlist = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    // the whole star is ONE group kept by its minimum id
    assert(grp == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 2L -> 2L, 4L -> 4L),
      grp.toString)
    // the pairwise low-id rule keeps 3 as well (its only mate, 5, is
    // higher) — the documented difference between the two keep rules
    val pw = Similarity.semDedup(e, tau = 0.7, nlist = 2)
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(pw == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false), pw.toString)
  }

  test("normalize: case/punct variants collapse, exact dedup then merges them") {
    val docs = Seq(
      (1L, "The Cat, Sat!"),
      (2L, "the  cat sat"), // same content after normalization
      (3L, "a different doc")
    ).toDF("doc_id", "text")
    val n = TextOps.normalize(docs).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getBoolean(2))).toMap
    assert(n(1L) == ("the cat sat", true))
    assert(n(2L) == ("the cat sat", true)) // double space collapsed
    assert(n(3L) == ("a different doc", false))
    val d = Dedup.exact(TextOps.normalize(docs)
        .select($"doc_id", $"norm_text".as("text"))).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(d == Map(1L -> 2L, 3L -> 1L)) // 1+2 merge under keep-id 1
  }

  test("bm25: docs without query terms absent, tf/idf ranking, k cut") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark table"),
      (3L, "other words here")
    ).toDF("doc_id", "text")
    val r = TextOps.bm25(docs, Seq("spark", "table"), k = 10).collect()
    // d3 has no query term; d2 outranks d1 (rare 'table' idf dominates
    // d1's repeated common term under tf saturation)
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 1L))
    assert(r.forall(_.getDouble(1) > 0))
    val top1 = TextOps.bm25(docs, Seq("spark", "table"), k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("mix temperature: alpha=1 keeps natural rates, alpha=0 flattens, " +
      "rates cap at 1") {
    import org.apache.spark.sql.functions.lit
    // exact micro-unit shares: p = (.5, .25, .25) so W6 = 1e6 exactly
    val docs = (0L until 40L).map(i =>
        (i, if (i < 20) "en" else if (i < 30) "de" else "es"))
      .toDF("doc_id", "lang").withColumn("text", lit("x"))
    def rates(alpha: Double, f: Double) =
      CorpusOps.mixTemperature(docs, "lang", alpha, f)
        .select("lang", "rate").distinct().collect()
        .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // alpha=1: q = p, so every stratum samples at exactly targetFrac
    assert(rates(1.0, 0.5).values.toSet == Set(0.5))
    // alpha=0: uniform target — rare strata upweighted over common
    val r0 = rates(0.0, 0.5)
    assert(r0("en") < r0("de") && math.abs(r0("en") - 0.333333) < 1e-9)
    assert(math.abs(r0("de") - 0.666667) < 1e-9)
    // cap: targetFrac=1 with alpha=0 wants rate 4/3 for rare strata ->
    // truncates to 1.0, every doc of that stratum kept
    val capped = CorpusOps.mixTemperature(docs, "lang", 0.0, 1.0)
    assert(capped.filter($"lang" === "de").count() == 10)
    // determinism: same corpus, same sample
    val s1 = CorpusOps.mixTemperature(docs, "lang", 0.3, 0.5)
      .collect().map(_.getLong(0)).toSeq
    val s2 = CorpusOps.mixTemperature(docs, "lang", 0.3, 0.5)
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2 && s1.nonEmpty)
  }

  test("multimodal resize + frame-sample pipeline multiplies rows deterministically") {
    val docs = Tables(spark, sf0001, "documents").limit(20)
    val a = Multimodal.documentsAsFrames(spark, docs).collect()
    val b = Multimodal.documentsAsFrames(spark, docs).collect()
    assert(a.nonEmpty && a.sameElements(b))
    // resize to 128 bytes, 32-byte frames, stride 2 → frames 0 and 2 per doc
    val perDoc = a.groupBy(_.getLong(0))
    assert(perDoc.values.forall(_.map(_.getInt(1)).sorted.toSeq == Seq(0, 2)))
  }

  test("simhash pairs: band blocking equals brute-force hamming scan") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // identical -> hamming 0
      (3L, "the cat sat on the big mat"),
      (4L, "completely different words entirely here now"),
      (5L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val got = Dedup.simHashNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: every pair's true hamming distance, thresholded
    val sk = Dedup.simHash(docs)
    val brute = sk.as("a").crossJoin(sk.select(
        col("doc_id").as("doc_b"), col("simhash").as("sim_b")))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id"), col("doc_b"),
        expr("CAST(bit_count(simhash ^ sim_b) AS BIGINT)").as("h"))
      .filter(col("h") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.contains((1L, 2L, 0L))) // the planted exact dup
  }

  test("repetition: planted boilerplate flagged, varied text not") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val r = TextOps.repetition(docs).collect()
    // doc 1: 1 distinct of 6 tokens; all 4 3-grams identical → flagged
    assert(math.abs(r(0).getDouble(1) - (1 - 1.0 / 6)) < 1e-3)
    assert(r(0).getDouble(3) == 0.75 && r(0).getBoolean(4))
    // doc 2: everything distinct → all ratios 0, not flagged
    assert(r(1).getDouble(1) == 0.0 && r(1).getDouble(3) == 0.0 && !r(1).getBoolean(4))
  }

  test("pii redaction masks each type and counts on the original text") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org from 10.0.0.7 ssn 123-45-6789 call +1 555-0199"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = TextOps.piiRedact(docs).collect()
    assert((1 to 4).map(r(0).getLong) == Seq(1L, 1L, 1L, 1L))
    assert(r(0).getString(5) ==
      "mail <EMAIL> from <IP> ssn <SSN> call <PHONE>")
    assert((1 to 4).map(r(1).getLong) == Seq(0L, 0L, 0L, 0L))
    assert(r(1).getString(5) == "no pii here at all")
  }

  test("contamination: planted eval leak detected; clean eval doc near zero") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // train
      (2L, "unrelated train corpus text goes here"), // train
      (7L, "alpha beta gamma delta epsilon zeta"), // eval: full leak of 1
      (17L, "totally novel evaluation content words") // eval: clean
    ).toDF("doc_id", "text")
    val r = CorpusOps.contamination(docs).collect()
    val byDoc = r.map(x => x.getLong(0) -> x).toMap
    assert(byDoc(7L).getDouble(3) == 1.0 && byDoc(7L).getBoolean(4))
    assert(byDoc(17L).getDouble(3) == 0.0 && !byDoc(17L).getBoolean(4))
    // hashed-key join is a pure implementation swap: identical output
    val hashed = CorpusOps.contamination(docs, hashKeys = true).collect()
    assert(hashed.map(_.toSeq).toSet == r.map(_.toSeq).toSet)
  }

  test("mix samplers: exact quotas per stratum; rate sample deterministic subset") {
    val docs = Tables(spark, sf0001, "documents")
    val rates = Map("en" -> 0.5, "de" -> 0.25, "es" -> 1.0, "zh" -> 0.125)
    val strata = docs.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val q = CorpusOps.mixQuota(docs, "lang", rates)
    val got = q.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    for ((l, n) <- strata)
      assert(got(l) == math.ceil(n * rates.getOrElse(l, 0.5)).toLong,
        s"stratum $l quota off")
    // rate sampler: deterministic across runs, and a doc's membership
    // never depends on other rows (pure per-row predicate)
    val r1 = CorpusOps.mixRate(docs, "lang", rates).collect().map(_.getLong(0)).toSet
    val r2 = CorpusOps.mixRate(docs.sample(0.5, seed = 7), "lang", rates)
      .collect().map(_.getLong(0)).toSet
    assert(r2.subsetOf(r1))
  }

  test("mix unimax: small strata capped at one epoch, leftover split " +
      "evenly, maxEpochs relaxes the cap") {
    import org.apache.spark.sql.functions.lit
    // en=30, de=4, es=6; B = floor(40*0.5) = 20. Ascending caps: de(4)
    // and es(6) fit under the fair share -> capped (rate 1); en takes
    // the remaining 10 of 30 -> rate 1/3
    val docs = (0L until 40L).map(i =>
        (i, if (i < 30) "en" else if (i < 34) "de" else "es"))
      .toDF("doc_id", "lang").withColumn("text", lit("x"))
    def rates(frac: Double, epochs: Int) =
      CorpusOps.mixUnimax(docs, "lang", frac, epochs)
        .select("lang", "rate").distinct().collect()
        .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val r = rates(0.5, 1)
    assert(r("de") == 1.0 && r("es") == 1.0)
    assert(math.abs(r("en") - 0.333333) < 1e-9)
    // rate 1.0 keeps the whole stratum (epoch cap, not a sample)
    val kept = CorpusOps.mixUnimax(docs, "lang", 0.5, 1)
    assert(kept.filter($"lang" === "de").count() == 4)
    assert(kept.filter($"lang" === "es").count() == 6)
    // maxEpochs=2, budget=N: de caps at 8 (rate truncates to 1), en
    // takes floor(20/1)=20 of 30
    val r2 = rates(1.0, 2)
    assert(r2("de") == 1.0 && r2("es") == 1.0)
    assert(math.abs(r2("en") - 0.666667) < 1e-9)
    // determinism
    val s1 = CorpusOps.mixUnimax(docs, "lang").collect().map(_.getLong(0)).toSeq
    assert(s1 == CorpusOps.mixUnimax(docs, "lang").collect().map(_.getLong(0)).toSeq)
  }

  test("dsir weights: target-like docs outweigh off-target docs; " +
      "selection cut keeps the target-like top") {
    val docs = Seq(
      (1L, "good clean data", "en"),
      (2L, "good clean tokens", "en"),
      (3L, "junk noise spam", "xx"),
      (4L, "good clean data", "xx") // target-LIKE text, off-target label
    ).toDF("doc_id", "text", "lang")
    val w = CorpusOps.dsirWeights(docs).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    // weights score the TEXT against the target model, not the label
    assert(w(1L) > w(3L) && w(4L) > w(3L))
    assert(w(1L) == w(4L)) // identical text, identical weight
    val top = CorpusOps.dsirWeights(docs, ordered = false)
      .orderBy(org.apache.spark.sql.functions.desc("log_weight"),
        org.apache.spark.sql.functions.asc("doc_id"))
      .limit(2).collect().map(_.getLong(0)).toSet
    assert(!top.contains(3L))
  }

  test("perplexity: reference-like text scores low, off-language text " +
      "high; unseen tokens cost the shared unseen mass") {
    val docs = Seq(
      (1L, "the cat sat", "en"),
      (2L, "the cat sat", "en"),
      (3L, "the cat sat", "en"),
      (4L, "zqx wvu jkl", "fr") // every token unseen by the en LM
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.perplexity(docs, flagThreshold = 8.0).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getBoolean(4))).toList
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId(1L)._2 == 3) // n_tokens
    assert(byId(1L)._4 < byId(4L)._4) // in-domain ppl < off-domain ppl
    assert(byId(1L)._3 == byId(2L)._3) // identical text, identical score
    // ppl = exp(avg_nll) to rounding
    assert(math.abs(byId(1L)._4 - math.exp(byId(1L)._3)) < 0.01 * byId(1L)._4)
    assert(byId(4L)._5 && !byId(1L)._5) // threshold separates the fixture
    // unseen-token doc costs exactly the unseen mass per token:
    // -ln(1/(N+V+1)) with N=9, V=3 -> ln(13)
    assert(math.abs(byId(4L)._3 - math.log(13.0)) < 1e-3)
  }

  test("hybrid rrf: doc top-ranked in both arms wins; single-arm docs " +
      "carry the -1 sentinel") {
    val docs = Seq(
      (0L, "gamma delta epsilon"),
      (1L, "alpha alpha alpha"),
      (2L, "alpha beta beta"),
      (3L, "zeta eta theta")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), // query
      (1L, Seq(2.0f, 0.0f)), // top dot
      (2L, Seq(1.0f, 1.0f)),
      (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Retrieval.hybridRrf(docs, emb, Seq("alpha"), queryVecId = 0L,
      k = 4, kEach = 4).collect()
    // doc 1: rank 1 in bm25 (highest tf) AND rank 1 in cosine
    assert(r.head.getLong(0) == 1L)
    assert(r.head.getLong(1) == 1L && r.head.getLong(2) == 1L)
    val byId = r.map(x => x.getLong(0) ->
      (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // doc 0 matches no keyword: kw sentinel, ann rank only
    assert(byId(0L)._1 == -1L && byId(0L)._2 > 0)
    // fused score = sum of the two reciprocal-rank micro-unit terms
    val c = 60
    def rrf6(rank: Long) = if (rank < 0) 0L
      else math.floor(1e6 / (c + rank) + 0.5).toLong
    for ((_, (kw, ann, s6)) <- byId) assert(s6 == rrf6(kw) + rrf6(ann))
  }

  test("decontaminate: train doc copying eval text dropped, clean train " +
      "doc kept; hashed keys identical") {
    // doc 7 is the eval split (%10==7); doc 3 plagiarizes it, doc 4 is
    // clean — decontamination must flag 3 and keep 4
    val docs = Seq(
      (7L, "the secret eval benchmark question about turtles"),
      (3L, "the secret eval benchmark question about turtles"),
      (4L, "an unrelated training document with fresh content here")
    ).toDF("doc_id", "text")
    val r = CorpusOps.decontaminate(docs).collect()
      .map(x => x.getLong(0) -> (x.getDouble(3), x.getBoolean(4))).toMap
    assert(r.keySet == Set(3L, 4L)) // only train docs scored
    assert(r(3L)._1 == 1.0 && r(3L)._2)
    assert(r(4L)._1 == 0.0 && !r(4L)._2)
    val hashed = CorpusOps.decontaminate(docs, hashKeys = true).collect()
      .map(x => x.getLong(0) -> (x.getDouble(3), x.getBoolean(4))).toMap
    assert(hashed == r) // the key hash never changes the output
  }

  test("bloom decontaminate: superset of the exact screen, identical " +
      "n-gram accounting, planted leak flagged") {
    val docs = Seq(
      (7L, "the secret eval benchmark question about turtles"),
      (3L, "the secret eval benchmark question about turtles"),
      (4L, "an unrelated training document with fresh content here"),
      (14L, "another clean training document nothing shared at all")
    ).toDF("doc_id", "text")
    val exact = CorpusOps.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toMap
    val bloom = CorpusOps.bloomDecontaminate(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toMap
    assert(bloom.keySet == exact.keySet)
    for ((id, (nEx, hitEx, dropEx)) <- exact) {
      val (nBl, hitBl, dropBl) = bloom(id)
      assert(nBl == nEx, s"doc $id n-gram accounting diverged")
      // no false negatives: every exact hit is a bloom maybe-hit
      assert(hitBl >= hitEx, s"doc $id lost an exact hit")
      assert(!dropEx || dropBl, s"doc $id slipped through the bloom screen")
    }
    assert(bloom(3L)._3) // the plagiarist is dropped
    // superset also holds on the real corpus
    val corpus = Tables(spark, TestSpark.sf0001, "documents")
    val ce = CorpusOps.decontaminate(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cb = CorpusOps.bloomDecontaminate(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ce.forall { case (id, h) => cb(id) >= h })
  }

  test("bloom filter sizes itself from the eval corpus and no longer " +
      "saturates at scale") {
    // the x30 pipeline rehearsal caught the fixed 2^16-bit default
    // saturating (fill ratio -> 1, every probe "maybe", 26,025
    // survivors -> 3); adaptive sizing (mBits = 0) picks the smallest
    // power of two >= 10 bits per distinct gram, floored at 2^16 so
    // small-eval behavior is bit-identical to the old default
    val small = Seq((7L, "tiny eval slice")).toDF("doc_id", "text")
    assert(CorpusOps.bloomBuild(small, 3, 0, 4)._2 == (1 << 16))
    // 20k distinct unigrams => m = nextPow2(200k) = 2^18
    import org.apache.spark.sql.functions.{col, concat, lit}
    val bigEval = spark.range(20000)
      .select(col("id").as("doc_id"),
        concat(lit("tok"), col("id")).as("text"))
    val (bitmap, m) = CorpusOps.bloomBuild(bigEval, 1, 0, 4)
    assert(m == (1 << 18), s"resolved $m")
    // fill ratio stays bounded (~ 1 - e^(-80k/262k) = 0.26), so a
    // CLEAN doc's overlap upper bound stays far from the drop line
    val fill = bitmap.map(java.lang.Long.bitCount).sum.toDouble / m
    assert(fill < 0.35, s"fill ratio $fill")
    val clean = Seq((1000000L,
      "completely fresh words nowhere near the evaluation vocabulary"))
      .toDF("doc_id", "text")
    val probe = CorpusOps.bloomDecontaminateAgainst(clean, bigEval, n = 1)
      .collect()(0)
    assert(!probe.getBoolean(4),
      s"clean doc dropped at overlap ${probe.getDouble(3)}")
    // the fixed 2^16 filter on the same eval set IS saturated — the
    // failure mode the adaptive default removes
    val (satur, _) = CorpusOps.bloomBuild(bigEval, 1, 1 << 16, 4)
    assert(satur.map(java.lang.Long.bitCount).sum.toDouble / (1 << 16) > 0.7)
  }

  test("source overlap: cross-source near-dup pair lands in the " +
      "lexicographically ordered cell") {
    val docs = Seq(
      (1L, "the cat sat on the mat today again", "web"),
      (2L, "the cat sat on the mat today again", "books"),
      (3L, "completely different text with nothing shared", "web"),
      (4L, "the cat sat on the mat today again", "web")
    ).toDF("doc_id", "text", "source")
    val r = CorpusOps.sourceOverlap(docs, shingleSize = 1).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    // pairs: (1,2) books-web, (1,4) web-web, (2,4) books-web
    assert(r == Map(("books", "web") -> 2L, ("web", "web") -> 1L))
  }

  test("ngram novelty: first occurrence wins, verbatim copy scores zero") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // verbatim copy — nothing new
      (3L, "epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val r = CorpusOps.ngramNovelty(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r(1L) == ((2L, 2L, 1.0)))
    assert(r(2L) == ((2L, 0L, 0.0)))
    assert(r(3L) == ((2L, 2L, 1.0)))
  }

  test("quality calibration: buckets partition the corpus, shares sum " +
      "to ~1, bucket matches the direct score") {
    val corpus = Tables(spark, TestSpark.sf0001, "documents")
    val cal = CorpusOps.qualityCalibration(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cal.map(_._2).sum == corpus.count())
    assert(cal.forall(c => c._1 >= 0 && c._1 <= 9))
    assert(math.abs(cal.map(_._3).sum - 1.0) < 0.001)
    // the bucket of each doc's direct quality score lands in the histo
    val q = TextOps.quality(corpus).select("quality").collect()
      .map(_.getDouble(0))
    // same exact 1e-4 integer form as the impl — (v*10).toInt could
    // disagree on a 0.x000 boundary where v*10 rounds below the integer
    val direct = q
      .groupBy(v => math.min((math.floor(v * 10000 + 0.5) / 1000).toInt, 9))
      .view.mapValues(_.length.toLong).toMap
    assert(cal.map(c => c._1.toInt -> c._2).toMap == direct)
  }

  test("span remove: keep-first removal, verbatim copy emptied, " +
      "within-doc repeats keep one occurrence") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"), // verbatim copy — doc 1 is canonical
      (3L, "x y z w q r"), // unique — untouched
      (4L, "p q r p q r p q r") // self-repeating — first period survives
    ).toDF("doc_id", "text")
    val r = Dedup.spanRemove(docs, span = 3).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("a b c d e f", 0L)), r(1L))
    assert(r(2L) == (("", 6L)), r(2L))
    assert(r(3L) == (("x y z w q r", 0L)), r(3L))
    // windows "p q r"(1,4,7) "q r p"(2,5) "r p q"(3,6): non-canonical
    // occurrences cover token positions 4..9
    assert(r(4L) == (("p q r", 6L)), r(4L))
    // the hashed-key scale path never changes the output
    val hashed = Dedup.spanRemove(docs, span = 3, hashKeys = true).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(hashed == r)
  }

  test("drift windows: shifted-content window spikes, homogeneous " +
      "windows agree, doc counts partition the corpus") {
    import org.apache.spark.sql.functions.expr
    // minutes 0-19: two windows of identical content; minutes 20-29:
    // a vocabulary flip — its centroid must sit farther from the
    // corpus centroid than either homogeneous window's
    val docs = ((0L to 19L).map(i => (i, "alpha beta gamma delta")) ++
      (20L to 29L).map(i => (i, "zulu yankee xray whiskey")))
      .toDF("doc_id", "text")
      .withColumn("ts", expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
        "TIMESTAMP '2026-01-01 00:00:00')"))
    val r = CorpusOps.driftWindows(docs).collect()
      .map(x => (x.getTimestamp(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1.getTime)
    assert(r.length == 3 && r.map(_._2).sum == 30)
    val Array(w1, w2, w3) = r.map(_._3)
    assert(w1 == w2, s"homogeneous windows diverged: $w1 vs $w2")
    assert(w3 > w1, s"vocabulary flip not detected: $w3 <= $w1")
    assert(r.forall(x => x._3 >= 0.0 && x._3 <= 2.0))
  }

  test("dup group sizes: family histogram matches the hand-built groups") {
    // docs 1,2,3 one family (size 3); docs 5,6 another (size 2); 4 alone
    val docs = Seq(
      (1L, "the cat sat on the mat today again and again"),
      (2L, "the cat sat on the mat today again and again"),
      (3L, "the cat sat on the mat today again and again"),
      (4L, "completely different text with nothing shared here at all"),
      (5L, "pack my box with five dozen liquor jugs right now"),
      (6L, "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "text")
    val r = CorpusOps.dupGroupSizes(docs, shingleSize = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(3L -> 1L, 2L -> 1L))
  }

  test("stats rollup: group rows sum to stratum and grand totals") {
    val docs = Seq(
      (1L, "a b c", "s1", "en"),
      (2L, "d e", "s1", "de"),
      (3L, "f g h i", "s2", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val r = CorpusOps.statsRollup(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r(("<all>", "<all>")) == ((3L, 9L, 15L)))
    assert(r(("s1", "<all>")) == ((2L, 5L, 8L)))
    assert(r(("s1", "en")) == ((1L, 3L, 5L)))
    assert(r(("s2", "en")) == ((1L, 4L, 7L)))
    // every grouping level present: 1 grand + 2 source + 3 leaf rows
    assert(r.size == 6)
  }

  test("incremental dedup: incoming dup of a corpus doc matched and " +
      "rejected, fresh docs admitted, within-batch dups not its job") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a completely different corpus document here"),
      (3L, "yet another unrelated piece of stored text")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the cat sat on the mat"), // exact dup of corpus 1
      (11L, "entirely novel incoming content nothing matches"),
      (12L, "entirely novel incoming content nothing matches") // dup of 11
    ).toDF("doc_id", "text")
    val m = Dedup.incrementalNearDups(incoming, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == Set((10L, 1L)))
    // admit: only the corpus-matched doc is rejected; within-batch
    // duplication (11 vs 12) is nearDupPairs/dedupGroups territory
    val admitted = Dedup.incrementalAdmit(incoming, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(11L, 12L))
    // empty corpus admits everything; empty batch admits nothing
    val none = corpus.limit(0)
    assert(Dedup.incrementalAdmit(incoming, none)
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L, 12L))
    assert(Dedup.incrementalAdmit(incoming.limit(0), corpus).count() == 0)
  }

  test("bpe learn: hand-computed merge sequence, asc-pair tiebreak, " +
      "early exhaustion") {
    // low x3, lower x2, newest x1: pair counts l-o 5, o-w 5, w-e 3,
    // e-r 2, n-e/e-w/e-s/s-t 1 — the 5-5 tie breaks to "l o" (asc)
    val docs = Seq((1L, "low low low lower lower newest"))
      .toDF("doc_id", "text")
    val m = TextOps.bpeLearn(docs, nMerges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toList == List((1L, "l", "o", 5L), (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L)))
    // single-char words exhaust immediately
    assert(TextOps.bpeLearn(Seq((1L, "a a b")).toDF("doc_id", "text"),
      nMerges = 5).count() == 0)
    // a 2-char word yields exactly one merge then stops early
    val one = TextOps.bpeLearn(Seq((1L, "ab")).toDF("doc_id", "text"),
      nMerges = 5).collect()
    assert(one.length == 1 && one(0).getString(1) == "a" &&
      one(0).getString(2) == "b")
  }

  test("bpe batched rounds: symbol-disjoint keeps, conflict deferral, " +
      "budget-limited final round, disjoint-case equality") {
    val docs = Seq((1L, "low low low lower lower newest"))
      .toDF("doc_id", "text")
    // round 1 scans 4m=12 candidates in rank order: (l o,5) kept;
    // (o w,5) shares o — deferred; (w e,3) disjoint — kept; (e r,2),
    // (e s,1), (e w,1), (n e,1) all touch e — deferred; (s t,1)
    // disjoint — kept, filling the m=3 budget in one round.
    val batched = TextOps.bpeLearn(docs, nMerges = 3, mergesPerRound = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(batched.toList == List((1L, "l", "o", 5L), (2L, "w", "e", 3L),
      (3L, "s", "t", 1L)))
    // when the top pairs are symbol-disjoint, one batched round IS the
    // sequential table — counts of disjoint pairs don't interact
    val dj = Seq((1L, Seq.fill(9)("aa").mkString(" ")),
      (2L, Seq.fill(8)("bb").mkString(" ")),
      (3L, Seq.fill(7)("cc").mkString(" "))).toDF("doc_id", "text")
    val seqTab = TextOps.bpeLearn(dj, nMerges = 3).collect().toList
    val batTab = TextOps.bpeLearn(dj, nMerges = 3, mergesPerRound = 3)
      .collect().toList
    assert(seqTab == batTab)
    // the cadence cap is on ROUNDS, not merges
    intercept[IllegalArgumentException] {
      TextOps.bpeLearn(docs, nMerges = 50000, mergesPerRound = 1)
    }
  }

  test("bpe batched merges: 1k merges complete in bounded driver rounds") {
    val sc = spark.sparkContext
    // 600 distinct words (~11 symbols each — the decimal-digit prefix
    // makes them pairwise distinct), ~5k merges available. The char
    // inventory is ~400 symbols wide (Latin-1/Extended block, no
    // whitespace): early-round disjoint capacity must exceed m, like a
    // real corpus's thousands of symbols — a 26-letter alphabet caps
    // keeps at 13/round and tests the inventory limit, not the cadence.
    val words = (0 until 600).map { i =>
      i.toString.map(d => ('a' + (d - '0')).toChar).mkString +
        (0 until 8).map(j => (0xC0 + ((i * (j + 3) + j * 7) % 384)).toChar)
          .mkString
    }
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    sc.setJobGroup("bpe-batched", "bounded-round bpe learn",
      interruptOnCancel = false)
    val n =
      try TextOps.bpeLearn(docs, nMerges = 1000, mergesPerRound = 64).count()
      finally sc.clearJobGroup()
    assert(n == 1000, s"expected 1000 merges, got $n")
    // poll the (async) status store until the job count stabilizes
    var jobs = -1; var prev = -2; var tries = 0
    while (jobs != prev && tries < 50) {
      prev = jobs; Thread.sleep(200)
      jobs = sc.statusTracker.getJobIdsForGroup("bpe-batched").length
      tries += 1
    }
    // ~16 rounds × (top-m collect + localCheckpoint) + setup; sequential
    // BPE would schedule well over 2000 jobs here
    assert(jobs > 0 && jobs <= 200,
      s"1000 merges at mergesPerRound=64 took $jobs jobs — cadence not batched")
  }

  test("bpe encode: learned merges compress known words, strangers " +
      "stay chars, chained merges take every occurrence") {
    val train = Seq((1L, "low low low lower lower newest"))
      .toDF("doc_id", "text")
    val merges = TextOps.bpeLearn(train, nMerges = 3).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = TextOps.bpeEncode(
      Seq((1L, "low lower"), (2L, "xyz"), (3L, "low low low low"))
        .toDF("doc_id", "text"), merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // low -> [low] (1), lower -> [low, er] (2)
    assert(out(1L) == ((2L, 3L)))
    // no merge applies to an out-of-vocab word: 3 chars
    assert(out(2L) == ((1L, 3L)))
    // the alternating-chain double-replace takes all four occurrences
    assert(out(3L) == ((4L, 4L)))
    // empty merge table = pure char split
    val raw = TextOps.bpeEncode(Seq((1L, "ab cde")).toDF("doc_id", "text"),
      Seq.empty).collect()(0)
    assert(raw.getLong(1) == 2 && raw.getLong(2) == 5)
  }

  test("split assign: exhaustive, deterministic, stable under reordering, " +
      "validated fractions") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val r = CorpusOps.splitAssign(docs).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r.size == 200, "every doc assigned exactly once")
    assert(r.values.toSet.subsetOf(Set("train", "val", "test")))
    // hash-based: the assignment of doc i is independent of which other
    // docs are present — the property row-number splits do NOT have
    val half = CorpusOps.splitAssign(docs.filter($"doc_id" <= 100)).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(half.forall { case (id, s) => r(id) == s })
    // 90/5/5 in expectation: train dominates on 200 docs
    assert(r.values.count(_ == "train") > 150)
    intercept[IllegalArgumentException] {
      CorpusOps.splitAssign(docs, Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      CorpusOps.splitAssign(docs, Seq("a" -> 0.5, "a" -> 0.5))
    }
  }

  test("length stats: hand-computed mean and interpolated percentiles") {
    // token counts 1..5 in one source: mean 3, p50 = 3,
    // p90 = 4 + 0.6*(5-4) = 4.6, p99 = 4 + 0.96*(5-4) = 4.96
    val docs = Seq(
      (1L, "a", "s1"), (2L, "a b", "s1"), (3L, "a b c", "s1"),
      (4L, "a b c d", "s1"), (5L, "a b c d e", "s1"),
      (6L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val r = CorpusOps.lengthStats(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val s1 = r("s1")
    assert(s1.getLong(1) == 5)
    assert(s1.getDouble(2) == 3.0)
    assert(s1.getDouble(3) == 3.0)
    assert(s1.getDouble(4) == 4.6)
    assert(s1.getDouble(5) == 4.96)
    assert(r("s2").getLong(1) == 1 && r("s2").getDouble(3) == 2.0)
  }

  test("token kl: zero when target is the whole corpus, positive when " +
      "the target slice skews") {
    val same = Seq(
      (1L, "alpha beta gamma", "en"), (2L, "beta gamma delta", "en"))
      .toDF("doc_id", "text", "lang")
    val kl0 = CorpusOps.tokenKl(same).collect()(0)
    assert(kl0.getLong(0) > 0)
    assert(kl0.getDouble(1) == 0.0, "identical distributions => KL 0")
    val skew = Seq(
      (1L, "aaa aaa aaa aaa aaa aaa aaa aaa", "en"),
      (2L, "bbb ccc ddd eee fff ggg hhh iii", "de"))
      .toDF("doc_id", "text", "lang")
    // add-1 smoothing flattens hard at fixture scale; positive and
    // clearly away from the identical-distribution zero is the claim
    val klS = CorpusOps.tokenKl(skew).collect()(0).getDouble(1)
    assert(klS > 0.01, s"skewed target should diverge, got $klS")
  }

  test("quality model: clean prose outscores junk; keep flag consistent " +
      "with threshold") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog in the sun"),
      (2L, "zz zz zz zz zz zz zz zz zz zz zz zz"),
      (3L, "9 9 9 9 $$$ ### 9 9 9 9 !!!"))
      .toDF("doc_id", "text")
    val r = TextOps.qualityModel(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    val (good, junk1, junk2) =
      (r(1L).getDouble(2), r(2L).getDouble(2), r(3L).getDouble(2))
    assert(good > junk1 && good > junk2,
      s"prose $good should beat junk $junk1 / $junk2")
    r.values.foreach { x =>
      assert(x.getDouble(2) > 0 && x.getDouble(2) < 1)
      assert(x.getBoolean(3) == (x.getDouble(2) >= 0.5),
        "keep must be score >= threshold")
    }
    assert(r(1L).getBoolean(3), "clean prose should pass the gate")
    assert(!r(2L).getBoolean(3), "repeated junk should fail the gate")
  }

  test("featurize: unit-norm hashed embeddings; self is nearest neighbor " +
      "end-to-end") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // identical text
      (3L, "a completely different set of words here"))
      .toDF("doc_id", "text")
    val f = TextOps.featurize(docs, dim = 16).collect()
      .map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    assert(f.values.forall(_.size == 16))
    // identical text => identical vector (hash determinism)
    assert(f(1L) == f(2L))
    assert(f(1L) != f(3L))
    // L2 norm ~ 1 (components rounded to 4 decimals after normalizing)
    f.values.foreach { v =>
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-2, s"norm² $n2 not ~1")
    }
    // end-to-end text -> embedding -> exact ANN: each query's top hit is
    // itself or its exact-duplicate twin at sim ~ 1
    val emb = TextOps.featurize(docs, dim = 16, ordered = false)
      .select($"doc_id".as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    val top = Similarity.bruteForceTopK(emb, emb, k = 1).collect()
    assert(top.length == 3)
    top.foreach { r =>
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-3,
        s"self-sim should be ~1, got $r")
    }
  }

  test("curation funnel: stages chain (n_out feeds next n_in) and agree " +
      "with curate's survivor count") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog in the sun"), // keeps
      (2L, "zz zz zz zz zz zz zz zz zz zz"), // fails quality
      (3L, "der hund ist nicht hier und das war mit zu klein heute"), // fails lang
      (4L, "the quick brown fox jumps over a lazy dog in the sun")) // dup of 1
      .toDF("doc_id", "text")
    val f = TextOps.curationFunnel(docs, shingleSize = 1, threshold = 0.5)
      .collect()
    assert(f.map(_.getString(1)).toSeq ==
      Seq("quality", "language", "boilerplate", "dedup"))
    // funnel chains: each stage's n_out is the next stage's n_in, and
    // n_in - n_dropped = n_out everywhere
    f.foreach(r => assert(r.getLong(2) - r.getLong(4) == r.getLong(3)))
    f.zip(f.drop(1)).foreach { case (a, b) =>
      assert(a.getLong(3) == b.getLong(2))
    }
    assert(f(0).getLong(2) == 4) // corpus size enters stage 1
    assert(f(0).getLong(4) == 1) // doc 2 drops at quality
    assert(f(1).getLong(4) == 1) // doc 3 drops at language
    assert(f(3).getLong(4) == 1) // doc 4 drops at dedup (dup of 1)
    // final survivors == curate's output rows under the same params
    val survivors = TextOps.curate(docs, shingleSize = 1, threshold = 0.5)
      .count()
    assert(f(3).getLong(3) == survivors)
  }

  test("dedup rate by source: dirty source reports its losers, clean " +
      "source reports zero") {
    val docs = Seq(
      (1L, "the cat sat on the mat", "dirty"),
      (2L, "the cat sat on the mat", "dirty"), // loser (dup of 1)
      (3L, "the cat sat on the mat", "dirty"), // loser (dup of 1)
      (4L, "completely different words entirely here now", "clean"),
      (5L, "another unique document with its own content", "clean"))
      .toDF("doc_id", "text", "source")
    val r = CorpusOps.dedupRateBySource(docs, shingleSize = 1,
      threshold = 0.5).collect().map(x => x.getString(0) -> x).toMap
    assert(r("dirty").getLong(1) == 3 && r("dirty").getLong(2) == 2)
    assert(r("dirty").getDouble(3) == 0.6667)
    assert(r("clean").getLong(1) == 2 && r("clean").getLong(2) == 0)
    assert(r("clean").getDouble(3) == 0.0)
  }

  test("external-target DSIR/KL: slice form equals the external form fed " +
      "the same slice; a disjoint external target shifts the weights") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha", "en"),
      (2L, "delta epsilon zeta eta", "de"),
      (3L, "alpha beta theta iota", "en"))
      .toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(rows(CorpusOps.dsirWeightsAgainst(docs,
        docs.filter($"lang" === "en"))) ==
      rows(CorpusOps.dsirWeights(docs)))
    assert(rows(CorpusOps.tokenKlAgainst(docs,
        docs.filter($"lang" === "en"))) ==
      rows(CorpusOps.tokenKl(docs)))
    // the published DSIR setup: target is a separate curated corpus —
    // docs sharing its vocabulary outweigh docs that do not
    val curated = Seq((900L, "alpha beta alpha beta gamma", "xx"))
      .toDF("doc_id", "text", "lang")
    val w = CorpusOps.dsirWeightsAgainst(docs, curated).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L) && w(3L) > w(2L),
      s"target-like docs must outweigh off-target: $w")
    // new-vocabulary drift must REGISTER: a target sharing no types
    // with the corpus diverges more than the in-vocab curated target
    // (the full-outer joint vocab keeps target-only tokens in the sum)
    val alien = Seq((901L, "xq xw xe xr xt xy xu xi", "xx"))
      .toDF("doc_id", "text", "lang")
    val klAlien = CorpusOps.tokenKlAgainst(docs, alien)
      .collect()(0).getDouble(1)
    val klCurated = CorpusOps.tokenKlAgainst(docs, curated)
      .collect()(0).getDouble(1)
    // 10x+ separation is the claim; absolute scale stays small under
    // add-1 smoothing at fixture size
    assert(klAlien > 10 * klCurated && klAlien > 0.2,
      s"disjoint-vocab target must dominate: alien=$klAlien curated=$klCurated")
    // perplexity completes the external-reference family: slice form ==
    // external form fed the same slice; against the curated reference,
    // the doc sharing its vocabulary scores lower ppl than the alien one
    assert(rows(TextOps.perplexityAgainst(docs,
        docs.filter($"lang" === "en"))) ==
      rows(TextOps.perplexity(docs)))
    val ppl = TextOps.perplexityAgainst(docs, curated).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(1L) < ppl(2L),
      s"reference-like doc must score lower perplexity: $ppl")
  }

  test("corpus ops are total on an empty corpus") {
    import org.apache.spark.sql.functions.lit
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    assert(TextOps.repetition(empty).count() == 0)
    assert(TextOps.piiRedact(empty).count() == 0)
    assert(CorpusOps.contamination(empty).count() == 0)
    assert(CorpusOps.mixQuota(empty).count() == 0)
    assert(CorpusOps.mixRate(empty).count() == 0)
    assert(Dedup.simHashNearDupPairs(empty).count() == 0)
    assert(Dedup.spanDups(empty).count() == 0)
    assert(CorpusOps.mixTemperature(empty).count() == 0)
    assert(TextOps.bm25(empty, Seq("x")).count() == 0)
    assert(CorpusOps.mixUnimax(empty).count() == 0)
    assert(CorpusOps.dsirWeights(empty).count() == 0)
    assert(TextOps.perplexity(empty).count() == 0)
    assert(TextOps.bpeLearn(empty).count() == 0)
    assert(TextOps.bpeEncode(empty, Seq(("a", "b"))).count() == 0)
    assert(CorpusOps.splitAssign(empty).count() == 0)
    assert(TextOps.qualityModel(empty).count() == 0)
    assert(CorpusOps.lengthStats(empty.withColumn("source", lit("web")))
      .count() == 0)
    // tokenKl's single aggregate row is defined (n_vocab 0) on empty input
    assert(CorpusOps.tokenKl(empty).collect()(0).getLong(0) == 0)
  }

  test("llm oracle-checked queries run nonempty at sf0.001") {
    for ((name, fn) <- LlmQueries.all) {
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("boilerplate removal: three-doc window cut from EVERY doc " +
      "(no canonical owner), two-doc windows survive minDocs=3, " +
      "hashed keys identical") {
    val docs = Seq(
      (1L, "copy right notice a b c"),
      (2L, "copy right notice d e f"),
      (3L, "copy right notice g h i"), // "copy right notice" in 3 docs
      (4L, "two doc only x y z"),
      (5L, "two doc only w v u") // "two doc only" in just 2 docs
    ).toDF("doc_id", "text")
    val r = Dedup.boilerplateRemove(docs, span = 3, minDocs = 3).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("a b c", 3L)), r(1L)) // first occurrence cut too
    assert(r(2L) == (("d e f", 3L)), r(2L))
    assert(r(3L) == (("g h i", 3L)), r(3L))
    assert(r(4L)._2 == 0L && r(5L)._2 == 0L, (r(4L), r(5L)))
    val hashed = Dedup.boilerplateRemove(docs, span = 3, minDocs = 3,
      hashKeys = true).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(hashed == r)
  }

  test("dedup keep-best: family keeps the highest-scoring member, not " +
      "the smallest id; singletons keep themselves; family ids match " +
      "dedupGroups labels") {
    val docs = Seq(
      // near-dups (token jaccard 1.0): doc 10 repeats tokens, so its
      // uniq_ratio — and quality score — is strictly lower than 11's
      (10L, "alpha beta gamma delta epsilon zeta alpha alpha alpha"),
      (11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "completely different singleton words")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupKeepBest(docs, shingleSize = 1, threshold = 0.5)
      .collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getBoolean(4))).toMap
    assert(r(10L) == ((10L, 11L, false)), r(10L)) // better copy wins
    assert(r(11L) == ((10L, 11L, true)), r(11L))
    assert(r(12L) == ((12L, 12L, true)), r(12L)) // singleton
    // family labels agree with the min-id dedupGroups partition
    val fams = Dedup.dedupGroups(docs, shingleSize = 1, threshold = 0.5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fams == Map(10L -> 10L, 11L -> 10L))
  }

  test("ccnet buckets: per-lang thirds by rank, extremes land in " +
      "head/tail, fixed cut points replay the rank assignment") {
    // six en docs spanning common -> rare vocabulary (the LM trains on
    // the en slice, so rare-token docs score higher avg_nll) + three de
    val docs = Seq(
      (0L, "the the the cat", "en"), (1L, "the cat sat mat", "en"),
      (2L, "the cat ran far", "en"), (3L, "cat mat sat bat", "en"),
      (4L, "weird zap qux f", "en"), (5L, "zap qux vex jag", "en"),
      (6L, "der hund lief x", "de"), (7L, "der hund kam he", "de"),
      (8L, "die katze sass", "de")
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.ccnetBuckets(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getString(3)))
    val en = r.filter(_._2 == "en")
    assert(en.groupBy(_._4).view.mapValues(_.length).toMap ==
      Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    val de = r.filter(_._2 == "de")
    assert(de.groupBy(_._4).view.mapValues(_.length).toMap ==
      Map("head" -> 1, "middle" -> 1, "tail" -> 1))
    // rank order respected: min avg_nll -> head, max -> tail (per lang)
    for (g <- Seq(en, de)) {
      assert(g.minBy(x => (x._3, x._1))._4 == "head")
      assert(g.maxBy(x => (x._3, x._1))._4 == "tail")
    }
    // fixed thresholds chosen from the observed en terciles reproduce
    // the rank buckets for en docs (the deployment-path equivalence)
    val sorted = en.sortBy(x => (x._3, x._1))
    val fixed = TextOps.ccnetBucketsFixed(docs,
      headMax = sorted(1)._3, middleMax = sorted(3)._3).collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    for ((id, _, _, b) <- en) assert(fixed(id) == b, s"doc $id")
  }

  test("token-budget selection: kept set is the maximal quality-ordered " +
      "prefix under the budget, bounded overflow, degenerate budgets") {
    val docs = Tables(spark, sf0001, "documents")
    val budget = 2000L
    val r = CorpusOps.tokenBudgetSelect(docs, budget).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getBoolean(3)))
    // replay the rule directly from the returned (score4, n_tokens)
    var before = 0L
    val expected = r.sortBy(x => (-x._2, x._1)).map { x =>
      val kept = before < budget
      before += x._3
      x._1 -> kept
    }.toMap
    assert(r.map(x => x._1 -> x._4).toMap == expected)
    val keptTokens = r.filter(_._4).map(_._3).sum
    val maxDoc = r.map(_._3).max
    assert(keptTokens < budget + maxDoc) // one straddler at most
    assert(keptTokens >= math.min(budget, r.map(_._3).sum))
    // budget beyond the corpus: everything kept
    val all = CorpusOps.tokenBudgetSelect(docs, 10000000L).collect()
    assert(all.forall(_.getBoolean(3)))
    // n_tokens matches the single-space formula
    val nt = docs.selectExpr("doc_id",
      "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS LONG)")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.forall(x => nt(x._1) == x._3))
    // skewed cut bucket: forcing the doc_id-range sub-split
    // (maxCutWindow = 1 makes EVERY cut bucket oversized) must not
    // change a single kept decision vs the plain single-window path
    val split = CorpusOps.tokenBudgetSelect(docs, budget, maxCutWindow = 1L)
      .collect().map(x => (x.getLong(0), x.getBoolean(3))).sortBy(_._1)
    assert(split.toSeq == r.map(x => (x._1, x._4)).sortBy(_._1).toSeq)
  }

  test("blocklist: exact-token hits counted, threshold flags, " +
      "substrings never match") {
    val docs = Seq(
      (1L, "clean text entirely fine"),
      (2L, "spam spam here"), // 2 hits -> blocked at maxHits = 2
      (3L, "superspam is one word"), // substring must NOT match
      (4L, "junk once") // 1 hit -> under threshold
    ).toDF("doc_id", "text")
    val r = TextOps.blocklist(docs, Seq("spam", "junk"), maxHits = 2)
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == ((0L, false)), r(1L))
    assert(r(2L) == ((2L, true)), r(2L))
    assert(r(3L) == ((0L, false)), r(3L))
    assert(r(4L) == ((1L, false)), r(4L))
  }

  test("entropy: uniform tokens hit ln(n), constant docs hit zero, " +
      "skew lands between") {
    val docs = Seq(
      (1L, "a b c d"), // uniform over 4 types: H = ln 4
      (2L, "a a a a"), // one type: H = 0
      (3L, "a a a b") // skewed: 0.75 ln(4/3) + 0.25 ln 4
    ).toDF("doc_id", "text")
    val r = TextOps.entropy(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == ((4L, 1.3863)), r(1L)) // ln 4 = 1.386294...
    assert(r(2L) == ((4L, 0.0)), r(2L))
    val expected3 = math.floor((math.floor(
      -0.75 * math.log(0.75) * 1e6 + 0.5) + math.floor(
      -0.25 * math.log(0.25) * 1e6 + 0.5)) / 1e6 * 1e4 + 0.5) / 1e4
    assert(r(3L) == ((4L, expected3)), r(3L))
    assert(r(3L)._2 > 0 && r(3L)._2 < r(1L)._2)
  }

  test("scorecard fuses the standalone per-row scores one-for-one") {
    // deterministic subset: LIMIT without a sort may pick different
    // rows across the six independent jobs below
    val docs = Tables(spark, sf0001, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 50)
    val sc = TextOps.scorecard(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val q = TextOps.quality(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val l = TextOps.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rep = TextOps.repetition(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val qm = TextOps.qualityModel(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sc.foreach { case (id, r) =>
      assert(r.getDouble(2) == q(id), s"quality of $id")
      assert(r.getString(3) == l(id), s"lang of $id")
      assert(r.getDouble(4) == rep(id), s"repetition of $id")
      val s4 = math.floor(
        1.0 / (1.0 + math.exp(-(qm(id).toDouble / 1e6))) * 1e4 + 0.5).toLong
      assert(r.getLong(5) == s4, s"score4 of $id")
      assert(r.getBoolean(6) == (q(id) >= 0.5 && l(id) == "en"))
    }
  }

  test("curriculum order ranks by score within each replicable shard") {
    val docs = Tables(spark, sf0001, "documents")
    val r = CorpusOps.curriculumOrder(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    r.groupBy(_._2).foreach { case (_, g) =>
      val sorted = g.sortBy(x => (-x._3, x._1))
      assert(sorted.map(_._4).toSeq == (1L to g.length).map(identity))
    }
    val sh = CorpusOps.shard(docs, replicable = true).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach(x => assert(sh(x._1) == x._2))
  }

  test("reference novelty: unseen grams counted, fully-covered and " +
      "fully-novel batches hit the extremes") {
    val ref = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d e"), // identical: novelty 0
      (2L, "x y z w v"), // disjoint: novelty 1
      (3L, "a b c x y z") // mixed: shingles {abc,bcx,cxy,xyz} -> 3/4 new
    ).toDF("doc_id", "text")
    val r = CorpusOps.ngramNoveltyAgainst(batch, ref).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 0L, 0.0)), r(1L))
    assert(r(2L) == ((3L, 3L, 1.0)), r(2L))
    assert(r(3L) == ((4L, 3L, 0.75)), r(3L))
  }

  test("containment: contained doc found, equal-length and unrelated " +
      "docs excluded, token boundaries respected") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "c d e f g h"), // contained in 1 (6 tokens = w+k-1)
      (3L, "x y z w v u"), // unrelated
      (4L, "a b c d e f g h"), // equal text: strict-length rule excludes
      (5L, "cc d e f g h") // 'c d e f g h' must NOT match inside 'cc d...'
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((2L, 1L)) && r.contains((2L, 4L)), r)
    assert(!r.exists(p => p._1 == 3L || p._2 == 3L), r)
    assert(!r.contains((1L, 4L)) && !r.contains((4L, 1L)), r)
    assert(!r.contains((2L, 5L)), r)
  }

  test("containment: dfCap AND-rule path returns exactly the default " +
      "path's pairs (recall survives the two-fingerprint demand), and " +
      "sub-(w+k-1)-token inners are outside the contract domain") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "c d e f g h"),
      (3L, "x y z w v u t s a b c d e f g h"), // contains 1 and 2
      (4L, "c d e"), // 3 tokens < 6: contained in 1/2/3 but out of domain
      (5L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val default = Dedup.containmentPairs(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // dfCap = 0 forces EVERY inner with a second fingerprint through
    // the AND-join; the pair set must be identical
    val capped = Dedup.containmentPairs(docs, dfCap = 0L).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(capped == default, s"capped=$capped default=$default")
    assert(default.contains((1L, 3L)) && default.contains((2L, 3L)) &&
      default.contains((2L, 1L)), default)
    // the 3-token doc is genuinely contained but below the guarantee
    // domain — excluded by contract on the INNER side only
    assert(!default.exists(_._1 == 4L), default)
    // includeShort = true routes the sub-domain inner through the exact
    // broadcast substring pass: doc 4 ("c d e") is now reported inside
    // 1, 2 and 3, and the sketch-path pairs are unchanged
    val withShort = Dedup.containmentPairs(docs, includeShort = true)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(withShort ==
      default ++ Set((4L, 1L), (4L, 2L), (4L, 3L)), withShort)
  }

  test("winnowing: fingerprints point at real grams, the w+k-1 " +
      "guarantee surfaces shared substrings, identical docs sketch " +
      "identically") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "q w e r t y u i o p"),
      (2L, "z x c v q w e r t y m n"), // shares exactly w+k-1=6 tokens
      (3L, "q w e r t y u i o p"), // identical to 1
      (4L, "completely unrelated words here entirely now")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnow(docs, k = 3, w = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // every fingerprint is the sha2 hash of the gram at its position
    val gramHash = docs.collect().flatMap { r =>
      r.getString(1).split(" ").sliding(3).zipWithIndex.map {
        case (g, i) => (r.getLong(0), (i + 1).toLong, g.mkString(" "))
      }
    }.toSeq.toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos"),
        Dedup.sha2TokenHash(col("gram")).as("h"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
      .toMap
    fps.foreach { case (d, p, f) =>
      assert(gramHash((d, p)) == f, s"doc $d pos $p")
    }
    val by = fps.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert((by(1L) & by(2L)).nonEmpty) // the winnowing guarantee
    assert(by(1L) == by(3L)) // identical docs, identical sketch
    assert((by(1L) & by(4L)).isEmpty)
    val m = Dedup.winnowMatches(docs, k = 3, w = 4, minShared = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
      .toMap
    assert(m((1L, 3L)) == by(1L).size)
    assert(m.contains((1L, 2L)))
    assert(!m.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bigram perplexity: hand-computed conditional costs (seen pair, " +
      "prefix fallback, unseen-prefix uniform), sub-bigram docs NULL") {
    // ref "a b c a b c": V = 3; c(a)=2, c(a b)=2
    val ref = Seq((100L, "a b c a b c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"), // seen pair: -ln((2+1)/(2+3+1)) = ln 2
      (2L, "a c"), // seen prefix, unseen pair: -ln(1/(2+3+1)) = ln 6
      (3L, "z z"), // unseen prefix: -ln(1/(3+1)) = ln 4
      (4L, "a") // single token: no transitions
    ).toDF("doc_id", "text")
    val r = TextOps.perplexityBigram(docs, ref).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), if (x.isNullAt(2)) None else Some(x.getDouble(2))))
      .toMap
    assert(r(1L) == ((1L, Some(0.6931))), r(1L))
    assert(r(2L) == ((1L, Some(1.7918))), r(2L))
    assert(r(3L) == ((1L, Some(1.3863))), r(3L))
    assert(r(4L) == ((0L, None)), r(4L))
  }

  test("within-doc dedup: later repeats cut, first kept, cross-doc " +
      "repeats untouched, hashed grams identical") {
    val docs = Seq(
      (1L, "p q r p q r p q r"), // self-repeating: first window survives
      (2L, "a b c d e f"),
      (3L, "a b c d e f") // cross-doc dup — not within-doc, untouched
    ).toDF("doc_id", "text")
    val r = Dedup.withinDocDedup(docs, span = 3).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("p q r", 6L)), r(1L))
    assert(r(2L) == (("a b c d e f", 0L)), r(2L))
    assert(r(3L) == (("a b c d e f", 0L)), r(3L))
    val hashed = Dedup.withinDocDedup(docs, span = 3, hashGrams = true)
      .collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(hashed == r)
  }

  test("bpe fertility: per-source pieces-per-word and whole-word " +
      "coverage under a hand-set merge table") {
    val docs = Seq(
      (1L, "aa ab", "s1"),
      (2L, "aa aa aa", "s2")
    ).toDF("doc_id", "text", "source")
    // one merge (a,a): "aa" encodes to 1 symbol, "ab" stays "a b" (2)
    val r = TextOps.bpeFertility(docs, Seq(("a", "a"))).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))
      .toMap
    assert(r("s1") == ((2L, 3L, 1.5, 0.5)), r("s1"))
    assert(r("s2") == ((3L, 3L, 1.0, 1.0)), r("s2"))
  }

  test("llm_ann_lsh quality verdicts hold at sf0.001 (driver gates at " +
      "sf0.01; this pins the smaller fixture the specs run on)") {
    val r = LlmQueries.all("llm_ann_lsh")(spark, sf0001).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("ann_lsh_no_false_positives") == 1.0, r)
    assert(r("ann_lsh_range_recall_ge_60pct") == 1.0, r)
    // the value row: at least the 10 query self-pairs are in radius
    assert(r("ann_lsh_true_pairs") >= 10.0, r)
    assert(r.keySet == Set("ann_lsh_no_false_positives",
      "ann_lsh_range_recall_ge_60pct", "ann_lsh_true_pairs"))
  }

  test("llm oracle SQL matches DSL output via Spark SQL (portable subset)") {
    Tables.registerAll(spark, sf0001)
    for (name <- Seq("llm_text_stats", "llm_dedup_exact")) {
      val dsl = LlmQueries.all(name)(spark, sf0001)
      val sql = spark.sql(LlmQueries.oracle(name))
      assert(dsl.columns.toSeq == sql.columns.toSeq)
      val g = dsl.collect().map(_.toSeq.map(String.valueOf)).toSeq
      val w = sql.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(g == w, s"$name differs from its oracle")
    }
  }
}
