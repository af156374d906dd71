package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.sources.Tables

/** Physical-plan assertions: the scale properties the DataFrame-first
  * design claims (predicate pushdown, column pruning, broadcast joins,
  * whole-stage codegen) must actually show up in the executed plan — a
  * correct answer computed from a full scan is still a scale bug. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 predicates push down into the parquet scan") {
    val p = plan(Relational.q02(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    // the plan's toString truncates the filter list, so match prefixes
    assert(p.contains("GreaterThan(l_quantity") &&
      p.contains("EqualTo(l_returnfl"), p.take(2000))
  }

  test("q01 scan reads only the projected columns") {
    val p = plan(Relational.q01(spark, sf0001))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    // pruning: untouched wide columns never reach the scan
    assert(!read.contains("l_extendedprice") && !read.contains("l_returnflag"),
      read)
  }

  test("q20 broadcasts the small dimension sides") {
    val p = plan(Relational.q20(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q03 derived-column pipeline stays inside whole-stage codegen") {
    val df = Relational.q03(spark, sf0001)
    df.collect() // AQE only materializes the final codegen'd plan on execution
    val p = plan(df)
    // the compact toString renders WholeStageCodegen stages as "*(id)"
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
    assert(!p.toLowerCase.contains("batchevalpython"))
  }

  test("exact dedup shuffles the fixed-width hash, not document payloads") {
    val p = plan(graft.llm.Dedup.exact(Tables(spark, sf0001, "documents")))
    // partial aggregation happens before the exchange: HashAggregate
    // appears below Exchange in the plan tree (map-side combine)
    val lines = p.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
    val aggBelow = lines.drop(exchangeIdx + 1).exists(_.contains("HashAggregate"))
    assert(exchangeIdx >= 0 && aggBelow, p.take(3000))
  }

  test("ivf probes cells through joins, never a cartesian corpus scan") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.ivfProbe(e.filter(
      org.apache.spark.sql.functions.col("vec_id") < 10),
      graft.llm.Similarity.ivfIndex(e), k = 5)
    df.collect()
    val p = plan(df)
    // centroid assignment broadcasts the (tiny) centroid set; candidate
    // generation is an equi-join on the cell id — a CartesianProduct
    // would mean the coarse quantizer fell back to |Q|x|C|
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("residual ivf probes composite (cell, sub) keys through joins, " +
      "never a cartesian corpus scan") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.ivfProbe(e.filter(
      org.apache.spark.sql.functions.col("vec_id") < 10),
      graft.llm.Similarity.ivfTrainedIndex(e, nlist = 4, splits = Seq(2)),
      k = 5)
    df.collect()
    val p = plan(df)
    // both center tables broadcast (bounded by construction); the
    // candidate join meets the assignment on the composite key — a
    // CartesianProduct would mean a blocking level fell back to |Q|x|C|
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("three-level residual ivf keeps the (cell, sub, sub2) blocking " +
      "join-shaped — no cartesian fallback at any level") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.ivfProbe(e.filter(
      org.apache.spark.sql.functions.col("vec_id") < 10),
      graft.llm.Similarity.ivfTrainedIndex(e, nlist = 4,
        splits = Seq(2, 2)), k = 5)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("lloydAssign checkpoints one broadcast argmin: a map-side packed " +
      "min keyed by vec_id, never the payload past the exchange") {
    // the curation chain's semdedup runs this plan: pin its shape
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint")
          plans.synchronized { plans += qe.executedPlan }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.llm.Similarity.lloydAssign(Tables(spark, sf0001, "embeddings"),
        nlist = 4)
      org.apache.spark.ListenerBusFlush(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, plans)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val fin = nodes(plans.head)
    val p = plans.head.toString
    def count(name: String) = fin.count(_.nodeName == name)
    // the k-row center table broadcasts into a nested-loop join ...
    assert(count("BroadcastNestedLoopJoin") == 1 &&
      count("LocalTableScan") == 1, p)
    // ... under a partial + final fixed-width HashAggregate on vec_id
    // with ONE shuffle between them, which carries (vec_id, min) only
    val aggs = fin.collect { case h: HashAggregateExec => h }
    assert(aggs.size == 2 && aggs.forall(_.groupingExpressions
      .map(_.name) == Seq("vec_id")), p)
    assert(aggs.map(_.output.map(_.name)).contains(Seq("vec_id", "min")), p)
    assert(count("Exchange") == 1 && count("BroadcastExchange") == 1, p)
    assert(Seq("SortAggregate", "ObjectHashAggregate", "SortMergeJoin",
      "Window", "CartesianProduct").forall(count(_) == 0), p)
    // one corpus scan, reading the id and the vector only
    val scans = fin.filter(_.nodeName.startsWith("Scan parquet"))
    assert(scans.size == 1 && scans.head.output.map(_.name) ==
      Seq("vec_id", "embedding"), p)
  }

  test("semdedup pair generation joins on the cell id, never all-pairs") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.semDedup(e, tau = 0.4)
    df.collect()
    val p = plan(df)
    // the centroid join is the (tiny) broadcast; the quadratic pair arm
    // must be the cell equi-join — a CartesianProduct here means the
    // blocking degenerated to |C|²
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q21 salted join shuffles on (key, salt), splitting hot keys") {
    // disable broadcast so the join must shuffle — the point is how the
    // shuffle partitions, not whether a tiny test side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Relational.q21(spark, sf0001)
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      // both exchanges hash on the composite (join key, _salt): a hot
      // custkey now lands in `salt` distinct partitions
      val parts = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
      assert(parts.exists(l => l.contains("c_custkey") && l.contains("_salt")), p.take(3000))
      assert(parts.exists(l => l.contains("o_custkey") && l.contains("_salt")), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("ivf+pq ADC scan joins on the cell id, never a cartesian corpus scan") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.ivfPqTopK(e.filter(
      org.apache.spark.sql.functions.col("vec_id") < 10), e, k = 5,
      centroidStride = 7, nProbe = 3, rerank = 20)
    df.collect()
    val p = plan(df)
    // the only wide candidate producer must be the cell equi-join of
    // broadcast probe rows against the code table; a CartesianProduct
    // would mean the composed index degenerated to |Q|x|C| on payloads
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
  }

  test("contamination probes train n-grams via equi-join with map-side distinct") {
    val df = graft.llm.CorpusOps.contamination(
      Tables(spark, sf0001, "documents"), hashKeys = true)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // train side reduces to distinct n-gram keys with a partial
    // HashAggregate below its exchange (map-side combine), and the
    // probe meets it on the 8-byte hashed key
    val lines = p.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
    assert(exchangeIdx >= 0 &&
      lines.drop(exchangeIdx + 1).exists(_.contains("HashAggregate")), p.take(3000))
    assert(p.contains("xxhash64"), p.take(3000))
  }

  test("rate-based mixing sample plans as a pure per-row filter, no shuffle") {
    val df = graft.llm.CorpusOps.mixRate(Tables(spark, sf0001, "documents"))
    val p = plan(df)
    // the only exchange allowed is the output contract's final orderBy
    // (rangepartitioning) — the sampling predicate itself must never
    // induce a hash shuffle, that is the whole point of the rate variant
    val shuffles = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(shuffles.forall(_.contains("rangepartitioning")), p.take(3000))
  }

  test("cosine near-dup candidates meet on bucket keys, ids only") {
    val e = Tables(spark, sf0001, "embeddings")
    val df = graft.llm.Similarity.cosineNearDupPairs(e, tau = 0.4)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the bucket self-join must be an equi-join (SortMerge or Hash)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("shard and chunk plan no hash exchange — per-row projections only") {
    val docs = Tables(spark, sf0001, "documents")
    // ordered=false is the export path; the assertion is that the
    // assignment/explode itself induces no exchange of any kind
    val ps = plan(graft.llm.CorpusOps.shard(docs, nShards = 8,
      ordered = false))
    assert(!ps.contains("Exchange"), ps.take(2000))
    val pc = plan(graft.llm.TextOps.chunk(docs, window = 8, overlap = 2,
      ordered = false))
    assert(!pc.contains("Exchange"), pc.take(2000))
    assert(pc.contains("Generate"), pc.take(2000)) // the posexplode
  }

  test("pack plans one hash exchange on shard, never a global window") {
    val docs = Tables(spark, sf0001, "documents")
    val p = plan(graft.llm.CorpusOps.pack(docs, budget = 512, nShards = 4))
    // the window must partition by shard: a missing PARTITION BY plans
    // a single-partition window (the non-scalable shape), which Spark
    // surfaces as an Exchange SinglePartition
    assert(!p.contains("SinglePartition"), p.take(3000))
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("shard"), p.take(3000))
  }

  test("strict curation reads the corpus once for all per-row gates") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.TextOps.curate(docs, maxDup3 = 0.01)
    // quality + langId + dup3 gates are one projection over one scan; the
    // dedup keep-decision side materializes through localCheckpoint
    // (LogicalRDD), so a second "Scan parquet" in the plan means a gate
    // regressed to its own corpus read
    val scans = plan(df).linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 parquet scan, got $scans")
  }

  test("perplexity and dsir join per-TYPE costs via broadcast — the " +
      "exploded corpus never shuffles for the join") {
    val docs = Tables(spark, sf0001, "documents")
    for (df <- Seq(graft.llm.TextOps.perplexity(docs),
        graft.llm.CorpusOps.dsirWeights(docs))) {
      val p = plan(df)
      // the vocab-sized cost frame builds the broadcast side; a
      // SortMergeJoin here would shuffle the exploded corpus by token
      assert(p.contains("BroadcastHashJoin"), p.take(3000))
      assert(!p.contains("SortMergeJoin"), p.take(3000))
    }
  }

  test("unimax allocation windows run on the counts frame, not the corpus") {
    val docs = Tables(spark, sf0001, "documents")
    val p = plan(graft.llm.CorpusOps.mixUnimax(docs))
    // the water-filling window ran inside the counts frame's
    // localCheckpoint (annot materializes as a LogicalRDD), so the
    // corpus-facing plan must contain NO window at all — rates reach
    // the corpus as a broadcast build side over one parquet scan
    val lines = p.linesIterator.toSeq
    assert(!lines.exists(_.contains("Window")), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(lines.count(_.contains("Scan parquet")) == 1, p.take(3000))
  }

  test("split assignment and quality model plan as pure per-row " +
      "projections — no exchange of any kind") {
    val docs = Tables(spark, sf0001, "documents")
    // ordered=false is the pipeline-composition path; the assignment
    // and the classifier score must not induce a shuffle or a window
    val ps = plan(graft.llm.CorpusOps.splitAssign(docs, ordered = false))
    assert(!ps.contains("Exchange") && !ps.contains("Window"), ps.take(2000))
    val pq = plan(graft.llm.TextOps.qualityModel(docs, ordered = false))
    assert(!pq.contains("Exchange") && !pq.contains("Window"), pq.take(2000))
  }

  test("featurize plans a doc-keyed hash aggregate with map-side " +
      "partial sums, one exchange") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.TextOps.featurize(docs, ordered = false)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // partial sums before the exchange, final after — the simHash shape
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      p.take(3000))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"want exactly the agg exchange, got $exchanges\n"
      + p.take(3000))
  }

  test("token kl aggregates on the vocab frame — token-keyed exchanges " +
      "only, no corpus-row join") {
    val docs = Tables(spark, sf0001, "documents")
    val p = plan(graft.llm.CorpusOps.tokenKl(docs))
    // the corpus contributes via two token aggregates; the KL reduction
    // itself is a single-row aggregate. No window, no cartesian against
    // corpus rows — the one legal nested-loop is the single-row stats
    // frame crossJoin (a broadcast of one row).
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("bloom decontamination probes per-row against the literal " +
      "bitmap — no gram join, one doc-keyed exchange") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.CorpusOps.bloomDecontaminate(docs)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the exact op joins train grams to the eval gram set; the bloom
    // probe must not join at all — the eval set is inside the bitmap
    assert(!p.contains("Join"), p.take(3000))
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"want exactly the doc-keyed agg exchange, " +
      s"got $hashEx\n" + p.take(3000))
  }

  test("quality calibration and ngram novelty scan the corpus once; " +
      "novelty joins on the gram key only") {
    val docs = Tables(spark, sf0001, "documents")
    val pc = plan(graft.llm.CorpusOps.qualityCalibration(docs))
    assert(pc.linesIterator.count(_.contains("Scan parquet")) == 1,
      pc.take(3000))
    val pn = plan(graft.llm.CorpusOps.ngramNovelty(docs))
    assert(!pn.contains("CartesianProduct") &&
      !pn.contains("BroadcastNestedLoopJoin"), pn.take(3000))
  }

  test("token-budget selection windows only the cut bucket — the " +
      "corpus never range-sorts on score") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.CorpusOps.tokenBudgetSelect(docs, 2000L)
    df.collect()
    // AQE's toString prints the initial plan after the final one — slice
    // to the final section, then count the Window OPERATOR ("Window ["
    // — the frame spec inside its argument list also contains the word)
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.linesIterator.count(_.contains("Window [")) == 1, p.take(3000))
    // a global quality sort would plan a score4 range exchange; the
    // only range partitioning allowed is the doc_id presentation sort
    p.linesIterator.filter(_.contains("rangepartitioning")).foreach { l =>
      assert(l.contains("doc_id"), l)
    }
  }

  test("dedup keep-best plans the family argmax as an aggregate — " +
      "no window anywhere") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.Dedup.dedupKeepBest(docs)
    df.collect()
    assert(!plan(df).contains("Window"), plan(df).take(3000))
  }

  test("boilerplate removal meets grams on an 8-byte-key equi-join, " +
      "never a cartesian") {
    val docs = Tables(spark, sf0001, "documents")
    val df = graft.llm.Dedup.boilerplateRemove(docs, span = 10,
      minDocs = 3, hashKeys = true)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("xxhash64"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("scorecard reads the corpus once for all fused per-row scores") {
    val docs = Tables(spark, sf0001, "documents")
    val p = plan(graft.llm.TextOps.scorecard(docs))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      p.take(3000))
  }

  test("persisted IVF index probe with staticPrune reads only the " +
      "probed cells' partitions") {
    import graft.llm.Similarity
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(
      org.apache.spark.sql.functions.col("vec_id") < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-prune").toString
    Similarity.ivfWrite(Similarity.ivfIndex(emb), dir)
    val stored = Similarity.ivfRead(spark, dir)
    val nCells = stored.codebooks.head.count()
    val pruned = Similarity.ivfProbe(queries, stored, k = 5,
      nProbe = Seq(2), staticPrune = true)
    val rows = pruned.collect()
    // same answer as the unpruned probe of the same stored index
    val plainRows = Similarity.ivfProbe(queries, stored, k = 5,
      nProbe = Seq(2)).collect()
    assert(rows.toSeq == plainRows.toSeq && rows.nonEmpty)
    // the assignment scan must carry a literal cell partition filter
    // and select at most |Q| x nProbe of the nCells partitions — the
    // machine check behind the "probe I/O is nProbe/nlist of the
    // index" claim
    import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case r: ReusedSubqueryExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    val assignScan = scans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString(",").contains("assign"))
    assert(assignScan.nonEmpty)
    val selected = assignScan.head.selectedPartitions.partitionCount.toLong
    assert(selected <= 3 * 2 && selected < nCells,
      s"selected $selected of $nCells partitions")
    assert(assignScan.head.partitionFilters.mkString(" ").contains("cell"),
      assignScan.head.partitionFilters.mkString(" "))
  }

  test("ccnet fixed-threshold buckets add no window to the perplexity " +
      "plan; the rank form pays exactly the per-lang windows") {
    val docs = Tables(spark, sf0001, "documents")
    val pf = plan(graft.llm.TextOps.ccnetBucketsFixed(docs, 3.40, 3.41,
      ordered = false))
    assert(!pf.contains("Window"), pf.take(3000))
    val pr = plan(graft.llm.TextOps.ccnetBuckets(docs, ordered = false))
    assert(pr.linesIterator.exists(_.contains("Window")), pr.take(3000))
  }

  test("fanOut contract: spreads under-partitioned batch frames, " +
      "respects the size floor, never touches wide or streaming frames") {
    import graft.llm.Dedup.fanOut
    val p = spark.sparkContext.defaultParallelism
    val docs = Tables(spark, sf0001, "documents") // small scan, few parts
    assume(docs.rdd.getNumPartitions < p)
    // no floor: spreads to session parallelism
    assert(fanOut(docs).rdd.getNumPartitions == p)
    // floor above the frame's optimizer size estimate: identity
    val floored = fanOut(docs, minBytes = Long.MaxValue)
    assert(floored.rdd.getNumPartitions == docs.rdd.getNumPartitions)
    assert(!floored.queryExecution.executedPlan.toString
      .contains("RoundRobinPartitioning"))
    // already-wide frame: identity (no second exchange on top)
    val wide = docs.repartition(p)
    assert(fanOut(wide).queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("RoundRobinPartitioning")) == 1)
    // streaming frame: untouched (fanOut must not call .rdd on it)
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    assert(fanOut(stream) eq stream)
  }

  test("bounded-collect lint: every .collect() site in src/main is " +
      "inventoried") {
    // round-11 directive #8: all current driver-side collects are
    // bounded (literal limits, k-sized center/mean frames, |Q|-bounded
    // probe keys, <=10001-bucket histograms — judge-audited r11; the
    // two Bench sites are the 15k streaming payloads). A NEW collect
    // fails this inventory until its bound is audited and the count
    // updated — the 36th site cannot ship unreviewed.
    val expected = Map(
      "Bench.scala" -> 2, "core/QueryCache.scala" -> 1,
      // GraphChecks dropped 4 -> 3 in the r14 opt round: pprMulti's
      // top-5-overlap and Spearman collects merged into one bounded
      // per-source aggregate (same O(|sources|) driver rows)
      "graph/GraphChecks.scala" -> 3, "graph/GraphQueries.scala" -> 1,
      "llm/CorpusOps.scala" -> 3,
      // Dedup's union-find collects a pair graph only when it sizes to
      // one partition, i.e. fewer than 200k (id, id) pairs
      "llm/Dedup.scala" -> 1, "llm/LlmQueries.scala" -> 2,
      // the Lloyd kernel (Unsupervised.lloyd) reads its k×dim centers
      // back through takeOrdered(k) and treeAggregate, not collect():
      // Similarity dropped 6 -> 4 and Unsupervised 2 -> 0 with it; the
      // one static-pruned IVF probe for every depth then took Similarity
      // 4 -> 2 (the PQ codebook and the |Q|-bounded probe keys)
      "llm/Similarity.scala" -> 2, "llm/TextOps.scala" -> 2,
      "ml/Checks.scala" -> 9,
      "ml/knn/Knn.scala" -> 2, "streaming/EventStreams.scala" -> 1)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val collectPat = java.util.regex.Pattern.compile("\\.collect\\(\\)")
    val got = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.walk(root).iterator()).asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val m = collectPat.matcher(java.nio.file.Files.readString(p))
        var c = 0
        while (m.find()) c += 1
        root.relativize(p).toString -> c
      }
      .filter(_._2 > 0).toMap
    assert(got == expected,
      "collect() inventory drifted — audit each new site's bound " +
        "(driver memory must stay O(k), never O(corpus)) and update " +
        s"the map.\n  got: ${got.toSeq.sorted}\n  want: " +
        s"${expected.toSeq.sorted}")
  }

  test("driver-built frames keep the order orderBy gave them, with no Sort") {
    import spark.implicits._
    def same(df: org.apache.spark.sql.DataFrame, keys: String*): Unit = {
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
      }.isEmpty)
      assert(df.collect().toSeq ==
        df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
          .collect().toSeq)
    }
    // UTF-8 bytes order 'é' (C3 A9) < U+FFFD (EF BF BD) < U+1D4B3 (F0 9D
    // 92 B3); UTF-16 code units put the surrogate pair before U+FFFD
    val names = Seq("b", "a", "ab", "Z", "\u00e9", "\uFFFD", "\uD835\uDCB3")
    assert(names.sorted != names.sorted(graft.ml.Checks.utf8Order))
    same(graft.ml.Checks.verdictsV(spark, names.map(_ -> 1.0)), "metric")
    same(graft.llm.LlmQueries.all("llm_ann_lsh")(spark, sf0001), "metric")
    same(graft.llm.TextOps.bpeLearn(Tables(spark, sf0001, "documents"),
      nMerges = 4, mergesPerRound = 2), "step")
    same(graft.ml.Unsupervised.lloydFixed(spark,
      Tables(spark, sf0001, "embeddings")), "cluster", "dim")
    val edges = Seq((3L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0))
      .toDF("src", "dst", "weight")
    val graph = graft.graph.LocalGraph.fromEdges(edges)
    same(graft.graph.Builtins.pageRank(spark, graph, 5), "node")
    same(graft.graph.Iterative.trustRank(spark, graph,
      graft.graph.LocalGraph.Pick.Given(Set(2L)), 5), "node")
  }
}
