package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Observed

/** The composed pre-training curation pipeline — the four-stage chain a
  * real training-data run executes as ONE job, promoted out of the
  * scale-rehearsal tool (`graft.tools.PipelineRehearsal`, rounds 12–13)
  * into a first-class entry point so the bench can GATE the composition
  * (round-13 directive #3: per-operator rows can all be green while a
  * chain-only defect — cache pressure, AQE interplay, a saturating
  * stage default like the ×30 Bloom failure — regresses silently):
  *
  *   1. strict gate stack (quality ∧ language ∧ dup3 ∧ minhash-dedup
  *      keep; [[TextOps.curate]] with the dup3 gate ACTIVE),
  *   2. Bloom decontamination of the survivors against an eval slice
  *      ([[CorpusOps.bloomDecontaminateAgainst]], adaptive sizing),
  *   3. semantic dedup of the survivors' embeddings
  *      ([[Similarity.semDedup]], adaptive nlist),
  *   4. split + shard assignment and partitioned JSONL export
  *      ([[CorpusOps.exportAssigned]], the exportTrainingSet tail fed
  *      the chained kept set).
  *
  * Scale shape: each stage is the already-ladder-proven operator
  * (sublinear through ×100, SCALE_r13 §4); the chain materializes stage
  * boundaries with `localCheckpoint` so no stage's lineage replays an
  * earlier stage's shuffles, and the only driver payloads are the Bloom
  * bitmap, Lloyd centroids, and threshold literals — all bounded.
  */
object Pipeline {

  /** One stage's wall seconds, surviving row count, and JVM heap in use
    * after the stage (the driver-state proxy). */
  final case class Stage(name: String, sec: Double, survivors: Long,
      heapMb: Long)

  private def heapMb(): Long = {
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
  }

  /** Run the chain over `corpusDir`'s documents + embeddings, exporting
    * the final training set under `outDir/train_set`; returns (total
    * wall seconds, per-stage vector). `langs` keeps the survivors of
    * every listed language (StressGen replicas classify 'und', so
    * scaled corpora pass "en,und" to keep the replica survivors flowing
    * through the downstream stages). With `semDiag = true`, the
    * semdedup stage's blocking-quality decomposition
    * ([[Similarity.semDedupStats]]: candidate pairs, verified pairs, max
    * cell occupancy) is computed and logged AFTER the total clock stops
    * — the SCALE-rung rungs read it without the diag cost polluting the
    * gated wall numbers. */
  def curateChain(spark: SparkSession, corpusDir: String, outDir: String,
      langs: Seq[String] = Seq("en"),
      log: String => Unit = _ => (),
      semDiag: Boolean = false): (Double, Seq[Stage]) = {
    val docs = graft.sources.Tables(spark, corpusDir, "documents")
    val emb = graft.sources.Tables(spark, corpusDir, "embeddings")
    val stages = scala.collection.mutable.ListBuffer.empty[Stage]
    // Stage-boundary release (r14 ×300 rung): the dedup/bloom/semdedup
    // operators checkpoint corpus-proportional intermediates (shingle
    // sets, band tables, label rounds) that NOTHING unpersists — held
    // across stages they aged the heap until the semdedup stage read
    // 1.6× at matched quiet canaries (and at a big-enough corpus they
    // would OOM the executors). Every stage's OUTPUT is an EAGER
    // localCheckpoint — its lineage is cut, so every OTHER RDD this
    // stage persisted is droppable the moment the stage returns. The
    // output is the last checkpoint the stage creates, so it is the
    // max persisted-RDD id among the stage's new entries. Its row count
    // rides that checkpoint's own job (Observed.checkpointCounted).
    def stage[T](name: String)(body: => (Long, T)): T = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val (survivors, out) = body
      val dt = (System.nanoTime() - t0) / 1e9
      val persisted = sc.getPersistentRDDs
      val created = persisted.keySet -- before
      if (created.nonEmpty)
        (created - created.max)
          .foreach(id => persisted.get(id).foreach(_.unpersist(false)))
      val s = Stage(name, dt, survivors, heapMb())
      stages += s
      log(f"${s.name}%-16s ${s.sec}%8.2f s  survivors=${s.survivors}%8d" +
        f"  heap=${s.heapMb}%5d MB")
      out
    }
    val tTotal0 = System.nanoTime()

    // 1. strict gate stack: quality >= 0.5, language ∈ langs, dup3
    //    gate ACTIVE (0.9 — strict enough to genuinely evaluate, loose
    //    enough to keep the funnel realistic), minhash-dedup keep.
    //    curateMulti, NOT a per-language union: the dedup keep set is
    //    language-independent, and the union form paid the full
    //    minhash pipeline once per language (the r14 ×300 rung caught
    //    the second run reading 2-3× in the first run's aged heap)
    val curated = stage("curate") {
      val (kept, n) = Observed.checkpointCounted(
        TextOps.curateKept(docs, minQuality = 0.5, langs = langs,
          shingleSize = 3, threshold = 0.5, maxDup3 = 0.9)
        .select("doc_id"))
      (n, kept)
    }

    // 2. Bloom decontamination of the SURVIVORS against an eval slice
    //    (every 100th doc plays the benchmark corpus — disjoint from
    //    training by construction of the drop)
    val clean = stage("bloom_decontam") {
      val evalDocs = docs.filter(col("doc_id") % 100 === 7)
      val train = docs.join(curated, Seq("doc_id"))
        .filter(col("doc_id") % 100 =!= 7)
      val (screened, n) = Observed.checkpointCounted(
        CorpusOps.bloomScreen(train, evalDocs, n = 3, maxOverlap = 0.5,
          mBits = 0, numHashes = 4)
        .filter(!col("dropped")).select("doc_id"))
      (n, screened)
    }

    // 3. semantic dedup over the survivors' embeddings (vec_id = doc_id
    //    where a vector exists); docs without a vector pass through —
    //    the realistic shape: the embedding table covers a subset
    var survEmbForDiag: org.apache.spark.sql.DataFrame = null
    val kept = stage("semdedup") {
      val survEmb = emb.join(
        clean.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"))
      survEmbForDiag = survEmb
      val keepVec = Similarity.semDedupKeep(survEmb, tau = 0.4, nlist = 0,
          iters = 5)
        .filter(col("keep")).select(col("vec_id").as("doc_id"))
      val noVec = clean.join(
        emb.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_anti")
      val (all, n) = Observed.checkpointCounted(keepVec.unionByName(noVec))
      (n, all)
    }

    // 4. split + shard assignment in ONE projection over the kept
    //    payload, partitioned JSONL export (the exportTrainingSet tail)
    stage("split_export") {
      CorpusOps.exportAssigned(docs, kept, s"$outDir/train_set")
      // read-back count with the written schema given: no inference scan
      val written = spark.read.schema("doc_id LONG, text STRING")
        .json(s"$outDir/train_set").count()
      (written, ())
    }

    val totalSec = (System.nanoTime() - tTotal0) / 1e9

    // untimed blocking-quality decomposition (the clock above has
    // already stopped; recomputing the survivor join here is the price
    // of keeping the TIMED stage plan identical with diag on or off)
    if (semDiag) {
      val r = Similarity.semDedupStats(survEmbForDiag, tau = 0.4).head()
      log(s"semdedup_diag n_cells=${r.getLong(0)} " +
        s"max_occupancy=${r.getLong(1)} " +
        s"candidate_pairs=${r.getLong(2)} " +
        s"verified_pairs=${r.getLong(3)} (untimed)")
    }

    (totalSec, stages.toList)
  }
}
