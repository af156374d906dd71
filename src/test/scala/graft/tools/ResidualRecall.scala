package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Recall@k of the two-level residual index at its DEPLOYMENT operating
  * point (round-11 directive #1 — the one number the r10 residual
  * evidence lacked): the contract tests prove exhaustive-probe
  * exactness and the past-cap build checked counts, but nothing said
  * what recall (nProbe=4, nProbeSub=2) actually buys. Same geometry
  * model as [[ResidualProbe]]: nlist = n/3000 puts 3,000 vectors per
  * coarse cell — a 12.3M-vector corpus at the real 4,096-cell cap —
  * and nsplit = 3 (= adaptiveNsplit(12.3M)) restores the ~1,000-vector
  * operating point. Ground truth is brute-force top-k over the full
  * corpus for the same query batch; the sweep reports recall plus the
  * DETERMINISTIC candidate volume per probe width, so the
  * quality/candidate trade is read off one table.
  * The stress corpora are near-uniform on the sphere (shifted
  * replicas) — the IVF-hostile worst case. Passing `clustered` as the
  * dir generates a deterministic 60k-vector 64-blob corpus instead
  * (hash-seeded Box–Muller centers, point = center + 0.5·noise,
  * normalized; expected cosine-to-center ≈ 0.89) — the geometry real
  * embedding corpora actually have, so the sweep brackets the
  * deployment recall between the two regimes.
  *
  * Run: sbt "Test/runMain graft.tools.ResidualRecall <dir|clustered> [nQueries]" */
object ResidualRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/stress/x30")
    val nQ = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e =
      if (dir == "clustered") Corpora.clustered(spark)
      else graft.sources.Tables(spark, dir, "embeddings")
    val n = e.count()
    val nlist = math.max(4, (n / 3000L).toInt)
    val nsplit = 3
    val k = 5
    println(s"RESIDRECALL dir=$dir n=$n nlist=$nlist nsplit=$nsplit " +
      s"k=$k queries=$nQ")
    val q = e.filter(col("vec_id") < nQ).localCheckpoint()
    val truth = Similarity.bruteForceTopK(q, e, k).localCheckpoint()
    val ix0 = Similarity.ivfTrainedIndex(e, nlist, Seq(nsplit))
    val ix = ix0.copy(assignment = ix0.assignment.localCheckpoint())
    val assign = ix.assignment
    val cellSizes = assign.groupBy("cell", "sub").count().localCheckpoint()
    for ((nProbe, nProbeSub) <- Seq((2, 1), (4, 2), (4, 3), (6, 2),
      (8, 2), (8, 3), (12, 3))) {
      val t0 = System.nanoTime()
      val ap = Similarity.ivfProbe(q, ix, k,
        nProbe = Seq(nProbe, nProbeSub)).localCheckpoint()
      val rec = Similarity.recallAtK(ap, truth, k)
        .head().getDouble(0)
      val wall = (System.nanoTime() - t0) / 1e9
      // deterministic candidate volume: Σ over probed (query, cell, sub)
      // of that subcell's population — what the rank stage actually scores
      val qSubs = Similarity.probeKeys(q, ix.codebooks,
        Seq(nProbe, nProbeSub))
      val cand = qSubs.join(cellSizes, Seq("cell", "sub"))
        .agg(sum("count")).head().getLong(0)
      println(f"RESIDRECALL probe=($nProbe,$nProbeSub) recall@$k=$rec%6.4f " +
        f"candRows=$cand%-10d candPerQuery=${cand.toDouble / nQ}%8.1f " +
        f"probeWall=$wall%6.2f s")
    }
    spark.stop()
  }
}
