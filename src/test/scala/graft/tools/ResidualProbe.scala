package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Stress measurement for the IVF residual split PAST the 4,096-cell
  * rung (round-10 directive #4), as a geometry-faithful scale model: a
  * corpus of N vectors with nlist pinned to N/3000 has 3,000 vectors
  * per coarse cell — the exact per-cell geometry of a 12.3M-vector
  * corpus at the real 4,096 cap (the regime where single-level cells
  * have outgrown the ~1,000-vector operating point 3×). The residual
  * split at nsplit = 3 (= adaptiveNsplit(12.3M)) must restore the
  * operating point: the evidence is DETERMINISTIC — within-cell pair
  * volume Σ c·(c−1)/2 (the semDedup candidate driver) and probe
  * candidate counts — plus paired wall times.
  * Run: sbt "Test/runMain graft.tools.ResidualProbe <dir> [reps]" */
object ResidualProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/stress/x30")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.sources.Tables(spark, dir, "embeddings")
    val n = e.count()
    val nlist = math.max(4, (n / 3000L).toInt) // past-cap geometry: 3k/cell
    val nsplit = 3
    println(s"RESIDUALPROBE n=$n nlist=$nlist (3000/cell cap model) nsplit=$nsplit")

    def pairVolume(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): Long =
      df.groupBy(keys.map(col): _*).count()
        .agg(sum(col("count") * (col("count") - 1)))
        .head().getLong(0) / 2

    System.err.println(s"[rp] heap max = ${Runtime.getRuntime.maxMemory() / (1L << 20)} MiB")
    for (rep <- 1 to reps) {
      // single level at the cap model
      var t0 = System.nanoTime()
      System.err.println("[rp] stage: lloydAssign single")
      val a1 = Similarity.lloydAssign(e, nlist)
      val n1 = a1.count()
      val t1 = (System.nanoTime() - t0) / 1e9
      System.err.println("[rp] stage: pairVolume single")
      val vol1 = pairVolume(a1, Seq("cell"))
      val max1 = a1.groupBy("cell").count().agg(max("count")).head().getLong(0)
      // two level
      System.err.println("[rp] stage: two-level ivfTrainedIndex")
      t0 = System.nanoTime()
      val ix = Similarity.ivfTrainedIndex(e, nlist, Seq(nsplit))
      val a2 = ix.assignment
      val n2 = a2.count()
      val t2 = (System.nanoTime() - t0) / 1e9
      System.err.println("[rp] stage: pairVolume two-level")
      val vol2 = pairVolume(a2, Seq("cell", "sub"))
      val max2 = a2.groupBy("cell", "sub").count()
        .agg(max("count")).head().getLong(0)
      // probe wall: same query batch through both
      System.err.println("[rp] stage: probes")
      t0 = System.nanoTime()
      Similarity.ivfProbe(e.filter(col("vec_id") < 10),
        Similarity.ivfTrainedIndex(e, nlist), k = 5, nProbe = Seq(4)).count()
      val p1rows = Similarity.ivfProbe(e.filter(col("vec_id") < 10), ix,
        k = 5, nProbe = Seq(4, 2)).count()
      val tp2 = (System.nanoTime() - t0) / 1e9
      println(f"RESIDUALPROBE rep$rep single: rows=$n1%-7d build=$t1%7.2f s " +
        f"pairVol=$vol1%-12d maxCell=$max1%-6d")
      println(f"RESIDUALPROBE rep$rep twolvl: rows=$n2%-7d build=$t2%7.2f s " +
        f"pairVol=$vol2%-12d maxCell=$max2%-6d probeRows=$p1rows probe=$tp2%6.2f s " +
        f"volRatio=${vol1.toDouble / vol2}%5.2f")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
