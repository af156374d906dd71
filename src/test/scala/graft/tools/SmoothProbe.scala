package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Paired same-JVM A/B probe for the round-10 smooth deployment sizing:
  * runs the three measured above-linear families (SCALE_r9 §×30 —
  * ann_ivf 4.64×, ivfpq 4.33×, embed_dedup 4.18× between ladder rungs)
  * at the ×10 and ×30 stress corpora under BOTH sizing modes, printing
  * per-rep times and the ×30/×10 ratio per mode. Paired in one JVM
  * because the host's absolute speed is not stationary (BASELINE §4) —
  * only the within-JVM ratios adjudicate.
  *
  * Run: sbt "Test/runMain graft.tools.SmoothProbe [x10dir] [x30dir] [reps]"
  */
object SmoothProbe {
  def main(args: Array[String]): Unit = {
    val x10 = args.headOption.getOrElse("/tmp/stress/x10")
    val x30 = args.drop(1).headOption.getOrElse("/tmp/stress/x30")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def emb(dir: String) = graft.sources.Tables(spark, dir, "embeddings")
    val families: Seq[(String, String => Long)] = Seq(
      "ann_ivf" -> { dir: String =>
        val e = emb(dir)
        Similarity.ivfProbe(e.filter(col("vec_id") < 10),
          Similarity.ivfIndex(e), k = 5, nProbe = Seq(4)).count()
      },
      "ann_ivfpq" -> { dir: String =>
        val e = emb(dir)
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e, k = 5,
          nProbe = 4, rerank = 20).count()
      },
      "embed_dedup" -> { dir: String =>
        Similarity.cosineNearDupPairs(emb(dir), tau = 0.4).count()
      })

    // warm-up: one untimed pass of each family at x10 (JIT + footers)
    families.foreach { case (_, f) => f(x10) }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    // INTERLEAVED A/B (round-10 lesson: a block design — all ladder
    // reps, then all smooth reps — let a host-drift window alias as a
    // 5x mode effect that an interleaved stride probe could not
    // reproduce). Every rep runs ladder and smooth back to back; the
    // reported statistic is the MIN across reps (the host only ever
    // ADDS noise, so min is the least-contaminated sample).
    val acc = scala.collection.mutable.Map
      .empty[(String, String, String), List[Double]].withDefaultValue(Nil)
    for (r <- 1 to reps; dir <- Seq("x10" -> x10, "x30" -> x30);
        (name, f) <- families; mode <- Seq("ladder", "smooth")) {
      spark.conf.set("graft.sizing.mode", mode)
      val t0 = System.nanoTime()
      val n = f(dir._2)
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(f"SMOOTHPROBE $mode%-6s $name%-12s ${dir._1} rep$r rows=$n%-8d $dt%8.3f s")
      acc((mode, name, dir._1)) ::= dt
    }
    for (mode <- Seq("ladder", "smooth"); (name, _) <- families) {
      val b10 = acc((mode, name, "x10")).min
      val b30 = acc((mode, name, "x30")).min
      println(f"SMOOTHRATIO $mode%-6s $name%-12s x10=$b10%7.3f s x30=$b30%7.3f s ratio=${b30 / b10}%5.2f (min of $reps)")
    }
    spark.stop()
  }
}
