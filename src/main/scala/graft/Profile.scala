package graft

/** Dev-loop profiler: time a subset of SparkEntry.queries at an
  * arbitrary SF dir, each run `reps` times (first run pays scan/plan
  * warmup; later runs show steady-state). Usage:
  *   sbt "runMain graft.Profile sfDir rep query [query...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = GraftSession(cpus.toInt)
    for (name <- names; fn = SparkEntry.queries(name); r <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clearState(spark)
      println(f"PROFILE $name%-24s rep$r rows=$n%-8d ${dt}%8.3f s")
    }
    spark.stop()
  }
}
