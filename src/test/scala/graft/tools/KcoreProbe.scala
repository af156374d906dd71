package graft.tools

import graft.GraftSession

/** Interleaved base/x10 kcore probe (round-10 directive #8): alternates
  * the two corpora in one JVM so host drift cannot alias as a scale
  * ratio; reports min-of-reps and their ratio.
  * Run: sbt "Test/runMain graft.tools.KcoreProbe <baseDir> <x10Dir> [reps]" */
object KcoreProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val x10 = args.drop(1).headOption.getOrElse("/tmp/stress/x10")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val spark = GraftSession(32)
    val fn = graft.SparkEntry.queries("graph_kcore")
    fn(spark, base).count() // untimed warm-up (JIT + codegen)
    GraftSession.clearState(spark)
    val acc = scala.collection.mutable.Map("base" -> List.empty[Double],
      "x10" -> List.empty[Double])
    for (r <- 1 to reps; (tag, dir) <- Seq("base" -> base, "x10" -> x10)) {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clearState(spark)
      println(f"KCOREPROBE $tag%-5s rep$r $dt%8.3f s")
      acc(tag) ::= dt
    }
    val (b, x) = (acc("base").min, acc("x10").min)
    println(f"KCORERATIO base=$b%7.3f s x10=$x%7.3f s ratio=${x / b}%5.2f (min of $reps)")
    spark.stop()
  }
}
