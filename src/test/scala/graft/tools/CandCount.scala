package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.llm.Similarity

/** Deterministic scale evidence for the smooth sizing (round-10
  * directive #1): CANDIDATE/EVAL counts — not wall-clock, which this
  * host renders unadjudicable (BASELINE §4) — for the three blocking
  * families at two corpus sizes under both sizing modes.
  * Run: sbt "Test/runMain graft.tools.CandCount <x10dir> <x30dir>" */
object CandCount {
  def main(args: Array[String]): Unit = {
    val x10 = args.headOption.getOrElse("/tmp/stress/x10")
    val x30 = args.drop(1).headOption.getOrElse("/tmp/stress/x30")
    val spark = GraftSession(32)
    for ((tag, dir) <- Seq("x10" -> x10, "x30" -> x30)) {
      val e = graft.sources.Tables(spark, dir, "embeddings")
      val n = e.count()
      for (mode <- Seq("ladder", "smooth")) {
        // IVF: build-side distance evals = n * nlist (deterministic)
        val stride = if (mode == "smooth") Similarity.smoothStride(n)
          else Similarity.adaptiveStride(n)
        val nlist = e.filter(pmod(col("vec_id"), lit(stride)) === 0).count()
        println(f"CANDCOUNT $tag $mode%-6s ivf      n=$n%-7d stride=$stride%-5d " +
          f"nlist=$nlist%-5d buildEvals=${n * nlist}%-12d")
        // sign-LSH: candidate pairs before verify (deterministic).
        // tau=-2 passes every candidate through verify, so the output
        // count IS the blocking volume; nproj=0 + the session conf
        // routes through the mode's own auto-sizing path
        spark.conf.set("graft.sizing.mode", mode)
        val per =
          if (mode == "smooth") Similarity.smoothProjections(n)
          else Seq.fill(3)(Similarity.adaptiveProjections(n))
        val cands = Similarity.cosineNearDupPairs(e, tau = -2.0).count()
        println(f"CANDCOUNT $tag $mode%-6s signlsh  n=$n%-7d " +
          f"h=${per.mkString("/")}%-8s candPairs=$cands%-12d")
      }
    }
    spark.stop()
  }
}
