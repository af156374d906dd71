package graft.tools

import graft.GraftSession

/** End-to-end curation-pipeline rehearsal (round-12 directive #4): one
  * job chaining the real pre-training data flow the per-operator
  * ladders only ever measured in isolation — the four-stage
  * curate → bloom-decontaminate → semdedup → split/export chain, now
  * implemented as the first-class [[graft.llm.Pipeline.curateChain]]
  * entry point (round-13 directive #3 promoted it into main so the
  * bench gates it per-round; this tool remains the SCALE-round driver
  * for the ×10/×30/×100/×300 rungs).
  *
  * Per stage: wall seconds, surviving row count, and JVM heap in use
  * after the stage (the driver-state proxy — the only driver payloads
  * in the chain are the Bloom bitmap, Lloyd centroids, and the
  * dedup-threshold literals, all bounded). Run at sf0.1 and ×10/×30/
  * ×100/×300 and compare walls: the per-family ladders are each
  * sublinear; THIS measures whether they compose (cache pressure, AQE
  * interplay, checkpoint cadence) in one job.
  *
  * Usage: PipelineRehearsal <corpusDir> <outDir> [label] [langs]
  *
  * `langs` (comma list, default "en") runs the gate stack once per
  * language and unions the survivor sets. The StressGen replicas tag
  * every token (`~k`), which the language-ID heuristic classifies
  * 'und' — so a strict en-only funnel at ×k narrows back to the base
  * survivors by the GENERATOR's design (stage 1 still does the full
  * ×k work). Passing "en,und" keeps the surviving replicas too, so
  * the downstream stages (bloom probe, semantic dedup, export) see
  * genuinely scaled input volumes.
  */
object PipelineRehearsal {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val outDir = args(1)
    val label = if (args.length > 2) args(2) else corpusDir
    val langs = (if (args.length > 3) args(3) else "en")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)

    val docs = graft.sources.Tables(spark, corpusDir, "documents")
    val emb = graft.sources.Tables(spark, corpusDir, "embeddings")
    println(s"[rehearsal] $label: ${docs.count()} docs, " +
      s"${emb.count()} vectors, " +
      f"canary cpu_spin=${graft.Bench.cpuSpin()}%.3f s " +
      f"cpu_spin8=${graft.Bench.cpuSpin8()}%.3f s")

    val (total, _) = graft.llm.Pipeline.curateChain(
      spark, corpusDir, outDir, langs, m => println(s"[rehearsal] $m"),
      semDiag = true)

    println(f"[rehearsal] TOTAL $label ${total}%8.2f s, " +
      f"canary cpu_spin=${graft.Bench.cpuSpin()}%.3f s " +
      f"cpu_spin8=${graft.Bench.cpuSpin8()}%.3f s")
    spark.stop()
  }
}
