package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark driver for one workload run, started by `run.py`:
  *
  *   graftbench.Main --workload W --data DIR --out DIR --seconds S
  *     --trace 0|1 --cold 0|1 --cores N --run ID
  *
  * A warm run (`--cold 0`) sets the session up, runs `WarmUpPasses`
  * untimed passes that warm it and write outputs for the check, then times
  * passes (a closed loop on this one thread) until `S` seconds have
  * passed; with `--trace 1` every second pass is traced (Spark listeners
  * and a span per call on), so the two kinds of pass give the tracing
  * overhead. A cold run (`--cold 1`) times exactly one pass, the first
  * in the session, and checks its outputs: a batch job submitted on its
  * own pays the session's warm-up every time; `--trace 1` traces that
  * pass. Writes `result.json` (timings and per-layer values),
  * `spans.jsonl` and the output-check inputs under `--out`. */
object Main {

  /** Untimed passes before a warm run's clock starts. The stream's
    * trigger times fall for its first three passes (JIT and state-store
    * warm-up) and are level after that. */
  val WarmUpPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    run(opt, opt("cores").toInt)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(opt: Map[String, String], cores: Int): Unit = {
    val data = opt("data")
    val out = opt("out")
    val trace = opt("trace") == "1"
    val cold = opt("cold") == "1"
    val run = opt("run")
    val work = s"$out/work"

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionSec = secSince(t0)

    var spanSeq = 0L
    val nextSpan = () => { spanSeq += 1; spanSeq }
    val tw = System.nanoTime()
    val wl = Workload(opt("workload"), spark, data, work)
    val warm = new Pass(spark, -1, traced = false, run, nextSpan,
      s"$out/outputs")
    if (!cold) (1 to WarmUpPasses).foreach(_ => wl.pass(warm))
    val warmupSec = secSince(tw)

    val probe = if (trace) Some(new Probe(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
    def more = if (cold) passes.isEmpty
      else System.nanoTime() < deadline || passes.size < (if (trace) 2 else 1)
    while (more) {
      val traced = trace && (cold || passes.size % 2 == 1)
      if (traced) { probe.get.begin(); Probe.resetPeakHeap() }
      val p = new Pass(spark, passes.size, traced, run, nextSpan,
        s"$out/outputs")
      wl.pass(p)
      p.stopClock()
      if (traced) {
        val heap = Probe.peakHeapMb()
        engineLayers(p, probe.get.end(), heap, cores)
        wl.jobCounts.foreach { case (op, metric) =>
          p.layer(metric, p.spans.find(_.name.endsWith(s".$op"))
            .map(s => jobsOf(p, s.id)).getOrElse(0).toDouble)
        }
        wl.layers(p)
      }
      passes += p
    }

    val tf = System.nanoTime()
    val checks = wl.finish()
    val finishSec = secSince(tf)
    spark.stop()

    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(wl.oracles))
    Files.writeString(Paths.get(s"$out/spans.jsonl"),
      passes.flatMap(_.spans).map(s => Json(Map("id" -> s.id,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent, "run" -> s.run))).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$out/result.json"), Json(Map(
      "session_s" -> sessionSec, "warmup_s" -> warmupSec,
      "finish_s" -> finishSec,
      "warmup_errors" -> warm.ops.flatMap(_.error),
      "checks" -> checks,
      "passes" -> passes.map(p => Map(
        "traced" -> p.traced, "wall_s" -> p.wallSec,
        "probe_errors" -> p.probeErrors,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "layer" -> o.layer,
          "sec" -> o.sec, "error" -> o.error.orNull)),
        "layers" -> p.layerValues)))))
  }

  private def secSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private val jobCountsByPass = mutable.Map.empty[Int, Map[String, Int]]

  private def jobsOf(p: Pass, spanId: Long): Int =
    jobCountsByPass.getOrElse(p.index, Map.empty)
      .getOrElse(Pass.group(spanId), 0)

  /** The engine's per-layer values for one traced pass, plus a span per
    * Spark job (parented to the call that ran it: by job group, or for
    * jobs on a streaming thread by the call whose interval holds it). */
  private def engineLayers(p: Pass, c: EngineCounters, heapMb: Double,
      cores: Int): Unit = {
    val mb = 1048576.0
    val runS = c.taskRunMs / 1000.0
    Seq(
      "catalyst.analysis_s" -> c.analysisMs / 1000.0,
      "catalyst.optimization_s" -> c.optimizationMs / 1000.0,
      "catalyst.planning_s" -> c.planningMs / 1000.0,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.core_busy" -> runS / (p.wallSec * cores),
      "spark.sched_wait_s" -> c.schedWaitMs / 1000.0,
      "spark.shuffle_read_mb" -> c.shuffleReadB / mb,
      "spark.shuffle_write_mb" -> c.shuffleWriteB / mb,
      "spark.spill_mb" -> c.spillB / mb,
      "spark.result_mb" -> c.resultB / mb,
      "spark.tasks_failed" -> c.tasksFailed.toDouble,
      "jvm.peak_heap_mb" -> heapMb,
    ).foreach { case (k, v) => p.add(k, v) }
    jobCountsByPass(p.index) = c.jobsByGroup.toMap
    val ops = p.spans.filter(_.parent == p.spanId)
    c.jobSpans.sortBy(_._1).foreach { case (job, s, e, group) =>
      val parent = ops.find(o => Pass.group(o.id) == group)
        .orElse(ops.find(o => o.startUs <= s * 1000L && s * 1000L <= o.endUs))
        .map(_.id).getOrElse(p.spanId)
      p.spans += Span(-job - 1L, s"spark.job", s * 1000L, e * 1000L, parent,
        p.run)
    }
  }
}

/** Minimal JSON encoder for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
