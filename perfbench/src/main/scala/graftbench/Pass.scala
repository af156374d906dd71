package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One call into a graft module: its wall seconds and, if it threw, the
  * error. */
final case class OpRec(name: String, layer: String, sec: Double,
    error: Option[String])

/** One pass over a workload's fixed operation list. Every operation is
  * timed alone on the one driver thread (a closed loop); a traced pass
  * also records a span per call and the per-layer values workloads add
  * through [[layer]]. Outputs the check reads go under `outDir`. */
final class Pass(spark: SparkSession, val index: Int, val traced: Boolean,
    val run: String, nextSpanId: () => Long, val outDir: String) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layerValues = mutable.LinkedHashMap.empty[String, Double]
  /** Failures of untimed calls a traced pass makes for its per-layer
    * values (they count as failed operations, but not as timed ones). */
  val probeErrors = mutable.ArrayBuffer.empty[String]
  val spanId: Long = nextSpanId()
  private val startUs = Clock.nowUs
  private val t0 = System.nanoTime()
  private var wall = Double.NaN

  private def call(name: String, layer: String)(body: => Unit)
      : (Double, Option[String]) = {
    val id = nextSpanId()
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(Pass.group(id), name, interruptOnCancel = false)
    val s = Clock.nowUs
    val t = System.nanoTime()
    val err = try { body; None } catch {
      case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    val sec = (System.nanoTime() - t) / 1e9
    if (traced) {
      sc.clearJobGroup()
      spans += Span(id, s"$layer.$name", s, Clock.nowUs, spanId, run)
    }
    (sec, err)
  }

  /** A timed operation: counted in `attempted`, and failed if it throws. */
  def op(name: String, layer: String)(body: => Unit): Unit = {
    val (sec, err) = call(name, layer)(body)
    ops += OpRec(name, layer, sec, err)
  }

  /** An untimed call made only for a per-layer value; returns its
    * seconds, or NaN when it threw. */
  def probe(name: String, layer: String)(body: => Unit): Double = {
    val (sec, err) = call(name, layer)(body)
    err.foreach(e => probeErrors += s"$name: $e")
    if (err.isEmpty) sec else Double.NaN
  }

  def layer(name: String, value: Double): Unit = layerValues(name) = value

  def add(name: String, value: Double): Unit =
    layerValues(name) = layerValues.getOrElse(name, 0.0) + value

  /** Stop the pass clock; later calls (per-layer probes) are not timed. */
  def stopClock(): Unit = if (wall.isNaN) {
    wall = (System.nanoTime() - t0) / 1e9
    if (traced) spans += Span(spanId, "bench.pass", startUs, Clock.nowUs, 0L,
      run)
  }

  def wallSec: Double = wall
}

object Pass {
  def group(spanId: Long): String = s"graftbench-op-$spanId"
}
