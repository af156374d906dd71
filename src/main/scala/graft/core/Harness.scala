package graft.core

import java.io.StringReader
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Config-driven job harness (reference capability #1, SURVEY §0): typed
  * params from properties text (the reference's SnakeYAML beans,
  * `KMeansRunner.scala:61-83`, become a dependency-free properties layer),
  * wall-clock timing split into load and compute phases
  * (`KMeansRunner.scala:118-133`), and a JSON-line report emission
  * (`Utils.saveYml`, `Utils.scala:150-161`).
  */
object Harness {

  /** Flat string params with typed accessors; unknown keys surface
    * clearly instead of null-propagating. */
  final case class Params(values: Map[String, String]) {
    def str(k: String): String = values.getOrElse(k,
      throw new IllegalArgumentException(s"missing param '$k'"))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    def double(k: String): Double = str(k).toDouble
    def bool(k: String): Boolean = str(k).toBoolean
    def strOr(k: String, d: String): String = values.getOrElse(k, d)
    def intOr(k: String, d: Int): Int = values.get(k).map(_.toInt).getOrElse(d)
    def doubleOr(k: String, d: Double): Double =
      values.get(k).map(_.toDouble).getOrElse(d)
  }

  def parseParams(text: String): Params = {
    val p = new Properties()
    p.load(new StringReader(text))
    Params(p.asScala.toMap)
  }

  def loadParams(path: String): Params =
    parseParams(Files.readString(Paths.get(path)))

  /** One timed run: load phase (forced materialization, the reference's
    * count-to-force at `KMeansRunner.scala:132`), compute phase, metrics. */
  final case class Report(job: String, loadSec: Double, computeSec: Double,
      metrics: Map[String, Double]) {
    def toJson: String = {
      // escape keys and null out non-finite values — a NaN metric or a
      // quote in a job name must not produce unparseable JSON
      def num(v: Double): String = if (v.isNaN || v.isInfinite) "null"
        else v.toString
      val ms = metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.quote(k)}:${num(v)}" }
        .mkString("{", ",", "}")
      s"""{"job":${Json.quote(job)},"load_sec":${num(loadSec)},""" +
        s""""compute_sec":${num(computeSec)},"metrics":$ms}"""
    }
  }

  /** Run `load` (materialized via count), then `compute` over the loaded
    * frame; returns the compute result plus a timing report. */
  def timed(job: String)(load: => DataFrame)(
      compute: DataFrame => Map[String, Double]): (Report, DataFrame) = {
    val t0 = System.nanoTime()
    val df = load.cache()
    df.count()
    val t1 = System.nanoTime()
    val metrics = compute(df)
    val t2 = System.nanoTime()
    (Report(job, (t1 - t0) / 1e9, (t2 - t1) / 1e9, metrics), df)
  }

  /** Append a report as one JSON line (the reference writes one yml per
    * run; JSON-lines aggregates cleanly). */
  def appendReport(path: String, report: Report): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), report.toJson + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
