package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run. Times are epoch microseconds;
  * `parent` is the id of the span that caused this one (0 for a root). */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, run: String)

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Engine-side counters for one traced pass, read from Spark's public
  * listener interfaces. All fields are written on the listener bus
  * thread and read by the driver thread after [[Probe.end]]. */
final class EngineCounters {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, gcMs, schedWaitMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, resultB = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Job spans: (job id, start ms, end ms, job group). */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
  val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)
}

/** SparkListener + QueryExecutionListener registered for one traced
  * pass at a time. Events are delivered asynchronously on the shared
  * listener queue, so a pass is delimited by two marker queries: the
  * counters take events after the start marker's query-execution event
  * and before the end marker's. Both listener kinds share that FIFO
  * queue, so when the end marker arrives every earlier job, stage and
  * task event has been seen. Marker jobs run in their own job group and
  * are not counted. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Probe._

  private var active = false
  private var counters = new EngineCounters
  private val markersSeen = mutable.Set.empty[Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private var nextMarker = 0L

  private def marker(): Long = synchronized { nextMarker += 1; nextMarker }

  private def runMarker(id: Long): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "trace marker", interruptOnCancel = false)
    try spark.range(MarkerBase + id, MarkerBase + id + 1).collect()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(markersSeen(id)) && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(synchronized(markersSeen(id)),
      s"listener queue did not deliver trace marker $id within 30 s")
  }

  /** Attach the listeners and start counting from a fresh marker. */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    val id = marker()
    synchronized { startMarker = id; counters = new EngineCounters }
    runMarker(id)
  }

  /** Wait for every event of the pass, detach, and return its counters. */
  def end(): EngineCounters = {
    val id = marker()
    synchronized { endMarker = id }
    runMarker(id)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      stageJob.clear(); stageSubmitMs.clear(); jobStart.clear()
      counters
    }
  }

  private var startMarker = -1L
  private var endMarker = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (active && group != MarkerGroup) {
      counters.jobs += 1
      counters.jobsByGroup(group) += 1
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobStart(e.jobId) = (e.time, group)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      counters.jobSpans += ((e.jobId, t0, e.time, group))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      if (stageJob.contains(id))
        stageSubmitMs(id) = e.stageInfo.submissionTime
          .getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) counters.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val c = counters
      c.tasks += 1
      if (e.reason != Success) c.tasksFailed += 1
      stageSubmitMs.get(e.stageId).foreach(s =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultB += m.resultSize
      }
    }
  }

  private def markerOf(qe: QueryExecution): Option[Long] =
    qe.logical.collectFirst {
      case r: Range if r.start >= MarkerBase => r.start - MarkerBase
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    markerOf(qe) match {
      case Some(id) =>
        markersSeen += id
        if (id == startMarker) active = true
        if (id == endMarker) active = false
      case None if active =>
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        counters.analysisMs += ms("analysis")
        counters.optimizationMs += ms("optimization")
        counters.planningMs += ms("planning")
      case None =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Probe {
  val MarkerGroup = "graftbench-marker"
  private val MarkerBase = 7000000000000000000L

  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since [[resetPeakHeap]], in MB. */
  def peakHeapMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
