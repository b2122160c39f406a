package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst and scheduler work, grouped by the job group the benchmark
  * sets around each operation it times (`SparkContext.setJobGroup`).
  * Jobs, stages and tasks are tied to a group through the job's
  * properties; Catalyst phases (which carry no group) are tied to the
  * operation whose wall-clock interval their analysis started in. */
final class SparkLayer(spark: SparkSession) {
  import SparkLayer.Phases

  final class Group {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskRunMs = 0.0
    @volatile var taskCpuMs = 0.0
    @volatile var taskGcMs = 0.0
    @volatile var shuffleReadB = 0.0
    @volatile var shuffleWriteB = 0.0
    @volatile var spillB = 0.0
    /** (start, end) epoch ms of each job. */
    val jobSpans = new ConcurrentHashMap[Int, (Long, Long)]()
  }

  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()
  @volatile private var events = 0L

  def group(name: String): Group = groups.computeIfAbsent(name, _ => new Group)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events += 1
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { name =>
        jobGroup.put(e.jobId, name)
        val grp = group(name)
        grp.jobs += 1
        grp.jobSpans.put(e.jobId, (e.time, Long.MaxValue))
        e.stageIds.foreach(s => stageGroup.put(s, name))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events += 1
      Option(jobGroup.get(e.jobId)).foreach { name =>
        val spans = group(name).jobSpans
        val (s, _) = spans.getOrDefault(e.jobId, (e.time, e.time))
        spans.put(e.jobId, (s, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events += 1
      Option(stageGroup.get(e.stageInfo.stageId)).foreach(n => group(n).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events += 1
      val m = e.taskMetrics
      Option(stageGroup.get(e.stageId)).foreach { name =>
        val g = group(name)
        g.synchronized {
          g.tasks += 1
          if (m != null) {
            g.taskRunMs += m.executorRunTime
            g.taskCpuMs += m.executorCpuTime / 1e6
            g.taskGcMs += m.jvmGCTime
            g.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            g.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            g.spillB += m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      events += 1
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.get(QueryPlanningTracker.ANALYSIS).map(_.startTimeMs)
        .orElse(ph.values.headOption.map(_.startTimeMs)).getOrElse(0L)
      phases.add(Phases(start, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until the asynchronous listener bus has gone quiet. */
  def settle(maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events != last) {
      last = events
      Thread.sleep(150)
    }
  }

  /** Query executions whose analysis started within [fromMs, toMs]. */
  def phasesIn(fromMs: Long, toMs: Long): Seq[Phases] =
    phases.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq

  /** Wall ms of [fromMs, toMs] not covered by any of the group's jobs. */
  def driverOnlyMs(name: String, fromMs: Long, toMs: Long): Double = {
    val jobs = group(name).jobSpans.values.asScala.toSeq
      .map { case (s, e) => (s, if (e == Long.MaxValue) toMs else e) }
    (toMs - fromMs) - Trace.covered(fromMs, toMs, jobs)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkLayer {
  /** One query execution's Catalyst phases. */
  final case class Phases(startMs: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)
}
