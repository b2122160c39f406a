package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The batch-query inspection main, two modes over registered queries:
  *
  *   - `plan`: the formatted physical plan, not executed — the audit of
  *     pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  *     codegen spans, exchange placement and join strategy after an
  *     operator change;
  *   - `profile`: each query runs once discarded, then timed, and prints
  *     one JSON [[Profile]] record: rows, wall seconds, the Catalyst phase
  *     split, scheduler counters and scan input. Hop-loop operators and
  *     staged pipelines materialize eagerly mid-plan (`localCheckpoint`,
  *     driver collects), which a static plan cannot show; these counters
  *     include that work.
  *
  * No query names = every registered query; the session is
  * `local[SPARK_GRAFT_CPUS]` (default 32).
  *
  *   sbt "runMain graft.Explain profile /root/testdata/sf0.01 knn_search search_matrix"
  */
object Explain {
  val Usage = "usage: Explain <plan|profile> <sfDir> [query ...]"

  /** One timed run of a query. The phase ms sum `QueryExecution.tracker`
    * over every action the run took (`actions`, inner collects and
    * checkpoints included); jobs, stages, tasks, job wall times and scan
    * input count everything the scheduler ran for it. */
  final case class Profile(query: String, rows: Long, wallS: Double,
      actions: Int, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, jobs: Int, stages: Int, tasks: Int,
      jobWallSumS: Double, jobWallP50Ms: Double, jobWallMaxMs: Double,
      inputBytes: Long, inputRecords: Long) {
    def json: String =
      f"""{"query":"$query","rows":$rows,"wall_s":$wallS%.3f,""" +
        f""""actions":$actions,"analysis_ms":$analysisMs%.1f,""" +
        f""""optimization_ms":$optimizationMs%.1f,"planning_ms":$planningMs%.1f,""" +
        f""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        f""""job_wall_sum_s":$jobWallSumS%.3f,"job_wall_p50_ms":$jobWallP50Ms%.1f,""" +
        f""""job_wall_max_ms":$jobWallMaxMs%.1f,""" +
        f""""input_bytes":$inputBytes,"input_records":$inputRecords}"""
  }

  /** The formatted physical plan of `name`. Building the frame runs
    * whatever the query materializes at construction. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  /** Runs `name` once discarded (side tables, caches, codegen), then once
    * timed under [[Counters]]. The listener bus is drained before the
    * counters are zeroed and before they are read. */
  def profile(spark: SparkSession, sfDir: String, name: String): Profile = {
    val query = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val c = new Counters
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    try {
      query(spark, sfDir).count()
      GraftBridge.drainListenerBus(sc)
      c.reset()
      val (rows, secs) = Drive.timed(query(spark, sfDir).count())
      GraftBridge.drainListenerBus(sc)
      c.record(name, rows, secs)
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }

  /** What the scheduler and Catalyst report since the last [[reset]]:
    * one listener on both buses. Callbacks arrive on the listener-bus
    * threads, hence the lock. */
  private final class Counters extends SparkListener with QueryExecutionListener {
    private var actions, jobs, stages, tasks = 0
    private var analysisMs, optimizationMs, planningMs = 0.0
    private var inputBytes, inputRecords = 0L
    private val jobStartMs = mutable.Map.empty[Int, Long]
    private val jobWallMs = mutable.ArrayBuffer.empty[Double]

    def reset(): Unit = synchronized {
      actions = 0; jobs = 0; stages = 0; tasks = 0
      analysisMs = 0; optimizationMs = 0; planningMs = 0
      inputBytes = 0; inputRecords = 0
      jobStartMs.clear(); jobWallMs.clear()
    }

    def record(name: String, rows: Long, wallS: Double): Profile = synchronized {
      val jw = jobWallMs.toArray.sorted
      Profile(name, rows, wallS, actions, analysisMs, optimizationMs,
        planningMs, jobs, stages, tasks, jw.sum / 1000,
        if (jw.isEmpty) 0 else Drive.pct(jw, 0.5),
        if (jw.isEmpty) 0 else jw.last, inputBytes, inputRecords)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      jobStartMs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartMs.remove(e.jobId).foreach(s => jobWallMs += (e.time - s).toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0.0)(_.durationMs.toDouble)
      synchronized {
        actions += 1
        analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
        planningMs += ms(QueryPlanningTracker.PLANNING)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("plan", "profile")(args(0)), Usage)
    val sfDir = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { name =>
      if (args(0) == "plan") println(s"===== $name =====\n${plan(spark, sfDir, name)}")
      else println(profile(spark, sfDir, name).json)
    } finally spark.stop()
  }
}
