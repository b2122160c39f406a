package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement tool (guide §1): run registered queries with the bench's
  * session config and report wall seconds plus scheduler-side counters —
  * jobs submitted, stages completed, tasks completed — for the timed run
  * (after one discarded warmup, the bench's own methodology). The hop-loop
  * operators (graph descent, CC) materialize eagerly mid-plan, so
  * `.explain` alone cannot see their stage count; this can.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProfileRun /root/testdata/sf0.1 ann_graph_beam"
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileRun <sfDir> <query> [query...]")
    val sfDir = args(0)
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.sql.adaptive.enabled" -> "true")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobWall = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStart.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(j.jobId)
        if (s != 0L) jobWall.add((System.nanoTime() - s) / 1e6)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case _: Throwable => () } // warmup
      // settle listener events from the warmup before zeroing
      Thread.sleep(500)
      jobs.set(0); stages.set(0); tasks.set(0); jobWall.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val jw = jobWall.asScala.toArray.sorted
      val jwSum = jw.sum / 1000
      val jwP50 = if (jw.isEmpty) 0 else Drive.pct(jw, 0.5)
      val jwMax = if (jw.isEmpty) 0 else jw.last
      println(f"PROFILE $name%-28s rows=$n%-6d secs=$secs%6.3f " +
        f"jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}%-5d " +
        f"jobSum=$jwSum%6.3f jobP50=$jwP50%5.1fms jobMax=$jwMax%6.1fms")
    }
    spark.stop()
  }
}
