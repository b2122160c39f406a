package graft

/** Plan-inspection tool: prints the executed physical plan of the named
  * queries (or all). Used to audit pushdown (`PushedFilters`), column
  * pruning (`ReadSchema`), join strategies (BroadcastHashJoin vs
  * SortMergeJoin) and top-k (`TakeOrderedAndProject`) after every operator
  * change. `sbt "runMain graft.Explain knn_search tpch_q5_regional_revenue"` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Drive.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_SCANBYTES=1: EXECUTE each query under a listener and
    // report total scan input (bytes/records read across all stages,
    // including work done eagerly at plan-construction time — e.g. the
    // staged pipeline's localCheckpoint materializations, which a static
    // executedPlan dump cannot see) plus wall seconds. The scan-count
    // audit for execution modes of the same query compares THESE numbers.
    if (sys.env.get("SPARK_GRAFT_SCANBYTES").contains("1")) {
      names.foreach { name =>
        val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
        val recs = new java.util.concurrent.atomic.AtomicLong(0L)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              bytes.addAndGet(m.inputMetrics.bytesRead)
              recs.addAndGet(m.inputMetrics.recordsRead)
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          Thread.sleep(1500) // let the listener bus drain task-end events
          println(f"$name%-28s input_mb=${bytes.get / 1048576.0}%.1f " +
            f"input_records=${recs.get}%d secs=$secs%.2f")
        } catch { case e: Throwable => println(s"$name failed: ${e.getMessage}") }
        finally spark.sparkContext.removeSparkListener(listener)
      }
      spark.stop()
      return
    }
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString.take(6000))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
