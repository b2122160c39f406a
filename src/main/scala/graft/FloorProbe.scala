package graft
/** One-off dispatch-floor experiment (VERDICT r9 #7): measure the bare
  * per-job latency of a 1-task and 8-task collect over a pinned
  * in-memory RDD under FIFO vs FAIR scheduling, single client and 4
  * concurrent clients. Results recorded in PLANS_r10.  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SCHED", "FIFO")
    val spark = Drive.session("32", "spark.scheduler.mode" -> mode)
    for (parts <- Seq(1, 8); clients <- Seq(1, 4)) {
      val (_, l) = Drive.pinnedJobs(spark, clients, 100, parts = parts)
      println(f"[floor] mode=$mode parts=$parts clients=$clients p50=${Drive.pct(l, 0.5)}%.1f ms p99=${Drive.pct(l, 0.99)}%.1f ms")
    }
    spark.stop()
  }
}
