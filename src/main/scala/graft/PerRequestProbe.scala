package graft

import org.apache.spark.sql.functions.col

/** One-off per-request-tier breakdown (VERDICT r11 #2): the naive
  * one-Spark-job-per-query serving row slid 139.9 → 124.2 → 90.5 QPS
  * across three rounds with no source change, and the isolated fresh-JVM
  * run measures WORSE (59 QPS) than any in-suite number — so the slide is
  * not suite contamination. This probe decomposes a steady-state
  * per-request query into its driver phases and prints the JIT warmup
  * curve, GC share, and the single-threaded floor, so the target row can
  * be annotated with a MEASURED floor (the `replica_too_big_job_tier`
  * closure pattern) instead of an unexplained slide.
  *
  * Phases per query (all driver-side except the task itself):
  *   toDF      — LocalRelation + encoder for the 1-row query frame
  *   analyze   — queryExecution.assertAnalyzed
  *   optimize  — optimizedPlan force
  *   plan      — executedPlan force (physical planning, no execution)
  *   exec      — collect() (AQE loop: broadcast build job + final stage)
  */
object PerRequestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warm = sys.env.getOrElse("GRAFT_PRQ_WARM", "1").toInt
    val aqe = sys.env.getOrElse("GRAFT_PRQ_AQE", "true")
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.sql.adaptive.enabled" -> aqe)
    import spark.implicits._
    val points = graft.operators.Collection.load(spark, sfDir)
      .coalesce(1).cache()
    val n = points.count()
    val qPool = points.orderBy("id").limit(400)
      .select("embedding").collect().map(_.getSeq[Double](0))
    val nQ = qPool.length
    val form = sys.env.getOrElse("GRAFT_PRQ_FORM", "knn")
    def query(i: Int) = form match {
      case "direct" =>
        // literal-inline form: no query frame, no broadcast exchange —
        // one single-stage job per request
        import org.apache.spark.sql.functions._
        points
          .withColumn("score", round(graft.plans.VectorExpressions
            .dotD(col("embedding"), typedLit(qPool(i % nQ))), 6))
          .filter(col("score") >= 0.1)
          .orderBy(desc("score"), asc("id")).limit(10)
          .select("id", "score", "user_id")
      case _ => graft.operators.Search.knn(points,
        Seq(qPool(i % nQ)).toDF("qemb"), k = 10, threshold = 0.1)
    }

    // warmup (configurable — the phase under test uses 1)
    (0 until warm).foreach(i => query(i).collect())

    // 1. single-threaded latency curve: 200 sequential queries
    val seqLats =
      (0 until 200).map(i => Drive.timed(query(i).collect())._2 * 1e3)
    def p50(xs: Seq[Double]): Double = Drive.pct(xs.sorted.toArray, 0.5)
    println(f"[prq] seq p50 first25=${p50(seqLats.take(25))} mid=${p50(seqLats.slice(88, 112))} last25=${p50(seqLats.takeRight(25))} ms (warm=$warm aqe=$aqe)")

    // 2. steady-state phase breakdown (median of 40)
    val phases = (0 until 40).map { i =>
      val t0 = System.nanoTime()
      val q = query(i)
      val t1 = System.nanoTime()
      q.queryExecution.assertAnalyzed()
      val t2 = System.nanoTime()
      q.queryExecution.optimizedPlan
      val t3 = System.nanoTime()
      q.queryExecution.executedPlan
      val t4 = System.nanoTime()
      q.collect()
      val t5 = System.nanoTime()
      Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4).map(_ / 1e6)
    }
    val names = Seq("build", "analyze", "optimize", "plan", "exec")
    val med = names.indices.map(j => p50(phases.map(_(j))))
    println("[prq] phase p50 ms: " + names.zip(med).map { case (nm, v) => s"$nm=$v" }.mkString(" "))

    // 3. concurrent drive at the graded shape (16 threads x 25), GC share
    val threads = 16
    val gc0 = Drive.gcMs()
    val (secs, l) = Drive.closed(threads, 25)((_, i) => query(i).collect())
    val gcd = Drive.gcMs() - gc0
    println(f"[prq] conc threads=$threads qps=${400 / secs}%.1f p50=${Drive.pct(l, 0.5)} ms gc=${gcd}ms wall=${secs}%.2fs")
    // 4. bare-job dispatch ceiling: the same 16-thread storm submitting
    // the cheapest possible 1-task job (count over a pinned 1-partition
    // RDD) — the JVM-wide jobs/s bound the single-threaded DAGScheduler
    // event loop imposes on ANY one-job-per-query tier.
    println(f"[prq] bare-job ceiling: ${Drive.jobCeiling(spark, threads)}%.1f jobs/s (16 threads x 50 pinned-RDD counts)")
    spark.stop()
  }
}
