package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run through `perfbench/run.py`):
  *
  * {{{
  * graft.perfbench.Main --workload <search_xproc|replica_rw> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one line per metric and, last, `PERFBENCH_REPORT <json>` with
  * every metric, the operation counts, the failed checks and the layers
  * the workload leaves idle. Traced runs
  * also write their spans and per-span self times to `<work>`. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "search_xproc" -> Xproc.run,
    "replica_rw" -> Replica.run)

  /** Layers a workload leaves idle: `run.py` reports their per-layer
    * metrics as 0. */
  private val IdlePrefixes: Map[String, Seq[String]] = Map(
    "search_xproc" -> Seq("SparkEntry.", "Api.", "Collection.", "Serving.", "write_p50_ms"),
    "replica_rw" -> Seq("ShardWorker."))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work"))
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = Workload.timedS {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new java.io.File(work, "spark").getPath)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, seed, seconds, tracer, work, cpus)
    val o = try run(ctx) finally spark.stop()
    o.put("setup.session_s", sessionS, "s")
    if (traced) traceMetrics(ctx, workload, o)

    o.metrics.foreach { case (name, m) =>
      println(f"metric $name%-40s ${Json.num(m.value)}%s ${m.unit}%s" +
        (if (m.note.nonEmpty) s"  (${m.note})" else ""))
    }
    o.problems.foreach(p => println(s"check failed: $p"))
    val metricsJson = Json.obj(o.metrics.toSeq.map { case (name, m) =>
      name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
        "note" -> Json.str(m.note)))
    })
    println("PERFBENCH_REPORT " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> traced.toString,
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "problems" -> o.problems.map(Json.str).mkString("[", ",", "]"),
      "idle_prefixes" -> IdlePrefixes(workload).map(Json.str).mkString("[", ",", "]"),
      "metrics" -> metricsJson)))
  }

  /** Tracing figures, plus the span artifact: raw spans and per-name
    * self times. Each root span kind with children (`request`, `write`)
    * must have at least 90% of its time covered by named children; a
    * shortfall fails the run's checks. */
  private def traceMetrics(ctx: Ctx, workload: String, o: Outcome): Unit = {
    val spans = ctx.tracer.all
    val base = new java.io.File(ctx.work, s"trace-$workload-${ctx.seed}")
    ctx.tracer.dump(java.nio.file.Paths.get(base.getPath + ".jsonl"))
    val self = Trace.selfTimes(spans)
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(base.getPath + "-self.json"))
    try w.write(Json.obj(self.toSeq.sortBy(_._1).map { case (n, (c, d, s)) =>
      n -> Json.obj(Seq("count" -> c.toString, "total_ms" -> Json.num(d / 1e6),
        "self_ms" -> Json.num(s / 1e6)))
    }))
    finally w.close()

    val cov = Trace.coverageByRoot(spans).filter { case (n, _) => n == "request" || n == "write" }
    cov.foreach { case (n, c) =>
      o.op(c >= 0.9, f"children of '$n' spans cover only ${c * 100}%.1f%% of them")
    }
    o.put("trace.coverage_frac", if (cov.isEmpty) 0.0 else cov.values.min, "frac",
      cov.map { case (n, c) => f"$n ${c}%.4f" }.mkString(", "))
    val requests = spans.filter(s => s.parent == 0 && s.name == "request")
    val reqIds = requests.map(_.id).toSet
    val perReq = if (requests.isEmpty) 0.0
      else (requests.length + spans.count(s => reqIds.contains(s.parent))).toDouble / requests.length
    val medianNs = Stats.median(requests.map(_.dur.toDouble))
    val costNs = Trace.costPerSpanNs()
    o.put("trace.overhead_frac", if (requests.isEmpty) 0.0 else perReq * costNs / medianNs, "frac",
      f"$perReq%.2f spans/request × ${costNs}%.0f ns per span over the median request")
  }
}
