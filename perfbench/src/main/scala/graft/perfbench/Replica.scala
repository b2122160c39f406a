package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.{Api, BatchedServer, CrossProc}
import graft.operators.Collection

/** `replica_rw`: the in-JVM replica tier ([[Api.batchedServer]] with a
  * 0.95 recall target) serving reads while a writer adds and deletes.
  *
  * 131,072 × 64 clustered rows fit the 2^18-row replica cap and exceed the
  * 2^21-cell direct-tier cap, so reads take the queued flush path. Readers
  * send 80% unfiltered and 20% single-user filtered searches, in three
  * phases. `cpus − 1` closed-loop readers measure read capacity
  * ([[ClosedShare]] of the measured time); an open loop paced at
  * [[PacedRate]] (`cpus − 2` senders) measures latency at a fixed rate
  * ([[PacedShare]]); then the same paced loop runs next to one writer
  * that starts a write every [[WriteEveryS]] seconds (a write takes less,
  * so writes never overlap): a 128-row [[Api.addVectors]] with half new
  * and half existing ids, and one write in four (the second) a delete of
  * one user instead. Each write materializes the new generation, refreshes the
  * server and checks that it is visible. Reads that overlap a write are
  * slowed by it in bursts whose share of the phase swings from run to
  * run, so the end-to-end read figures come from the first two phases
  * and the write phase feeds the write and during-write figures.
  *
  * Reads only query rows no write touches (ids whose thousands digit is
  * even, users outside the deletable tenth), so every read has a fixed
  * right answer: its own base row at rank 1. */
object Replica {
  val Rows = 131072L
  val Dim = 64
  val K = 10
  val Th = 0.1
  val RecallTarget = 0.95
  val PacedRate = 120.0
  /** Shares of the measured seconds: closed loop, paced loop, then paced
    * loop with the writer. */
  val ClosedShare = 0.3
  val PacedShare = 0.3
  val FilteredShare = 0.2
  val WriteRows = 128
  val WriteEveryS = 4.0
  val DeleteEvery = 4
  val SetupReps = 3
  /** Untimed reads at the closed loop's concurrency, after the warm-up
    * write and a collection of its garbage: the write leaves Spark and
    * the compiler busy for a few seconds. */
  val WarmS = 4.0
  val PoolSize = 4096

  private final case class Query(row: Int, q: Array[Double], filtered: Boolean)

  private def deletable(user: Int): Boolean = user % 10 == 9
  private def readable(id: Long, user: Int): Boolean = (id / 1000) % 2 == 0 && !deletable(user)
  private def rewritable(id: Long, user: Int): Boolean = (id / 1000) % 2 == 1 && !deletable(user)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("embedding", ArrayType(DoubleType)),
    StructField("user_id", IntegerType), StructField("ts", DoubleType)))

  /** One finished write: its interval up to visibility, and the group its
    * Spark jobs ran under. */
  private final case class Write(j: Int, delete: Boolean, startNs: Long,
      visibleNs: Long, startMs: Long, visibleMs: Long, ok: Boolean)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    import spark.implicits._

    val ((base, rows), fixtureS) = Workload.timedS {
      val df = CrossProc.clusteredPoints(spark, Rows, Dim, seed = ctx.seed)
        .withColumn("ts", lit(0.0)).localCheckpoint()
      (df, df.select("id", "embedding", "user_id").as[(Long, Array[Double], Int)]
        .collect().sortBy(_._1))
    }
    o.put("setup.fixture_s", fixtureS, "s")

    // Set-up, repeated: build the server and let it decide its replica
    // (collect, calibrate, quantize). The last one serves the run.
    var srv: BatchedServer = null
    val setupS = (0 until SetupReps).map { _ =>
      if (srv != null) srv.close()
      val (s, secs) = Workload.timedS {
        val s = Api.batchedServer(base, k = K, scoreThreshold = Some(Th),
          recallTarget = Some(RecallTarget))
        s.servingDecision
        s
      }
      srv = s
      secs
    }
    o.put("setup_s", Stats.median(setupS), "s",
      s"median of $SetupReps set-ups: server build + replica decision")
    o.put("setup.index_s", Stats.median(setupS), "s")
    o.put("setup.workers_s", 0.0, "s", "no worker processes")
    try measure(ctx, o, srv, base, rows)
    finally srv.close()
    o
  }

  private def measure(ctx: Ctx, o: Outcome, srv: BatchedServer, base: DataFrame,
      rows: Array[(Long, Array[Double], Int)]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val rnd = new Random(ctx.seed * 31 + 11)
    val readRows = rows.indices.filter(i => readable(rows(i)._1, rows(i)._3)).toArray
    val pool = Array.fill(PoolSize) {
      val row = readRows(rnd.nextInt(readRows.length))
      Query(row, Oracle.perturb(rows(row)._2, rnd), rnd.nextDouble() < FilteredShare)
    }
    def kindOf(i: Long): Int = if (pool((i % PoolSize).toInt).filtered) 1 else 0
    val op: Loads.Op = (i, parent) => {
      val e = pool((i % PoolSize).toInt)
      val (id, _, user) = rows(e.row)
      val fut = tr.span("Serving.submit", parent, i) { _ =>
        if (e.filtered) srv.submitFiltered(e.q, Seq(user)) else srv.submit(e.q)
      }
      val hits =
        if (fut.isCompleted) fut.value.get.get
        else tr.span("completion", parent, i)(_ => Await.result(fut, 10.seconds))
      hits.nonEmpty && hits(0).getLong(0) == id
    }
    val seq = new AtomicLong(0)
    val writer = new Writer(ctx, srv, base, rows)
    val (warm, warmS) = Workload.timedS {
      writer.warm()
      System.gc()
      Loads.closed(ctx.cpus - 1, WarmS, seq, kindOf, op, new Tracer(false))
    }
    o.ops(warm, "warm-up answer wrong")
    o.put("setup.warm_s", warmS, "s", "one write, a collection, then reads")

    val layer = if (ctx.traced) new SparkLayer(spark) else null
    val depth = if (ctx.traced) new DepthSampler(srv) else null
    val snap0 = srv.metricsSnapshot
    val win = new Window
    val cpu = new CpuWindows(() => Box.selfCpuMs(), () => seq.get())
    val closed = try Loads.closed(ctx.cpus - 1, ClosedShare * ctx.seconds, seq, kindOf, op, tr)
      finally {
        val (perReq, windows) = cpu.stop()
        o.put("search_cpu_ms_per_req", perReq, "ms", "closed loop: CPU time of the benchmark " +
          s"JVM (engine + clients) per request, median of $windows windows")
      }
    val paced = Loads.paced(ctx.cpus - 2, PacedRate, PacedShare * ctx.seconds, seq, kindOf, op, tr)
    writer.start()
    val mixed = Loads.paced(ctx.cpus - 2, PacedRate,
      (1 - ClosedShare - PacedShare) * ctx.seconds, seq, kindOf, op, tr)
    val writes = writer.finish()
    win.finish(o)
    val snap1 = srv.metricsSnapshot
    if (depth != null) depth.stop()
    o.ops(closed, "closed-loop answer wrong")
    Seq(paced, mixed).foreach { p =>
      o.ops(p.reqs, "paced answer wrong")
      (0 until p.unfinished).foreach(_ => o.op(ok = false, "paced request unfinished"))
    }
    writes.foreach(w => o.op(w.ok, s"write ${w.j} not visible after refresh"))
    writer.errors.foreach(e => o.op(ok = false, e))
    Workload.loopMetrics(o, closed, paced)
    o.putSummary("write_p50_ms", null, Stats.summarize(
      writes.map(w => (w.visibleNs - w.startNs) / 1e6).toArray))

    // recall@10 of the served answers against an exact scan of the
    // generation being served once the writer has stopped
    val current = writer.current.select("id", "embedding", "user_id")
      .as[(Long, Array[Double], Int)].collect()
    val sample = (0 until 200).map(j => pool(j * (PoolSize / 200)))
    val exact = Oracle.topK(current, sample.map(_.q).toArray, Array.fill(sample.length)(-1), K, Th)
    val got = sample.map(e => try Await.result(srv.submit(e.q), 10.seconds).map(_.getLong(0))
      catch { case _: Throwable => Array.empty[Long] })
    sample.indices.foreach(j => o.op(got(j).headOption.contains(rows(sample(j).row)._1),
      s"recall query $j: own row not at rank 1"))
    o.put("recall_at_10", Oracle.recall(sample.indices.map(j => (got(j), exact(j).map(_._1)))),
      "frac", s"${sample.length} queries vs an exact scan of the current generation")
    o.put("rss_mb", Box.peakRssMb(Box.selfPid), "MB", "peak RSS of the bench JVM (engine + clients)")

    if (ctx.traced) {
      layer.settle()
      layers(ctx, o, srv, writes, mixed.reqs, snap0, snap1, depth, layer)
      layer.close()
    }
  }

  /** Per-layer figures for the traced run. */
  private def layers(ctx: Ctx, o: Outcome, srv: BatchedServer, writes: Seq[Write],
      reads: Seq[Req], snap0: Map[String, Double], snap1: Map[String, Double],
      depth: DepthSampler, layer: SparkLayer): Unit = {
    val spans = ctx.tracer.all
    val submits = spans.filter(_.name == "Serving.submit")
    val completions = spans.count(_.name == "completion")
    o.put("Serving.submit_ms", Stats.median(submits.map(_.dur / 1e6)), "ms", s"n=${submits.length}")
    o.put("Serving.inline_frac",
      if (submits.isEmpty) 0.0 else 1.0 - completions.toDouble / submits.length, "frac")
    val dFlush = snap1("flushes_total") - snap0("flushes_total")
    o.put("Serving.flush_rows_mean",
      if (dFlush <= 0) 0.0 else (snap1("flush_batch_rows_total") - snap0("flush_batch_rows_total")) / dFlush,
      "count", s"flushes=${dFlush.toLong}")
    o.put("Serving.queue_depth_max", depth.max.toDouble, "count")
    val refresh = spans.filter(_.name == "Serving.refresh").map(_.dur / 1e6)
    o.put("Serving.refresh_ms", Stats.median(refresh), "ms", s"n=${refresh.length}")
    val during = reads.filter(r => writes.exists(w => r.due < w.visibleNs && r.end > w.startNs))
    val s = Stats.summarize(during.map(_.latencyMs).toArray)
    o.put("Serving.read_p99_during_write_ms", s.tail, "ms", s"n=${s.n}, p${Json.num(s.tailP)}")
    val d = srv.servingDecision
    val int8 = d.family == "int8"
    val (floatB, int8B) = srv.replicaSlabBytes
    val n = Rows.toDouble
    val rescoreCells = K * math.max(1, d.oversample) * Dim.toDouble
    o.put("Serving.family_int8", if (int8) 1.0 else 0.0, "count")
    o.put("Serving.oversample", d.oversample.toDouble, "count")
    o.put("Serving.cells_per_req", n * Dim + (if (int8) rescoreCells else 0.0), "count",
      "unfiltered request: phase-1 cells + rescored cells")
    o.put("Serving.bytes_per_req",
      if (int8) n * Dim + rescoreCells * 8 else n * Dim * 8, "B",
      "unfiltered request: int8 codes at 1 B + rescored f64 at 8 B, or f64 at 8 B")
    o.put("Serving.slab_mb", (floatB + int8B) / 1048576.0, "MB")

    // Spark work per write, from the job group each write ran under
    val per = writes.map { w =>
      val g = layer.group(Writer.group(w.j))
      val ph = layer.phasesIn(w.startMs, w.visibleMs)
      val wall = (w.visibleMs - w.startMs).toDouble.max(1.0)
      Map(
        "analysis_ms" -> ph.map(_.analysisMs).sum,
        "optimization_ms" -> ph.map(_.optimizationMs).sum,
        "planning_ms" -> ph.map(_.planningMs).sum,
        "actions" -> ph.length.toDouble,
        "jobs" -> g.jobs.toDouble, "stages" -> g.stages.toDouble, "tasks" -> g.tasks.toDouble,
        "driver_only_ms" -> layer.driverOnlyMs(Writer.group(w.j), w.startMs, w.visibleMs),
        "task_run_ms" -> g.taskRunMs, "task_cpu_ms" -> g.taskCpuMs, "task_gc_ms" -> g.taskGcMs,
        "shuffle_read_mb" -> g.shuffleReadB / 1048576.0,
        "shuffle_write_mb" -> g.shuffleWriteB / 1048576.0,
        "spill_mb" -> g.spillB / 1048576.0,
        "slot_busy_frac" -> g.taskRunMs / (wall * ctx.cpus))
    }
    SparkEntryMetrics.all.foreach { case (name, unit) =>
      o.put(s"SparkEntry.$name", Stats.mean(per.map(_(name))), unit, s"mean per write, n=${per.length}")
    }
    def spanMs(name: String) = Stats.median(spans.filter(_.name == name).map(_.dur / 1e6))
    o.put("Api.add_vectors_ms", spanMs("Api.addVectors"), "ms", "incl. materialization")
    o.put("Collection.delete_ms", spanMs("Collection.deleteWhere"), "ms", "incl. materialization")
  }

  /** Samples the server's queue depth while the run is traced. */
  private final class DepthSampler(srv: BatchedServer) {
    @volatile var max = 0
    private val running = new AtomicBoolean(true)
    private val t = new Thread(() => {
      while (running.get()) {
        max = math.max(max, srv.metricsSnapshot("queue_depth").toInt)
        Thread.sleep(2)
      }
    }, "perfbench-depth")
    t.setDaemon(true)
    t.start()
    def stop(): Unit = { running.set(false); t.join() }
  }

  private object Writer {
    def group(j: Int): String = s"perfbench-write-$j"
  }

  /** The single writer: write j starts at j · [[WriteEveryS]] after
    * [[start]], or when write j − 1 ends if that is later. */
  private final class Writer(ctx: Ctx, srv: BatchedServer, base: DataFrame,
      rows: Array[(Long, Array[Double], Int)]) {
    private val spark = ctx.spark
    private val rnd = new Random(ctx.seed * 131 + 5)
    private val running = new AtomicBoolean(true)
    private val done = ArrayBuffer[Write]()
    val errors = ArrayBuffer[String]()
    @volatile var current: DataFrame = base
    private val readRows = rows.filter(r => readable(r._1, r._3))
    private val rewriteIds = rows.filter(r => rewritable(r._1, r._3)).map(_._1)
    private val victims = rnd.shuffle((0 until 1000).filter(deletable).toVector)
    private var nextId = Rows
    private var deletes = 0

    private val thread = new Thread(() => loop(), "perfbench-writer")
    thread.setDaemon(true)

    def start(): Unit = thread.start()

    /** One untimed, untraced upsert before the timed phases, so the timed
      * writes run on compiled code paths. */
    def warm(): Unit = {
      val w = write(-1, new Tracer(false))
      if (!w.ok) errors += "warm-up write not visible after refresh"
    }

    def finish(): Seq[Write] = {
      running.set(false)
      thread.join(120000)
      done.synchronized(done.toSeq)
    }

    private def loop(): Unit = {
      val t0 = System.nanoTime()
      var j = 0
      while (running.get()) {
        val due = t0 + (j * WriteEveryS * 1e9).toLong
        while (running.get() && System.nanoTime() < due) Thread.sleep(5)
        if (running.get()) {
          try done.synchronized(done += write(j, ctx.tracer))
          catch { case e: Throwable => errors.synchronized(errors += s"write $j failed: $e") }
          j += 1
        }
      }
    }

    /** Serve `next` from now on and drop the previous generation's
      * materialized blocks, so memory holds one generation plus the one
      * being built, whenever the garbage collector runs. */
    private def advance(next: DataFrame): Unit = {
      val prev = current
      current = next
      prev.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = false))
    }

    private def fresh(): Array[Double] = Oracle.perturb(readRows(rnd.nextInt(readRows.length))._2, rnd, 0.3)

    private def write(j: Int, tr: Tracer): Write = {
      // the second write of every four is the delete, so even a short
      // run has one
      val delete = j % DeleteEvery == 1
      val sc = spark.sparkContext
      sc.setJobGroup(Writer.group(j), s"perfbench write $j")
      try {
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var visibleNs = 0L
        val ok = tr.span("write", 0, j) { wid =>
          if (delete) {
            val user = victims(deletes)
            deletes += 1
            val next = tr.span("Collection.deleteWhere", wid, j) { _ =>
              Collection.deleteWhere(current, col("user_id") === user).localCheckpoint()
            }
            tr.span("Serving.refresh", wid, j)(_ => srv.refresh(next))
            advance(next)
            visibleNs = System.nanoTime()
            tr.span("visibility_check", wid, j) { _ =>
              (0 until 2).forall { _ =>
                Await.result(srv.submitFiltered(fresh(), Seq(user)), 10.seconds).isEmpty
              }
            }
          } else {
            // half new ids, half distinct existing ones
            val old = scala.collection.mutable.LinkedHashSet[Long]()
            while (old.size < WriteRows / 2) old += rewriteIds(rnd.nextInt(rewriteIds.length))
            val ids = (0 until WriteRows / 2).map(a => nextId + a) ++ old
            nextId += WriteRows / 2
            val adds = ids.map(id => (id, fresh()))
            val addsDf = spark.createDataFrame(
              java.util.Arrays.asList(adds.map { case (id, v) =>
                Row(id, v.toSeq, (id % 1000).toInt, 2.0 + j) }: _*), schema)
            val next = tr.span("Api.addVectors", wid, j) { _ =>
              Api.addVectors(current, addsDf).localCheckpoint()
            }
            tr.span("Serving.refresh", wid, j)(_ => srv.refresh(next))
            advance(next)
            visibleNs = System.nanoTime()
            tr.span("visibility_check", wid, j) { _ =>
              val futs = adds.map { case (id, v) => (id, srv.submit(v)) }
              futs.forall { case (id, f) =>
                val hits = Await.result(f, 10.seconds)
                hits.nonEmpty && hits(0).getLong(0) == id
              }
            }
          }
        }
        Write(j, delete, t0, visibleNs, startMs,
          startMs + (visibleNs - t0) / 1000000L, ok)
      } finally sc.clearJobGroup()
    }
  }
}

/** The Catalyst and scheduler metrics reported under `SparkEntry.`. */
object SparkEntryMetrics {
  val all: Seq[(String, String)] = Seq(
    "analysis_ms" -> "ms", "optimization_ms" -> "ms", "planning_ms" -> "ms",
    "actions" -> "count", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "driver_only_ms" -> "ms", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms",
    "task_gc_ms" -> "ms", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "slot_busy_frac" -> "frac")
}
