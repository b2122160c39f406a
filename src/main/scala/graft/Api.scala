package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Collection, Search}

/** Argument-validated entry points mirroring the reference's request-schema
  * constraints (Q4/S8: src/api/schemas.py:61-72 — k ∈ [1,100], score
  * threshold ∈ [0,1], non-empty embedding). The engine operators themselves
  * accept wider ranges (internal callers use sentinel thresholds); this is
  * the user-facing surface where the reference's API contract is enforced. */
object Api {

  val MaxK = 100 // schemas.py:64 le=100
  val DefaultThreshold = 0.65 // settings.similarity_threshold

  def validateK(k: Int): Unit =
    require(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")

  def validateThreshold(t: Double): Unit =
    require(t >= 0.0 && t <= 1.0, s"score_threshold must be in [0, 1], got $t")

  /** Validated top-k search (reference POST /vectors/search). */
  def search(points: DataFrame, queryDf: DataFrame, k: Int = 10,
      scoreThreshold: Option[Double] = None,
      userFilter: Option[Column] = None): DataFrame = {
    validateK(k)
    val t = scoreThreshold.getOrElse(DefaultThreshold)
    validateThreshold(t)
    Search.knn(points, queryDf, k, t, userFilter)
  }

  /** Validated ingest (reference POST /vectors/add_batch → S5): rows of
    * (id?, vector, user_id, ts, metadata). Vectors are L2-normalized on
    * ingest; missing ids are derived deterministically from
    * (user_id, ts, vector hash) — the engine's reproducible stand-in for
    * the reference's uuid4 (src/core/qdrant_client.py:205-206); re-adds of
    * an existing id replace via last-write-wins upsert. Rejects the WHOLE
    * batch when any row has a missing/empty vector (schemas.py min_items=1
    * fails the request, not the row) — no partial silent ingestion. */
  def addVectors(current: DataFrame, adds: DataFrame): DataFrame = {
    // Materialize the batch ONCE before validating: the validation count
    // and the subsequent ingest pass read the same snapshot (a
    // non-deterministic source can't pass validation then ingest different
    // rows), and a deterministic source isn't scanned twice.
    val batch = adds.localCheckpoint()
    val bad = batch.filter(col("embedding").isNull || size(col("embedding")) < 1).count()
    require(bad == 0L,
      s"batch rejected: $bad row(s) with empty embedding (min_items=1)")
    val withIds = batch
      .withColumn("id",
        when(col("id").isNull,
          graft.functions.TextOps.hash60(concat_ws("_",
            col("user_id"), col("ts"), hash(col("embedding")))))
          .otherwise(col("id")))
    val normalized = Collection.withNormalized(withIds)
      .drop("embedding").withColumnRenamed("nemb", "embedding")
      .select(current.columns.map(col): _*)
    Collection.upsert(current, normalized)
  }

  /** Validated batched search. */
  def searchBatch(points: DataFrame, queries: DataFrame, k: Int = 10,
      scoreThreshold: Option[Double] = None): DataFrame = {
    validateK(k)
    val t = scoreThreshold.getOrElse(DefaultThreshold)
    validateThreshold(t)
    Search.knnBatch(points, queries, k, t)
  }

  /** Validated micro-batched serving loop — the interactive point-serving
    * operator (see [[graft.BatchedServer]] for the design rationale and
    * the reference targets it is graded against). Callers `submit` single
    * requests from any thread; in-flight requests flush as ONE knnBatch
    * job, each future resolving to the rows a solo [[search]] would
    * return. Close the server to drain and stop the flusher. */
  def batchedServer(points: DataFrame, k: Int = 10,
      scoreThreshold: Option[Double] = None,
      maxBatch: Int = 1024,
      localReplicaMaxRows: Long = BatchedServer.DefaultReplicaMaxRows,
      int8Replica: Boolean = false,
      recallTarget: Option[Double] = None)
      : BatchedServer = {
    validateK(k)
    val t = scoreThreshold.getOrElse(DefaultThreshold)
    validateThreshold(t)
    new BatchedServer(points, k, t, maxBatch, localReplicaMaxRows,
      int8Replica = int8Replica, recallTarget = recallTarget)
  }

  /** Validated sharded serving router — the replica-TOO-BIG tier (see
    * [[graft.ShardedServer]]): a collection past one replica's budget is
    * hash-split into replica-sized shards, each served by its own
    * [[BatchedServer]], with scatter-gather top-k merge. Same submit
    * contract as [[batchedServer]]; router ≡ solo search spec-asserted. */
  def shardedServer(points: DataFrame, k: Int = 10,
      scoreThreshold: Option[Double] = None,
      shardMaxRows: Long = BatchedServer.DefaultReplicaMaxRows,
      maxBatch: Int = 1024,
      recallTarget: Option[Double] = None): ShardedServer = {
    validateK(k)
    val t = scoreThreshold.getOrElse(DefaultThreshold)
    validateThreshold(t)
    ShardedServer(points, k, t, shardMaxRows, maxBatch,
      recallTarget = recallTarget)
  }

  /** One-call convenience over a whole request queue: push every request
    * through a [[BatchedServer]] and return the per-request results in
    * request order. Blocks until the queue is served. */
  def serveBatched(points: DataFrame, requests: Seq[Seq[Double]],
      k: Int = 10, scoreThreshold: Option[Double] = None,
      maxBatch: Int = 1024,
      localReplicaMaxRows: Long = BatchedServer.DefaultReplicaMaxRows,
      int8Replica: Boolean = false)
      : Seq[Array[org.apache.spark.sql.Row]] = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val srv = batchedServer(points, k, scoreThreshold, maxBatch,
      localReplicaMaxRows, int8Replica)
    try {
      val futures = requests.map(srv.submit)
      futures.map(Await.result(_, 10.minutes))
    } finally srv.close()
  }

  /** Health check (reference GET /health, endpoints.py:249-279): one row of
    * engine-level liveness facts — collection readable, non-empty, vectors
    * dimensioned and normalized. The reference's qdrant_connection/
    * gpu_available map onto "the collection scan executes" here: Spark has
    * no separate server process to probe. */
  def health(points: DataFrame): DataFrame =
    points
      .select(col("id"), size(col("embedding")).as("dim"),
        graft.functions.VectorOps.dot(col("embedding"), col("embedding")).as("sq"))
      .agg(
        count("*").cast("long").as("point_count"),
        countDistinct(col("dim")).cast("long").as("distinct_dims"),
        // rounded for cross-engine determinism (ulp-level accumulation)
        round(max(abs(col("sq") - 1.0d)), 6).as("max_norm_err"))
      .select(
        (col("point_count") > 0 && col("distinct_dims") === 1 &&
          col("max_norm_err") < 1e-6).as("healthy"),
        col("point_count"), col("distinct_dims"), col("max_norm_err"))

  /** Deadline enforcement for a blocking query action — the reference's
    * `search_timeout` (src/config/settings.py:32, passed as the client
    * timeout at src/core/qdrant_client.py:48; its recorded benchmark run
    * failed EVERY search against the 0.1 s default — BASELINE.md). The
    * engine analogue: run the action under a Spark job group with
    * interrupt-on-cancel and cancel the group when the deadline passes, so
    * a runaway query releases its executors instead of occupying the
    * cluster. The job group is THREAD-LOCAL, so it is set inside the
    * action's own thread; a latch guarantees the group is SET before the
    * deadline clock starts, so `cancelJobGroup` can never race an unset
    * group (tiny timeouts + a busy pool used to make cancellation a
    * no-op). On timeout the body thread is also interrupted, so a
    * driver-side loop (not just Spark jobs) stops too. */
  def withTimeout[T](spark: org.apache.spark.sql.SparkSession,
      timeoutSec: Double, tag: String)(body: => T): T = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    require(timeoutSec > 0, s"timeout must be positive, got $timeoutSec")
    val group = s"graft-$tag-${java.util.UUID.randomUUID()}"
    val ready = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val outcome = new AtomicReference[Either[Throwable, T]]()
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group,
        s"graft $tag (deadline ${timeoutSec}s)", interruptOnCancel = true)
      ready.countDown()
      try outcome.set(Right(body))
      catch { case e: Throwable => outcome.set(Left(e)) }
      finally {
        spark.sparkContext.clearJobGroup()
        done.countDown()
      }
    }, s"graft-timeout-$tag")
    worker.setDaemon(true)
    worker.start()
    ready.await() // group is set — the deadline clock starts only now
    // nanosecond resolution: a fractional-millisecond deadline must wait
    // that fraction, not truncate to 0 ms and report a spurious miss
    if (!done.await(math.max((timeoutSec * 1e9).toLong, 1L), TimeUnit.NANOSECONDS)) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      throw new RuntimeException(
        s"graft: '$tag' exceeded its ${timeoutSec}s deadline and was cancelled")
    }
    outcome.get() match {
      case Right(v) => v
      case Left(e)  => throw e
    }
  }

  /** Service info (reference GET /info, endpoints.py:282-306): the static
    * engine configuration as a single-row frame. */
  def info(points: DataFrame): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val dim = points.select(size(col("embedding"))).first().getInt(0)
    Seq((
      "graft-spark-vector-engine", dim, "cosine", DefaultThreshold, MaxK
    )).toDF("service_name", "vector_dimension", "similarity_metric",
      "similarity_threshold", "max_k")
  }
}
