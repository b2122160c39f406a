package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Events

/** Structured Streaming forms of the event operators. The reference has no
  * streaming surface (SURVEY.md §2.7); this demonstrates that the engine's
  * batch operators carry over unchanged: the SAME logical plan
  * (window+aggregate) runs incrementally with a watermark, and the batch
  * DuckDB oracle verifies the streamed result.
  *
  * At scale: replace the file source with Kafka, keep the watermark at the
  * source's max disorder, and the state store shards by the grouping key —
  * the identical aggregation topology as the batch hash shuffle.
  */
object StreamingOps {

  /** Run the hourly-window aggregation as a stream over the events fixture
    * (file source, synchronous drain, complete mode into a memory sink) and
    * return the final result — row-identical to Events.hourlyWindow. */
  def hourlyWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = fileStream(spark, sfDir, "events.parquet")
      .transform(Events.normalizeTs)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count("*").cast("long").as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    drainToMemory(spark, agg, "complete", "graft_stream")
      .orderBy("window_start", "event_type")
  }

  /** A file stream over one fixture file: its batch schema, the sf dir
    * as the source (the streaming file source requires a directory) and
    * a glob pinned to the file. The events file's nanosecond timestamps
    * are read as longs (`Events.normalizeTs` converts them). */
  private def fileStream(spark: SparkSession, sfDir: String,
      file: String): DataFrame = {
    if (file == "events.parquet")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/$file").schema
    spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", file)
      .parquet(sfDir)
  }

  /** Runs `ds` to the end of its input (AvailableNow) into a fresh
    * memory sink under `statePartitions` state-store partitions, and
    * returns the sink's table. */
  private def drainToMemory(spark: SparkSession, ds: Dataset[_],
      outputMode: String, prefix: String, statePartitions: Int = 8): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    val q = withStatePartitions(spark, statePartitions) {
      ds.writeStream
        .outputMode(outputMode).format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** Stateful streaming pins one state-store instance per shuffle
    * partition for the query's lifetime; a fresh local query doesn't need
    * the batch session's partition count (32) worth of store
    * instantiations. The count is captured into the query's checkpoint at
    * start, so only NEW queries are affected — on a real cluster size it
    * to the state volume, not to this local default. */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Streaming ingest dedup: watermarked `dropDuplicates` state on
    * (event_type, user_id) emits each key once on first sight — the
    * exactly-once-analytics primitive over an at-least-once source
    * (replays within the watermark are absorbed by the dedup state; state
    * for keys older than the watermark is evicted, which is what bounds
    * it at scale). The sink then holds the distinct key set — a final
    * per-type rollup of the sink equals batch count(DISTINCT user_id).
    * Which PHYSICAL row reaches the sink first is race-dependent, so only
    * the key columns are emitted — the key SET is deterministic. */
  def distinctUsersStream(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = fileStream(spark, sfDir, "events.parquet")
      .transform(Events.normalizeTs)
      .withWatermark("ts", "24 hours")
      .dropDuplicates("event_type", "user_id")
      .select(col("event_type"), col("user_id"))
    drainToMemory(spark, deduped, "append", "graft_dedup")
      .groupBy("event_type")
      .agg(count("*").cast("long").as("n_users"))
      .orderBy("event_type")
  }

  /** Streaming vector ingest — the reference's write path (batched upserts,
    * scripts/migrate_from_faiss.py migrate_batch / POST add_batch) driven
    * from a stream: each micro-batch L2-normalizes its vectors and merges
    * into the persisted id-BUCKETED collection store with last-write-wins
    * semantics inside `foreachBatch`
    * ([[graft.sources.CollectionStore.mergeBucketed]] — only the bucket
    * directories containing batch ids rewrite, so the per-batch cost is
    * O(batch ∪ affected buckets), never O(store): a 1k-row micro-batch
    * against a 100 TB store touches ~1k bucket files, not the corpus).
    * Checkpointed source offsets + an idempotent LWW merge give end-to-end
    * exactly-once: re-running with the same checkpoint reprocesses nothing
    * (spec-verified). Returns the final store count. */
  def ingestStream(spark: SparkSession, sfDir: String, destPath: String,
      nBuckets: Int = 16): Long = {
    import graft.operators.Collection
    import graft.sources.CollectionStore
    val q = fileStream(spark, sfDir, "embeddings.parquet").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val adds = Collection.withNormalized(batch)
          .select(col("vec_id").as("id"), col("nemb").as("embedding"),
            col("label").as("user_id"), col("vec_id").cast("double").as("ts"))
        CollectionStore.mergeBucketed(spark, destPath, adds, nBuckets)
        ()
      }
      .option("checkpointLocation", destPath + "_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    CollectionStore.loadBucketed(spark, destPath).count()
  }

  /** Streaming ingest into the INDEXED store: each micro-batch is
    * cell-assigned map-side and merged through
    * [[graft.sources.CollectionStore.mergeIndexed]] — only the cell
    * partitions the batch lands in (or moves vectors out of, via the
    * bucket-pruned id→cid sidecar) rewrite, so a live stream keeps the
    * search-optimized cid layout CURRENT without ever paying O(store):
    * searches against the store see every ingested vector in the right
    * cell the moment its micro-batch commits. Same checkpoint + idempotent
    * LWW = exactly-once contract as [[ingestStream]]. */
  def ingestIndexedStream(spark: SparkSession, sfDir: String,
      destPath: String, cids: Seq[Long], cents: Seq[Seq[Double]],
      nBuckets: Int = 16): Long = {
    import graft.operators.Collection
    import graft.sources.CollectionStore
    val q = fileStream(spark, sfDir, "embeddings.parquet").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val adds = Collection.withNormalized(batch)
          .select(col("vec_id").as("id"), col("nemb").as("embedding"),
            col("label").as("user_id"), col("vec_id").cast("double").as("ts"))
        CollectionStore.mergeIndexed(spark, destPath, adds,
          cids, cents, nBuckets)
        ()
      }
      .option("checkpointLocation", destPath + "_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(destPath).count()
  }

  /** CDC-style streaming maintenance of the indexed store: each
    * micro-batch carries UPSERTS and TOMBSTONES (rows with `_deleted`
    * true) and applies both in ONE
    * [[graft.sources.CollectionStore.mergeIndexed]] pass — adds are
    * assigned/encoded map-side, doomed ids resolve their cells through
    * the bucket-pruned id→cid sidecar, and only affected cell/bucket
    * dirs rewrite (a tombstone beats a same-batch add, matching the
    * batch contract). Checkpointed offsets + the idempotent LWW/anti
    * merge give exactly-once: re-running with the same checkpoint
    * reprocesses nothing (spec-verified). This is the streaming twin of
    * the reference's mutate-in-place point API (qdrant_client.py
    * upsert/delete) against the partitioned layout — per-batch cost
    * O(batch ∪ affected dirs), never O(store). */
  def cdcIndexedStream(spark: SparkSession, changes: DataFrame,
      destPath: String, cids: Seq[Long], cents: Seq[Seq[Double]],
      nBuckets: Int = 16, checkpoint: String = ""): Unit = {
    import graft.sources.CollectionStore
    val ckpt = if (checkpoint.nonEmpty) checkpoint else destPath + "_cdc_ckpt"
    val q = changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // one source read for both splits
        val adds = b.filter(!col("_deleted"))
          .select(col("id"), col("embedding"), col("user_id"), col("ts"))
        val dels = b.filter(col("_deleted")).select("id")
        if (b.count() > 0)
          CollectionStore.mergeIndexed(spark, destPath, adds,
            cids, cents, nBuckets,
            deletes = if (dels.isEmpty) None else Some(dels))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-STATIC enrichment join — the dimension-lookup shape (each
    * event enriched with its customer's nation): the static side is a
    * plain batch DataFrame Spark broadcasts per micro-batch, so the join
    * keeps NO streaming state at all (contrast the watermarked
    * stream-stream join below, whose state retention is the design
    * problem). At 100 TB the dim table stays broadcast-sized or becomes a
    * bucketed storage-side join; the stream side never buffers. */
  def enrichJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = fileStream(spark, sfDir, "events.parquet")
    val dims = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val agg = stream
      .join(broadcast(dims), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count("*").cast("long").as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    drainToMemory(spark, agg, "complete", "graft_enrich").orderBy("nationkey")
  }

  /** Watermarked stream-stream inner join — the funnel-attribution shape
    * (which error followed a click by the same user within `windowMin`
    * minutes?) run as two live streams. Both sides carry a watermark and
    * the join predicate carries the event-time range constraint, so the
    * state store retains each side only for watermark + window: bounded
    * state at any input rate (without the constraint, stream-stream join
    * state grows forever — THE scale failure mode of streaming joins).
    * Results are emitted incrementally as matches arrive (append mode);
    * the batch DuckDB oracle checks the complete set. */
  def clickErrorJoinStream(spark: SparkSession, sfDir: String,
      windowMin: Int = 60): DataFrame = {
    // ONE source, two filtered branches (stream self-join): a second
    // readStream would scan the file source twice per micro-batch.
    // Measured at sf0.1/local[32]: two-source 2.1-2.8 s → self-join
    // 1.9-2.0 s, identical output (PLANS_r8 floor experiment).
    val base = fileStream(spark, sfDir, "events.parquet")
      .transform(Events.normalizeTs)
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      base
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("ts").as(tsAs))
        .withWatermark(tsAs, "2 hours")
    val clicks = side("click", "click_id", "user_id", "click_ts")
    val errors = side("error", "error_id", "e_user", "error_ts")
    val joined = clicks.join(errors, expr(
      s"""user_id = e_user AND
         |error_ts >= click_ts AND
         |error_ts <= click_ts + interval $windowMin minutes""".stripMargin))
      .select(col("click_id"), col("error_id"), col("user_id"))
    // State partitions measured at sf0.1/local[32]: 16 → 4.8 s, 8 → 3.6 s,
    // 4 → 2.5–3.1 s, 2 → 2.8–2.9 s. 4 is the harness sweet spot; below it
    // the time stops moving — the residual ~2 s is the micro-batch FLOOR
    // at fixture scale (file-source scan + state-store lifecycle per
    // batch), not state volume. RocksDBStateStoreProvider measured SLOWER
    // here (2.6–3.9 s vs 2.1–2.8 s: native store init per partition
    // dominates at toy state sizes — it pays off on real clusters with
    // large state). Floor analysis closed in PLANS_r8; on a real cluster
    // size partitions to state volume instead (the count is captured into
    // the checkpoint at start).
    drainToMemory(spark, joined, "append", "graft_join", statePartitions = 4)
      .orderBy("click_id", "error_id")
  }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      value: Double)
  case class Session(user_id: Long, session_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * engine's KeyValueGroupedDataset stateful-operator surface. State is
    * keyed by user; each invocation folds the group's events into
    * gap-separated sessions (identical semantics to Events.sessionize,
    * which the DuckDB oracle checks). With a live source + event-time
    * timeout the same function emits sessions incrementally; the fixture
    * drive processes the file in one AvailableNow batch. */
  def sessionizeStream(spark: SparkSession, sfDir: String,
      gapSec: Long = 1800): DataFrame = {
    import spark.implicits._
    val stream = fileStream(spark, sfDir, "events.parquet")
      .transform(Events.normalizeTs)
      .select("event_id", "ts", "user_id", "value").as[Ev]

    def fold(userId: Long, events: Iterator[Ev],
        state: GroupState[Long]): Iterator[Session] = {
      // full-precision order: getTime is only ms, getNanos carries the
      // sub-ms part — matches the batch operator / oracle microsecond sort
      val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var sid = 0L
      var cur = scala.collection.mutable.ArrayBuffer.empty[Ev]
      def emit(): Unit = if (cur.nonEmpty) {
        sid += 1
        // sum in BigDecimal: matches the batch operator's exact decimal sum
        val total = cur.map(e => BigDecimal(e.value).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        out += Session(userId, sid, cur.head.ts, cur.last.ts, cur.size.toLong, total)
        cur = scala.collection.mutable.ArrayBuffer.empty[Ev]
      }
      sorted.foreach { e =>
        if (cur.nonEmpty &&
            e.ts.getTime / 1000 - cur.last.ts.getTime / 1000 > gapSec) emit()
        cur += e
      }
      emit()
      out.iterator
    }

    val sessions = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
    drainToMemory(spark, sessions, "append", "graft_sessions")
      .orderBy("user_id", "session_id")
  }

  /** Streaming INCREMENTAL curation — the per-micro-batch form of the
    * `curate_corpus_incremental` pipeline: each arriving batch of
    * documents flows quality floor → Bloom-dedup against EVERYTHING
    * previously accepted → within-batch first-occurrence exact dedup →
    * decontamination vs a static eval set; survivors land in the curated
    * store and their content keys MERGE into the persisted Bloom filter
    * (bit_or of [[graft.operators.Dedup.bloomBuild]] `(w, word)` frames),
    * so the NEXT batch dedups against all history without ever rejoining
    * it — history's footprint in the steady state is the filter, not the
    * corpus.
    *
    * Exactly-once: offsets checkpoint per micro-batch; survivors write to
    * a per-batch partition dir (`batch=<id>`, overwrite — a replayed
    * batch rewrites its own dir bit-identically), and the Bloom merge is
    * idempotent (bit_or of already-present keys is a no-op), so a
    * restart mid-commit converges to the same store + filter.
    *
    * At 100 TB: the filter for 10B docs at 1% FP is a few GB of (w, word)
    * rows — a broadcastable side table maintained by this same bit_or
    * merge; the quality/dedup/decontamination passes touch only the
    * increment. The Bloom trade (no false negatives; FP rate drops a
    * deterministic ~(1−e^{−kn/m})^k of genuinely-novel docs) is the same
    * contract as the batch `dedup_bloom_novel` query. */
  /** Streaming graph-index maintenance — the [[cdcIndexedStream]] peer
    * for the NSW graph family: each micro-batch carries upserts +
    * `_deleted` tombstones; a tombstone drops every incident edge
    * (graphDelete), inserts link via ONE batched beam descent against
    * the surviving store (graphInsert, entry tier supplied), and the
    * store and graph advance together. Same-batch add+tombstone resolves
    * to the tombstone. Exactly-once = checkpointed offsets + idempotent
    * whole-table overwrite per batch (both frames are materialized with
    * localCheckpoint(true) before overwriting their own paths — the
    * read-then-overwrite rule). At 100 TB both rewrites become
    * bucket-pruned dynamic-partition overwrites of affected src/id
    * buckets (the mergeIndexed contract); entry seeds are index
    * metadata — deleting a seed point requires reseeding, exactly as
    * deleting an IVF centroid's anchor requires retraining.
    *
    * `graphK`/`maxDegree`/`beam`/`hops` are the insert re-link dials and
    * MUST carry the graph's build-time values (defaults = the build
    * standard `graphBuild(graphK = 12, maxDegree = 16)` +
    * the serving beam): `graphInsert`'s per-src degree re-cap rewrites
    * the whole table, so a cap tighter than the build's silently trims
    * EVERY src — a maxDegree=16 sidecar fed through a default of 12
    * would degrade globally on the first batch containing adds
    * (ADVICE r10). */
  def graphCdcStream(spark: SparkSession, changes: DataFrame,
      storePath: String, graphPath: String,
      entryCids: Seq[Long], entryCents: Seq[Seq[Double]],
      checkpoint: String = "",
      graphK: Int = 12, maxDegree: Int = 16,
      beam: Int = 24, hops: Int = 8): Unit = {
    require(graphK <= maxDegree,
      s"graphCdcStream: graphK ($graphK) must be <= maxDegree ($maxDegree)")
    import graft.operators.Ann
    val ckpt = if (checkpoint.nonEmpty) checkpoint else graphPath + "_cdc_ckpt"
    val q = changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        if (b.count() > 0) {
          val dels = b.filter(col("_deleted")).select("id")
          val adds = b.filter(!col("_deleted"))
            .select(col("id"), col("embedding"), col("user_id"))
            .join(dels, Seq("id"), "left_anti") // tombstone wins in-batch
          val store = spark.read.parquet(storePath).localCheckpoint(true)
          val graph0 = spark.read.parquet(graphPath).localCheckpoint(true)
          // edges incident to UPSERTED ids must go too: a re-inserted id's
          // old edges were scored against its superseded embedding — left
          // in place they mix with the fresh links under the degree re-cap
          // and can evict correct ones (ADVICE r9). graphInsert re-links
          // the id against the surviving store with its new embedding.
          val g1 = Ann.graphDelete(graph0, dels.unionByName(adds.select("id")))
          val storeSurv = store
            .join(dels, Seq("id"), "left_anti")
            .join(adds.select(col("id")), Seq("id"), "left_anti") // LWW upsert
          val g2 =
            if (adds.isEmpty) g1
            else Ann.graphInsert(storeSurv, g1, adds,
              graphK = graphK, maxDegree = maxDegree,
              beam = beam, hops = hops,
              entryCids = entryCids, entryCents = entryCents)
          val newStore = storeSurv.unionByName(adds).localCheckpoint(true)
          val newGraph = g2.localCheckpoint(true)
          newStore.write.mode("overwrite").parquet(storePath)
          newGraph.write.mode("overwrite").parquet(graphPath)
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[graphCdcStream]] for a BUCKETED store + graph-sidecar pair — the
    * 100 TB execution form the flat variant's scaladoc promises: each
    * micro-batch applies tombstones + upserts through
    * [[graft.sources.CollectionStore.mergeGraphIndexed]], whose pruned
    * path (reverse sidecar present) reads and rewrites ONLY the
    * affected buckets of the store, the src-bucketed graph, and the
    * dst-bucketed reverse sidecar — per-batch cost O(batch footprint),
    * never O(corpus) (measured: SCALING.md round-11 gmerge table).
    * Same-batch add+tombstone resolves to the tombstone; upserts are
    * LWW (mergeGraphIndexed's doomed = adds ∪ deletes drops the old
    * row and its stale-scored edges before re-linking).
    *
    * Exactly-once: offsets checkpoint per micro-batch — a restart
    * after commit never re-executes the batch. A crash INSIDE the
    * multi-table commit window can leave the batch partially applied;
    * on replay the store converges (LWW + tombstone anti-joins are
    * idempotent) and the graph converges up to degree re-cap
    * evictions — the periodic-rebuild repair already documented (and
    * recall-graded) for churn degradation covers that window too. */
  def graphCdcStreamBucketed(spark: SparkSession, changes: DataFrame,
      path: String, entryCids: Seq[Long], entryCents: Seq[Seq[Double]],
      nBuckets: Int = 16, checkpoint: String = "",
      graphK: Int = 12, maxDegree: Int = 16,
      beam: Int = 24, hops: Int = 8): Unit = {
    import graft.sources.CollectionStore
    val ckpt = if (checkpoint.nonEmpty) checkpoint else path + "_gcdc_ckpt"
    val q = changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint()
        if (b.count() > 0) {
          val dels = b.filter(col("_deleted")).select("id")
          val adds = b.filter(!col("_deleted"))
            .select(col("id"), col("embedding"), col("user_id"))
            .join(dels, Seq("id"), "left_anti") // tombstone wins in-batch
          CollectionStore.mergeGraphIndexed(spark, path, adds, Some(dels),
            entryCids, entryCents, nBuckets, graphK, maxDegree, beam, hops)
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def curationStream(spark: SparkSession, docs: DataFrame,
      evalSet: DataFrame, destPath: String, bloomPath: String,
      mBits: Int = 65536, kProbes: Int = 3, minQuality: Double = 0.2,
      checkpoint: String = ""): Unit = {
    import graft.operators.Dedup
    import graft.operators.TextAnalysis
    import graft.functions.TextOps
    val ckpt = if (checkpoint.nonEmpty) checkpoint else destPath + "_cur_ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.localCheckpoint() // one source read for all stages
        if (b.count() > 0) {
          val quality = TextAnalysis.qualityStats(b)
            .filter(col("quality_score") >= minQuality).select("doc_id")
          val s1 = b.join(quality, Seq("doc_id"), "left_semi")
          // history = the persisted filter (absent on the first batch)
          val hasBloom = fs.exists(new org.apache.hadoop.fs.Path(bloomPath))
          val oldBloom =
            if (hasBloom) spark.read.parquet(bloomPath).localCheckpoint(true)
            else spark.emptyDataFrame
              .select(lit(0).as("w"), lit(0L).as("word")).limit(0)
          val s2 = Dedup.bloomNovel(s1, oldBloom, mBits, kProbes)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("_bk").orderBy("doc_id")
          val s3 = s2
            .withColumn("_bk", TextOps.bagOfWordsKey(TextOps.words(col("text"))))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_bk", "_rn")
          val contaminated = TextAnalysis.decontaminate(
            s3, evalSet, n = 3, minShared = 3).select("doc_id")
          val survivors = s3
            .join(contaminated, Seq("doc_id"), "left_anti")
            .localCheckpoint() // consumed twice: sink write + bloom merge
          survivors.write.mode("overwrite")
            .parquet(s"$destPath/batch=$batchId")
          // filter maintenance: old ∪ new keys, one tiny bit_or aggregate
          // (≤ mBits/32 rows); oldBloom is materialized above, so
          // overwriting its own path is read-safe
          Dedup.bloomBuild(survivors, mBits, kProbes)
            .unionByName(oldBloom)
            .groupBy("w").agg(expr("bit_or(word)").as("word"))
            .write.mode("overwrite").parquet(bloomPath)
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming PCA maintenance: each micro-batch's EXACT moment state
    * ([[graft.operators.Pca.momentState]] — 128-bit integer sums) merges
    * into a versioned persisted state, and the model side table is
    * retrained from the merged state — so after every batch the
    * persisted model is BIT-IDENTICAL to a batch retrain over all rows
    * seen so far (the merge is exact, not approximate; StreamingSpec
    * asserts array equality against `Pca.train`).
    *
    * Exactly-once without an idempotent merge: moment addition is not
    * idempotent, so the state is versioned by batch id — version b is a
    * pure function of (version b-1, batch b), written by OVERWRITING
    * only `v=b`. foreachBatch replays at-least-once after a crash;
    * a replayed batch recomputes the same version from the same
    * predecessor — convergent under replay (spec-pinned by applying a
    * duplicate batch id). Versions older than b-1 are pruned: the
    * checkpoint guarantees only the last uncommitted batch can replay,
    * so its predecessor is all the history a recovery needs. State is
    * ≤ d(d+3)/2 rows regardless of N; the per-batch cost is one scan of
    * the BATCH plus a driver-side merge — O(batch), never O(corpus). */
  def pcaMomentsStream(spark: SparkSession, embeddings: DataFrame,
      statePath: String, dim: Int, checkpoint: String = ""): Unit = {
    val ckpt = if (checkpoint.nonEmpty) checkpoint else statePath + "_ckpt"
    val q = embeddings.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeMomentBatch(spark, statePath, batch, batchId, dim)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of [[pcaMomentsStream]]: merge the batch's moment
    * state into version `batchId`, retrain, persist the model table at
    * `<statePath>_model`. Idempotent per (predecessor state, batch):
    * re-running the same batch id overwrites `v=batchId` with the same
    * bytes and leaves every other version untouched. */
  private[graft] def mergeMomentBatch(spark: SparkSession,
      statePath: String, batch: DataFrame, batchId: Long, dim: Int): Unit = {
    import graft.operators.Pca
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(statePath)
    // predecessor = the highest version BELOW this batch id (a replayed
    // batch must not read its own failed write's version)
    val versions: Seq[Long] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v=")).map(_.drop(2).toLong)
    val prevV = versions.filter(_ < batchId).sorted.lastOption
    val prev = prevV.fold(Pca.zeroState(dim)) { v =>
      val rows = spark.read.parquet(s"$statePath/v=$v")
        .select($"cell", $"hi", $"lo", $"n")
        .as[(Int, Long, Long, Long)].collect()
      val hi = new Array[Long](rows.length)
      val lo = new Array[Long](rows.length)
      rows.foreach { case (c, h, l, _) => hi(c) = h; lo(c) = l }
      Pca.MomentState(dim, rows.head._4, hi, lo)
    }
    val merged = Pca.mergeStates(prev,
      Pca.momentState(batch.select(col("embedding")), dim))
    merged.hi.indices.map(c => (c, merged.hi(c), merged.lo(c), merged.n))
      .toDF("cell", "hi", "lo", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$statePath/v=$batchId")
    // prune everything older than the predecessor this version used
    versions.filter(v => v < batchId && Some(v) != prevV).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$statePath/v=$v"), true)
    }
    Pca.modelTable(spark, Pca.trainFromState(merged))
      .coalesce(1).write.mode("overwrite").parquet(statePath + "_model")
  }

  /** Read back the latest streamed moment state (test/ops seam). */
  private[graft] def latestMomentState(spark: SparkSession,
      statePath: String, dim: Int): graft.operators.Pca.MomentState = {
    import graft.operators.Pca
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(statePath)
    val vs = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
    require(vs.nonEmpty, s"no state versions under $statePath")
    val rows = spark.read.parquet(s"$statePath/v=${vs.max}")
      .select($"cell", $"hi", $"lo", $"n")
      .as[(Int, Long, Long, Long)].collect()
    val hi = new Array[Long](rows.length)
    val lo = new Array[Long](rows.length)
    rows.foreach { case (c, h, l, _) => hi(c) = h; lo(c) = l }
    Pca.MomentState(dim, rows.head._4, hi, lo)
  }
}
