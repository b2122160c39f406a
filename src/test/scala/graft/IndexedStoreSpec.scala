package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Collection, Quantization, Search}
import graft.sources.CollectionStore

/** Persisted-index store (CollectionStore.saveIndexed) + map-side IVF
  * assignment + the reference's full adaptive parameter policy. */
class IndexedStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val points = Collection.load(spark, sf001).cache()
  private lazy val pqCb = Quantization.pqCodebookOf(
    Quantization.pqTrain(points, 64, 8, 16, 3))
  private lazy val storePath = {
    val p = "/tmp/graft_test_indexed_store"
    CollectionStore.saveIndexed(points, p, Ann.seedCentroids(points, 16),
      pqCodebook = Some(pqCb))
    p
  }

  test("ivfAssign is map-side: no Exchange, no Join in the plan") {
    val cents = Ann.seedCentroids(points, 16)
    val plan = Ann.ivfAssign(points, cents)
      .select("id", "cid").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign stage shuffles:\n$plan")
    assert(!plan.contains("Join"), s"assign stage joins:\n$plan")
  }

  test("map-side assignment matches the crossJoin+window formulation") {
    val cents = Ann.seedCentroids(points, 16)
    val fast = Ann.ivfAssign(points, cents)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("cscore"), asc("cid"))
    val slow = points.crossJoin(broadcast(cents))
      .withColumn("cscore", round(graft.functions.VectorOps.dot(col("embedding"), col("ce")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(fast == slow)
  }

  test("indexed store roundtrips with cid/sig/pq and matches on-the-fly search") {
    val (store, cents) = CollectionStore.loadIndexed(spark, storePath)
    assert(Seq("cid", "sig", "pq").forall(store.columns.contains))
    assert(store.count() == points.count())
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "score").as[(Long, Double)].collect().toSeq
    assert(rows(Ann.ivfSearch(store, cents, q, nprobe = 4, k = 10)) ==
      rows(Ann.ivfSearch(Ann.ivfAssign(points, cents), cents, q, nprobe = 4, k = 10)))
    assert(rows(Quantization.twoPhaseSearch(store, q, 10)) ==
      rows(Quantization.twoPhaseSearch(points, q, 10)))
    assert(rows(Quantization.binaryTwoPhaseSearch(store, q, 10)) ==
      rows(Quantization.binaryTwoPhaseSearch(points, q, 10)))
  }

  test("phase-1 scan of an indexed two-phase search never reads the float column") {
    val (store, _) = CollectionStore.loadIndexed(spark, storePath)
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    for ((df, code) <- Seq(
        (Quantization.twoPhaseSearch(store, q, 10), "pq"),
        (Quantization.binaryTwoPhaseSearch(store, q, 10), "sig"),
        (Quantization.pqAdcSearch(store, q, pqCb, 10), "pqc"))) {
      val scans = df.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      val phase1 = scans.filter(_.contains(code))
      assert(phase1.nonEmpty, s"no scan reads $code:\n${scans.mkString("\n")}")
      assert(phase1.forall(!_.contains("embedding")),
        s"phase-1 scan still reads embedding:\n${phase1.mkString("\n")}")
    }
  }

  test("residual-code store (pqrc): identical results to on-the-fly " +
      "encoding, phase-1 scan reads codes, not floats") {
    val cents0 = Ann.kmeansCentroids(points, k = 8, maxIter = 3)
    val assigned = Ann.ivfAssign(points, cents0)
    val cbRes = Quantization.pqCodebookOf(
      Quantization.pqTrainResiduals(assigned, cents0, 64, 8, 16, 3))
    val path = "/tmp/graft_test_pqrc_store"
    CollectionStore.saveIndexed(points, path, cents0,
      pqResidualCodebook = Some(cbRes))
    val (store, cents) = CollectionStore.loadIndexed(spark, path)
    assert(store.columns.contains("pqrc"))
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "score").as[(Long, Double)].collect().toSeq
    // the stored-codes path ≡ the recomputed path (same pqEncode over
    // the same residuals), at a narrow probe where codes decide ranks
    val viaStore = Ann.ivfPqResidualSearch(store, cents, cbRes, q,
      nprobe = 2, k = 10)
    assert(rows(viaStore) ==
      rows(Ann.ivfPqResidualSearch(assigned, cents0, cbRes, q,
        nprobe = 2, k = 10)))
    // phase 1 reads (id, cid, pqrc) — the float column appears only in
    // the rescore scan, never next to the code column
    val scans = viaStore.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    // match the COLUMN in ReadSchema, not the store path (which also
    // contains the substring "pqrc")
    val phase1 = scans.filter(_.contains("pqrc:array"))
    assert(phase1.nonEmpty, s"no scan reads pqrc:\n${scans.mkString("\n")}")
    assert(phase1.forall(!_.contains("embedding:array")),
      s"phase-1 scan still reads embedding:\n${phase1.mkString("\n")}")
  }

  test("adaptive params mirror the reference size tiers") {
    val p1 = Ann.adaptiveParams(5000L, k = 10)
    assert(p1.useExact && p1.ef == 64 && p1.oversample.isEmpty)
    val p2 = Ann.adaptiveParams(50000L, k = 40)
    assert(!p2.useExact && p2.ef == 160 && p2.oversample.isEmpty)
    val p3 = Ann.adaptiveParams(500000L, k = 10)
    assert(p3.ef == 256 && p3.oversample.contains(2.0))
    val p4 = Ann.adaptiveParams(5000000L, k = 100)
    assert(p4.ef == 800 && p4.oversample.contains(4.0))
    assert(Ann.adaptiveParams(1500000L, k = 10).oversample.contains(3.0))
    // timeout scales with size, floored at 1ms
    assert(Ann.adaptiveParams(1000L, k = 1).timeoutSec == 0.001)
    assert(Ann.adaptiveParams(10000000L, k = 1).timeoutSec == 1.0)
  }

  test("policy search: exact tier equals exact knn; forced ANN tier keeps recall") {
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val exact = Search.knn(points, q, 10, 0.1)
      .select("id").as[Long].collect().toSeq
    val small = Ann.policySearch(points, q, 10, 0.1)
      .select("id").as[Long].collect().toSeq
    assert(small == exact)
    // pretend the collection is 200k points: IVF + quantized-rescore path.
    // Without a meta, nprobe comes from the policy's ef/size model alone
    // (sized for the CLAIMED 200k corpus -> shallow on 500 points): only
    // self-retrieval is contractual.
    val forced = Ann.policySearch(points, q, 10, 0.1,
      knownCount = Some(200000L))
      .select("id").as[Long].collect().toSet
    assert(forced.contains(0L), "self must survive the ANN policy path")
    // With the serving meta (trained centroids + calibrated recall curve),
    // the recall target governs nprobe and the ANN tier stays accurate.
    val meta0 = graft.operators.IndexMeta.build(
      points, Ann.kmeansCentroids(points, 16, 5), Seq.empty, k = 10)
    val meta = meta0.copy(knownCount = 200000L) // keep the forced ANN tier
    val served = Ann.policySearch(points, q, 10, 0.1, meta = Some(meta))
      .select("id").as[Long].collect().toSet
    assert(served.contains(0L))
    assert((served intersect exact.toSet).size >= 8,
      s"meta-driven policy ANN recall too low: $served vs $exact")
  }

  test("mergeIndexed: O(affected-cells) upsert — moves cells, spares untouched dirs") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("merge_idx").toString
    val path = s"$dir/store"
    val nBuckets = 8
    val cents = Ann.kmeansCentroids(points, 8, 3)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    CollectionStore.saveIndexed(points, path, cents,
      idSidecarBuckets = Some(nBuckets))
    val before = Ann.ivfAssign(points, cids, ces)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    // batch: move id=5 onto a DIFFERENT cell's centroid, keep id=6 in
    // place with a new user_id, and insert a brand-new id
    val targetCell = cids.find(_ != before(5L)).get
    val targetCe = ces(cids.indexOf(targetCell))
    val adds = Seq(
      (5L, targetCe, 901, 1e9),
      (6L, points.filter($"id" === 6).select($"embedding")
        .as[Seq[Double]].head(), 902, 1e9),
      (100000L, points.filter($"id" === 7).select($"embedding")
        .as[Seq[Double]].head(), 903, 1e9))
      .toDF("id", "embedding", "user_id", "ts")
    def fileMap(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val filesBefore = fileMap()
    CollectionStore.mergeIndexed(spark, path, adds, cids, ces, nBuckets)
    val filesAfter = fileMap()
    // LWW + move semantics: merged store == scratch-built store of the
    // upserted collection (same id→(cid, user_id) everywhere)
    val (store, _) = CollectionStore.loadIndexed(spark, path)
    def asMap(rows: Array[(Long, Long, Int)]): Map[Long, (Long, Int)] =
      rows.map(t => t._1 -> ((t._2, t._3))).toMap
    val got = asMap(store
      .select($"id", $"cid".cast("long"), $"user_id".cast("int"))
      .as[(Long, Long, Int)].collect())
    val expect = asMap(Ann.ivfAssign(
        graft.operators.Collection.upsert(points, adds), cids, ces)
      .select($"id", $"cid", $"user_id".cast("int"))
      .as[(Long, Long, Int)].collect())
    assert(got == expect)
    assert(got(5L)._1 == targetCell && got(5L)._2 == 901)
    assert(got(100000L)._2 == 903)
    // untouched cell dirs keep their files byte-for-byte (same paths,
    // same mtimes); affected cells were rewritten
    val affected = Set(before(5L), targetCell, before(6L), got(100000L)._1)
    def cellOf(p: String): Long =
      "cid=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    val untouchedBefore = filesBefore.filter(kv => !affected(cellOf(kv._1)))
    val untouchedAfter = filesAfter.filter(kv => !affected(cellOf(kv._1)))
    assert(untouchedBefore == untouchedAfter, "untouched cell dirs changed")
    assert(filesBefore.keySet.filter(p => cellOf(p) == before(5L)) !=
      filesAfter.keySet.filter(p => cellOf(p) == before(5L)),
      "the moved-from cell must be rewritten")
    // idempotent rerun (exactly-once analogue): same result
    CollectionStore.mergeIndexed(spark, path, adds, cids, ces, nBuckets)
    val again = asMap(CollectionStore.loadIndexed(spark, path)._1
      .select($"id", $"cid".cast("long"), $"user_id".cast("int"))
      .as[(Long, Long, Int)].collect())
    assert(again == got)
  }

  test("deleteIndexed: tombstones touch only their cells, spare every other dir") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("del_idx").toString
    val path = s"$dir/store"
    val nBuckets = 8
    val cents = Ann.kmeansCentroids(points, 8, 3)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    CollectionStore.saveIndexed(points, path, cents,
      idSidecarBuckets = Some(nBuckets))
    val cellOfId = Ann.ivfAssign(points, cids, ces)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    def fileMap(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val filesBefore = fileMap(path)
    val doomed = Seq(3L, 11L).toDF("id")
    CollectionStore.deleteIndexed(spark, path, doomed, nBuckets)
    val filesAfter = fileMap(path)
    // the rows are gone from the store AND the sidecar
    val (store, _) = CollectionStore.loadIndexed(spark, path)
    val ids = store.select($"id").as[Long].collect().toSet
    assert(!ids(3L) && !ids(11L), "deleted ids still present")
    assert(ids.size == points.count() - 2, "exactly the doomed ids removed")
    val sidecarIds = spark.read.parquet(path + "_ids")
      .select($"id").as[Long].collect().toSet
    assert(!sidecarIds(3L) && !sidecarIds(11L), "sidecar keeps deleted ids")
    // only the cells the doomed ids lived in were rewritten
    val affected = Set(cellOfId(3L), cellOfId(11L))
    def cellOf(p: String): Long =
      "cid=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    assert(filesBefore.filter(kv => !affected(cellOf(kv._1))) ==
      filesAfter.filter(kv => !affected(cellOf(kv._1))),
      "untouched cell dirs changed")
    // search over the pruned store no longer returns the deleted ids
    val q = points.filter($"id" === 3).select($"embedding".as("qemb"))
    val hits = graft.operators.Search.knn(store.drop("cid", "sig", "pq"),
      q, 10, -1.0).select($"id").as[Long].collect().toSet
    assert(!hits(3L), "deleted id served from the indexed store")
    // deleting ids that never existed is a no-op, byte for byte
    CollectionStore.deleteIndexed(spark, path, Seq(987654L).toDF("id"), nBuckets)
    assert(fileMap(path) == filesAfter, "no-op delete rewrote files")
    // mergeIndexed with adds + tombstones in ONE pass: tombstone wins
    val adds = Seq(
      (12L, points.filter($"id" === 12).select($"embedding")
        .as[Seq[Double]].head(), 955, 1e9),
      (13L, points.filter($"id" === 13).select($"embedding")
        .as[Seq[Double]].head(), 956, 1e9))
      .toDF("id", "embedding", "user_id", "ts")
    CollectionStore.mergeIndexed(spark, path, adds, cids, ces, nBuckets,
      deletes = Some(Seq(12L, 14L).toDF("id")))
    val after = CollectionStore.loadIndexed(spark, path)._1
      .select($"id", $"user_id".cast("int")).as[(Long, Int)].collect().toMap
    assert(!after.contains(12L), "tombstone must beat the same-batch add")
    assert(!after.contains(14L), "plain tombstone not applied")
    assert(after(13L) == 956, "the surviving add must land")
  }

  test("mergeGraphIndexed: tombstones+inserts rewrite only changed buckets, replay-exact") {
    val dir = tempDir("graph_idx").toString
    val path = s"$dir/store"
    val nBuckets = 16
    val pts = points.select($"id", $"embedding", $"user_id")
    val cents = Ann.seedCentroids(pts, 16)
    val crows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = crows.map(_.getLong(0)).toSeq
    val ces = crows.map(_.getSeq[Double](1).toSeq).toSeq
    CollectionStore.saveBucketed(pts, path, nBuckets)
    val graph0 = Ann.graphBuild(pts, cents, graphK = 12, maxDegree = 16)
      .localCheckpoint(true)
    CollectionStore.saveGraphSidecar(graph0, path, nBuckets)
    def fileMap(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val gFilesBefore = fileMap(path + "_graph")
    val rFilesBefore = fileMap(path + "_graph_rev")
    val sFilesBefore = fileMap(path)
    assert(rFilesBefore.nonEmpty, "saveGraphSidecar must write the reverse sidecar")
    // batch: tombstone 40/41, UPSERT id 50 with a changed embedding
    // (id-450's vector), insert a brand-new id
    val emb450 = pts.filter($"id" === 450)
      .select("embedding").as[Seq[Double]].head()
    val embNew = pts.filter($"id" === 7)
      .select("embedding").as[Seq[Double]].head()
    val adds = Seq((50L, emb450, 907), (200000L, embNew, 908))
      .toDF("id", "embedding", "user_id")
    val dels = Seq(40L, 41L).toDF("id")
    // seeds may not be deleted — guarded loudly
    intercept[IllegalArgumentException] {
      CollectionStore.mergeGraphIndexed(spark, path, adds,
        Some(Seq(cids.head).toDF("id")), cids, ces, nBuckets)
    }
    CollectionStore.mergeGraphIndexed(spark, path, adds, Some(dels),
      cids, ces, nBuckets, graphK = 12, maxDegree = 16)
    // store state: LWW + tombstones
    val store = CollectionStore.loadBucketed(spark, path)
    val byId = store.select($"id", $"user_id".cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(!byId.contains(40L) && !byId.contains(41L))
    assert(byId(50L) == 907 && byId(200000L) == 908)
    assert(store.filter($"id" === 50).count() == 1)
    // graph state == replay of the composed semantics on the pre-state:
    // delete edges of tombstoned AND upserted ids, insert vs survivors
    val doomed = Seq(40L, 41L, 50L, 200000L).toDF("id")
    val g1 = Ann.graphDelete(graph0, doomed)
    val surv = pts.join(Seq(40L, 41L, 50L).toDF("id"), Seq("id"), "left_anti")
    val expected = Ann.graphInsert(surv, g1, adds, graphK = 12,
        maxDegree = 16, beam = 24, hops = 8,
        entryCids = cids, entryCents = ces)
      .orderBy("src", "dst").collect().toSeq
    val got = spark.read.parquet(path + "_graph").drop("bucket")
      .select("src", "dst", "score")
      .orderBy("src", "dst").collect().toSeq
    assert(got == expected, s"maintained graph != replay " +
      s"(${got.size} vs ${expected.size} edges)")
    // no edge touches a tombstoned id
    assert(spark.read.parquet(path + "_graph")
      .filter($"src".isin(40L, 41L) || $"dst".isin(40L, 41L)).count() == 0)
    // UNTOUCHED buckets keep their files byte for byte: recompute the
    // changed-src set the merge derived and assert everything else of
    // both sidecar trees is identical (paths AND mtimes). Neighbor srcs
    // come from the PRE-CAP candidate set (graphInsertNn), matching the
    // merge's own derivation (ADVICE r10)
    val incident = graph0.filter($"src".isin(40L, 41L, 50L, 200000L) ||
        $"dst".isin(40L, 41L, 50L, 200000L))
      .select("src").distinct().as[Long].collect()
    val nbrs = Ann.graphInsertNn(surv, g1, adds, graphK = 12, beam = 24,
        hops = 8, entryCids = cids, entryCents = ces)
      .select("id").distinct().as[Long].collect()
    val changedG = (incident ++ Seq(40L, 41L, 50L, 200000L) ++ nbrs)
      .map(i => java.lang.Math.floorMod(i, nBuckets.toLong)).toSet
    val changedS = Seq(40L, 41L, 50L, 200000L)
      .map(i => java.lang.Math.floorMod(i, nBuckets.toLong)).toSet
    def bucketOf(p: String): Long =
      "bucket=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    val gAfter = fileMap(path + "_graph")
    assert(gFilesBefore.filter(kv => !changedG(bucketOf(kv._1))) ==
      gAfter.filter(kv => !changedG(bucketOf(kv._1))),
      "untouched graph bucket dirs changed")
    assert(fileMap(path).filter(kv => !changedS(bucketOf(kv._1))) ==
      sFilesBefore.filter(kv => !changedS(bucketOf(kv._1))),
      "untouched store bucket dirs changed")
    // and the changed graph buckets really were rewritten
    assert(gFilesBefore.keySet.filter(p => changedG(bucketOf(p))) !=
      gAfter.keySet.filter(p => changedG(bucketOf(p))))
    // the maintained graph serves: inserted id self-finds via the
    // bucket-pruned descent
    val hits = Ann.graphBeamServe(store, path + "_graph", nBuckets,
      embNew, k = 10, beam = 24, hops = 8,
      entryCids = cids, entryCents = ces)
    assert(hits.select("id").as[Long].collect().contains(200000L),
      "inserted id not reachable through the maintained sidecar")
    // ---- reverse sidecar invariants (the pruned-merge contract) ----
    // 1. content: rev table == src table as an edge SET (it is the same
    //    graph, re-bucketed by dst)
    val fwdSet = spark.read.parquet(path + "_graph").drop("bucket")
      .select("src", "dst", "score")
      .as[(Long, Long, Double)].collect().toSet
    val revSet = spark.read.parquet(path + "_graph_rev").drop("bucket")
      .select("src", "dst", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(revSet == fwdSet,
      s"rev sidecar diverged: ${revSet.size} vs ${fwdSet.size} edges, " +
        s"sym-diff ${(revSet.diff(fwdSet) ++ fwdSet.diff(revSet)).take(3)}")
    // 2. untouched rev buckets keep their files byte for byte: the
    //    changed rev buckets are the dst-buckets of the changed edges
    val finalG = spark.read.parquet(path + "_graph").drop("bucket")
      .select("src", "dst", "score")
    val g0sel = graph0.select("src", "dst", "score")
    val changedRev = g0sel.except(finalG).unionByName(finalG.except(g0sel))
      .select("dst").distinct().as[Long].collect()
      .map(i => java.lang.Math.floorMod(i, nBuckets.toLong)).toSet
    val rAfter = fileMap(path + "_graph_rev")
    assert(rFilesBefore.filter(kv => !changedRev(bucketOf(kv._1))) ==
      rAfter.filter(kv => !changedRev(bucketOf(kv._1))),
      "untouched REV bucket dirs changed")
  }

  test("mergeGraphIndexed: pruned merge ≡ graphDelete + graphInsert replay") {
    val nBuckets = 16
    val pts = points.select($"id", $"embedding", $"user_id")
    val cents = Ann.seedCentroids(pts, 16)
    val crows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = crows.map(_.getLong(0)).toSeq
    val ces = crows.map(_.getSeq[Double](1).toSeq).toSeq
    val graph0 = Ann.graphBuild(pts, cents, graphK = 12, maxDegree = 16)
      .localCheckpoint(true)
    val path = s"${tempDir("graph_idx_p")}/store"
    CollectionStore.saveBucketed(pts, path, nBuckets)
    CollectionStore.saveGraphSidecar(graph0, path, nBuckets)
    // batch: upsert id 60 and insert id 300000 with the SAME vector,
    // tombstone 70/71
    val emb9 = pts.filter($"id" === 9)
      .select("embedding").as[Seq[Double]].head()
    val adds = Seq((60L, emb9, 911), (300000L, emb9, 912))
      .toDF("id", "embedding", "user_id")
    val dels = Seq(70L, 71L).toDF("id")
    def merge(p: String): Unit =
      CollectionStore.mergeGraphIndexed(spark, p, adds, Some(dels),
        cids, ces, nBuckets, graphK = 12, maxDegree = 16,
        beam = 24, hops = 8)
    merge(path)
    // graph == replay of the composed semantics on the pre-state: delete
    // edges of tombstoned AND upserted ids, insert vs survivors
    val g1 = Ann.graphDelete(graph0, Seq(60L, 300000L, 70L, 71L).toDF("id"))
    val surv = pts.join(Seq(60L, 70L, 71L).toDF("id"), Seq("id"), "left_anti")
    val expected = Ann.graphInsert(surv, g1, adds, graphK = 12,
        maxDegree = 16, beam = 24, hops = 8,
        entryCids = cids, entryCents = ces)
      .select("src", "dst", "score").orderBy("src", "dst").collect().toSeq
    val got = spark.read.parquet(path + "_graph").drop("bucket")
      .select("src", "dst", "score").orderBy("src", "dst").collect().toSeq
    assert(got == expected, s"pruned merge != replay " +
      s"(${got.size} vs ${expected.size} edges)")
    // store: LWW upsert + insert + tombstones
    val rows = CollectionStore.loadBucketed(spark, path)
      .select($"id", $"user_id".cast("int")).orderBy("id")
      .as[(Long, Int)].collect().toSeq
    val wantRows = (pts.select($"id", $"user_id".cast("int"))
      .as[(Long, Int)].collect().toSeq
      .filterNot { case (id, _) => Set(60L, 70L, 71L)(id) } ++
      Seq((60L, 911), (300000L, 912))).sortBy(_._1)
    assert(rows == wantRows, "store contents diverged from the replay")
    // a store without the reverse sidecar is refused, naming its writer
    val pathNoRev = s"${tempDir("graph_idx_norev")}/store"
    CollectionStore.saveBucketed(pts, pathNoRev, nBuckets)
    Ann.saveGraphBucketed(graph0, pathNoRev + "_graph", nBuckets)
    val ex = intercept[IllegalArgumentException](merge(pathNoRev))
    assert(ex.getMessage.contains("_graph_rev") &&
      ex.getMessage.contains("saveGraphSidecar"), ex.getMessage)
  }

  test("splitOversizedCells: in-place cell split, O(oversized) footprint") {
    val nBuckets = 8
    val path = "/tmp/graft_test_split_store"
    val cents = Ann.seedCentroids(points, 6)
    CollectionStore.saveIndexed(points, path, cents,
      idSidecarBuckets = Some(nBuckets))
    def sizesOf(p: String): Map[Long, Long] =
      CollectionStore.loadIndexed(spark, p)._1
        .groupBy($"cid".cast("long")).count()
        .as[(Long, Long)].collect().toMap
    val sizes0 = sizesOf(path)
    val maxSize = sizes0.values.max
    assert(sizes0.values.exists(_ < maxSize),
      "fixture produced equal-size cells; pick different seeds")
    val maxRows = maxSize - 1 // exactly the largest cell(s) split
    val parents = sizes0.filter(_._2 > maxRows).keySet
    def fileMap(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val filesBefore = fileMap(path)
    def idCid(p: String): Map[Long, Long] =
      CollectionStore.loadIndexed(spark, p)._1
        .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    val before = idCid(path)
    val newCents = CollectionStore.splitOversizedCells(
      spark, path, maxRows, nBuckets)
    val after = idCid(path)
    val sizes1 = sizesOf(path)
    val maxCid0 = sizes0.keySet.max
    // rows preserved; only parent-cell members moved, all to NEW cids
    assert(after.keySet == before.keySet, "split lost or invented ids")
    before.foreach { case (id, c0) =>
      if (parents(c0)) assert(after(id) > maxCid0,
        s"id $id left oversized cell $c0 for non-new cid ${after(id)}")
      else assert(after(id) == c0, s"id $id moved out of untouched cell $c0")
    }
    // parent dirs gone; untouched cell dirs byte-identical (paths+mtimes)
    parents.foreach(p => assert(
      !new java.io.File(s"$path/cid=$p").exists, s"parent dir cid=$p remains"))
    def cellOf(p: String): Long =
      "cid=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    def untouched(m: Map[String, Long]) =
      m.filter(kv => !parents(cellOf(kv._1)) && cellOf(kv._1) <= maxCid0)
    assert(untouched(filesBefore) == untouched(fileMap(path)),
      "untouched cell dirs changed")
    // sub-cell sizes sum to their parent's size
    val newTotal = sizes1.filter(_._1 > maxCid0).values.sum
    assert(newTotal == parents.toSeq.map(sizes0).sum)
    // sidecar agrees with the store everywhere
    val sidecar = spark.read.parquet(path + "_ids")
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    assert(sidecar == after, "id sidecar diverged from the store")
    // every stored cid has exactly one centroid row
    val centCids = newCents.select($"cid".cast("long"))
      .as[Long].collect().toSeq
    assert(centCids.distinct.sizeIs == centCids.size)
    assert(sizes1.keySet.subsetOf(centCids.toSet),
      "stored cell without a centroid")
    assert(parents.forall(p => !centCids.contains(p)),
      "a split parent's centroid survived")
    // search still works against the new layout: probing ALL cells must
    // equal the exact scan's top-k
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val (store1, cents1) = CollectionStore.loadIndexed(spark, path)
    val got = Ann.ivfSearch(store1, cents1, q,
        nprobe = centCids.size, k = 10)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    val exact = Search.knn(points, q, k = 10, threshold = -1.0)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(got == exact, "all-cells probe diverged from exact search")
    // determinism across input layouts: rebuild from a differently
    // partitioned frame, split again — bit-identical centroids and
    // identical assignment
    val path2 = "/tmp/graft_test_split_store2"
    CollectionStore.saveIndexed(points.repartition(13), path2, cents,
      idSidecarBuckets = Some(nBuckets))
    val newCents2 = CollectionStore.splitOversizedCells(
      spark, path2, maxRows, nBuckets)
    def centMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.select($"cid".cast("long"), $"ce")
        .as[(Long, Seq[Double])].collect().toMap
    assert(centMap(newCents2) == centMap(newCents),
      "split centroids depend on input partitioning")
    assert(idCid(path2) == after, "split assignment depends on partitioning")
    // a store with nothing oversized is untouched, byte for byte
    val filesNow = fileMap(path)
    CollectionStore.splitOversizedCells(spark, path,
      sizes1.values.max, nBuckets)
    assert(fileMap(path) == filesNow, "no-op split rewrote files")
  }

  test("mergeSmallCells: undersized cells fold into nearest survivors, O(affected)") {
    val nBuckets = 8
    val path = "/tmp/graft_test_merge_store"
    val cents = Ann.seedCentroids(points, 6)
    CollectionStore.saveIndexed(points, path, cents,
      idSidecarBuckets = Some(nBuckets))
    def sizesOf(p: String): Map[Long, Long] =
      CollectionStore.loadIndexed(spark, p)._1
        .groupBy($"cid".cast("long")).count()
        .as[(Long, Long)].collect().toMap
    def idCid(p: String): Map[Long, Long] =
      CollectionStore.loadIndexed(spark, p)._1
        .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    def fileMap(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val sizes0 = sizesOf(path)
    val minSize = sizes0.values.min
    assert(sizes0.values.exists(_ > minSize),
      "fixture produced equal-size cells; pick different seeds")
    val minRows = minSize + 1 // exactly the smallest cell(s) merge away
    val doomed = sizes0.filter(_._2 < minRows).keySet
    val before = idCid(path)
    val filesBefore = fileMap(path)
    val newCents = CollectionStore.mergeSmallCells(
      spark, path, minRows, nBuckets)
    val after = idCid(path)
    // rows preserved; only doomed-cell members moved, each to its
    // nearest SURVIVING centroid (recomputed here independently)
    assert(after.keySet == before.keySet, "merge lost or invented ids")
    val survCents = newCents.select($"cid".cast("long"), $"ce")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val expected = graft.operators.Ann.ivfAssign(
        points, survCents.map(_._1).toSeq, survCents.map(_._2).toSeq)
      .select($"id", $"cid").as[(Long, Long)].collect().toMap
    before.foreach { case (id, c0) =>
      if (doomed(c0)) assert(after(id) == expected(id),
        s"id $id not re-homed to its nearest surviving centroid")
      else assert(after(id) == c0, s"id $id moved out of surviving cell $c0")
    }
    // doomed dirs gone; centroid table lost exactly the doomed rows
    doomed.foreach(c => assert(
      !new java.io.File(s"$path/cid=$c").exists, s"doomed dir cid=$c remains"))
    assert(survCents.map(_._1).toSet == sizes0.keySet -- doomed)
    // only doomed + target dirs rewritten; everything else byte-identical
    val targets = before.collect {
      case (id, c0) if doomed(c0) => after(id) }.toSet
    def cellOf(p: String): Long =
      "cid=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    def untouched(m: Map[String, Long]) =
      m.filter(kv => !doomed(cellOf(kv._1)) && !targets(cellOf(kv._1)))
    assert(untouched(filesBefore) == untouched(fileMap(path)),
      "a cell neither doomed nor target was rewritten")
    // sidecar agrees with the store everywhere
    val sidecar = spark.read.parquet(path + "_ids")
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    assert(sidecar == after, "id sidecar diverged from the store")
    // determinism across input layouts
    val path2 = "/tmp/graft_test_merge_store2"
    CollectionStore.saveIndexed(points.repartition(13), path2, cents,
      idSidecarBuckets = Some(nBuckets))
    CollectionStore.mergeSmallCells(spark, path2, minRows, nBuckets)
    assert(idCid(path2) == after, "merge depends on input partitioning")
    // no-op below every cell size is untouched, byte for byte
    val filesNow = fileMap(path)
    CollectionStore.mergeSmallCells(spark, path,
      sizesOf(path).values.min, nBuckets)
    assert(fileMap(path) == filesNow, "no-op merge rewrote files")
  }

  test("cell maintenance preserves quantization codes (pq/sig/pqc ride the rewrite)") {
    val nBuckets = 8
    val path = "/tmp/graft_test_split_pq_store"
    CollectionStore.saveIndexed(points, path, Ann.seedCentroids(points, 6),
      pqCodebook = Some(pqCb), idSidecarBuckets = Some(nBuckets))
    def codes(): Map[Long, (Seq[Long], Long)] =
      CollectionStore.loadIndexed(spark, path)._1
        .select($"id", $"pqc".cast("array<long>"), $"sig")
        .as[(Long, Seq[Long], Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val before = codes()
    val n = points.count()
    CollectionStore.optimizePartitions(spark, path,
      minRows = math.max(1L, n / 48), maxRows = math.max(2L, n / 20), nBuckets)
    val after = codes()
    // codes are per-point functions of the embedding — a layout op must
    // carry them through every rewrite byte-for-byte
    assert(after == before, "maintenance rewrote quantization codes")
    // and the persisted-code ADC search still runs against the new layout
    val (store, _) = CollectionStore.loadIndexed(spark, path)
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val got = Quantization.pqAdcSearch(store, q, pqCb, 10)
      .select("id").as[Long].collect().toSeq
    val ref = Quantization.pqAdcSearch(points, q, pqCb, 10)
      .select("id").as[Long].collect().toSeq
    assert(got == ref, "ADC over the maintained store diverged")
  }

  test("cnBand: constant ~1250-row cells at scale, N-proportional clamps below") {
    // deployment regime: cell size pinned to [625, 2500] regardless of N
    assert(CollectionStore.cnBand(2000000L) == (625L, 2500L))
    assert(CollectionStore.cnBand(100000000L) == (625L, 2500L))
    // fixture regime: bounds track N so small stores stay multi-cell
    assert(CollectionStore.cnBand(500L) == (10L, 62L))
    assert(CollectionStore.cnBand(2000L) == (41L, 250L))
    // the optimizePartitions precondition (minRows*2 <= maxRows) holds
    // across the whole range, including the crossover points
    Seq(1L, 16L, 48L, 100L, 5000L, 30000L, 29999L, 1234567L).foreach { n =>
      val (lo, hi) = CollectionStore.cnBand(n)
      assert(lo >= 1 && lo * 2 <= hi, s"degenerate band ($lo, $hi) at n=$n")
    }
  }

  test("optimizePartitions: split+merge compose to an in-band fixed point") {
    val nBuckets = 8
    val path = "/tmp/graft_test_opt_store"
    CollectionStore.saveIndexed(points, path, Ann.seedCentroids(points, 6),
      idSidecarBuckets = Some(nBuckets))
    val n = points.count()
    val (minRows, maxRows) = (math.max(1L, n / 48), math.max(2L, n / 20))
    val before = CollectionStore.loadIndexed(spark, path)._1
      .select($"id").as[Long].collect().toSet
    val cents = CollectionStore.optimizePartitions(
      spark, path, minRows, maxRows, nBuckets)
    val (store, _) = CollectionStore.loadIndexed(spark, path)
    // rows preserved through any number of passes
    assert(store.select($"id").as[Long].collect().toSet == before)
    // sidecar and store agree; every stored cid has one centroid
    val byId = store.select($"id", $"cid".cast("long"))
      .as[(Long, Long)].collect().toMap
    val sidecar = spark.read.parquet(path + "_ids")
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    assert(sidecar == byId, "sidecar diverged after optimization")
    val centCids = cents.select($"cid".cast("long")).as[Long].collect().toSet
    val sizes = store.groupBy($"cid".cast("long")).count()
      .as[(Long, Long)].collect().toMap
    assert(sizes.keySet.subsetOf(centCids))
    // convergence: monotone progress — re-running never INCREASES the
    // out-of-band cell count, and invariants survive every extra pass
    def outOfBand(m: Map[Long, Long]): Int =
      m.values.count(s => s < minRows || s > maxRows)
    CollectionStore.optimizePartitions(
      spark, path, minRows, maxRows, nBuckets, maxPasses = 2)
    val again = spark.read.parquet(path)
      .groupBy(col("cid").cast("long")).count()
      .as[(Long, Long)].collect().toMap
    assert(outOfBand(again) <= outOfBand(sizes),
      s"extra optimizer passes regressed: ${outOfBand(sizes)} -> ${outOfBand(again)}")
    val byId2 = spark.read.parquet(path)
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    val sidecar2 = spark.read.parquet(path + "_ids")
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    assert(byId2.keySet == before && sidecar2 == byId2,
      "invariants broke under extra passes")
    // search over the optimized layout still exact under a full probe —
    // store/centroids re-read FRESH (the pre-rerun handles hold a stale
    // file listing of the rewritten dirs)
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val (store2, cents2) = CollectionStore.loadIndexed(spark, path)
    val nCells = cents2.count().toInt
    val got = Ann.ivfSearch(store2, cents2, q, nprobe = nCells, k = 10)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    val exact = Search.knn(points, q, k = 10, threshold = -1.0)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(got == exact)
  }

  test("cellSizes: footer-metadata counts equal the data-scan counts") {
    val (store, _) = CollectionStore.loadIndexed(spark, storePath)
    val scanned = store.groupBy($"cid".cast("long")).count()
      .as[(Long, Long)].collect().toMap
    val footers = CollectionStore.cellSizes(spark, storePath)
    assert(footers == scanned,
      "footer row counts must equal the groupBy(cid).count() data scan")
  }

  test("maintainIndexed: one CDC+rebalance tick keeps store, sidecar, " +
      "centroids, and residual codes mutually consistent") {
    val path = "/tmp/graft_test_maintain_store"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("", "_ids", "_centroids").foreach(sfx =>
      fs.delete(new org.apache.hadoop.fs.Path(path + sfx), true))
    val cents0 = Ann.kmeansCentroids(points, k = 8, maxIter = 3)
    val cbRes = Quantization.pqCodebookOf(
      Quantization.pqTrainResiduals(
        Ann.ivfAssign(points, cents0), cents0, 64, 8, 16, 3))
    CollectionStore.saveIndexed(points, path, cents0,
      idSidecarBuckets = Some(8), pqResidualCodebook = Some(cbRes))
    // the CDC batch: 3 fresh inserts, 3 UPDATES whose new vectors are
    // other rows' embeddings (likely cell moves), 4 tombstones — one of
    // them (id 2) also in the adds, so tombstones-win is exercised
    val inserts = points.filter($"id" < 3)
      .select(($"id" + 5000L).as("id"), $"embedding", $"user_id",
        lit(1e9).as("ts"))
    val updates = points.filter($"id".between(400, 402))
      .select(($"id" - 390L).as("id"), $"embedding", $"user_id",
        lit(1e9).as("ts"))
    val doomedAdd = points.filter($"id" === 2)
      .select($"id", $"embedding", $"user_id", lit(1e9).as("ts"))
    val adds = inserts.unionByName(updates).unionByName(doomedAdd)
    val dels = Seq(2L, 20L, 21L, 22L).toDF("id")
    // band forces REAL rebalance work on the ~62-row cells (split to
    // ≤30, re-merge below 10) — splits + merges + re-encodes in one tick
    val centsAfter = CollectionStore.maintainIndexed(spark, path, adds,
      Some(dels), nBuckets = 8, minRows = 10, maxRows = 30,
      pqResidualCodebook = Some(cbRes))
    val (store, centsTable) = CollectionStore.loadIndexed(spark, path)
    val storeRows = store
      .select($"id", $"cid".cast("long").as("cid"), $"embedding", $"pqrc")
      .collect()
    // 1. content: tombstones gone (including the add+delete id), inserts
    // present, updates carry the NEW vectors (LWW)
    val byId = storeRows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(!byId.contains(2L) && !byId.contains(20L))
    assert(byId.contains(5000L) && byId.contains(5002L))
    val want401 = points.filter($"id" === 401)
      .select($"embedding").head().getSeq[Double](0)
    assert(byId(11L)._2 == want401, "update must be last-write-wins")
    assert(byId.size == points.count() + 3 - 4)
    // 2. centroid table ≡ the returned frame ≡ the store's cid set, and
    // every cell is inside the band
    val tableCids = centsTable.select($"cid".cast("long"))
      .as[Long].collect().toSet
    val retCids = centsAfter.select($"cid".cast("long"))
      .as[Long].collect().toSet
    val storeCellSizes = storeRows.groupBy(_.getLong(1))
      .map { case (c, rs) => c -> rs.length }
    assert(tableCids == retCids)
    assert(storeCellSizes.keySet == tableCids,
      "store partitions and centroid table must list the same cells")
    assert(storeCellSizes.values.forall(s => s >= 10 && s <= 30),
      s"cells out of band after maintenance: $storeCellSizes")
    // 3. sidecar ≡ store, row for row
    val sidecar = spark.read.parquet(path + "_ids")
      .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
    assert(sidecar == byId.map { case (id, (c, _)) => id -> c })
    // 4. every row's residual codes re-encode EXACTLY under the final
    // centroid table — no stale codes survive the moves
    val centsById = centsTable
      .select($"cid".cast("long"), $"ce").as[(Long, Seq[Double])]
      .collect().toMap
    val recomputed = store
      .join(broadcast(centsTable.select($"cid", $"ce")), Seq("cid"))
      .select($"id", $"pqrc",
        Quantization.pqEncode(
          zip_with($"embedding", $"ce", (x, c) => x - c), cbRes).as("want"))
      .collect()
    recomputed.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"stale residual codes for id ${r.getLong(0)}")
    }
    // 5. operational equivalence: the residual search over the
    // maintained store ≡ the same search with codes recomputed on the fly
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "score").as[(Long, Double)].collect().toSeq
    assert(rows(Ann.ivfPqResidualSearch(store, centsTable, cbRes, q, 4, 10)) ==
      rows(Ann.ivfPqResidualSearch(store.drop("pqrc"), centsTable, cbRes,
        q, 4, 10)))
    assert(centsById.keySet == tableCids) // the collected map is the table
    // 6. the O(C) footer-metadata sizing stays consistent through the
    // whole split/merge/tombstone arc (VERDICT r14 #4): what the next
    // maintenance tick would READ as cell sizes equals what the store
    // actually holds — the sizing pass can stay metadata-only at 100 TB
    val footerSizes = CollectionStore.cellSizes(spark, path)
    assert(footerSizes == storeCellSizes.map { case (c, n) => c -> n.toLong },
      "footer counts must track the store through split/merge/tombstone")
  }

  test("store→slab lifecycle: refreshManifest plans, exportCells ships " +
      "only dirty cells, patchCellOrdered splices — the patched " +
      "generation equals a post-CDC full re-export, byte for byte") {
    val path = "/tmp/graft_test_slab_lifecycle"
    val centsDf0 = Ann.seedCentroids(points, 16)
    CollectionStore.saveIndexed(points, path, centsDf0,
      idSidecarBuckets = Some(8))
    val dir = tempDir("slab_lc").toString
    try {
      // generation 1: the store exported as a cell-ordered serving slab
      val v1 = s"$dir/v1.slab"
      val (n1, c1) = CollectionStore.exportSlab(spark, path, v1)
      assert(n1 == points.count() && c1 == 16)
      // CDC batch: re-embeds that MOVE cells (negated embedding), one
      // genuinely new id, and scattered deletes — SMALL relative to the
      // 16 cells (500 fixture rows), so the dirty/clean split is real.
      // id 1 is deliberately in BOTH sets: tombstones win (the
      // mergeIndexed LWW rule), so the manifest must drop it from its
      // old cell and never add it — the consistency assertion below
      // breaks if either side forgets.
      val ups = points.filter($"id" % 151 === 1)
        .withColumn("embedding", transform($"embedding", x => -x))
        .unionByName(points.filter($"id" === 0)
          .withColumn("id", lit(900001L)))
      val dels = points.filter($"id" % 163 === 2 || $"id" === 1)
        .select("id")
      // the PLAN must be computed against the pre-CDC store (collect
      // before merge: the path is about to be rewritten in place)
      val (store0, centsDf) = CollectionStore.loadIndexed(spark, path)
      val manifest = CollectionStore.refreshManifest(
          store0, centsDf, ups, dels)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getInt(5)))
      // the store-scan-FREE planner (footer metadata + bucket-pruned
      // sidecar) must produce the IDENTICAL manifest — the O(batch + C)
      // path a 100 TB deployment runs before every CDC tick
      val manifestIdx = CollectionStore.refreshManifestIndexed(
          spark, path, ups, dels, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getInt(5)))
      assert(manifestIdx.toSeq == manifest.toSeq,
        "indexed planner must equal the scan-based planner row for row")
      // apply the batch through the store's own incremental maintenance
      val centRows = centsDf.select(col("cid").cast("long"), col("ce"))
        .orderBy("cid").collect()
      CollectionStore.mergeIndexed(spark, path, ups,
        centRows.map(_.getLong(0)).toSeq,
        centRows.map(_.getSeq[Double](1).toSeq).toSeq,
        nBuckets = 8, deletes = Some(dels))
      // planner consistency: the manifest's predicted per-cell
      // populations equal what the maintenance actually produced
      val after = spark.read.parquet(path)
        .groupBy(col("cid").cast("long").as("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      manifest.foreach { case (cid, _, _, _, rowsAfter, _) =>
        assert(rowsAfter == after.getOrElse(cid, 0L),
          s"cell $cid: manifest predicts $rowsAfter, store has " +
            s"${after.getOrElse(cid, 0L)}")
      }
      // ship ONLY the dirty cells; the read must prune to their
      // partition directories (cid is a partition column)
      val dirtyCids = manifest.filter(_._6 == 1).map(_._1).toSeq
      val cleanCids = manifest.filter(_._6 == 0).map(_._1).toSet
      assert(dirtyCids.nonEmpty && cleanCids.nonEmpty,
        "fixture must produce both dirty and clean cells")
      val nativeDirty: Seq[Any] =
        spark.read.parquet(path).schema("cid").dataType match {
          case org.apache.spark.sql.types.IntegerType => dirtyCids.map(_.toInt)
          case org.apache.spark.sql.types.StringType => dirtyCids.map(_.toString)
          case _ => dirtyCids
        }
      val prunedPlan = spark.read.parquet(path)
        .filter(col("cid").isin(nativeDirty: _*))
        .queryExecution.executedPlan.toString
      assert(prunedPlan.contains("PartitionFilters: [") &&
        !prunedPlan.contains("PartitionFilters: []"),
        s"dirty-cell read must prune cid partitions:\n$prunedPlan")
      val shipped = CollectionStore.exportCells(spark, path, dirtyCids)
      // splice into generation 2 and compare against the full re-export
      val ivf1 = graft.SlabIO.readIvf(s"$v1.ivf")
      val idxOf = ivf1.cids.zipWithIndex.toMap
      val v2 = s"$dir/v2.slab"
      SlabIO.patchCellOrdered(v1, s"$v1.ivf",
        shipped.map { case (cid, rows) => idxOf(cid) -> rows },
        v2, s"$v2.ivf", s"$v1.i8", s"$v2.i8")
      val ref = s"$dir/ref.slab"
      CollectionStore.exportSlab(spark, path, ref)
      def bytes(p: String) =
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      assert(java.util.Arrays.equals(bytes(v2), bytes(ref)),
        "patched slab != full post-CDC re-export")
      assert(java.util.Arrays.equals(bytes(s"$v2.ivf"), bytes(s"$ref.ivf")),
        "patched sidecar != full post-CDC re-export")
      assert(java.util.Arrays.equals(bytes(s"$v2.i8"), bytes(s"$ref.i8")),
        "patched int8 slab != full post-CDC re-export")
      // and the patched generation loads through the worker's gates
      graft.SlabIO.readIvf(s"$v2.ivf").requirePairedWith(v2)
      graft.SlabIO.readInt8(s"$v2.i8").requirePairedWith(v2)
      // COMPOSED handoff onto a LIVE worker (VERDICT r16 #5): the same
      // patched generation the manifest planned is RELOADed into a
      // serving worker — the served row set must flip to the post-CDC
      // generation (the batch's new id 900001, a copy of id 0's
      // embedding, is absent before the swap and served after it)
      val qemb = points.filter($"id" === 0)
        .select("embedding").head().getSeq[Double](0).toArray
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val port = freePort()
      val t = new Thread(new Runnable {
        def run(): Unit = graft.ShardWorker.main(Array(v1, port.toString,
          "5", "0.0", "threads=2", s"int8=$v1.i8", s"ivf=$v1.ivf", "nprobe=16"))
      })
      t.setDaemon(true); t.start()
      var router: graft.RemoteShardedRouter = null
      var tries = 0
      while (router == null) {
        try router = new graft.RemoteShardedRouter(
          Seq(("127.0.0.1", port)), 5, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try {
        assert(!router.search(qemb).exists(_._1 == 900001L),
          "the CDC insert must be absent from the v1 generation")
        val r = router.reload(0, v2, s"$v2.i8", s"$v2.ivf", nprobe = 16)
        assert(r.isRight, s"lifecycle reload must succeed, got $r")
        assert(router.search(qemb).exists(_._1 == 900001L),
          "the CDC insert must be served from the patched generation")
      } finally router.close()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("a bucket count below the id sidecar's layout fails every sidecar " +
      "reader before it reads or writes the store") {
    val path = s"${tempDir("nbuckets")}/store"
    val cents = Ann.seedCentroids(points, 8)
    val crows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = crows.map(_.getLong(0)).toSeq
    val ces = crows.map(_.getSeq[Double](1).toSeq).toSeq
    CollectionStore.saveIndexed(points, path, cents, idSidecarBuckets = Some(8))
    def fileMap(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      Seq("", "_ids", "_centroids")
        .flatMap(sfx => walk(new java.io.File(path + sfx)))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileMap()
    val sizes = CollectionStore.cellSizes(spark, path).values
    // id 13 hashes to bucket 5 of 8 but bucket 1 of 4: a 4-bucket reader
    // would miss its sidecar row
    val adds = Seq((13L, ces(0), 1, 1e9)).toDF("id", "embedding", "user_id", "ts")
    val doomed = Seq(13L).toDF("id")
    Seq[(String, () => Any)](
      "mergeIndexed" -> (() =>
        CollectionStore.mergeIndexed(spark, path, adds, cids, ces, 4)),
      "deleteIndexed" -> (() =>
        CollectionStore.deleteIndexed(spark, path, doomed, 4)),
      "splitOversizedCells" -> (() =>
        CollectionStore.splitOversizedCells(spark, path, sizes.max - 1, 4)),
      "mergeSmallCells" -> (() =>
        CollectionStore.mergeSmallCells(spark, path, sizes.min + 1, 4)),
      "refreshManifestIndexed" -> (() =>
        CollectionStore.refreshManifestIndexed(spark, path, adds, doomed, 4))
    ).foreach { case (op, call) =>
      val msg = intercept[IllegalArgumentException](call()).getMessage
      assert(msg.contains("nBuckets=4") && msg.contains("8 buckets"),
        s"$op must name both bucket counts: $msg")
      assert(fileMap() == before, s"$op changed the store before failing")
    }
  }

  test("golden store mutations: every table each op writes keeps its " +
      "dirs, files per dir and rows in file order, and no op starts more " +
      "Spark jobs than recorded") {
    val root = tempDir("store_golden").toString
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // canonical text of a parquet value: binary as hex, nested values
    // element-wise (Row.toString prints byte arrays by identity)
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(render).mkString("(", ",", ")")
      case x => x.toString
    }
    def sha(lines: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    // one line per partition dir of `table`: dir name, parquet files in
    // it, SHA-256 of its rows in file order (file names sorted; a file's
    // rows in the order the reader returns them, which pins sort keys)
    def digest(op: String, table: String): Seq[String] = {
      val base = new java.io.File(root, table)
      val parts = base.listFiles()
        .filter(f => f.isDirectory && f.getName.contains("=")).sortBy(_.getName)
      val dirs = if (parts.isEmpty) Array(base) else parts
      val df = spark.read.parquet(base.getPath)
      val byFile = df.withColumn("_file", input_file_name()).collect()
        .groupBy(r => new java.io.File(new java.net.URI(
          r.getString(r.length - 1)).getPath).getCanonicalFile)
      dirs.map { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        val rows = files.toSeq.flatMap(f => byFile
          .getOrElse(f.getCanonicalFile, Array.empty)
          .map(r => r.toSeq.dropRight(1).map(render).mkString("|")))
        val name = if (d == base) "." else d.getName
        s"$op $table $name files=${files.length} ${sha(rows)}"
      }
    }
    val lines = Seq.newBuilder[String]
    def pin(op: String, tables: String*)(body: => Unit): Unit = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      jobs.set(0)
      body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      lines += s"$op jobs ${jobs.get}"
      tables.foreach(t => lines ++= digest(op, t))
    }
    def embOf(id: Long): Seq[Double] =
      points.filter($"id" === id).select($"embedding").as[Seq[Double]].head()
    sc.addSparkListener(listener)
    try {
      // cell store: every sidecar-reading mutation, chained
      val ivf = s"$root/ivf"
      val nBuckets = 8
      val cents = Ann.seedCentroids(points, 8)
      val crows = cents.select($"cid", $"ce").orderBy("cid").collect()
      val cids = crows.map(_.getLong(0)).toSeq
      val ces = crows.map(_.getSeq[Double](1).toSeq).toSeq
      pin("saveIndexed", "ivf", "ivf_ids", "ivf_centroids") {
        CollectionStore.saveIndexed(points, ivf, cents,
          idSidecarBuckets = Some(nBuckets))
      }
      // id 5 moves to cell 0's centroid, id 6 stays with a new user,
      // id 100000 is new; 11 and 12 are tombstones, 12 also upserted
      val adds = Seq((5L, ces(0), 901, 1e9),
        (6L, embOf(6L), 902, 1e9), (12L, embOf(12L), 903, 1e9),
        (100000L, embOf(7L), 904, 1e9))
        .toDF("id", "embedding", "user_id", "ts")
      pin("mergeIndexed", "ivf", "ivf_ids") {
        CollectionStore.mergeIndexed(spark, ivf, adds, cids, ces, nBuckets,
          deletes = Some(Seq(11L, 12L).toDF("id")))
      }
      pin("deleteIndexed", "ivf", "ivf_ids") {
        CollectionStore.deleteIndexed(spark, ivf, Seq(3L, 13L, 987654L)
          .toDF("id"), nBuckets)
      }
      pin("deleteIndexed-noop") {
        CollectionStore.deleteIndexed(spark, ivf, Seq(987654L).toDF("id"),
          nBuckets)
      }
      val sizes = CollectionStore.cellSizes(spark, ivf)
      pin("splitOversizedCells", "ivf", "ivf_ids", "ivf_centroids") {
        CollectionStore.splitOversizedCells(spark, ivf, sizes.values.max - 1,
          nBuckets)
      }
      val sizes1 = CollectionStore.cellSizes(spark, ivf)
      pin("mergeSmallCells", "ivf", "ivf_ids", "ivf_centroids") {
        CollectionStore.mergeSmallCells(spark, ivf, sizes1.values.min + 1,
          nBuckets)
      }
      val n = points.count()
      pin("optimizePartitions", "ivf", "ivf_ids", "ivf_centroids") {
        CollectionStore.optimizePartitions(spark, ivf, n / 48, n / 20,
          nBuckets, maxPasses = 1)
      }
      // residual-code store: one maintenance tick re-encodes moved rows
      val res = s"$root/res"
      val cbRes = Quantization.pqCodebookOf(Quantization.pqTrainResiduals(
        Ann.ivfAssign(points, cents), cents, 64, 8, 16, 2))
      pin("saveIndexed-pqrc", "res", "res_ids", "res_centroids") {
        CollectionStore.saveIndexed(points, res, cents,
          idSidecarBuckets = Some(nBuckets), pqResidualCodebook = Some(cbRes))
      }
      val cdc = points.filter($"id".between(400, 402))
        .select(($"id" - 390L).as("id"), $"embedding", $"user_id",
          lit(1e9).as("ts"))
        .unionByName(Seq((5000L, embOf(1L), 7, 1e9))
          .toDF("id", "embedding", "user_id", "ts"))
      // the largest cell splits in two, and a half that lands below the
      // band folds back: both re-encode residual codes
      val maxRows = CollectionStore.cellSizes(spark, res).values.max - 1
      pin("maintainIndexed", "res", "res_ids", "res_centroids") {
        CollectionStore.maintainIndexed(spark, res, cdc,
          Some(Seq(20L, 21L).toDF("id")), nBuckets,
          minRows = maxRows / 2, maxRows = maxRows,
          pqResidualCodebook = Some(cbRes))
      }
      // bucketed store + graph sidecar
      val bkt = s"$root/bkt"
      val pts = points.select($"id", $"embedding", $"user_id")
      val gcents = Ann.seedCentroids(pts, 16)
      val grows = gcents.select($"cid", $"ce").orderBy("cid").collect()
      CollectionStore.saveBucketed(pts, bkt, 16)
      CollectionStore.saveGraphSidecar(
        Ann.graphBuild(pts, gcents, graphK = 12, maxDegree = 16), bkt, 16)
      val gadds = Seq((50L, embOf(450L), 907), (200000L, embOf(7L), 908))
        .toDF("id", "embedding", "user_id")
      pin("mergeGraphIndexed", "bkt", "bkt_graph", "bkt_graph_rev") {
        CollectionStore.mergeGraphIndexed(spark, bkt, gadds,
          Some(Seq(40L, 41L).toDF("id")), grows.map(_.getLong(0)).toSeq,
          grows.map(_.getSeq[Double](1).toSeq).toSeq, 16, beam = 12, hops = 3)
      }
      val ups = s"$root/ups"
      CollectionStore.saveBucketed(points, ups, nBuckets)
      pin("mergeBucketed", "ups") {
        CollectionStore.mergeBucketed(spark, ups,
          Seq((51L, embOf(451L), 909, 1e9), (300000L, embOf(8L), 910, 1e9))
            .toDF("id", "embedding", "user_id", "ts"), nBuckets)
      }
    } finally sc.removeSparkListener(listener)
    val got = lines.result()
    val in = getClass.getResourceAsStream("/store_mutation.golden")
    assert(in != null, "store_mutation.golden missing from test resources")
    val want = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toSeq finally in.close()
    def isJobs(l: String) = l.split(' ')(1) == "jobs"
    val (gotJobs, gotDirs) = got.partition(isJobs)
    val (wantJobs, wantDirs) = want.partition(isJobs)
    val missing = wantDirs.diff(gotDirs)
    val extra = gotDirs.diff(wantDirs)
    val budget = wantJobs.map { l => val w = l.split(' '); w(0) -> w(2).toInt }.toMap
    val over = gotJobs.map(_.split(' ')).filter(w =>
      !budget.get(w(0)).exists(w(2).toInt <= _)).map(_.mkString(" "))
    val dirsOk = missing.isEmpty && extra.isEmpty
    val jobsOk = budget.size == gotJobs.size && over.isEmpty
    // a failing run leaves what it saw next to the build, for a diff
    // against the recorded file
    val seen = if (dirsOk && jobsOk) "" else {
      val f = java.nio.file.Paths.get("target", "store_mutation.golden.actual")
      java.nio.file.Files.write(f, got.mkString("", "\n", "\n").getBytes("UTF-8"))
      s"(this run's lines: $f)"
    }
    assert(dirsOk, s"table dirs differ from the recorded store: missing " +
      s"${missing.mkString("; ")} / unexpected ${extra.mkString("; ")} $seen")
    assert(jobsOk, s"ops start more Spark jobs than recorded: " +
      s"${over.mkString("; ")} (recorded ${wantJobs.mkString("; ")}) $seen")
  }
}
