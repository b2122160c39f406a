package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.operators.{Collection, Dedup, Search}
import graft.sources.CollectionStore

/** Operator-level algebraic invariants on seeded random inputs — the
  * properties that must hold at ANY scale, checked the same way the
  * kernel differentials are: against an independent formulation. */
class AlgebraPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(1234)

  test("connected components: all three tiers agree on 20 random graphs") {
    (0 until 20).foreach { g =>
      val n = 5 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(60)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        val uf = Dedup.connectedComponents(df, "a", "b") // driver union-find
          .as[(Long, Long)].collect().toMap
        val loop = Dedup.connectedComponents(df, "a", "b",
          smallGraphEdges = 0L) // distributed min-label + pointer jumping
          .as[(Long, Long)].collect().toMap
        val (starDf, _) = Dedup.starContraction(df.select($"a", $"b"))
        val stars = starDf.as[(Long, Long)].collect().toMap
        assert(uf == loop, s"graph $g: min-label loop != union-find")
        assert(uf == stars, s"graph $g: star contraction != union-find")
      }
    }
  }

  test("span-dedup apply invariants on random corpora: min-id survives, keep sets are threshold-monotone") {
    import graft.operators.TextAnalysis
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    (0 until 8).foreach { g =>
      val nDocs = 4 + rnd.nextInt(8)
      // small vocab + short window forces heavy span sharing
      val docs = (0 until nDocs).map { i =>
        val len = 3 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      def keep(t: Double): Set[Long] =
        TextAnalysis.spanDedupApply(docs, w = 3, minDocs = 2,
          maxDupCoverage = t).select("doc_id").as[Long].collect().toSet
      val k0 = keep(0.0); val kHalf = keep(0.5); val kAll = keep(1.0)
      // the minimum doc_id owns every duplicated span it carries (no
      // lower id exists), so its coverage is 0 — it survives ANY threshold
      assert(k0.contains(0L), s"corpus $g: min-id doc dropped at t=0")
      // keep sets grow monotonically with the threshold
      assert(k0.subsetOf(kHalf) && kHalf.subsetOf(kAll),
        s"corpus $g: keep sets not monotone: $k0 / $kHalf / $kAll")
      // coverage is a fraction of own spans: t=1.0 keeps everything
      assert(kAll.size == nDocs, s"corpus $g: t=1 dropped docs")
      // every survivor's reported coverage respects the threshold
      val cov = TextAnalysis.spanDedupApply(docs, w = 3, minDocs = 2,
          maxDupCoverage = 0.5)
        .select("doc_id", "dup_coverage").as[(Long, Double)].collect()
      assert(cov.forall(_._2 <= 0.5), s"corpus $g: survivor above threshold")
    }
  }

  test("incremental index maintenance ≡ scratch rebuild over random add/delete sequences") {
    import graft.operators.Ann
    val points = Collection.load(spark, sf001).limit(60).localCheckpoint()
    val cents = Ann.kmeansCentroids(points, 4, 3)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    val pool = points.select($"id", $"embedding")
      .as[(Long, Seq[Double])].collect()
    (0 until 3).foreach { seq =>
      val dir = tempDir(s"prop_idx_$seq").toString
      val path = s"$dir/store"
      CollectionStore.saveIndexed(points, path, cents, idSidecarBuckets = Some(4))
      // logical twin of the store, evolved batch by batch
      var logical = points
      (0 until 3).foreach { b =>
        val addIds = Seq.fill(3)(rnd.nextInt(80).toLong).distinct
        val delIds = Seq.fill(3)(rnd.nextInt(80).toLong).distinct
          .filterNot(addIds.contains)
        val adds = addIds.map { i =>
          val emb = pool(rnd.nextInt(pool.length))._2
          (i, emb, 500 + b, 1e9 + b)
        }.toDF("id", "embedding", "user_id", "ts")
        CollectionStore.mergeIndexed(spark, path, adds, cids, ces,
          nBuckets = 4, deletes = Some(delIds.toDF("id")))
        logical = Collection.upsert(logical, adds)
          .join(delIds.toDF("id"), Seq("id"), "left_anti")
          .localCheckpoint()
      }
      // store contents == re-assigned logical state, id for id
      val got = spark.read.parquet(path)
        .select($"id", $"cid".cast("long"), $"user_id".cast("int"))
        .as[(Long, Long, Int)].collect().toSet
      val expect = Ann.ivfAssign(logical, cids, ces)
        .select($"id", $"cid", $"user_id".cast("int"))
        .as[(Long, Long, Int)].collect().toSet
      assert(got == expect, s"sequence $seq: store diverged from logical twin")
      // sidecar id->cid mapping agrees with the store exactly
      val side = spark.read.parquet(path + "_ids")
        .select($"id", $"cid").as[(Long, Long)].collect().toSet
      assert(side == got.map(t => (t._1, t._2)),
        s"sequence $seq: sidecar diverged")
    }
  }

  test("upsert is idempotent and last-write-wins on random batches") {
    val base = (0L until 50L)
      .map(i => (i, Seq.fill(4)(rnd.nextDouble()), i.toInt % 5, i.toDouble))
      .toDF("id", "embedding", "user_id", "ts")
    // unique ids (some overlapping base, some new), deterministic data
    val batch = rnd.shuffle((0L until 60L).toList).take(20)
      .map(i => (i, Seq.fill(4)(rnd.nextDouble()), 99, 1000.0 + rnd.nextInt(10)))
      .toDF("id", "embedding", "user_id", "ts")
    val once = Collection.upsert(base, batch)
    val twice = Collection.upsert(once, batch)
    val a = once.orderBy("id").collect()
    val b = twice.orderBy("id").collect()
    assert(a.sameElements(b), "re-applying the same batch must change nothing")
    // one row per id, and every batch id carries the batch's user_id (LWW)
    assert(once.groupBy("id").count().filter($"count" > 1).count() == 0)
    val batchIds = batch.select("id").as[Long].collect().toSet
    val winners = once.filter($"id".isin(batchIds.toSeq: _*))
      .select("user_id").distinct().as[Int].collect().toSet
    assert(winners == Set(99), s"batch rows must win LWW: $winners")
  }

  test("keyset scroll pages partition the filtered set in order, no gaps") {
    val pts = Collection.loadWithPayload(spark, sf001)
    val pred = col("face_quality") >= 30
    val expected = pts.filter(pred)
      .orderBy(desc("confidence_score"), asc("id"))
      .select("id").as[Long].collect().toSeq
    // walk pages of 37 via the (value, id) cursor until exhausted
    var cursor: Option[(Double, Long)] = None
    val walked = scala.collection.mutable.ArrayBuffer[Long]()
    var done = false
    while (!done) {
      val page = Collection.scrollOrderedBy(pts, "confidence_score", 37,
        afterVal = cursor.map(_._1), afterId = cursor.map(_._2),
        pred = Some(pred)).collect()
      if (page.isEmpty) done = true
      else {
        walked ++= page.map(_.getLong(0))
        val last = page.last
        cursor = Some((last.getDouble(2), last.getLong(0)))
        if (page.length < 37) done = true
      }
    }
    assert(walked.toSeq == expected,
      s"pages must partition the ordered filtered set: ${walked.length} vs ${expected.length}")
  }

  test("z-value interleave is bijective on random 16-bit pairs") {
    val pairs = Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("a", "b")
      .select($"a", $"b", CollectionStore.zValue($"a", $"b").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      // deinterleave: even bits -> a, odd bits -> b
      var da = 0L; var db = 0L
      (0 until 16).foreach { i =>
        da |= ((z >> (2 * i)) & 1L) << i
        db |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(da == a && db == b, s"roundtrip failed for ($a,$b): z=$z -> ($da,$db)")
    }
  }

  test("rrfCombine is invariant to branch order (any branch count)") {
    val branches = (0 until 4).map { bix =>
      Seq.fill(15)((rnd.nextInt(30).toLong, 0L))
        .map(_._1).distinct.zipWithIndex
        .map { case (id, r) => (id, (r + 1).toLong) }
        .toDF("id", "rank")
    }
    val fwd = Search.rrfCombine(branches, k = 10).collect()
    val rev = Search.rrfCombine(branches.reverse, k = 10).collect()
    val shuf = Search.rrfCombine(
      Seq(branches(2), branches(0), branches(3), branches(1)), k = 10).collect()
    assert(fwd.sameElements(rev), "reversed branch order changed the result")
    assert(fwd.sameElements(shuf), "shuffled branch order changed the result")
  }

  test("optimizer composes with upserts/deletes: invariants + exact full-probe over random sequences") {
    import graft.operators.{Ann, Search}
    val points = Collection.load(spark, sf001).limit(60).localCheckpoint()
    val cents0 = Ann.kmeansCentroids(points, 4, 3)
    val pool = points.select($"id", $"embedding")
      .as[(Long, Seq[Double])].collect()
    (0 until 2).foreach { seq =>
      val dir = tempDir(s"prop_opt_$seq").toString
      val path = s"$dir/store"
      CollectionStore.saveIndexed(points, path, cents0,
        idSidecarBuckets = Some(4))
      var logical = points
      (0 until 3).foreach { b =>
        // maintenance first: re-band the layout, then merge a batch
        // against the RE-READ centroid table (the stale-centroid guard
        // makes passing the old set a loud failure, asserted below)
        CollectionStore.optimizePartitions(spark, path,
          minRows = 2, maxRows = 10, nBuckets = 4)
        val cRows = spark.read.parquet(path + "_centroids")
          .select($"cid".cast("long"), $"ce").orderBy("cid")
          .as[(Long, Seq[Double])].collect()
        val addIds = Seq.fill(3)(rnd.nextInt(80).toLong).distinct
        val delIds = Seq.fill(3)(rnd.nextInt(80).toLong).distinct
          .filterNot(addIds.contains)
        val adds = addIds.map { i =>
          (i, pool(rnd.nextInt(pool.length))._2, 600 + b, 2e9 + b)
        }.toDF("id", "embedding", "user_id", "ts")
        CollectionStore.mergeIndexed(spark, path, adds,
          cRows.map(_._1).toSeq, cRows.map(_._2).toSeq,
          nBuckets = 4, deletes = Some(delIds.toDF("id")))
        logical = Collection.upsert(logical, adds)
          .join(delIds.toDF("id"), Seq("id"), "left_anti")
          .localCheckpoint()
      }
      // id/user contents match the logical twin (cids are historical —
      // the optimizer's layout, not a global argmax — so compare rows)
      val got = spark.read.parquet(path)
        .select($"id", $"user_id".cast("int"))
        .as[(Long, Int)].collect().toSet
      val expect = logical.select($"id", $"user_id".cast("int"))
        .as[(Long, Int)].collect().toSet
      assert(got == expect, s"sequence $seq: store diverged from twin")
      // sidecar == store; every stored cid is in the centroid table
      val (store, cents) = CollectionStore.loadIndexed(spark, path)
      val byId = store.select($"id", $"cid".cast("long"))
        .as[(Long, Long)].collect().toMap
      val side = spark.read.parquet(path + "_ids")
        .select($"id", $"cid".cast("long")).as[(Long, Long)].collect().toMap
      assert(side == byId, s"sequence $seq: sidecar diverged")
      val centCids = cents.select($"cid".cast("long")).as[Long].collect().toSet
      assert(byId.values.toSet.subsetOf(centCids),
        s"sequence $seq: stored cell without a centroid")
      // full-probe search over the maintained store == exact over twin
      val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
      val gotTop = Ann.ivfSearch(store, cents, q,
          nprobe = centCids.size, k = 10)
        .select("id", "score").as[(Long, Double)].collect().toSeq
      val exactTop = Search.knn(logical, q, k = 10, threshold = -1.0)
        .select("id", "score").as[(Long, Double)].collect().toSeq
      assert(gotTop == exactTop, s"sequence $seq: search diverged")
      // the stale-centroid guard fires on the pre-optimize set
      val old = cents0.select($"cid", $"ce").orderBy("cid").collect()
      val stale = intercept[IllegalArgumentException] {
        CollectionStore.mergeIndexed(spark, path,
          Seq((999L, pool(0)._2, 1, 3e9)).toDF("id", "embedding", "user_id", "ts"),
          old.map(_.getLong(0)).toSeq,
          old.map(_.getSeq[Double](1).toSeq).toSeq, nBuckets = 4)
      }
      assert(stale.getMessage.contains("centroid set does not match"))
    }
  }

  test("round6 fast path ≡ BigDecimal reference across magnitudes and tie boundaries") {
    import graft.plans.Num
    val r = new Random(777)
    def check(x: Double): Unit = {
      val fast = Num.round6(x)
      val ref = Num.round6Ref(x)
      assert(java.lang.Double.doubleToRawLongBits(fast) ==
        java.lang.Double.doubleToRawLongBits(ref),
        s"round6($x): fast=$fast ref=$ref")
    }
    // random doubles across 24 orders of magnitude, both signs
    for (_ <- 0 until 200000) {
      val mag = math.pow(10.0, r.nextInt(25) - 12)
      check((r.nextDouble() * 2 - 1) * mag)
    }
    // adversarial: values AT and NEAR decimal tie boundaries (k+0.5)/1e6
    for (_ <- 0 until 200000) {
      val k = r.nextInt(2000000001) - 1000000000
      val base = (k + 0.5) / 1e6
      check(base)
      check(Math.nextUp(base)); check(Math.nextDown(base))
      check(base + r.nextGaussian() * 1e-13)
    }
    // exact 6dp values, integers, denormals, zeros, extremes
    for (_ <- 0 until 100000) {
      check(r.nextInt(2000001) / 1e6 - 1.0)
      check(r.nextInt(Int.MaxValue).toDouble - Int.MaxValue / 2)
    }
    Seq(0.0, -0.0, 1e-320, -1e-320, 4.9e-324, Double.MinPositiveValue,
      1e300, -1e300, Double.MaxValue, -Double.MaxValue,
      0.1234565, -0.1234565, 1.0000005, -1.0000005).foreach(check)
  }
}
