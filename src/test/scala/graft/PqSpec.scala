package graft

import org.apache.spark.sql.functions._
import graft.operators.{Collection, Quantization, Search}

/** Product-quantization specs: codebook shape, encode optimality (true L2
  * argmin per subspace), determinism across physical layout, ADC recall
  * against exact search, and the persisted-codes read path. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val points = Collection.load(spark, sf001).cache()
  private lazy val cb = Quantization.pqCodebookOf(
    Quantization.pqTrain(points, dim = 64, m = 8, ksub = 16, maxIter = 5))

  test("codebook: m x ksub centroids of dsub dims") {
    assert(cb.m == 8 && cb.ksub == 16 && cb.dsub == 8)
    assert(cb.cents.length == 8 && cb.cents.forall(_.length == 16))
    assert(cb.cents.flatten.forall(_.length == 8))
  }

  test("encode: every code is the true L2 argmin of its subvector") {
    val sample = points.filter($"id" < 20)
      .select($"id", $"embedding",
        Quantization.pqEncode($"embedding", cb).as("pqc"))
      .as[(Long, Seq[Double], Seq[Long])].collect()
    assert(sample.nonEmpty)
    sample.foreach { case (id, emb, codes) =>
      assert(codes.length == cb.m)
      codes.zipWithIndex.foreach { case (code, s) =>
        val xs = emb.slice(s * cb.dsub, (s + 1) * cb.dsub)
        def d2(c: Seq[Double]) =
          xs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        val best = d2(cb.cents(s)(code.toInt))
        cb.cents(s).zipWithIndex.foreach { case (c, ci) =>
          assert(best <= d2(c) + 1e-9,
            s"id=$id sub=$s picked $code but $ci is closer")
        }
      }
    }
  }

  test("encode is deterministic across partition layout") {
    val a = points.select($"id",
      Quantization.pqEncode($"embedding", cb).as("pqc"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val b = points.repartition(7).select($"id",
      Quantization.pqEncode($"embedding", cb).as("pqc"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("ADC search: self-match survives, recall@10 clears the floor") {
    val qids = Seq(0L, 100L, 200L, 300L)
    val recalls = qids.map { qid =>
      val q = points.filter($"id" === qid).select($"embedding".as("qemb"))
      val exact = Search.knn(points, q, 10, -1.0)
        .select("id").as[Long].collect().toSet
      val approx = Quantization.pqAdcSearch(points, q, cb, k = 10)
        .select("id").as[Long].collect().toSet
      assert(approx.contains(qid), s"self-match lost for $qid")
      (approx & exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"PQ ADC recall@10 too low: $recalls")
  }

  test("materialized pqc column is read as-is and gives identical results") {
    val path = tempDir("pq_store").toString + "/store"
    points.withColumn("pqc", Quantization.pqEncode($"embedding", cb))
      .write.parquet(path)
    val store = spark.read.parquet(path)
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val a = Quantization.pqAdcSearch(points, q, cb, 10)
      .as[(Long, Double, Int)].collect().toSeq
    val b = Quantization.pqAdcSearch(store, q, cb, 10)
      .as[(Long, Double, Int)].collect().toSeq
    assert(a == b)
    // phase 1 of the stored-codes path must not re-run the encoder: zero
    // nearest_centroid kernels in the plan (vs 8 when encoding on the fly)
    def encoders(df: org.apache.spark.sql.DataFrame): Int =
      "nearestcentroid".r.findAllIn(df.queryExecution.optimizedPlan
        .toString.toLowerCase.replace("_", "")).size
    assert(encoders(Quantization.pqAdcSearch(store, q, cb, 10)) == 0)
    assert(encoders(Quantization.pqAdcSearch(points, q, cb, 10)) > 0)
  }

  test("budget calibration: picks the first ladder tier clearing the " +
      "target, and an unreachable target falls to the last tier") {
    val ladder = Seq(() => cb) // one-tier ladder: chosen iff target met
    val sample = Quantization.DefaultPqCalibrationSample
    // an impossible target still returns the LAST tier (never throws)
    assert(Quantization.pqCalibrateBudget(points, 10, 1.01, sample, ladder) == 0)
    // a trivially-met target (recall >= 0) picks tier 0 without touching
    // later thunks — the laziness callers with expensive ladders rely on
    var trained2 = false
    val lazyLadder = Seq(() => cb, () => { trained2 = true; cb })
    assert(Quantization.pqCalibrateBudget(
      points, 10, 0.0, sample, lazyLadder) == 0)
    assert(!trained2, "tiers past the chosen one must not be trained")
  }

  test("calibrated search: output carries the chosen budget and equals " +
      "the plain ADC search under that codebook") {
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val got = Quantization.pqAdcSearchCalibrated(points, q, Seq(() => cb),
      10, 0.0, Quantization.DefaultPqCalibrationSample).collect()
    val want = Quantization.pqAdcSearch(points, q, cb, 10).collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(got.forall(r => r.getInt(3) == cb.m && r.getInt(4) == cb.ksub))
  }

  test("calibration decision: targetMet/sampleRecall are the walk's own " +
      "measurement, and a topped-out ladder is flagged, not silent") {
    val sample = Quantization.DefaultPqCalibrationSample
    // trivially-met target: met on tier 0, recall in [0,1]
    val met = Quantization.pqCalibrateBudgetFull(
      points, 10, 0.0, sample, Seq(() => cb))
    assert(met.tier == 0 && met.targetMet &&
      met.sampleRecall >= 0.0 && met.sampleRecall <= 1.0)
    // unreachable target: last tier served best-effort, targetMet FALSE
    // (VERDICT r14 — the silent-under-delivery fix), recall is the last
    // tier's measured value
    val topped = Quantization.pqCalibrateBudgetFull(
      points, 10, 1.01, sample, Seq(() => cb))
    assert(topped.tier == 0 && !topped.targetMet && topped.sampleRecall <= 1.0)
    // the calibrated search ships the decision as columns
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val rows = Quantization.pqAdcSearchCalibrated(points, q, Seq(() => cb),
      10, 1.01, sample).collect()
    assert(rows.forall(r => !r.getAs[Boolean]("target_met")))
    assert(rows.forall(r =>
      r.getAs[Double]("sample_recall") == topped.sampleRecall))
  }

  test("family handoff: a cleared ladder serves flat PQ; a topped-out one " +
      "routes to residual IVF-PQ at the curve-inverted nprobe") {
    import graft.operators.{Ann, IndexMeta}
    val cents = Ann.kmeansCentroids(points, k = 8, maxIter = 3)
    val store = Ann.ivfAssign(points,
      cents.orderBy("cid").collect().map(_.getLong(0)).toSeq,
      cents.orderBy("cid").collect().map(_.getSeq[Double](1)).toSeq)
    val cbRes = Quantization.pqCodebookOf(
      Quantization.pqTrainResiduals(store, cents,
        dim = 64, m = 8, ksub = 16, maxIter = 3))
    val meta = IndexMeta.build(points, cents, hyperplanes = Nil, k = 10)
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    val sample = Quantization.DefaultPqCalibrationSample
    // side A: target 0 always clears → flat family, budget columns = cb
    val flat = Ann.familyCalibratedSearch(points, store, cents, cbRes, meta,
      Seq(() => cb), q, 10, targetRecall = 0.0, sample).collect()
    assert(flat.forall(_.getAs[String]("family") == "pq_flat"))
    assert(flat.forall(r => r.getAs[Int]("m_used") == cb.m &&
      r.getAs[Int]("ksub_used") == cb.ksub &&
      r.getAs[Int]("nprobe_used") == 0 && r.getAs[Boolean]("target_met")))
    // flat branch body ≡ plain ADC search under the chosen codebook
    val flatWant = Quantization.pqAdcSearch(points, q, cb, 10).collect()
    assert(flat.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      flatWant.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // side B: unreachable target tops the ladder out → residual family
    // at nprobeFor(target) (unreachable → every cell), decision shipped
    val res = Ann.familyCalibratedSearch(points, store, cents, cbRes, meta,
      Seq(() => cb), q, 10, targetRecall = 1.01, sample).collect()
    assert(res.forall(_.getAs[String]("family") == "ivf_pq_residual"))
    val np = meta.nprobeFor(1.01)
    assert(res.forall(r => r.getAs[Int]("nprobe_used") == np &&
      !r.getAs[Boolean]("target_met")))
    val resWant = Ann.ivfPqResidualSearch(store, cents, cbRes, q,
      np, 10).collect()
    assert(res.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      resWant.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("adaptive rescore budget: the k*32 floor binds on small probes and " +
      "the candidate-proportional budget takes over past it") {
    import graft.operators.Ann
    val cents = Ann.kmeansCentroids(points, k = 8, maxIter = 3)
    val cids = cents.orderBy("cid").collect().map(_.getLong(0)).toSeq
    val ces = cents.orderBy("cid").collect().map(_.getSeq[Double](1)).toSeq
    val store = Ann.ivfAssign(points, cids, ces)
    val cbRes = Quantization.pqCodebookOf(
      Quantization.pqTrainResiduals(store, cents,
        dim = 64, m = 8, ksub = 16, maxIter = 3))
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    // at fixture scale candidates/16 << k*32, so the adaptive search must
    // equal the fixed-oversample one exactly (the floor binds)
    val a = Ann.ivfPqResidualSearchAdaptive(store, cents, cbRes, q,
      nprobe = 4, k = 10).collect()
    val b = Ann.ivfPqResidualSearch(store, cents, cbRes, q,
      nprobe = 4, k = 10).collect()
    assert(a.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      b.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // formula: the budget grows linearly with candidates once past the
    // floor — pure arithmetic pinned here, measured at scale (SCALING)
    val floor = (10 * 32.0).toLong
    assert(math.max(floor, (100000L * (1.0 / 16)).toLong) == 6250L)
    assert(math.max(floor, (1000L * (1.0 / 16)).toLong) == floor)
  }

  test("fingerprint: stored codes written under one codebook refuse a " +
      "mismatched codebook at search time") {
    val cb2 = Quantization.pqCodebookOf(
      Quantization.pqTrain(points.filter($"id" % 2 === 0),
        dim = 64, m = 8, ksub = 16, maxIter = 5))
    assert(Quantization.fingerprint(cb) != Quantization.fingerprint(cb2))
    val fpMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(Quantization.FingerprintKey, Quantization.fingerprint(cb))
      .build()
    val store = points.withColumn("pqc",
      Quantization.pqEncode($"embedding", cb).as("pqc", fpMeta))
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    // matching codebook: served
    assert(Quantization.pqAdcSearch(store, q, cb, 10).count() == 10)
    // mismatched codebook: fail loud, not silent mis-ranking
    val e = intercept[IllegalArgumentException](
      Quantization.pqAdcSearch(store, q, cb2, 10).count())
    assert(e.getMessage.contains("codebook"))
  }

  test("fingerprint survives the saveIndexed parquet round-trip (pqc and " +
      "pqrc carry it; the residual search checks it)") {
    import graft.operators.Ann
    val dir = tempDir("graft_fp").toString
    val cents = Ann.kmeansCentroids(points, 4, maxIter = 3)
    val cbRes = Quantization.pqCodebookOf(
      Quantization.pqTrainResiduals(
        Ann.ivfAssign(points, cents), cents, dim = 64, m = 8, ksub = 16,
        maxIter = 3))
    graft.sources.CollectionStore.saveIndexed(points, s"$dir/store", cents,
      pqCodebook = Some(cb), pqResidualCodebook = Some(cbRes))
    val (store, storedCents) =
      graft.sources.CollectionStore.loadIndexed(spark, s"$dir/store")
    assert(store.schema("pqc").metadata.getString(Quantization.FingerprintKey)
      == Quantization.fingerprint(cb))
    assert(store.schema("pqrc").metadata.getString(Quantization.FingerprintKey)
      == Quantization.fingerprint(cbRes))
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    // right codebook: serves; wrong codebook (the RAW-vector one): throws
    assert(Ann.ivfPqResidualSearch(store, storedCents, cbRes, q, 2, 10)
      .count() == 10)
    intercept[IllegalArgumentException](
      Ann.ivfPqResidualSearch(store, storedCents, cb, q, 2, 10).count())
  }
}
