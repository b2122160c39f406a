package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-collection index metadata held by the serving layer — the engine's
  * analogue of the reference keeping its index handles and collection size
  * in process memory instead of re-reading them per query
  * (src/core/qdrant_client.py:60-99 holds the client + collection config;
  * src/core/advanced_indexing.py:214-278 sizes search params from the
  * cached collection size).
  *
  * Everything here is TINY driver-side state (≤C centroids of d doubles, a
  * dozen hyperplanes, one long, one recall curve) — the distributed
  * analogue of broadcasting index metadata. It is collected ONCE per
  * collection version ([[IndexMeta.forStore]] caches by store key) and then
  * embedded into codegen expressions ([[graft.plans.VectorExpressions]]),
  * so query construction does zero Spark jobs.
  *
  * `recallCurve(p-1)` = measured recall@k of an IVF search probing the `p`
  * nearest cells, over a deterministic calibration sample of stored
  * vectors. Because IVF returns the exact top-k WITHIN the probed cells, a
  * true neighbor is recalled iff its cell is probed — so the curve is
  * exactly the sample-mean cell-coverage of the true top-k, and
  * [[nprobeFor]] inverts it: the smallest probe count whose measured
  * recall clears the target. This mirrors how the reference ties `ef` to
  * its recall claim (PERFORMANCE_OPTIMIZATION_GUIDE.md:89: 99.2% recall@10
  * from tuned ef + rescore) — the parameter is derived from a measured
  * accuracy target, not guessed.
  */
final case class IndexMeta(
    knownCount: Long,
    cids: Seq[Long],
    cents: Seq[Seq[Double]],
    hyperplanes: Seq[Seq[Double]],
    recallCurve: Seq[Double],
    recallLcb: Seq[Double] = Nil) {

  /** Smallest nprobe whose calibrated recall@k >= target — judged on the
    * LOWER confidence bound of the per-query recall sample when available
    * (`recallLcb`), not its mean: a curve calibrated on one sample is
    * optimistic on held-out queries, and a serving config that misses its
    * own stated target erodes the `recallTarget` API. Falls back to every
    * cell if the target is unreachable — degrades to exact-within-cells,
    * recall 1.0. */
  def nprobeFor(target: Double): Int = {
    val curve = if (recallLcb.nonEmpty) recallLcb else recallCurve
    val i = curve.indexWhere(_ >= target)
    if (i < 0) cids.length else i + 1
  }
}

object IndexMeta {

  /** THE serving recall target: adaptive/policy search calibrate nprobe
    * for it and RecallReport grades measured recall against it — one
    * constant so the graded bar and the calibrated bar cannot drift
    * (ADVICE r7). */
  val DefaultRecallTarget: Double = 0.95

  /** One-sided 90% lower confidence bound of a sample mean,
    * m − 1.28·sd/√n (sd the sample standard deviation, 0 below two
    * values): what a calibrated knob's per-query recall sample must
    * clear the target by — the nprobe here, the replica's int8
    * oversample and the cross-process probe's nprobe and beam. Sums left
    * to right in sample order. */
  def lowerBound90(xs: Seq[Double]): Double = {
    val n = xs.length.toDouble
    val m = xs.sum / n
    val sd =
      if (n < 2) 0.0
      else math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (n - 1))
    m - 1.28 * sd / math.sqrt(n)
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, IndexMeta]()

  /** Build-once-per-JVM per store key (collection version). */
  def forStore(key: String)(build: => IndexMeta): IndexMeta =
    cache.computeIfAbsent(key, _ => build)

  /** Measure the IVF recall curve and assemble the metadata.
    *
    * Calibration cost is an index-BUILD cost, not a query cost, and it is
    * BATCHED: all `nSample` exact top-k searches run as ONE
    * [[Search.knnBatch]] job (plus one embedding collect and one cell
    * lookup), so growing the sample doesn't grow the number of driver
    * round trips. The sample is a deterministic salted-hash pick over the
    * ids present, disjoint in practice from [[graft.RecallReport]]'s
    * evenly-spread report sample — the reported recall is held-out, not
    * the calibration set grading itself.
    *
    * Alongside the mean recall curve, the per-query recall sample yields a
    * one-sided lower confidence bound per probe count
    * (mean − z·sd/√n, z = 1.28 ≈ 90%): [[IndexMeta.nprobeFor]] inverts
    * THAT curve, so the chosen nprobe carries a safety margin against
    * sample optimism instead of betting the target on the sample mean. */
  def build(points: DataFrame, centroids: DataFrame,
      hyperplanes: Seq[Seq[Double]], k: Int = 10,
      nSample: Int = 32): IndexMeta = {
    val rows = centroids.select(col("cid"), col("ce")).orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val cents = rows.map(_.getSeq[Double](1)).toSeq
    val nC = cids.length
    val n = points.count()
    val assigned = Ann.ivfAssign(points, cids, cents)
      .select(col("id"), col("cid"))
    // calibration queries: a deterministic salted-hash pick over the ids
    // actually present (no contiguity assumption — works on any id set),
    // disjoint in practice from RecallReport's evenly-spread sample
    val qids = points.select(col("id"))
      .orderBy(pmod(graft.functions.TextOps.hash60(
        concat(lit("cal_"), col("id").cast("string"))), lit(999983L)),
        col("id"))
      .limit(nSample)
      .collect().map(_.getLong(0)).toSeq
    // one collect: every calibration query's embedding
    val qEmbOf = points.filter(col("id").isin(qids: _*))
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // ONE batched exact top-k job for the whole sample
    val qdf = points.filter(col("id").isin(qids: _*))
      .select(col("id").as("query_id"), col("embedding").as("qemb"))
    val topByQ = Search.knnBatch(points, qdf, k, -1.0)
      .select(col("query_id"), col("id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1))).toMap
    // one cell lookup for every true neighbor across all queries
    val allNeighbors = topByQ.values.flatten.toSeq.distinct
    val cellOf = assigned.filter(col("id").isin(allNeighbors: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per query: recall-at-probe-count curve from the cell-rank of each
    // true neighbor (rank of the neighbor's cell in the query's
    // rounded-dot probe order — same (round 6dp desc, cid asc) rule as
    // TopCentroids)
    val perQuery: Seq[Array[Double]] = qids.flatMap { qid =>
      topByQ.get(qid).map { topK =>
        val qEmb = qEmbOf(qid)
        val order = cids.indices
          .map(i => (math.rint(dot(qEmb, cents(i)) * 1e6) / 1e6, cids(i)))
          .sortBy { case (s, c) => (-s, c) }
          .map(_._2)
        val rankOf = order.zipWithIndex.toMap
        val cov = Array.fill(nC)(0.0)
        topK.foreach { nb =>
          var p = rankOf(cellOf(nb)) // 0-based cell rank of this neighbor
          while (p < nC) { cov(p) += 1.0; p += 1 }
        }
        cov.map(_ / topK.length)
      }
    }
    val nq = perQuery.size.toDouble
    val meanCurve = (0 until nC).map(p => perQuery.map(_(p)).sum / nq)
    val lcbCurve = (0 until nC).map(p =>
      math.max(0.0, lowerBound90(perQuery.map(_(p)))))
    IndexMeta(n, cids, cents, hyperplanes, meanCurve, lcbCurve)
  }

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
