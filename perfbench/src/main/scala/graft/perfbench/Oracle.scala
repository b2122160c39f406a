package graft.perfbench

import scala.collection.parallel.CollectionConverters._
import scala.util.Random

/** Query generation and the benchmark's own exact top-k, written apart
  * from the engine's kernels so answers are checked against an
  * independent scan. Scores follow the engine's contract: the
  * left-to-right dot product, rounded half-up to 6 decimals, ranked by
  * (score desc, id asc), keeping scores ≥ the threshold. */
object Oracle {

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** normalize(0.9·base + 0.1·u) for a random unit vector u: a query near
    * a stored row, which must come back as that row's top hit. */
  def perturb(base: Array[Double], r: Random, noise: Double = 0.1): Array[Double] = {
    val u = normalize(Array.fill(base.length)(r.nextGaussian()))
    normalize(Array.tabulate(base.length)(i => (1.0 - noise) * base(i) + noise * u(i)))
  }

  /** Mean over queries of |served ∩ exact| / |exact| (1 when exact is
    * empty). */
  def recall(pairs: Seq[(Array[Long], Array[Long])]): Double = {
    val per = pairs.map { case (got, want) =>
      if (want.isEmpty) 1.0 else (got.toSet & want.toSet).size.toDouble / want.length
    }
    per.sum / per.length
  }

  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dot(e: Array[Double], q: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < e.length) { s += e(i) * q(i); i += 1 }
    s
  }

  /** Exact top-k of each query over `rows` (id, unit vector, user),
    * restricted to rows whose user is `users(qi)` when that is ≥ 0.
    * Raw dots keep a wide candidate set; only those are rounded, and the
    * set is checked to reach past the k-th score's rounding band. */
  def topK(rows: IndexedSeq[(Long, Array[Double], Int)], queries: Array[Array[Double]],
      users: Array[Int], k: Int, th: Double): Array[Array[(Long, Double)]] = {
    val keep = 4 * k + 16
    queries.indices.par.map { qi =>
      val q = queries(qi)
      val u = users(qi)
      // min-heap of (raw score, row index) holding the best `keep` rows
      val heap = new java.util.PriorityQueue[(Double, Int)](keep + 1,
        (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        if (u < 0 || r._3 == u) {
          val s = dot(r._2, q)
          if (heap.size < keep) heap.add((s, i))
          else if (s > heap.peek()._1) { heap.poll(); heap.add((s, i)) }
        }
        i += 1
      }
      val cands = Array.fill(heap.size)(heap.poll()).reverse
      val ranked = cands.map { case (s, idx) => (rows(idx)._1, round6(s), s) }
        .filter(_._2 >= th)
        .sortBy { case (id, r, _) => (-r, id) }
      // a row left out of the candidates scores below every kept one; it
      // must also sit clear of the rounding band of the k-th hit (or of
      // the threshold when fewer than k hits pass)
      if (cands.length == keep) {
        val edge = if (ranked.length >= k) ranked(k - 1)._3 else th
        require(cands.last._1 < edge - 2e-6,
          "exact oracle candidate set too narrow for the rounding band")
      }
      ranked.take(k).map { case (id, r, _) => (id, r) }
    }.toArray
  }
}
