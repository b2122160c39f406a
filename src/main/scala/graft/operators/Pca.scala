package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions.dotD

/** PCA over the embedding column — the dimensionality-reduction /
  * energy-compaction stage of an embedding curation pipeline (public
  * practice: PCA'd embeddings for clustering and dedup, and the rotation
  * in front of product quantization — Jégou et al. '11 §V.A note PQ is
  * sensitive to the basis; an orthogonal rotation is the standard
  * pre-transform). The reference stores raw vectors only; this operator
  * family is part of the engine's training-data-pipeline surface, like
  * dedup and DSIR.
  *
  * Execution shape, designed for 100 TB:
  *  - [[moments]] is ONE map-side-combined aggregate. Each row explodes to
  *    its d mean entries plus the d(d+1)/2 upper-triangle second-moment
  *    products (inherent O(N·d²) compute of any Gram accumulation), and
  *    `groupBy(i,j).sum` partial-aggregates per map task, so the shuffle
  *    carries ≤ (d(d+1)/2 + d) rows PER TASK regardless of N. Sums are
  *    DECIMAL — exact, order-free, deterministic across runs and engines
  *    (the engine's standard money-sum rule).
  *  - Eigendecomposition runs on the DRIVER over the d×d covariance —
  *    index-metadata scale (d=64 → 32 KB), same tier as kmeans centroids
  *    and PQ codebooks. Cyclic Jacobi with a fixed tolerance: fully
  *    deterministic given the (exact-decimal) input moments.
  *  - The model persists as a ≤d-row side table (comp, eigval, vec,
  *    mu_proj); projection is a broadcast of that table against the
  *    collection with the codegen'd [[dotD]] kernel — no shuffle beyond
  *    the one the caller's aggregation already owns.
  *
  * Determinism: model components are rounded to 9dp at train time and
  * persisted; both engines (Spark and the DuckDB oracle) project from the
  * SAME persisted table, so Jacobi's float path never meets the
  * cross-engine comparison (the kmeans/PQ side-table rule).
  */
object Pca {

  /** Trained model, driver-side (index-metadata scale): `mu` is the mean
    * vector, `comps(c)` the c-th eigenvector (descending eigenvalue),
    * both rounded to 9dp; `eigvals` rounded to 9dp, non-increasing. */
  case class PcaModel(mu: Array[Double], eigvals: Array[Double],
      comps: Array[Array[Double]]) {
    def dim: Int = mu.length
  }

  /** Exact first/second raw moments of the embedding column in ONE pass:
    * returns (n, Σx, upper-triangle Σ x_i·x_j). Every element/product is
    * rounded to DECIMAL scale 18 (the same deterministic per-element cast
    * Spark's `cast(decimal(38,18))` performs — shortest-repr HALF_UP) and
    * then accumulated EXACTLY, so the result is order-free: identical
    * across runs, partitionings, and physical plans.
    *
    * Execution: a per-partition accumulation kernel (the engine's
    * sanctioned `mapPartitions` tier — codec batch path, serving flush —
    * for genuinely per-partition imperative work). The O(N·d²) multiply
    * volume is inherent to any Gram accumulation; a declarative
    * explode-then-groupBy form was measured 80 s at 20k×64 because
    * Spark's higher-order functions are CodegenFallback — 2,080
    * interpreted lambda/struct evaluations per row — while this kernel
    * emits ONE (d(d+1)/2 + d)-cell partial per partition (the identical
    * shuffle volume partial hash aggregation would produce) and the
    * driver reduces ≤ numPartitions exact partials. */
  def moments(points: DataFrame, dim: Int): (Long, Array[Double], Array[Array[Double]]) =
    stateToMoments(momentState(points, dim))

  /** Mergeable exact-moment state: the 128-bit fixed-point partials of
    * [[moments]] BEFORE conversion to doubles — (count, hi/lo word pairs
    * for the d first-moment cells then the d(d+1)/2 upper-triangle Gram
    * cells). Because every cell is an EXACT integer sum of per-element
    * quantizations, states merge by 128-bit addition with no error and
    * no order sensitivity: `merge(a, b) == merge(b, a)` and any merge
    * tree over any chunking of the data yields the bit-identical state a
    * single pass would — so incremental / streaming PCA maintenance
    * (absorb a micro-batch, retrain from the merged state) produces
    * EXACTLY the batch-retrain model, not an approximation of it
    * (PcaSpec + the `pca_incremental` oracle row pin this). */
  final case class MomentState(dim: Int, n: Long,
      hi: Array[Long], lo: Array[Long])

  def zeroState(dim: Int): MomentState = {
    val nCells = dim + dim * (dim + 1) / 2
    MomentState(dim, 0L, new Array[Long](nCells), new Array[Long](nCells))
  }

  /** Merge two moment states (exact 128-bit adds; inputs untouched). */
  def mergeStates(a: MomentState, b: MomentState): MomentState = {
    require(a.dim == b.dim, s"dim mismatch: ${a.dim} vs ${b.dim}")
    val hi = a.hi.clone()
    val lo = a.lo.clone()
    add128(hi, lo, b.hi, b.lo)
    MomentState(a.dim, a.n + b.n, hi, lo)
  }

  /** In-place 128-bit vector add: (hi, lo) += (phi, plo). `plo` is the
    * UNSIGNED low word of a 128-bit value (its sign lives in phi) — only
    * the unsigned carry propagates. Shared with [[graft.operators.Ann]]'s
    * Lloyd-sweep kernel. */
  private[graft] def add128(hi: Array[Long], lo: Array[Long],
      phi: Array[Long], plo: Array[Long]): Unit = {
    var c = 0
    while (c < hi.length) {
      val l = lo(c)
      val r = plo(c)
      val s = l + r
      hi(c) += phi(c) + (((l & r) | ((l | r) & ~s)) >>> 63)
      lo(c) = s
      c += 1
    }
  }

  def momentState(points: DataFrame, dim: Int): MomentState = {
    val d = dim
    val nCells = d + d * (d + 1) / 2
    val sess = points.sparkSession
    import sess.implicits._
    // deterministic per-element quantization: round(v·1e18) is a pure
    // function of the IEEE value (|v| ≤ ~1 ⇒ |r| ≤ ~1e18, within long);
    // quantized values then accumulate EXACTLY in a 128-bit (hi, lo)
    // pair, so the sum is order-free at any partitioning. Absolute
    // quantization error ≤ ~6e-17 per element — the decimal(38,18)
    // tier — while the inner loop stays allocation-free ALU work.
    val partials: Array[(Long, Array[Long], Array[Long])] = points
      .select(col("embedding")).as[Seq[Double]]
      .mapPartitions { it =>
        val hi = new Array[Long](nCells)
        val lo = new Array[Long](nCells)
        var n = 0L
        val x = new Array[Double](d)
        @inline def add(cell: Int, v: Double): Unit = {
          val r = Math.round(v * 1e18)
          val l = lo(cell)
          val s = l + r
          // unsigned carry out of the low word, minus the borrow a
          // negative r's sign extension represents
          val carry = (((l & r) | ((l | r) & ~s)) >>> 63) + (r >> 63)
          hi(cell) += carry
          lo(cell) = s
        }
        while (it.hasNext) {
          val e = it.next()
          var i = 0
          while (i < d) { x(i) = e(i); i += 1 }
          n += 1
          i = 0
          while (i < d) { add(i, x(i)); i += 1 }
          var cell = d
          i = 0
          while (i < d) {
            val xi = x(i)
            var j = i
            while (j < d) { add(cell, xi * x(j)); cell += 1; j += 1 }
            i += 1
          }
        }
        if (n == 0) Iterator.empty else Iterator.single((n, hi, lo))
      }.collect()
    val hi = new Array[Long](nCells)
    val lo = new Array[Long](nCells)
    var n = 0L
    partials.foreach { case (pn, phi, plo) =>
      n += pn
      add128(hi, lo, phi, plo)
    }
    MomentState(d, n, hi, lo)
  }

  /** Convert a moment state to (n, Σx, full Σ x_i·x_j): each 128-bit
    * cell becomes (hi·2^64 + unsigned lo) / 1e18, via BigDecimal only
    * for the ≤2,144 final conversions. */
  def stateToMoments(st: MomentState): (Long, Array[Double], Array[Array[Double]]) = {
    val d = st.dim
    val hi = st.hi
    val lo = st.lo
    val n = st.n
    def toD(c: Int): Double = {
      val v = java.math.BigInteger.valueOf(hi(c)).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo(c))))
      new java.math.BigDecimal(v).movePointLeft(18).doubleValue()
    }
    val s1 = Array.tabulate(d)(toD)
    val s2 = Array.ofDim[Double](d, d)
    var cell = d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        s2(i)(j) = toD(cell)
        s2(j)(i) = s2(i)(j)
        cell += 1
        j += 1
      }
      i += 1
    }
    (n, s1, s2)
  }

  /** Train a full-rank PCA model from the exact moments: covariance
    * C = S2/n − μμᵀ, cyclic-Jacobi eigendecomposition, eigenpairs sorted
    * by descending eigenvalue (index tiebreak), each eigenvector's sign
    * fixed so its largest-magnitude component (first on ties) is
    * positive, then everything rounded to 9dp. Deterministic end to end:
    * the moments are exact decimals and Jacobi is branch-stable. */
  def train(points: DataFrame, dim: Int): PcaModel =
    trainFromState(momentState(points, dim))

  /** [[train]] from an (incrementally merged) moment state — the
    * maintenance path: identical math, so a merged state yields the
    * bit-identical model a fresh batch train would. */
  def trainFromState(st: MomentState): PcaModel = {
    val (n, s1, s2) = stateToMoments(st)
    val d = st.dim
    val mu = s1.map(_ / n)
    val c = Array.tabulate(d, d)((i, j) => s2(i)(j) / n - mu(i) * mu(j))
    val (evals, evecs) = jacobiEigen(c)
    // sort by descending eigenvalue, index tiebreak
    val order = (0 until d).sortBy(i => (-evals(i), i))
    val eigvals = order.map(i => round9(math.max(evals(i), 0.0))).toArray
    val comps = order.map { i =>
      val v = Array.tabulate(d)(r => evecs(r)(i))
      // sign convention: largest-|component| (first on ties) positive
      var best = 0
      var k = 1
      while (k < d) {
        if (math.abs(v(k)) > math.abs(v(best)) + 1e-12) best = k
        k += 1
      }
      val s = if (v(best) < 0) -1.0 else 1.0
      v.map(x => round9(s * x))
    }.toArray
    PcaModel(mu.map(round9), eigvals, comps)
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector COLUMNS). Fixed sweep order (p<q row
    * major), rotations applied while any off-diagonal exceeds 1e-12,
    * capped at 64 sweeps — deterministic for a deterministic input. */
  private[graft] def jacobiEigen(cIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = cIn.length
    val a = cIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cth * akp - sth * akq
              a(k)(q) = sth * akp + cth * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cth * apk - sth * aqk
              a(q)(k) = sth * apk + cth * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cth * vkp - sth * vkq
              v(k)(q) = sth * vkp + cth * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off = math.max(off, math.abs(a(i)(j))); j += 1 }
        i += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** The model as its persistable side table: one row per component,
    * `(comp, eigval, vec, mu_proj)` where `mu_proj = ⟨μ, vec⟩` is the
    * precomputed centering offset (left-to-right double dot of the
    * ROUNDED values, rounded to 9dp), so centered projection is a single
    * [[dotD]] minus a scalar in both engines. */
  def modelTable(spark: org.apache.spark.sql.SparkSession, m: PcaModel): DataFrame = {
    import spark.implicits._
    m.comps.indices.map { ci =>
      val vec = m.comps(ci)
      var dp = 0.0
      var i = 0
      while (i < vec.length) { dp += m.mu(i) * vec(i); i += 1 }
      (ci, m.eigvals(ci), vec.toSeq, round9(dp))
    }.toDF("comp", "eigval", "vec", "mu_proj")
  }

  /** Centered projection onto the first `k` components, long format
    * `(id, comp, proj)`: broadcast of the ≤d-row model table against the
    * collection, one codegen'd dot per (row, comp), rounded to 6dp. */
  def project(points: DataFrame, model: DataFrame, k: Int): DataFrame =
    points
      .crossJoin(broadcast(model.filter(col("comp") < k)
        .select(col("comp"), col("vec"), col("mu_proj"))))
      .select(col("id"), col("comp"),
        round(dotD(col("embedding"), col("vec")) - col("mu_proj"), 6).as("proj"))

  /** Per-component variance of the CENTERED projection over the whole
    * collection, next to the model's eigenvalue and the cumulative
    * explained-energy ratio — the "how many dims does this corpus really
    * use" diagnostic, verified distributively (the variance recomputes
    * the projection over every row; matching eigval certifies the whole
    * moments→Jacobi→persist→project chain end to end). Variance uses the
    * exact-decimal sum-of-squares identity over the 6dp projections (the
    * [[Stats.metricSummary]] rule). Output: (comp, eigval, var_proj,
    * cum_energy_ratio), ordered by comp. */
  def varianceReport(points: DataFrame, model: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val proj = project(points, model, k)
    val dsum = sum(col("proj").cast("decimal(28,6)")).cast("double")
    val dsumsq = sum(col("proj").cast("decimal(18,6)") * col("proj").cast("decimal(18,6)"))
      .cast("double")
    val n = count(lit(1))
    val perComp = proj.groupBy("comp")
      .agg(round((dsumsq - dsum * dsum / n) / n, 6).as("var_proj"))
      .join(broadcast(model.select(col("comp"), col("eigval"))), Seq("comp"))
    // total energy from the ≤d-row MODEL, not from perComp — deriving it
    // from perComp would re-execute the whole projection subtree (caught
    // in the plan audit: two full collection scans for one report)
    val total = model.filter(col("comp") < k)
      .agg(sum(col("eigval").cast("decimal(28,9)")).as("te"))
    val w = Window.orderBy("comp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perComp.crossJoin(broadcast(total))
      .withColumn("cum_energy_ratio",
        round(sum(col("eigval").cast("decimal(28,9)")).over(w).cast("double")
          / col("te").cast("double"), 6))
      .select(col("comp").cast("int").as("comp"), col("eigval"),
        col("var_proj"), col("cum_energy_ratio"))
      .orderBy("comp")
  }

  /** UNCENTERED orthogonal rotation of the embedding column into the PCA
    * basis — `y_c = ⟨x, comps(c)⟩` with NO mean subtraction, so inner
    * products are preserved exactly (R orthonormal ⇒ ⟨Rx,Rq⟩ = ⟨x,q⟩, up
    * to the 9dp component rounding): the metric-safe pre-transform for
    * product quantization (PCA-PQ). Pure map: one literal d×d matrix in
    * the closure, codegen'd zip_with/aggregate per output component. */
  def rotate(points: DataFrame, m: PcaModel, embCol: String = "embedding"): DataFrame = {
    val r: Column = typedLit(m.comps.map(_.toSeq).toSeq)
    points.withColumn(embCol, transform(r, rw => dotD(rw, col(embCol))))
  }

  /** Eigenvalue-balanced component permutation for an m-subspace product
    * quantizer: straight PCA order concentrates nearly all the energy in
    * the FIRST subspace, starving the others' codebooks (the known
    * PCA-before-PQ failure; Jégou et al. '11 §V.A, and the balanced
    * variant in Ge et al. '13 OPQ's "natural" baseline). Greedy
    * least-loaded assignment: components in descending-eigval order each
    * go to the lowest-total-eigval subspace with a free slot (index
    * tiebreak) — deterministic, and within-subspace slots keep eigval
    * order. Returns newDim → original component index. */
  def balancedPermutation(eigvals: Array[Double], mSub: Int,
      byProduct: Boolean = false): Array[Int] = {
    val d = eigvals.length
    require(d % mSub == 0, s"dim $d not divisible by $mSub subspaces")
    val dsub = d / mSub
    val load = Array.fill(mSub)(0.0)
    val slots = Array.fill(mSub)(0)
    val buckets = Array.fill(mSub)(List.newBuilder[Int])
    // eigvals arrive sorted descending (train's contract)
    var c = 0
    while (c < d) {
      var best = -1
      var s = 0
      while (s < mSub) {
        if (slots(s) < dsub && (best < 0 || load(s) < load(best) - 1e-15)) best = s
        s += 1
      }
      buckets(best) += c
      // byProduct: Ge et al. '13 eigenvalue allocation balances the
      // PRODUCT of per-subspace eigvals (= sum of logs); the sum rule
      // is the simpler variance-balancing heuristic
      load(best) += (if (byProduct) math.log(math.max(eigvals(c), 1e-300))
        else eigvals(c))
      slots(best) += 1
      c += 1
    }
    buckets.flatMap(_.result()).toArray
  }

  /** [[rotate]] with the [[balancedPermutation]] row order — still an
    * orthonormal rotation (a row permutation of R), so inner products
    * are preserved identically; only the subspace layout changes.
    *
    * MEASURED NEGATIVE on this engine's cosine-ADC searches (SCALING.md
    * "PCA-before-PQ layout", reproducible at commit 913220e; 20k×64,
    * m=8/ksub=16, oversample-32 + exact-rescore serving config): on the
    * clustered (anisotropic) fixture, straight PCA order serves
    * recall@10 = 0.72 vs 0.335 for the sum-balanced permutation and
    * 0.35 for no PCA at all — balancing SCATTERS the cluster-bearing
    * head components across subspaces, so no single sub-codebook can
    * separate the clusters, while straight order lets subspace 0 encode
    * cluster identity with its full codebook. On the near-isotropic
    * fixture the three layouts are within noise (0.54-0.64). Kept for
    * the measured comparison (bench key `negbase_pq_pca_bal_adc` in
    * RecallReport's `recall` map, 0.838 in BENCH_r17.json); the
    * serving default is [[rotate]] — straight order. */
  def rotateBalanced(points: DataFrame, m: PcaModel, mSub: Int,
      embCol: String = "embedding", byProduct: Boolean = false): DataFrame = {
    val perm = balancedPermutation(m.eigvals, mSub, byProduct)
    val r: Column = typedLit(perm.map(c => m.comps(c).toSeq).toSeq)
    points.withColumn(embCol, transform(r, rw => dotD(rw, col(embCol))))
  }
}
