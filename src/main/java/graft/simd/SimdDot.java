package graft.simd;

import jdk.incubator.vector.ByteVector;
import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.IntVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorShape;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD phase-1 kernels over the serving replica's TRANSPOSED f32 block
 * layout (see {@code BatchedServer.FlatReplica}): rows are grouped into
 * blocks of {@link #LANES}, and within a block element (row lane l,
 * dim d) sits at {@code base + d*LANES + l} — so one vector load reads
 * the d-th component of LANES consecutive rows, and each SIMD lane
 * accumulates ONE row's f32 products in dim order.
 *
 * <p>Contract: a lane's f32 dot is an APPROXIMATION of the row's exact
 * left-to-right f64 dot, off by at most the certified bound
 * {@code BatchedServer.f32GateBound} (f32 rounding of cells and query,
 * f32 and f64 summation, underflow). Callers gate on
 * {@link #atLeast} against the floor lowered by that bound and rescore
 * every surviving lane with the exact f64 dot, so the served top-k is
 * the exact kernel's, bit for bit (the derivation is in
 * {@code BatchedServer.scoreRange}; bound and gate spec-asserted in
 * ServingKernelSpec).
 *
 * <p>The incubator module must be present at runtime
 * ({@code --add-modules=jdk.incubator.vector}, wired in build.sbt);
 * {@code SimdSupport} class-loads this class inside a try so its
 * absence degrades to the scalar kernel instead of failing.
 */
public final class SimdDot {

  private static final VectorSpecies<Float> SP = FloatVector.SPECIES_PREFERRED;

  /** Rows per block = f32 SIMD lanes of the platform's preferred species
   *  (16 on AVX-512, 8 on AVX2, 4 on SSE2/NEON). */
  public static final int LANES = SP.length();

  private SimdDot() {}

  /** f32 dots of one block (LANES rows) against FOUR queries; results at
   *  {@code out[qi*LANES + lane]}. Queries must have length ≥ dim. */
  public static void block4(float[] t, int base, int dim,
      float[] q0, float[] q1, float[] q2, float[] q3, float[] out) {
    FloatVector s0 = FloatVector.zero(SP), s1 = FloatVector.zero(SP);
    FloatVector s2 = FloatVector.zero(SP), s3 = FloatVector.zero(SP);
    for (int d = 0; d < dim; d++) {
      FloatVector e = FloatVector.fromArray(SP, t, base + d * LANES);
      s0 = s0.add(e.mul(q0[d]));
      s1 = s1.add(e.mul(q1[d]));
      s2 = s2.add(e.mul(q2[d]));
      s3 = s3.add(e.mul(q3[d]));
    }
    s0.intoArray(out, 0);
    s1.intoArray(out, LANES);
    s2.intoArray(out, 2 * LANES);
    s3.intoArray(out, 3 * LANES);
  }

  /** f32 dots of one block against TWO queries; results at
   *  {@code out[qi*LANES + lane]}. */
  public static void block2(float[] t, int base, int dim,
      float[] q0, float[] q1, float[] out) {
    FloatVector s0 = FloatVector.zero(SP), s1 = FloatVector.zero(SP);
    for (int d = 0; d < dim; d++) {
      FloatVector e = FloatVector.fromArray(SP, t, base + d * LANES);
      s0 = s0.add(e.mul(q0[d]));
      s1 = s1.add(e.mul(q1[d]));
    }
    s0.intoArray(out, 0);
    s1.intoArray(out, LANES);
  }

  /** f32 dots of one block against ONE query; results at {@code out[lane]}. */
  public static void block1(float[] t, int base, int dim,
      float[] q0, float[] out) {
    FloatVector s0 = FloatVector.zero(SP);
    for (int d = 0; d < dim; d++) {
      FloatVector e = FloatVector.fromArray(SP, t, base + d * LANES);
      s0 = s0.add(e.mul(q0[d]));
    }
    s0.intoArray(out, 0);
  }

  /** The gate: one vector compare of the LANES dots at {@code dots[off..]}
   *  against {@code gate}; bit l of the result is set when lane l's dot is
   *  ≥ gate (a NaN lane never is). */
  public static long atLeast(float[] dots, int off, float gate) {
    return FloatVector.fromArray(SP, dots, off)
        .compare(VectorOperators.GE, gate).toLong();
  }

  // ------------------------------------------------------------------
  // INT8 phase-1 kernel (r15): the quantized tiers' byte-slab scan was a
  // scalar multiply-add loop while the float tier ran the vector kernel
  // — the measured compute-vs-bandwidth crossover penalized int8 in the
  // compute-bound regimes. Integer arithmetic is EXACT, so unlike the
  // f32 kernels there is no error bound to carry: any evaluation order
  // gives the bit-identical sum.
  // ------------------------------------------------------------------

  private static final VectorSpecies<Integer> SPI =
      IntVector.SPECIES_PREFERRED;
  // byte species with exactly SPI.length() lanes, so one byte load
  // widens (B2I) into one full int vector. Needs >= 256-bit int vectors
  // (a 128-bit platform would want a 32-bit byte shape, which the API
  // does not define) — INT8_OK gates the dispatch, scalar otherwise.
  public static final boolean INT8_OK = SPI.vectorBitSize() >= 256;
  private static final VectorSpecies<Byte> SPB = INT8_OK
      ? VectorSpecies.of(byte.class,
          VectorShape.forBitSize(SPI.vectorBitSize() / 4))
      : ByteVector.SPECIES_64;

  /** Exact integer dot of {@code len} int8 codes against a quantized
   *  query, both sign-extended to 32-bit lanes (widen, multiply,
   *  accumulate). Per-lane partial sums stay far inside int range for
   *  any realistic dim (|code·q| ≤ 127² = 16,129; at dim 2,048 a lane
   *  accumulates ≤ 256 products ≈ 4.1M). Callers must ensure
   *  {@code q.length >= len}. */
  public static long dotBytes(byte[] codes, int off, int len, byte[] q) {
    int d = 0;
    long s = 0;
    if (INT8_OK) {
      IntVector acc = IntVector.zero(SPI);
      int L = SPI.length();
      for (; d + L <= len; d += L) {
        IntVector c = (IntVector) ByteVector.fromArray(SPB, codes, off + d)
            .convertShape(VectorOperators.B2I, SPI, 0);
        IntVector qq = (IntVector) ByteVector.fromArray(SPB, q, d)
            .convertShape(VectorOperators.B2I, SPI, 0);
        acc = acc.add(c.mul(qq));
      }
      s = acc.reduceLanes(VectorOperators.ADD);
    }
    for (; d < len; d++) s += codes[off + d] * q[d];
    return s;
  }
}
