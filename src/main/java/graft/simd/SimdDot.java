package graft.simd;

import jdk.incubator.vector.ByteVector;
import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.IntVector;
import jdk.incubator.vector.VectorMask;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorShape;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD phase-1 kernels over the serving tiers' TRANSPOSED block layouts:
 * the int8 code slab (the INT8 section at the end) and, first, the
 * replica's f32 slab (see {@code BatchedServer.FlatReplica}): rows are grouped into
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
  // INT8 phase-1 kernels over the int8 code slab's TRANSPOSED block
  // layout (see BatchedServer.CodeSlab): blocks of INT_LANES rows,
  // element (lane l, dim d) at base + d*INT_LANES + l, so one byte load
  // holds the d-th code of INT_LANES rows and widens (B2I) into one int
  // vector. Integer arithmetic is EXACT: every lane holds the row's
  // integer dot whatever the evaluation order, so unlike the f32 kernels
  // there is no error bound to carry, and the gate (atLeast on ints)
  // compares the true dot against the heap floor. Per-lane sums stay in
  // int range while dim <= BatchedServer.MaxInt8Dim (127^2 * 2^16 <
  // 2^31). Measured on 131,072 x 64 clustered unit rows (k 10,
  // oversample 3, one thread, AVX-512; KernelProbe): phase 1 alone
  // 0.76-1.08 ms per query at nq 1 and 0.57-0.76 ms at nq 3; with the
  // one-call-per-row byte dot these kernels replace, the whole two-phase
  // query cost 1.8-3.0 ms. One query per block is bound by the byte
  // load and widen; four share each load, and then the 32-bit
  // multiplies bound it.
  // ------------------------------------------------------------------

  private static final VectorSpecies<Integer> SPI =
      IntVector.SPECIES_PREFERRED;
  /** Rows per int8 code block = int lanes of the preferred species. */
  public static final int INT_LANES = SPI.length();
  // byte species with exactly INT_LANES lanes, so one byte load widens
  // (B2I) into one full int vector. Needs >= 256-bit int vectors (a
  // 128-bit platform would want a 32-bit byte shape, which the API does
  // not define) — INT8_OK gates the blocked layout, row-major otherwise.
  public static final boolean INT8_OK = SPI.vectorBitSize() >= 256;
  private static final VectorSpecies<Byte> SPB = INT8_OK
      ? VectorSpecies.of(byte.class,
          VectorShape.forBitSize(SPI.vectorBitSize() / 4))
      : ByteVector.SPECIES_64;

  private static IntVector codes(byte[] t, int at) {
    return (IntVector) ByteVector.fromArray(SPB, t, at)
        .convertShape(VectorOperators.B2I, SPI, 0);
  }

  /** Exact integer dots of one code block (INT_LANES rows) against FOUR
   *  quantized queries; results at {@code out[qi*INT_LANES + lane]}.
   *  Queries must have length >= dim. */
  public static void codeBlock4(byte[] t, int base, int dim,
      int[] q0, int[] q1, int[] q2, int[] q3, int[] out) {
    IntVector s0 = IntVector.zero(SPI), s1 = IntVector.zero(SPI);
    IntVector s2 = IntVector.zero(SPI), s3 = IntVector.zero(SPI);
    for (int d = 0; d < dim; d++) {
      IntVector e = codes(t, base + d * INT_LANES);
      s0 = s0.add(e.mul(q0[d]));
      s1 = s1.add(e.mul(q1[d]));
      s2 = s2.add(e.mul(q2[d]));
      s3 = s3.add(e.mul(q3[d]));
    }
    s0.intoArray(out, 0);
    s1.intoArray(out, INT_LANES);
    s2.intoArray(out, 2 * INT_LANES);
    s3.intoArray(out, 3 * INT_LANES);
  }

  /** Exact integer dots of one code block against TWO quantized queries. */
  public static void codeBlock2(byte[] t, int base, int dim,
      int[] q0, int[] q1, int[] out) {
    IntVector s0 = IntVector.zero(SPI), s1 = IntVector.zero(SPI);
    for (int d = 0; d < dim; d++) {
      IntVector e = codes(t, base + d * INT_LANES);
      s0 = s0.add(e.mul(q0[d]));
      s1 = s1.add(e.mul(q1[d]));
    }
    s0.intoArray(out, 0);
    s1.intoArray(out, INT_LANES);
  }

  /** Exact integer dots of one code block against ONE quantized query. */
  public static void codeBlock1(byte[] t, int base, int dim, int[] q0,
      int[] out) {
    IntVector s0 = IntVector.zero(SPI);
    for (int d = 0; d < dim; d++)
      s0 = s0.add(codes(t, base + d * INT_LANES).mul(q0[d]));
    s0.intoArray(out, 0);
  }

  /** The int8 gate: bit l is set when the INT_LANES dots at
   *  {@code dots[off..]} have lane l {@code >= floor} — greater OR equal,
   *  so a dot tying the heap floor still reaches the heap's id tie. Most
   *  blocks pass no lane, so the mask is tested first: on JDK 17
   *  {@code anyTrue} is one instruction (~2 ns) while {@code toLong}
   *  walks the lanes (~20-60 ns). */
  public static long atLeast(int[] dots, int off, int floor) {
    VectorMask<Integer> m = IntVector.fromArray(SPI, dots, off)
        .compare(VectorOperators.GE, floor);
    return m.anyTrue() ? m.toLong() : 0L;
  }
}
