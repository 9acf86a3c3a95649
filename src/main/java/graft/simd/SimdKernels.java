package graft.simd;

import jdk.incubator.vector.ByteVector;
import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorShape;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD distance kernels over the JDK Vector API (jdk.incubator.vector) —
 * the Spark-side analog of the reference's AVX-512 distance dispatch
 * (include/svs/core/distance/euclidean.h:216-328,
 * include/svs/core/distance/inner_product.h:185-299: unrolled
 * register-blocked fma loops selected per-arch at runtime).
 *
 * Lane-wise accumulate + one final reduce means the fold order differs from
 * the sequential scalar kernel, so results can differ from the scalar path
 * in the last ulp. These kernels are therefore an OPT-IN fast path: the
 * oracle-certified query paths keep the scalar fold (bit-identical to the
 * DuckDB oracle), and SimdSpec pins SIMD-vs-scalar agreement to a relative
 * tolerance plus full top-k agreement on the test corpus — the same
 * tolerance-not-bit-exactness contract the reference applies to its own
 * SIMD kernels (tests pin recall +/- epsilon, not exact distances).
 * The exception is the dimension-major tile kernels at the end of this
 * class (l2TileT / ipTileT): they put rows, not elements, in the lanes, so
 * each lane runs the scalar fold itself and the results are bit-identical
 * to it; FlatKnn's tile scan runs them on the certified paths.
 *
 * This class touches jdk.incubator.vector at class-load time; callers must
 * go through {@link graft.core.Simd} which probes availability and falls
 * back to the scalar kernels when the JVM was started without
 * --add-modules jdk.incubator.vector.
 */
public final class SimdKernels {
    // Typed Object, not VectorSpecies: sbt/zinc's API extraction loads this
    // class reflectively in the build JVM (no --add-modules there), and any
    // incubator type in a declared field/method signature triggers an
    // IllegalAccessError at class-load. Method BODIES are never inspected by
    // reflection, so the species lives behind an Object field and each
    // kernel casts it locally.
    private static final Object SPECIES = DoubleVector.SPECIES_PREFERRED;

    // Float species with the SAME lane count as the preferred double
    // species (half the vector bit width), so a float load + F2D convert
    // feeds the double fma in identical 8-element groups — the mixed
    // kernels below are therefore bit-identical to the double kernels on
    // pre-widened copies. Null when the half-width shape does not exist
    // (1-lane double species), where the scalar tail loop covers everything
    // and equals the 1-lane fold exactly.
    private static final Object FSPECIES = halfWidthFloatSpecies();

    private static Object halfWidthFloatSpecies() {
        VectorSpecies<Double> s = DoubleVector.SPECIES_PREFERRED;
        int half = s.vectorShape().vectorBitSize() / 2;
        if (half < 64) {
            return null;
        }
        return VectorSpecies.of(float.class, VectorShape.forBitSize(half));
    }

    // Byte species with the SAME lane count as the preferred double
    // species (1/8 the bit width): i8 converts B2D (sign-extending
    // cast); u8 adds 256 to the negative lanes afterwards (zero-extend ≡
    // sign-extend + 256·[x<0], exact in doubles — convertShape has no
    // ZERO_EXTEND path to double). The conversion keeps the lane-group
    // structure of the double kernels, so byte SIMD results are
    // bit-identical to the SIMD double kernels on pre-widened copies.
    // Null when the 1/8-width byte shape does not exist (< 512-bit
    // doubles): the scalar tail then covers everything, equal to the
    // scalar fold.
    private static final Object BSPECIES = eighthWidthByteSpecies();

    private static Object eighthWidthByteSpecies() {
        VectorSpecies<Double> s = DoubleVector.SPECIES_PREFERRED;
        int eighth = s.vectorShape().vectorBitSize() / 8;
        if (eighth < 64) {
            return null;
        }
        return VectorSpecies.of(byte.class, VectorShape.forBitSize(eighth));
    }

    private SimdKernels() {}

    /** Lane count of the preferred species (8 on AVX-512, 4 on AVX2). */
    public static int lanes() {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        return S.length();
    }

    /** Squared L2 distance, lane-accumulated then reduced. */
    public static double l2(double[] a, double[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = DoubleVector.fromArray(S, b, i);
            DoubleVector d = va.sub(vb);
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - b[i];
            s += d * d;
        }
        return s;
    }

    /** Inner product, lane-accumulated then reduced. */
    public static double ip(double[] a, double[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = DoubleVector.fromArray(S, b, i);
            acc = va.fma(vb, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * b[i];
        }
        return s;
    }

    /**
     * Cosine similarity: dot, |a|^2 and |b|^2 in one fused pass (three
     * lane accumulators), mirroring the scalar kernel's single-loop shape.
     * Returns 0 when either norm is zero (scalar-kernel convention).
     */
    public static double cosine(double[] a, double[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = DoubleVector.fromArray(S, b, i);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = b[i];
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    // ---- mixed-precision kernels (f32-resident rows, double arithmetic) --
    // Widen-at-load via F2D shape conversion; group structure matches the
    // double kernels exactly, so results are bit-identical to running the
    // double kernel on a pre-widened copy of the float array.

    /** Load lane group i..i+lanes from a float array as a DoubleVector. */
    private static DoubleVector widen(VectorSpecies<Double> s, Object fsObj,
                                      float[] b, int i) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Float> fs = (VectorSpecies<Float>) fsObj;
        return (DoubleVector) FloatVector.fromArray(fs, b, i)
            .convertShape(VectorOperators.F2D, s, 0);
    }

    /** Squared L2, double query vs float row. */
    public static double l2DF(double[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widen(S, FSPECIES, b, i);
            DoubleVector d = va.sub(vb);
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - (double) b[i];
            s += d * d;
        }
        return s;
    }

    /** Squared L2, float row vs float row. */
    public static double l2FF(float[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = widen(S, FSPECIES, a, i);
            DoubleVector vb = widen(S, FSPECIES, b, i);
            DoubleVector d = va.sub(vb);
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = (double) a[i] - (double) b[i];
            s += d * d;
        }
        return s;
    }

    /** Inner product, double query vs float row. */
    public static double ipDF(double[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            acc = va.fma(widen(S, FSPECIES, b, i), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * (double) b[i];
        }
        return s;
    }

    /** Inner product, float row vs float row. */
    public static double ipFF(float[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            acc = widen(S, FSPECIES, a, i).fma(widen(S, FSPECIES, b, i), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += (double) a[i] * (double) b[i];
        }
        return s;
    }

    /** Cosine similarity, double query vs float row. */
    public static double cosineDF(double[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widen(S, FSPECIES, b, i);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = b[i];
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    // ---- byte-resident kernels (i8/u8 rows, double arithmetic) -----------
    // Widen-at-load: i8 via B2D (sign-extending cast), u8 via
    // ZERO_EXTEND_B2I then I2D. Same lane-group structure as the double
    // kernels → bit-identical to the SIMD double kernels on pre-widened
    // copies (SimdSpec).

    /** Load lane group i..i+lanes of a byte array as a DoubleVector.
     *
     * The u8 fix-up deliberately stays sign-extend + masked +256: a true
     * zero-extend is NOT available on this JDK. convertShape(
     * ZERO_EXTEND_B2S/B2I) miscomputes its domain mask for byte sources
     * and throws IllegalArgumentException (JDK 17 incubator), and the
     * working alternative (B2S sign-extend, lanewise AND 0xFF, S2D)
     * destabilizes C2's vector intrinsics PROCESS-WIDE — measured in
     * KernelBench: the first leg through the short hop runs at full rate
     * (u8 l2 62.9M pairs/s, 4.4×), then every later byte kernel in the
     * same JVM collapses to ~1-2M pairs/s (0.1× of scalar), i8 included,
     * with or without the signed/unsigned bodies split into separate
     * methods. The masked fix-up benches stable across all legs. */
    private static DoubleVector widenB(VectorSpecies<Double> s, byte[] b,
                                       int i, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Byte> bs = (VectorSpecies<Byte>) BSPECIES;
        ByteVector bv = ByteVector.fromArray(bs, b, i);
        DoubleVector vd =
            (DoubleVector) bv.convertShape(VectorOperators.B2D, s, 0);
        if (!unsigned) {
            return vd;
        }
        // zero-extend = sign-extend + 256 on the negative lanes (exact)
        return vd.add(256.0, vd.lt(0.0));
    }

    private static double widenOne(byte x, boolean unsigned) {
        return unsigned ? (double) (x & 0xFF) : (double) x;
    }

    /** Squared L2, double query vs byte row. */
    public static double l2DB(double[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector d = va.sub(widenB(S, b, i, unsigned));
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - widenOne(b[i], unsigned);
            s += d * d;
        }
        return s;
    }

    /** Inner product, double query vs byte row. */
    public static double ipDB(double[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            acc = va.fma(widenB(S, b, i, unsigned), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * widenOne(b[i], unsigned);
        }
        return s;
    }

    /** Cosine similarity, double query vs byte row. */
    public static double cosineDB(double[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widenB(S, b, i, unsigned);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = widenOne(b[i], unsigned);
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    /** Squared L2, byte row vs byte row (build-path pair kernel). */
    public static double l2BB(byte[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector d = widenB(S, a, i, unsigned)
                .sub(widenB(S, b, i, unsigned));
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = widenOne(a[i], unsigned) - widenOne(b[i], unsigned);
            s += d * d;
        }
        return s;
    }

    /** Inner product, byte row vs byte row. */
    public static double ipBB(byte[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            acc = widenB(S, a, i, unsigned)
                .fma(widenB(S, b, i, unsigned), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += widenOne(a[i], unsigned) * widenOne(b[i], unsigned);
        }
        return s;
    }

    /** Cosine similarity, byte row vs byte row. */
    public static double cosineBB(byte[] a, byte[] b, boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = widenB(S, a, i, unsigned);
            DoubleVector vb = widenB(S, b, i, unsigned);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = widenOne(a[i], unsigned);
            double y = widenOne(b[i], unsigned);
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    /** Cosine similarity, float row vs float row. */
    public static double cosineFF(float[] a, float[] b) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = widen(S, FSPECIES, a, i);
            DoubleVector vb = widen(S, FSPECIES, b, i);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = b[i];
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }
    // ---- offset (flat tile) kernels --------------------------------------
    // The SoA-tile twins of the kernels above: the row lives at
    // flat[off, off + a.length) of ONE packed primitive array (FlatKnn's
    // chunked scan, BatchScore's tiles), so the per-pair slice copy the
    // default Metric.computeAt* would pay disappears. Same lane-group
    // structure and tail order as the non-offset kernels -> identical
    // results for the same row values.

    /** Squared L2 at an offset of a flat double tile. */
    public static double l2At(double[] a, double[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = DoubleVector.fromArray(S, flat, off + i);
            DoubleVector d = va.sub(vb);
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - flat[off + i];
            s += d * d;
        }
        return s;
    }

    /** Inner product at an offset of a flat double tile. */
    public static double ipAt(double[] a, double[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            acc = va.fma(DoubleVector.fromArray(S, flat, off + i), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * flat[off + i];
        }
        return s;
    }

    /** Cosine similarity at an offset of a flat double tile. */
    public static double cosineAt(double[] a, double[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = DoubleVector.fromArray(S, flat, off + i);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = flat[off + i];
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    /** Squared L2, double query vs a float row in a flat tile. */
    public static double l2DFAt(double[] a, float[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widen(S, FSPECIES, flat, off + i);
            DoubleVector d = va.sub(vb);
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - (double) flat[off + i];
            s += d * d;
        }
        return s;
    }

    /** Inner product, double query vs a float row in a flat tile. */
    public static double ipDFAt(double[] a, float[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            acc = va.fma(widen(S, FSPECIES, flat, off + i), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * (double) flat[off + i];
        }
        return s;
    }

    /** Cosine similarity, double query vs a float row in a flat tile. */
    public static double cosineDFAt(double[] a, float[] flat, int off) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = FSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widen(S, FSPECIES, flat, off + i);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = (double) flat[off + i];
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    /** Squared L2, double query vs a byte row in a flat tile. */
    public static double l2DBAt(double[] a, byte[] flat, int off,
                                boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector d = va.sub(widenB(S, flat, off + i, unsigned));
            acc = d.fma(d, acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double d = a[i] - widenOne(flat[off + i], unsigned);
            s += d * d;
        }
        return s;
    }

    /** Inner product, double query vs a byte row in a flat tile. */
    public static double ipDBAt(double[] a, byte[] flat, int off,
                                boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector acc = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            acc = va.fma(widenB(S, flat, off + i, unsigned), acc);
        }
        double s = acc.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            s += a[i] * widenOne(flat[off + i], unsigned);
        }
        return s;
    }

    /** Cosine similarity, double query vs a byte row in a flat tile. */
    public static double cosineDBAt(double[] a, byte[] flat, int off,
                                    boolean unsigned) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        int n = a.length;
        int bound = BSPECIES == null ? 0 : S.loopBound(n);
        DoubleVector dot = DoubleVector.zero(S);
        DoubleVector na = DoubleVector.zero(S);
        DoubleVector nb = DoubleVector.zero(S);
        int i = 0;
        for (; i < bound; i += S.length()) {
            DoubleVector va = DoubleVector.fromArray(S, a, i);
            DoubleVector vb = widenB(S, flat, off + i, unsigned);
            dot = va.fma(vb, dot);
            na = va.fma(va, na);
            nb = vb.fma(vb, nb);
        }
        double sd = dot.reduceLanes(VectorOperators.ADD);
        double sa = na.reduceLanes(VectorOperators.ADD);
        double sb = nb.reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            double x = a[i];
            double y = widenOne(flat[off + i], unsigned);
            sd += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0.0 || sb == 0.0) {
            return 0.0;
        }
        return sd / (Math.sqrt(sa) * Math.sqrt(sb));
    }

    // ---- dimension-major tile kernels (lanes = rows) ---------------------
    // The tile is DIMENSION-MAJOR: tT[i * cap + r] is element i of row r,
    // already widened to double. Each vector lane is a different ROW, and
    // every lane folds its own pair in element order with unfused
    // sub/mul/add from a +0.0 start: the exact operation sequence of the
    // scalar Metric.L2 / Metric.IP fold (computeAt / computeAtF), so every
    // out[r] carries the scalar kernel's bits. No lane reduction happens,
    // which is what keeps it bit-identical where the row-major kernels
    // above are not. Four vector accumulators (4 * lanes rows) run in
    // parallel, so the sweep is throughput-bound instead of bound by the
    // latency of one add chain. Rows past the last full lane group take
    // the scalar fold.

    /** Squared L2 of q against rows [0, n) of a dimension-major tile. */
    public static void l2TileT(double[] q, double[] tT, int cap, int n,
                               double[] out) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        final int L = S.length();
        final int d = q.length;
        int r = 0;
        for (; r + 4 * L <= n; r += 4 * L) {
            DoubleVector a0 = DoubleVector.zero(S);
            DoubleVector a1 = a0;
            DoubleVector a2 = a0;
            DoubleVector a3 = a0;
            for (int i = 0, off = r; i < d; i++, off += cap) {
                DoubleVector qi = DoubleVector.broadcast(S, q[i]);
                DoubleVector x0 = qi.sub(DoubleVector.fromArray(S, tT, off));
                DoubleVector x1 =
                    qi.sub(DoubleVector.fromArray(S, tT, off + L));
                DoubleVector x2 =
                    qi.sub(DoubleVector.fromArray(S, tT, off + 2 * L));
                DoubleVector x3 =
                    qi.sub(DoubleVector.fromArray(S, tT, off + 3 * L));
                a0 = a0.add(x0.mul(x0));
                a1 = a1.add(x1.mul(x1));
                a2 = a2.add(x2.mul(x2));
                a3 = a3.add(x3.mul(x3));
            }
            a0.intoArray(out, r);
            a1.intoArray(out, r + L);
            a2.intoArray(out, r + 2 * L);
            a3.intoArray(out, r + 3 * L);
        }
        for (; r + L <= n; r += L) {
            DoubleVector a0 = DoubleVector.zero(S);
            for (int i = 0, off = r; i < d; i++, off += cap) {
                DoubleVector x0 = DoubleVector.broadcast(S, q[i])
                    .sub(DoubleVector.fromArray(S, tT, off));
                a0 = a0.add(x0.mul(x0));
            }
            a0.intoArray(out, r);
        }
        for (; r < n; r++) {
            double acc = 0.0;
            for (int i = 0, off = r; i < d; i++, off += cap) {
                double x = q[i] - tT[off];
                acc += x * x;
            }
            out[r] = acc;
        }
    }

    /** Inner product of q with rows [0, n) of a dimension-major tile. */
    public static void ipTileT(double[] q, double[] tT, int cap, int n,
                               double[] out) {
        @SuppressWarnings("unchecked")
        final VectorSpecies<Double> S = (VectorSpecies<Double>) SPECIES;
        final int L = S.length();
        final int d = q.length;
        int r = 0;
        for (; r + 4 * L <= n; r += 4 * L) {
            DoubleVector a0 = DoubleVector.zero(S);
            DoubleVector a1 = a0;
            DoubleVector a2 = a0;
            DoubleVector a3 = a0;
            for (int i = 0, off = r; i < d; i++, off += cap) {
                DoubleVector qi = DoubleVector.broadcast(S, q[i]);
                a0 = a0.add(qi.mul(DoubleVector.fromArray(S, tT, off)));
                a1 = a1.add(qi.mul(DoubleVector.fromArray(S, tT, off + L)));
                a2 = a2.add(
                    qi.mul(DoubleVector.fromArray(S, tT, off + 2 * L)));
                a3 = a3.add(
                    qi.mul(DoubleVector.fromArray(S, tT, off + 3 * L)));
            }
            a0.intoArray(out, r);
            a1.intoArray(out, r + L);
            a2.intoArray(out, r + 2 * L);
            a3.intoArray(out, r + 3 * L);
        }
        for (; r + L <= n; r += L) {
            DoubleVector a0 = DoubleVector.zero(S);
            for (int i = 0, off = r; i < d; i++, off += cap) {
                a0 = a0.add(DoubleVector.broadcast(S, q[i])
                    .mul(DoubleVector.fromArray(S, tT, off)));
            }
            a0.intoArray(out, r);
        }
        for (; r < n; r++) {
            double acc = 0.0;
            for (int i = 0, off = r; i < d; i++, off += cap) {
                acc += q[i] * tT[off];
            }
            out[r] = acc;
        }
    }
}
