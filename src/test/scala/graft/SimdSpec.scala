package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, SimdSupport, Tables}
import graft.operators.FlatKnn

/** The SIMD kernels (graft.simd.SimdKernels, JDK Vector API) are the opt-in
  * production twins of the scalar fold kernels: this suite pins their
  * agreement contract — near-ulp value agreement across dims (including
  * non-lane-multiple tails), determinism, graceful wrap/unwrap, and
  * end-to-end top-k agreement with the certified scalar path. The certified
  * oracle paths themselves stay scalar (bit-identical to DuckDB); this is
  * the same tolerance-not-bit-exactness contract the reference applies to
  * its own AVX kernels. The dimension-major tile kernels the flat scans
  * run for L2/IP are the exception: lanes hold rows, not elements, so
  * they are pinned bit for bit to the scalar fold. */
class SimdSpec extends SparkSpec {

  test("Vector API module is present in the test JVM") {
    // build.sbt adds --add-modules jdk.incubator.vector to forked JVMs; if
    // that flag is ever lost this fails loudly instead of silently testing
    // the scalar fallback.
    assert(SimdSupport.available,
      "jdk.incubator.vector not loadable — check build.sbt javaOptions")
    assert(SimdSupport.lanes >= 2, s"suspicious lane count ${SimdSupport.lanes}")
  }

  private def randVec(rnd: scala.util.Random, d: Int): Array[Double] =
    Array.fill(d)(rnd.nextDouble() * 2.0 - 1.0)

  test("SIMD kernels agree with the scalar fold near-ulp across dims") {
    val rnd = new scala.util.Random(42)
    // dims straddle lane boundaries: tails of every length get exercised
    for (d <- Seq(1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 63, 64, 65, 128, 300);
         _ <- 0 until 20) {
      val a = randVec(rnd, d)
      val b = randVec(rnd, d)
      for (m <- Metric.all) {
        val scalar = m.compute(a, b)
        val simd = Metric.SimdOf(m).compute(a, b)
        val scale = math.max(1.0, math.abs(scalar))
        assert(math.abs(simd - scalar) / scale < 1e-12,
          s"${m.name} d=$d scalar=$scalar simd=$simd")
      }
    }
  }

  test("SIMD byte kernels are bit-identical to the SIMD double kernels " +
      "on widened copies and near-ulp to the scalar byte fold") {
    assume(SimdSupport.available)
    val rnd = new scala.util.Random(23)
    for (d <- Seq(1, 7, 8, 9, 16, 17, 64, 65, 129);
         unsigned <- Seq(false, true); _ <- 0 until 10) {
      val a = randVec(rnd, d)
      val bb = Array.fill(d)((rnd.nextInt(256) - 128).toByte)
      val wide = bb.map(x =>
        if (unsigned) (x & 0xFF).toDouble else x.toDouble)
      val bb2 = Array.fill(d)((rnd.nextInt(256) - 128).toByte)
      val wide2 = bb2.map(x =>
        if (unsigned) (x & 0xFF).toDouble else x.toDouble)
      for (m <- Metric.all) {
        val s = Metric.SimdOf(m)
        assert(s.computeDB(a, bb, unsigned) == s.compute(a, wide),
          s"${m.name} DB vs SIMD-double d=$d unsigned=$unsigned")
        assert(s.computeBB(bb, bb2, unsigned) == s.compute(wide, wide2),
          s"${m.name} BB vs SIMD-double d=$d unsigned=$unsigned")
        val scalar = m.computeDB(a, bb, unsigned)
        val simd = s.computeDB(a, bb, unsigned)
        val scale = math.max(1.0, math.abs(scalar))
        assert(math.abs(simd - scalar) / scale < 1e-12,
          s"${m.name} DB vs scalar d=$d unsigned=$unsigned")
      }
    }
  }

  test("SIMD kernels are deterministic (fixed lane order, no data races)") {
    val rnd = new scala.util.Random(7)
    val a = randVec(rnd, 129)
    val b = randVec(rnd, 129)
    for (m <- Metric.all) {
      val s = Metric.SimdOf(m)
      val first = s.compute(a, b)
      assert((0 until 100).forall(_ => s.compute(a, b) == first),
        s"${m.name} SIMD kernel not bit-stable across calls")
    }
  }

  test("cosine zero-norm convention matches the scalar kernel") {
    val z = Array.fill(16)(0.0)
    val v = Array.tabulate(16)(_.toDouble)
    assert(Metric.SimdOf(Metric.Cosine).compute(z, v) == 0.0)
    assert(Metric.SimdOf(Metric.Cosine).compute(v, z) == 0.0)
    assert(Metric.SimdOf(Metric.Cosine).compute(z, z) == 0.0)
  }

  test("Metric.simd wraps once, preserves ordering/column/SQL forms") {
    val s = Metric.simd(Metric.L2)
    assert(s == Metric.SimdOf(Metric.L2))
    assert(Metric.simd(s) == s, "double-wrap")
    assert(s.ascending == Metric.L2.ascending)
    assert(Metric.simd(Metric.IP).ascending == Metric.IP.ascending)
    for (m <- Metric.all)
      assert(Metric.SimdOf(m).sqlExpr("a", "b", 4) == m.sqlExpr("a", "b", 4))
  }

  test("SIMD SQL expressions compute the exact lane-kernel values on " +
      "double, float, and mixed columns") {
    val s = spark
    GraftFunctions.register(s)
    val rnd = new scala.util.Random(99)
    val rows = Seq.tabulate(40) { i =>
      val d = Seq(3, 8, 17, 64)(i % 4)
      (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1),
        Seq.fill(d)(rnd.nextDouble() * 2 - 1))
    }
    import s.implicits._
    val base = rows.toDF("id", "a", "b")
    val cases = Seq(
      ("d", "d"), ("f", "f"), ("d", "f"), ("f", "d"))
    for ((lt, rt) <- cases) {
      val df = base
        .withColumn("a", if (lt == "f") col("a").cast("array<float>") else col("a"))
        .withColumn("b", if (rt == "f") col("b").cast("array<float>") else col("b"))
      df.createOrReplaceTempView("simd_expr_t")
      val got = s.sql(
        """SELECT id, l2_distance_simd(a, b), inner_product_simd(a, b),
          |cosine_similarity_simd(a, b) FROM simd_expr_t ORDER BY id""".stripMargin)
        .collect()
      // expected: the same SimdKernels calls on the (possibly f32-rounded)
      // values the columns actually hold
      val rounded = df.select("id", "a", "b").orderBy("id").collect().map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble; case d: Double => d }.toArray,
          r.getSeq[Any](2).map {
            case f: Float => f.toDouble; case d: Double => d }.toArray)
      }
      got.zip(rounded).foreach { case (g, (id, a, b)) =>
        assert(g.getLong(0) == id)
        assert(g.getDouble(1) == Metric.SimdOf(Metric.L2).compute(a, b),
          s"l2 $lt/$rt id=$id")
        assert(g.getDouble(2) == Metric.SimdOf(Metric.IP).compute(a, b),
          s"ip $lt/$rt id=$id")
        assert(g.getDouble(3) == Metric.SimdOf(Metric.Cosine).compute(a, b),
          s"cos $lt/$rt id=$id")
      }
    }
  }

  test("SQL kNN via l2_distance_simd rewrites onto KnnPartial and matches " +
      "the scalar SQL kNN id-for-id") {
    val s = spark
    GraftFunctions.register(s)
    graft.plans.KnnJoinApi.install(s)
    Tables.embeddingVectors(s, sfDir).select("id", "vec")
      .createOrReplaceTempView("simd_knn_data")
    Tables.embeddingQueries(s, sfDir).createOrReplaceTempView("simd_knn_q")
    def knnSql(fn: String) = s.sql(
      s"""SELECT query_id, rnk, neighbor_id FROM (
         |  SELECT q.query_id, d.id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY $fn(q.qvec, d.vec) ASC, d.id ASC) AS rnk
         |  FROM simd_knn_q q CROSS JOIN simd_knn_data d) t
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)
    val simdDf = knnSql("l2_distance_simd")
    assert(simdDf.queryExecution.optimizedPlan.toString.contains("KnnPartial"),
      "l2_distance_simd window pattern did not rewrite")
    val simd = simdDf.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val scalar = knnSql("l2_distance").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(simd == scalar)
    assert(simd.nonEmpty)
  }

  test("flat kNN with the SIMD kernel matches the certified scalar path") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    for (m <- Seq(Metric.L2, Metric.Cosine)) {
      val scalar = FlatKnn.search(q, data, 10, m)
        .select("query_id", "rnk", "neighbor_id", "dist")
        .orderBy("query_id", "rnk").collect()
      val simd = FlatKnn.search(q, data, 10, Metric.simd(m))
        .select("query_id", "rnk", "neighbor_id", "dist")
        .orderBy("query_id", "rnk").collect()
      assert(scalar.length == simd.length)
      scalar.zip(simd).foreach { case (a, b) =>
        assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
        // same neighbor at each rank, or an adjacent swap of a near-tie
        // whose distances agree within ulp noise of the fold reorder
        if (a.getLong(2) != b.getLong(2)) {
          val scale = math.max(1.0, math.abs(a.getDouble(3)))
          assert(math.abs(a.getDouble(3) - b.getDouble(3)) / scale < 1e-9,
            s"${m.name} rank ${a.getLong(1)}: ids ${a.getLong(2)} vs " +
              s"${b.getLong(2)} with non-tied dists")
        }
      }
    }
  }

  private def rawBits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** Pack row-major rows into the dimension-major double tile the lane
    * kernels read: tile(i·cap + r) = element i of row r. */
  private def packT(rows: Array[Array[Double]], d: Int, cap: Int)
      : Array[Double] = {
    val t = new Array[Double](cap * d)
    for (r <- rows.indices; i <- 0 until d) t(i * cap + r) = rows(r)(i)
    t
  }

  // ±0.0, NaN, ±∞ and subnormals (double and float32 ones)
  private val specials = Array(0.0, -0.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity,
    java.lang.Double.MIN_VALUE, -1e-310, Float.MinPositiveValue.toDouble,
    -Float.MinPositiveValue.toDouble * 3)

  private def withSpecials(rnd: scala.util.Random, v: Array[Double],
                           p: Double): Array[Double] =
    v.map(x => if (rnd.nextDouble() < p)
      specials(rnd.nextInt(specials.length)) else x)

  test("dimension-major tile kernels are bit-identical to the scalar " +
      "L2/IP folds over f64, f32 and half rows, special values included") {
    assume(SimdSupport.available)
    val lanes = SimdSupport.lanes
    val rnd = new scala.util.Random(5)
    for (d <- Seq(1, 3, 127, 128, 768)) {
      val cap = FlatKnn.TileScan.cap(d, 8, 4 * lanes)
      assert(cap % (4 * lanes) == 0 && cap >= 4 * lanes, s"cap $cap")
      // a 768-d tile holds a single 4·lanes block, so 4·lanes + 3 rows
      // exceed it there
      for (n <- Seq(1, lanes - 1, 4 * lanes + 3, cap).distinct
             .filter(n => n >= 1 && n <= cap)) {
        // special-value density: none, sparse, dense
        for (p <- Seq(0.0, 0.5 / d, 0.2)) {
          val f64 = Array.fill(n)(withSpecials(rnd, randVec(rnd, d), p))
          val f32 = Array.fill(n)(
            withSpecials(rnd, randVec(rnd, d), p).map(_.toFloat))
          val half = Array.fill(n) {
            val bf16 = rnd.nextBoolean()
            Array.fill(d)(graft.functions.HalfVecs.decodeOne(
              rnd.nextInt(1 << 16).toShort, bf16))
          }
          val qs = Seq(randVec(rnd, d), withSpecials(rnd, randVec(rnd, d), p),
            Array.fill(d)(0.0))
          val out = new Array[Double](cap)
          for (q <- qs; m <- Seq(Metric.L2, Metric.IP)) {
            def check(kind: String, rows: Array[Array[Double]],
                      scalar: Int => Double): Unit = {
              java.util.Arrays.fill(out, 42.0)
              if (m == Metric.L2)
                graft.simd.SimdKernels.l2TileT(q, packT(rows, d, cap), cap,
                  n, out)
              else
                graft.simd.SimdKernels.ipTileT(q, packT(rows, d, cap), cap,
                  n, out)
              for (r <- 0 until n) {
                val want = scalar(r)
                // raw bits for every value (±0.0 sign included); a NaN
                // only has to be NaN — neither Java nor IEEE 754 fixes a
                // NaN result's sign or payload, and the JIT's scalar and
                // vector code do not agree on them
                assert(if (want.isNaN) out(r).isNaN
                  else rawBits(out(r)) == rawBits(want),
                  s"${m.name} $kind d=$d n=$n r=$r p=$p: " +
                    s"tile ${out(r)} scalar $want")
              }
              assert(n == cap || out(n) == 42.0, "wrote past n")
            }
            val flat = f64.flatten
            check("f64", f64, r => m.computeAt(q, flat, r * d))
            val fflat = f32.flatten
            check("f32", f32.map(_.map(_.toDouble)),
              r => m.computeAtF(q, fflat, r * d))
            val hflat = half.flatten
            check("half", half.map(_.map(_.toDouble)),
              r => m.computeAtF(q, hflat, r * d))
          }
        }
      }
    }
  }

  test("flat kNN over a corpus that is not a multiple of the tile cap " +
      "equals the window reference, distances bit for bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val d = 128
    val lanes = math.max(1, SimdSupport.lanes)
    // 3 full tiles, then one 4·lanes block, one single-lane block and a
    // scalar tail of 3 rows
    val nRows = 3 * FlatKnn.TileScan.cap(d, 8, 4 * lanes) + 5 * lanes + 3
    val rows = (0 until nRows).map(i => (i.toLong, randVec(rnd, d).toSeq))
    val qRows = (0 until 9).map(i => (i.toLong, randVec(rnd, d).toSeq))
    val data64 = rows.toDF("id", "vec").coalesce(1)
    val q64 = qRows.toDF("query_id", "qvec")
    for ((label, data) <- Seq("f64" -> data64,
           "f32" -> data64.withColumn("vec", col("vec").cast("array<float>")));
         m <- Seq(Metric.L2, Metric.IP)) {
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "rnk", "neighbor_id", "dist")
          .orderBy("query_id", "rnk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            rawBits(r.getDouble(3)))).toSeq
      val fast = rowsOf(FlatKnn.search(q64, data, 10, m))
      val ref = rowsOf(FlatKnn.searchViaWindow(q64, data, 10, m))
      assert(fast.length == 90, s"$label ${m.name}")
      assert(fast === ref, s"$label ${m.name}")
    }
  }
}
