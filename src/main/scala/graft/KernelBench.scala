package graft

import graft.core.{Metric, SimdSupport}

/** Single-thread distance-kernel microbenchmark: scalar fold vs the JDK
  * Vector API kernels (graft.simd.SimdKernels) — the measurement behind
  * SCALE.md's kernel-rate numbers, and the Spark-side analog of the
  * reference's distance micro-benchmarks
  * (benchmark/include/svs-benchmark/datasets.h measurement model).
  * Run: `sbt "runMain graft.KernelBench"`. Emits one JSON line per
  * (dims, metric) with pairs/sec for both kernels.
  *
  * No SparkSession: this isolates the per-pair kernel cost that
  * mapPartitions loops (FlatKnn/VamanaKernel) pay per row, with the JIT
  * warmed the same way executor threads warm.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val dims = sys.env.get("SPARK_GRAFT_KERNEL_DIMS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(64, 128, 768))
    val n = 2000
    val reps = 50
    val rounds = 7
    val rnd = new scala.util.Random(42)
    println(s"""{"simd_available":${SimdSupport.available},""" +
      s""""lanes":${SimdSupport.lanes}}""")
    for (d <- dims) {
      val vecs = Array.fill(n)(Array.fill(d)(rnd.nextDouble() * 2 - 1))
      val q = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      // best-of-rounds pairs/sec; the sink defeats dead-code elimination
      def bench(m: Metric): Double = {
        var best = Double.MaxValue
        var sink = 0.0
        for (_ <- 0 until rounds) {
          val t0 = System.nanoTime()
          var rep = 0
          while (rep < reps) {
            var i = 0
            while (i < n) { sink += m.compute(q, vecs(i)); i += 1 }
            rep += 1
          }
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        if (sink == Double.MinPositiveValue) print("") // keep sink live
        n.toDouble * reps / best
      }
      for (base <- Metric.all) {
        val scalar = bench(base)
        val simd = bench(Metric.SimdOf(base))
        println(f"""{"dims":$d,"metric":"${base.name}",""" +
          f""""scalar_pairs_per_sec":${scalar.toLong},""" +
          f""""simd_pairs_per_sec":${simd.toLong},""" +
          f""""speedup":${simd / scalar}%.3f}""")
      }
      // mixed-precision twins (f32-resident rows, double arithmetic) —
      // the FloatStore build path's per-pair kernels
      val vecsF = vecs.map(_.map(_.toFloat))
      val qF = q.map(_.toFloat)
      def benchFF(m: Metric): Double = {
        var best = Double.MaxValue
        var sink = 0.0
        for (_ <- 0 until rounds) {
          val t0 = System.nanoTime()
          var rep = 0
          while (rep < reps) {
            var i = 0
            while (i < n) { sink += m.computeFF(qF, vecsF(i)); i += 1 }
            rep += 1
          }
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        if (sink == Double.MinPositiveValue) print("")
        n.toDouble * reps / best
      }
      for (base <- Metric.all) {
        val ff = benchFF(base)
        val ffSimd = benchFF(Metric.SimdOf(base))
        println(f"""{"dims":$d,"metric":"${base.name}_f32",""" +
          f""""scalar_pairs_per_sec":${ff.toLong},""" +
          f""""simd_pairs_per_sec":${ffSimd.toLong},""" +
          f""""speedup":${ffSimd / ff}%.3f}""")
      }
      // byte-resident twins (i8/u8 rows, double arithmetic) — the
      // ByteStore/byte-scan per-pair kernels
      val vecsB = vecs.map(_.map(x => math.floor(x * 100).toByte))
      def benchDB(m: Metric, unsigned: Boolean): Double = {
        var best = Double.MaxValue
        var sink = 0.0
        for (_ <- 0 until rounds) {
          val t0 = System.nanoTime()
          var rep = 0
          while (rep < reps) {
            var i = 0
            while (i < n) {
              sink += m.computeDB(q, vecsB(i), unsigned); i += 1 }
            rep += 1
          }
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        if (sink == Double.MinPositiveValue) print("")
        n.toDouble * reps / best
      }
      for (base <- Metric.all; unsigned <- Seq(false, true)) {
        val db = benchDB(base, unsigned)
        val dbSimd = benchDB(Metric.SimdOf(base), unsigned)
        val tag = if (unsigned) "u8" else "i8"
        println(f"""{"dims":$d,"metric":"${base.name}_$tag%s",""" +
          f""""scalar_pairs_per_sec":${db.toLong},""" +
          f""""simd_pairs_per_sec":${dbSimd.toLong},""" +
          f""""speedup":${dbSimd / db}%.3f}""")
      }
      // tile sweep: FlatKnn.TileScan's per-query kernel over one packed
      // tile of f32 rows — the row-major scalar fold (Metric.scoreTileF)
      // against the dimension-major lane sweep (SimdKernels.l2TileT) on
      // the same rows, with the outputs compared by raw bits
      if (SimdSupport.available) {
        val cap = graft.operators.FlatKnn.TileScan.cap(d, 8,
          4 * SimdSupport.lanes)
        val rows = Array.tabulate(cap)(r => vecsF(r % n))
        val rowMajor = rows.flatten
        val dimMajor = new Array[Double](cap * d)
        for (r <- 0 until cap; i <- 0 until d)
          dimMajor(i * cap + r) = rows(r)(i)
        val sweeps = math.max(1, reps * n / cap)
        def benchTile(sweep: Array[Double] => Unit): Double = {
          val out = new Array[Double](cap)
          var best = Double.MaxValue
          var sink = 0.0
          for (_ <- 0 until rounds) {
            val t0 = System.nanoTime()
            var s = 0
            while (s < sweeps) { sweep(out); sink += out(s % cap); s += 1 }
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          if (sink == Double.MinPositiveValue) print("")
          cap.toDouble * sweeps / best
        }
        val rowSweep = (out: Array[Double]) =>
          Metric.L2.scoreTileF(q, rowMajor, d, cap, out)
        val laneSweep = (out: Array[Double]) =>
          graft.simd.SimdKernels.l2TileT(q, dimMajor, cap, cap, out)
        val rowRate = benchTile(rowSweep)
        val laneRate = benchTile(laneSweep)
        val (o1, o2) = (new Array[Double](cap), new Array[Double](cap))
        rowSweep(o1); laneSweep(o2)
        val same = o1.indices.forall(r =>
          java.lang.Double.doubleToRawLongBits(o1(r)) ==
            java.lang.Double.doubleToRawLongBits(o2(r)))
        println(f"""{"experiment":"tile_sweep","dims":$d,"metric":"l2",""" +
          f""""rows":$cap,"row_major_pairs_per_sec":${rowRate.toLong},""" +
          f""""lanes_rows_pairs_per_sec":${laneRate.toLong},""" +
          f""""speedup":${laneRate / rowRate}%.3f,""" +
          f""""bit_identical":$same}""")
      }
    }

    // ---- flat-kNN driver merge --------------------------------------------
    // The rate at which the driver folds task partials into one PerKeyTopK
    // (KnnPartialExec's result handler): partitions·|Q|·k partials a call,
    // each task's buffer best-first per query, as TileScan emits it. This
    // is the measured rate behind the driver-intake bound
    // (KnnPartialExec.treeLevel).
    {
      val nq = 250
      val k = 10
      for (parts <- Seq(4, 32, 1024)) {
        val bufs = Array.tabulate(parts) { _ =>
          val keys = new Array[Long](nq * k)
          val ids = new Array[Long](nq * k)
          val dists = new Array[Double](nq * k)
          for (q <- 0 until nq) {
            val ds = Array.fill(k)(rnd.nextDouble()).sorted
            for (j <- 0 until k) {
              keys(q * k + j) = q
              ids(q * k + j) = rnd.nextInt(1 << 30).toLong
              dists(q * k + j) = ds(j)
            }
          }
          graft.operators.KnnPartials(keys, ids, dists)
        }
        var best = Double.MaxValue
        var sink = 0L
        for (_ <- 0 until rounds) {
          val t0 = System.nanoTime()
          val top = new graft.operators.PerKeyTopK(k, true)
          bufs.foreach(top.addAll)
          sink += top.partials.ids.length
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        val partials = parts.toDouble * nq * k
        println(f"""{"experiment":"topk_merge","queries":$nq,"k":$k,""" +
          f""""partitions":$parts,"partials":${partials.toLong},""" +
          f""""partials_per_sec":${(partials / best).toLong},""" +
          f""""merge_ms":${best * 1000}%.3f,"rows":${sink / rounds}}""")
      }
    }

    // ---- overflow re-prune second-gather share ----------------------------
    // The overflow path gathers (dst :: neighbors) to build the re-prune
    // pool, then robustPrune gathers the SAME rows again (its contract
    // gathers after in-place compaction+sort, so the caller's view can't
    // be reused without renumbering pool slots — which would change
    // distance-tie order: `less` tie-breaks on slot id). This leg bounds
    // what a reuse overload could save: the second gather's wall as a
    // fraction of the full robustPrune call, on the half-resident store
    // (the residency with the most expensive decode), at the pool widths
    // the build actually sees (maxDegree 16/64 + overflow slack).
    {
      import graft.operators.VamanaKernel
      val d = 64
      val rnd2 = new scala.util.Random(7)
      val nRows = 512
      val halfRows = Array.fill(nRows)(Array.fill(d)(
        graft.functions.Binary16.floatToHalf(rnd2.nextDouble().toFloat)))
      val store = new VamanaKernel.HalfStore(halfRows, bf16 = false)
      for (w <- Seq(16, 32, 64, 96)) {
        val slots = Array.tabulate(w)(i => (i * 5) % nRows)
        val q0 = Array.fill(d)(0.5)
        def mkPool(): VamanaKernel.CandidatePool = {
          val p = new VamanaKernel.CandidatePool(w)
          var i = 0
          while (i < w) {
            p.add(slots(i), store.dist(Metric.L2, q0, slots(i))); i += 1 }
          p
        }
        // robustPrune mutates its pool, so one per rep — but built
        // OUTSIDE the timed window (pool construction pays w decoded
        // dist calls, roughly a gather's cost, and charging it to the
        // prune would bias the share low). The gather numerator uses
        // the COMPACTED slot set (node dropped — what robustPrune
        // actually re-gathers after its in-place dedup).
        val compacted = slots.filter(_ != 0)
        var bestPrune = Double.MaxValue
        var bestGather = Double.MaxValue
        var sink = 0
        for (_ <- 0 until rounds) {
          val pools = Array.fill(reps)(mkPool())
          val t0 = System.nanoTime()
          var rep = 0
          while (rep < reps) {
            sink += VamanaKernel.robustPrune(0, pools(rep), 1.2, w / 2,
              store, Metric.L2).length
            rep += 1
          }
          bestPrune = math.min(bestPrune, (System.nanoTime() - t0) / 1e9)
          val t1 = System.nanoTime()
          rep = 0
          while (rep < reps) {
            sink += store.gather(compacted).n
            rep += 1
          }
          bestGather = math.min(bestGather, (System.nanoTime() - t1) / 1e9)
        }
        if (sink == Int.MinValue) print("")
        println(f"""{"experiment":"overflow_regather","pool_w":$w,""" +
          f""""dims":$d,"prune_call_sec":${bestPrune / reps}%.3e,""" +
          f""""second_gather_sec":${bestGather / reps}%.3e,""" +
          f""""gather_share":${bestGather / bestPrune}%.3f}""")
      }
    }

    // Binary (Hamming) store A/B: the v1 words-as-doubles DoubleStore vs
    // the v2 full-density WordStore (round 14) on the SAME codes — the
    // kernel-level attribution of the walk-state halving that the 10⁸
    // run only shows blended into probed I/O. Rows are random bit
    // patterns; the store exceeds L2 at every dims so the resident-bytes
    // halving shows as memory traffic, not just instruction count.
    // Queries arrive in the v1 word-double space for BOTH stores (the
    // walk contract; WordStore recombines once per query, identity-
    // cached — included in the measurement, as in serving).
    {
      import graft.operators.VamanaKernel
      val rnd3 = new scala.util.Random(11)
      for (d <- Seq(64, 256, 1024)) {
        val words64 = (d + 63) / 64
        val words32 = (d + 31) / 32
        val nRows = math.max(1 << 14,
          math.min(1 << 20, (1 << 25) / (words32 * 8)))
        val rowsL = Array.fill(nRows)(Array.fill(words64)(rnd3.nextLong()))
        val rowsD = rowsL.map { ws =>
          val out = new Array[Double](words32)
          var j = 0
          while (j < words64) {
            out(2 * j) = (ws(j) & 0xFFFFFFFFL).toDouble
            if (2 * j + 1 < words32) out(2 * j + 1) = (ws(j) >>> 32).toDouble
            j += 1
          }
          out
        }
        val q = rowsD(0).clone()
        val dStore = new VamanaKernel.DoubleStore(rowsD)
        val wStore = new VamanaKernel.WordStore(rowsL)
        def benchStore(st: VamanaKernel.VecStore): Double = {
          val hamReps = 10
          var best = Double.MaxValue
          var sink = 0.0
          for (_ <- 0 until rounds) {
            val t0 = System.nanoTime()
            var rep = 0
            while (rep < hamReps) {
              var i = 0
              while (i < nRows) {
                sink += st.dist(Metric.Hamming, q, i); i += 1 }
              rep += 1
            }
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          if (sink == Double.MinPositiveValue) print("")
          nRows.toDouble * hamReps / best
        }
        val v1 = benchStore(dStore)
        val v2 = benchStore(wStore)
        println(f"""{"experiment":"hamming_store_ab","dims":$d,""" +
          f""""rows":$nRows,"v1_bytes_per_row":${words32 * 8},""" +
          f""""v2_bytes_per_row":${words64 * 8},""" +
          f""""v1_pairs_per_sec":${v1.toLong},""" +
          f""""v2_pairs_per_sec":${v2.toLong},""" +
          f""""speedup":${v2 / v1}%.3f}""")
      }
    }
  }
}
