package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType,
  FloatType, LongType, ShortType}
import graft.core.Metric

/** Exhaustive k-NN join (SURVEY §2 J1) — the reference's flat index
  * (include/svs/index/flat/flat.h:321-464) re-expressed for Spark.
  *
  * Fast path (`search`): a `graft.plans.KnnPartial` plan node. The query
  * batch (contract: broadcast-small, exactly like the reference's
  * in-memory query matrix) is broadcast to executors; each data partition
  * is swept once through [[FlatKnn.TileScan]]'s per-query bounded heaps —
  * the analog of the reference's per-tile inserts (flat.h:338-375) — as
  * the tasks of one Spark job, and the driver folds the
  * |partitions|·|Q|·k partials into the ranked top-k as the tasks finish
  * (the reference's final small merge). The big side streams; nothing
  * large shuffles or collects, and the driver's intake stays bounded
  * (`KnnPartialExec.treeLevel`).
  *
  * The declarative variant (`searchViaAggregate`) and the window variant
  * (`searchViaWindow`) keep the same semantics for cross-checks; all three
  * produce bit-identical output (same double fold order, Spark SQL's
  * double order, ties by id).
  *
  * Input: queries(query_id, qvec), data(id, vec). Output best-first:
  * (query_id, rnk, neighbor_id, dist).
  */
object FlatKnn {

  /** Per-partition tiled scan state of `graft.plans.KnnPartialExec`, the
    * one operator under both flat paths ([[search]] and the rewritten SQL
    * top-k) — the
    * reference's flat-index tile posture
    * (include/svs/index/flat/flat.h:175,329-358) and the same trick as
    * BatchScore.probeTopKTiled: rows pack ONCE into a flat
    * structure-of-arrays tile, then each query sweeps the cache-hot tile
    * and a tight insert pass follows. Rows are added in partition order
    * and distances land in row order, so heap state — and every
    * tie-break — evolves exactly as in a row-at-a-time scan. `arr`
    * accepts both UnsafeRow-backed arrays (row scan) and ColumnarArray
    * (columnar scan).
    *
    * Two tile layouts:
    *  - lanes = rows (exactly `Metric.L2` / `Metric.IP` over f64, f32 or
    *    decoded-half rows, when the Vector API is loadable): the tile is
    *    DIMENSION-MAJOR doubles, `tile(i·cap + r)` = element i of row r,
    *    widened exactly at pack time. `SimdKernels.l2TileT` / `ipTileT`
    *    give each vector lane its own row; a lane folds its pair in
    *    element order with unfused sub/mul/add from +0.0 — the scalar
    *    `computeAt`/`computeAtF` fold, operation for operation — so every
    *    distance keeps the scalar bits, while 4·lanes rows fold in
    *    parallel instead of one latency-bound add chain. The `SimdOf`
    *    twins are NOT routed here: their row-major kernels split one pair
    *    across lanes and reduce the lanes at the end, a different fold by
    *    design. `cap` is a whole number of 4·lanes blocks, so only a
    *    partition's last tile has rows in the scalar tail.
    *  - row-major (everything else: cosine, Hamming, the SimdOf twins,
    *    byte rows, JVMs without the Vector API): float32 at half, i8/u8 at
    *    an eighth of the f64 bytes, widened per element inside the metric's
    *    MONOMORPHIC tile kernel ([[Metric.scoreTile]] and twins) —
    *    bit-identical to pre-widened copies (ByteKnnSpec/F32BuildSpec),
    *    and the reference the lane kernel is checked against (SimdSpec). */
  private[graft] final class TileScan(qIds: Array[Long],
      qVecs: Array[Array[Double]], k: Int, asc: Boolean, m: Metric,
      elKind: Char, unsigned: Boolean, bf16: Boolean = false) {
    private val isByte = elKind == 'b'
    // half rows ('h') decode at pack time: the f16→f32 conversion runs
    // once per row per scan instead of once per (query, row) pair. Both
    // half formats inject losslessly into f32 (and f32 into f64), so
    // results are bit-identical to scanning the decoded ARRAY<FLOAT> copy
    // (HalfKnnSpec).
    private val isHalf = elKind == 'h'
    private val isFloat = elKind == 'f' || isHalf
    private val byRows = !isByte && (m == Metric.L2 || m == Metric.IP) &&
      graft.core.SimdSupport.available
    private val isL2 = m == Metric.L2
    private val nq = qIds.length
    private val heaps = Array.fill(nq)(new LocalTopK(k, asc))
    private val elemSize =
      if (byRows) 8 else if (isByte) 1 else if (isFloat) 4 else 8
    private var d = -1
    private var cap = 0
    private var n = 0
    private var tIds: Array[Long] = null
    private var out: Array[Double] = null
    private var flat: Array[Double] = null
    private var fflat: Array[Float] = null
    private var bflat: Array[Byte] = null

    private def flush(): Unit = {
      var q = 0
      while (q < nq) {
        val qv = qVecs(q)
        // loud dims contract: the offset kernels read qv.length elements
        // per row — a longer query would silently read into the NEXT row
        // (the old per-row buffer crashed instead), a shorter one would
        // silently score a prefix
        require(qv.length == d,
          s"query dims ${qv.length} != data dims $d")
        val h = heaps(q)
        if (byRows) {
          if (isL2) graft.simd.SimdKernels.l2TileT(qv, flat, cap, n, out)
          else graft.simd.SimdKernels.ipTileT(qv, flat, cap, n, out)
        }
        else if (isByte) m.scoreTileB(qv, bflat, d, n, out, unsigned)
        else if (isFloat) m.scoreTileF(qv, fflat, d, n, out)
        else m.scoreTile(qv, flat, d, n, out)
        var r = 0
        while (r < n) { h.insert(out(r), tIds(r)); r += 1 }
        q += 1
      }
      n = 0
    }

    private def reinit(d0: Int): Unit = {
      d = d0
      cap = TileScan.cap(d, elemSize,
        if (byRows) 4 * graft.core.SimdSupport.lanes else 1)
      tIds = new Array[Long](cap)
      out = new Array[Double](cap)
      if (isByte) bflat = new Array[Byte](cap * d)
      else if (isFloat && !byRows) fflat = new Array[Float](cap * d)
      else flat = new Array[Double](cap * d)
    }

    def addRow(id: Long,
               arr: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
      val d0 = arr.numElements()
      if (d0 != d) { if (d >= 0) flush(); reinit(d0) }
      // bulk extraction: UnsafeArrayData and ColumnarArray both implement
      // toXArray as ONE memory copy, vs d virtual getX calls per row
      if (byRows) {
        // dimension-major scatter, widened exactly to double
        var i = 0
        var off = n
        if (isHalf) {
          val bits = arr.toShortArray()
          while (i < d) {
            flat(off) = graft.functions.HalfVecs.decodeOne(bits(i), bf16)
            i += 1; off += cap
          }
        } else if (isFloat) {
          val v = arr.toFloatArray()
          while (i < d) { flat(off) = v(i); i += 1; off += cap }
        } else {
          val v = arr.toDoubleArray()
          while (i < d) { flat(off) = v(i); i += 1; off += cap }
        }
      } else {
        val off = n * d
        if (isByte) System.arraycopy(arr.toByteArray(), 0, bflat, off, d)
        else if (isHalf) {
          val bits = arr.toShortArray()
          var i = 0
          while (i < d) {
            fflat(off + i) = graft.functions.HalfVecs.decodeOne(bits(i), bf16)
            i += 1
          }
        }
        else if (isFloat)
          System.arraycopy(arr.toFloatArray(), 0, fflat, off, d)
        else System.arraycopy(arr.toDoubleArray(), 0, flat, off, d)
      }
      tIds(n) = id
      n += 1
      if (n == cap) flush()
    }

    /** Every query's kept candidates, in query order, best-first. */
    def partials(): KnnPartials = {
      if (n > 0) flush()
      KnnPartials.of(qIds, heaps)
    }
  }

  private[graft] object TileScan {
    private val TileBytes = 1 << 18 // ≲ L2-resident per scan task

    /** Rows per tile: as many `d`-element rows of `elemSize` bytes as fit
      * [[TileBytes]], rounded down to a whole number of `block`-row lane
      * blocks, at least one block. */
    def cap(d: Int, elemSize: Int, block: Int): Int = {
      val rows = TileBytes / math.max(1, d * elemSize)
      math.max(block, rows / block * block)
    }
  }

  /** The tile kind of an ARRAY<FLOAT|DOUBLE|TINYINT|SMALLINT> column:
    * 'f', 'd', 'b' (i8/u8) or 'h' (f16/bf16 bits). */
  private[graft] def elemKind(dt: DataType): Char = dt match {
    case ArrayType(FloatType, _)  => 'f'
    case ArrayType(DoubleType, _) => 'd'
    case ArrayType(ByteType, _)   => 'b'
    case ArrayType(ShortType, _)  => 'h'
    case t => sys.error(
      s"vec must be ARRAY<FLOAT|DOUBLE|TINYINT|SMALLINT>, got $t")
  }

  def search(queries: DataFrame, data: DataFrame, k: Int, metric: Metric)
      : DataFrame = searchWith(queries, data, k, metric)

  /** [[search]] with its two planning decisions pinned, for specs: the
    * merge `depth` (0: from the partial count, 1: straight to the driver,
    * 2: one executor merge level first) and `widen` (None: the gate). */
  private[graft] def searchWith(queries: DataFrame, data: DataFrame, k: Int,
      metric: Metric, depth: Int = 0, widen: Option[Boolean] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = data.sparkSession
    graft.plans.KnnJoinApi.installStrategy(spark)
    // queries from a float32 source pass as-is (no cast projection) and
    // widen ONCE at the exec's collect; anything else casts to double
    val qvec = queries.schema("qvec").dataType match {
      case ArrayType(FloatType, _) => col("qvec")
      case _ => col("qvec").cast("array<double>").as("qvec")
    }
    val q = queries.select(col("query_id").cast("long").as("query_id"), qvec)
    // scan the source element type as-is: float32 vectors read half the
    // bytes (i8/u8 an eighth); widening to double happens per-register in
    // the tile pack rather than in a cast projection (memory traffic).
    // u8 is ARRAY<TINYINT> carrying the ByteVecs schema mark.
    val projected =
      if (data.schema("id").dataType == LongType)
        data.select(col("id"), col("vec")) // a no-op cast would block the
      else                                 // exec's columnar read
        data.select(col("id").cast("long").as("id"), col("vec"))
    val elKind = elemKind(projected.schema("vec").dataType)
    // byte rows dispatch on DECLARED signedness only — a bare byte table
    // is ambiguous (mark-stripped u8 ≡ i8 by values) and fails loudly
    val unsigned = elKind == 'b' &&
      graft.functions.ByteVecs.requireSignedness(data.schema, "vec")
    // half rows ('h') likewise dispatch on the DECLARED format only —
    // f16 and bf16 bit patterns decode to different values, so a bare
    // ARRAY<SMALLINT> fails loudly (HalfVecs mark contract)
    val bf16 =
      elKind == 'h' && graft.functions.HalfVecs.requireFormat(
        data.schema, "vec") == graft.functions.HalfVecs.BF16
    // the renaming projection lets the analyzer re-id the columns when a
    // plan reads the result twice (a self-join); the optimizer removes it
    // otherwise, so `collect` still runs the node alone
    Bridge.ofRows(spark, graft.plans.KnnPartial(Bridge.logicalPlan(q),
      Bridge.logicalPlan(projected), k, metric, unsigned = unsigned,
      bf16 = bf16, depth = depth, widen = widen))
      .toDF("query_id", "rnk", "neighbor_id", "dist")
  }

  /** Declarative reference: broadcast NL join + bounded top-k aggregate. */
  def searchViaAggregate(queries: DataFrame, data: DataFrame, k: Int,
                         metric: Metric): DataFrame = {
    val pairs = broadcast(queries).crossJoin(data)
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKey(pairs, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** Window-rank reference semantics (shuffles all pairs) — oracle shape. */
  def searchViaWindow(queries: DataFrame, data: DataFrame, k: Int,
                      metric: Metric): DataFrame = {
    val pairs = broadcast(queries).crossJoin(data)
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKeyViaWindow(pairs, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** Unit-normalize the data side at ingest (zero vectors pass through).
    * At scale this runs once and persists — every subsequent cosine search
    * then pays one fused multiply-add chain per pair instead of three
    * accumulators + two sqrts. */
  def normalizeData(data: DataFrame): DataFrame =
    data.withColumn("vec",
      graft.functions.VectorFunctions.normalize(col("vec")))

  /** Cosine top-k via the reference's fixed-argument optimization
    * (core/distance/cosine.h:102,204 `maybe_fix_argument`): with the data
    * side unit-normalized, per-query cosine ordering equals inner-product
    * ordering (cos(q,d) = ip(q, d/|d|)/|q| and |q| is constant within a
    * query), so the top-k ids and ranks match the direct cosine scan while
    * the hot loop drops the norms and sqrts. The returned `dist` is the
    * inner product against the normalized row — cosine scaled by |q|;
    * divide by `l2Norm(qvec)` once per query if the true value is needed.
    * REQUIRES unique query_ids: with duplicate ids the per-row |q| scale
    * factors differ, so merged candidates stop being cosine-comparable
    * (DistanceSpec exercises exactly this). Production pipelines persist
    * [[normalizeData]]'s output and call `search(..., Metric.IP)`
    * directly. */
  def searchCosineNormalized(queries: DataFrame, data: DataFrame, k: Int)
      : DataFrame =
    search(queries, normalizeData(data), k, Metric.IP)

  /** Search excluding a tombstone set (SURVEY §2 P8 soft-delete filter):
    * anti-join data against `tombstones(id)` before the scan — predicate
    * pushdown into kNN, free in Spark. */
  def searchWithTombstones(queries: DataFrame, data: DataFrame,
                           tombstones: DataFrame, k: Int, metric: Metric)
      : DataFrame =
    search(queries, data.join(tombstones, Seq("id"), "left_anti"), k, metric)
}
