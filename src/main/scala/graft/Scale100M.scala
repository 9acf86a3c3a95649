package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.{FlatKnn, GraphLayout, Vamana}
import graft.operators.VamanaKernel.BuildParams
import graft.sources.SyntheticData

/** The 10⁸-row serving probe — one order of magnitude past [[Scale10M]],
  * f16-resident end-to-end (10⁸ × 64-d ≈ 12.8 GB data, the residency that
  * makes this fit a sandbox and a 100 TB executor alike):
  *
  *   - flat f16-SIMD exact scan (also the recall truth),
  *   - `GraphLayout.serve` routed (`Codec.Full(l1Probes)`) at the
  *     SELECTIVE regime (5 queries) and the 100-query batch, with
  *     probed-shard counts + bytes so READ ∝ probes is checkable one
  *     order past the 10M ceiling,
  *   - the PQ codec (codes-only walk),
  *   - the BINARY codec (r13): bincodes walk + exact rerank at both
  *     batch sizes — the smallest store per row, so the likeliest
  *     extreme-scale pick,
  *   - the ≥10⁴-probed-shards planning witness: ONE query probing every
  *     shard — the shape whose per-shard driver planning (~100 ms × 2·10⁴
  *     scan plans) made the old zipServe unusable; the listing-driven
  *     zipServe pays one distributed listing job + one reader per side.
  *
  * Sharding is RANGE-based (`cluster_id = id / shardRows`) with per-shard
  * sampled-mean centroids: the synthetic corpus is uniform hash noise, so
  * there is no cluster structure for Lloyd to find at any price — routing
  * arithmetic, probe pruning, I/O and shuffle shapes are identical to a
  * Lloyd-sharded store, which is what this harness measures (recall of
  * walks over uniform noise is reported but not the point).
  *
  * Env: SPARK_GRAFT_100M_N (default 100 000 000), SPARK_GRAFT_100M_SHARD
  * (rows per shard, default 5000), SPARK_GRAFT_CPUS. One JSON line per
  * experiment. Run alone. */
object Scale100M {

  private final class ShuffleMeter extends SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong
    private val write = new java.util.concurrent.atomic.AtomicLong
    private var r0 = 0L
    private var w0 = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def delta(): (Long, Long) = {
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(
        org.apache.spark.SparkContext.getOrCreate())
      val r = read.get(); val w = write.get()
      val d = (r - r0, w - w0); r0 = r; w0 = w; d
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_100M_N", "100000000").toLong
    val shardRows = sys.env.getOrElse("SPARK_GRAFT_100M_SHARD", "5000").toInt
    val dims = 64
    val k = 10
    val nq = 100
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def rmr(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    def duBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val simdL2 = Metric.simd(Metric.L2)
    val nShards = ((n + shardRows - 1) / shardRows).toInt

    // ---- corpus: f16-resident, range-sharded -----------------------------
    // written to a SOURCE dir of its own: GraphLayout.write re-writes the
    // data under the store path, and a store must never be derived from a
    // frame reading the very partitions the write replaces
    val storePath = "/tmp/graft_100m_graph_store"
    val srcPath = "/tmp/graft_100m_src"
    val (_, tGen) = time {
      val clH = graft.functions.HalfVecs.toHalf(
        SyntheticData.generateMixed(spark, n, dims)
          .withColumn("cluster_id", (col("id") / shardRows).cast("long")),
        graft.functions.HalfVecs.F16)
      graft.operators.IvfIndex.writeClustered(clH, srcPath)
    }
    val clustered = {
      // partition-dir inference reads cluster_id= back as INT — pin long
      val d = spark.read.parquet(srcPath)
        .withColumn("cluster_id", col("cluster_id").cast("long"))
      graft.functions.HalfVecs.markHalf(d,
        graft.functions.HalfVecs.F16, "vec")
    }
    val queries = SyntheticData.generateMixed(spark, n + nq, dims)
      .filter(col("id") >= n)
      .select(col("id").as("query_id"), col("vec").as("qvec")).cache()
    queries.count()
    val queries5 = queries.filter(col("query_id") < n + 5).cache()
    queries5.count()

    // per-shard sampled-mean centroids (every 10th row; rounded like the
    // build's centroid fold) — one cheap pass instead of an infeasible
    // 2·10⁴-centroid Lloyd over 10⁸ rows
    val (cents, tCents) = time {
      graft.functions.HalfVecs.widenedForMath(clustered, "vec")
        .filter(col("id") % 10 === 0)
        .select(col("cluster_id"), posexplode(col("vec")))
        .groupBy("cluster_id", "pos").agg(round(avg("col"), 6).as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, xs) =>
          cid -> (xs.sortBy(_._2).map(_._3).toIndexedSeq: Seq[Double]) }
        .toIndexedSeq.sortBy(_._1)
    }
    println(s"""{"experiment":"scale100m_corpus","n":$n,"dims":$dims,""" +
      s""""shards":$nShards,"gen_write_sec":$tGen,""" +
      s""""centroid_sec":$tCents,""" +
      s""""data_bytes":${duBytes(srcPath)}}""")

    // ---- flat f16-SIMD exact scan (and the recall truth) -----------------
    meter.delta()
    val (truth, tFlat) = time {
      val t = FlatKnn.search(queries, clustered.select("id", "vec"), k,
          simdL2)
        .select("query_id", "neighbor_id").cache()
      t.count(); t
    }
    val (shufRf, shufWf) = meter.delta()
    val (_, tFlat5) = time {
      FlatKnn.search(queries5, clustered.select("id", "vec"), k, simdL2)
        .count()
    }
    val (shufRf5, shufWf5) = meter.delta()
    println(s"""{"experiment":"scale100m_flat","n":$n,""" +
      s""""flat_f16_simd_100q_sec":$tFlat,""" +
      s""""flat_shuffle_read_bytes":$shufRf,""" +
      s""""flat_shuffle_write_bytes":$shufWf,""" +
      s""""flat_f16_simd_5q_sec":$tFlat5,""" +
      s""""flat5_shuffle_read_bytes":$shufRf5,""" +
      s""""flat5_shuffle_write_bytes":$shufWf5}""")

    // ---- sharded Vamana build at 10⁸ (f16-resident, light params) --------
    val vParams = BuildParams(maxDegree = 16, buildWindow = 32,
      alpha = 1.2, pruneTo = 14)
    val bStats = Vamana.newBuildStats(spark)
    meter.delta()
    // materialize through parquet, not localCheckpoint: a 10⁸-row
    // adjacency is ~30 GB as cached JVM objects but ~6 GB as parquet,
    // and the store write below re-reads it anyway
    val graphTmp = "/tmp/graft_100m_graph_tmp"
    val (_, tBuild) = time {
      Vamana.buildSharded(clustered, vParams, simdL2, Some(bStats))
        .write.mode("overwrite").parquet(graphTmp)
    }
    val graph = spark.read.parquet(graphTmp)
    val (shufRb, shufWb) = meter.delta()
    println(s"""{"experiment":"scale100m_build","n":$n,""" +
      s""""shards":$nShards,"build_sec":$tBuild,""" +
      s""""build_shuffle_read_bytes":$shufRb,""" +
      s""""build_shuffle_write_bytes":$shufWb,""" +
      bStats.jsonFields + "}")

    // ---- persist the full layout (graph + PQ + binary codes + routing) ---
    val pqP = graft.operators.Pq.trainLloyd(
      graft.functions.HalfVecs.widenedForMath(clustered, "vec")
        .filter(col("id") % math.max(1L, n / 20000L) === 3),
      m = 8, k = 16, dims, iters = 2)
    // binary thresholds from the same sample (per-dim means — sampling
    // changes nothing the harness measures: routing arithmetic, probe
    // pruning, and I/O shapes are threshold-independent)
    val binP = graft.operators.BinaryQuant.train(
      graft.functions.HalfVecs.widenedForMath(clustered, "vec")
        .filter(col("id") % math.max(1L, n / 20000L) === 3))
    val nGroups = math.max(1, math.sqrt(nShards.toDouble).toInt)
    val (_, tWrite) = time {
      GraphLayout.write(clustered, graph, cents, storePath,
        pq = Some(pqP), bin = Some(binP), routingGroups = nGroups)
    }
    val layout = GraphLayout.open(spark, storePath)
    val storeBytes = duBytes(storePath)
    // everything downstream serves from the store — free the source
    // corpus + temp graph now (disk headroom for the 10⁸ run: ~22 GB)
    rmr(srcPath); rmr(graphTmp)
    println(s"""{"experiment":"scale100m_store","n":$n,""" +
      s""""store_write_sec":$tWrite,"store_bytes":$storeBytes,""" +
      s""""codes_bytes":${duBytes(s"$storePath/codes")},""" +
      s""""bincodes_bytes":${duBytes(s"$storePath/bincodes")},""" +
      s""""groups":$nGroups}""")

    // ---- serving probes ---------------------------------------------------
    val l1Probes = math.max(4, nGroups / 4)
    def probedOf(qdf: org.apache.spark.sql.DataFrame, nProbes: Int)
        : Set[Long] = {
      val (l1t, g1) = layout.routing.get
      Vamana.probedShardsHierarchical(qdf, layout.centroids, l1t, g1,
        l1Probes, nProbes, simdL2)
    }
    def probedBytes(cids: Set[Long], subs: Seq[String]): Long =
      cids.toSeq.map(c => subs.map(s =>
        duBytes(s"$storePath/$s/cluster_id=$c")).sum).sum

    // selective: 5 queries × 8 probes of 2·10⁴ shards
    val routed = GraphLayout.Codec.Full(l1Probes = l1Probes)
    val probed5 = probedOf(queries5, 8)
    meter.delta()
    val (_, tLocal5) = time {
      GraphLayout.serve(layout, queries5, k, searchWindow = 64,
        nProbes = 8, simdL2, routed).count()
    }
    val (shufRl5, shufWl5) = meter.delta()
    // 100-query batch
    val probed100 = probedOf(queries, 8)
    val (localRes, tLocal100) = time {
      val r = GraphLayout.serve(layout, queries, k, searchWindow = 64,
          nProbes = 8, simdL2, routed)
        .select("query_id", "neighbor_id").cache()
      r.count(); r
    }
    val (shufRl1, shufWl1) = meter.delta()
    val localRecall =
      localRes.intersect(truth).count().toDouble / (k.toLong * nq)
    println(s"""{"experiment":"scale100m_stored_routed","n":$n,""" +
      s""""shards":$nShards,"l1_probes":$l1Probes,""" +
      s""""probed5_shards":${probed5.size},""" +
      s""""probed5_bytes":${probedBytes(probed5, Seq("data", "graph"))},""" +
      s""""local_serve5_sec":$tLocal5,""" +
      s""""local5_shuffle_read_bytes":$shufRl5,""" +
      s""""local5_shuffle_write_bytes":$shufWl5,""" +
      s""""probed100_shards":${probed100.size},""" +
      s""""probed100_bytes":${
        probedBytes(probed100, Seq("data", "graph"))},""" +
      s""""local_serve100_sec":$tLocal100,""" +
      s""""local100_shuffle_read_bytes":$shufRl1,""" +
      s""""local100_shuffle_write_bytes":$shufWl1,""" +
      s""""local_recall_vs_exact":$localRecall,""" +
      s""""data_graph_bytes":${
        duBytes(s"$storePath/data") + duBytes(s"$storePath/graph")}}""")

    // ---- the ≥10⁴-probed-shards planning witness --------------------------
    // one query probing EVERY shard: the old zipServe planned 2 scan
    // plans + 1 existence probe per shard driver-side (~100 ms × 2·10⁴ —
    // tens of minutes); the listing-driven zipServe pays one distributed
    // listing job + 2·10⁴ single-shard walk tasks. Run twice: the second
    // run's delta is the warm (page-cached) planning+walk floor.
    val exhaustive = GraphLayout.Codec.Full(l1Probes = nGroups)
    meter.delta()
    val (_, tPlanCold) = time {
      GraphLayout.serve(layout, queries5.limit(1), k, searchWindow = 64,
        nProbes = nShards, simdL2, exhaustive).count()
    }
    val (shufRp, shufWp) = meter.delta()
    val (_, tPlanWarm) = time {
      GraphLayout.serve(layout, queries5.limit(1), k, searchWindow = 64,
        nProbes = nShards, simdL2, exhaustive).count()
    }
    println(s"""{"experiment":"scale100m_planning","n":$n,""" +
      s""""probed_shards":$nShards,""" +
      s""""exhaustive_local_serve_cold_sec":$tPlanCold,""" +
      s""""exhaustive_local_serve_warm_sec":$tPlanWarm,""" +
      s""""shuffle_read_bytes":$shufRp,""" +
      s""""shuffle_write_bytes":$shufWp}""")

    // ---- DiskANN: codes-only walk -----------------------------------------
    val pq = GraphLayout.Codec.Pq()
    val probedAdc =
      GraphLayout.probes(layout, queries, 8, Metric.L2, pq).keySet
    meter.delta()
    val (_, tAdcLocal) = time {
      GraphLayout.serve(layout, queries, k, searchWindow = 64, nProbes = 8,
        Metric.L2, pq).count()
    }
    val (shufRal, shufWal) = meter.delta()
    println(s"""{"experiment":"scale100m_stored_adc","n":$n,""" +
      s""""probed_codes_graph_bytes":${
        probedBytes(probedAdc, Seq("codes", "graph"))},""" +
      s""""adc_local_serve_sec":$tAdcLocal,""" +
      s""""adc_local_shuffle_read_bytes":$shufRal,""" +
      s""""adc_local_shuffle_write_bytes":$shufWal}""")

    // ---- BINARY/Hamming serving at 10⁸ (r13, re-measured r14) -------------
    // The smallest store of any codec (ONE full-density 8-byte word per
    // row at 64-d since the v2 packing — bincodes ≈ 1/16 of data's f16
    // bytes and now smaller than m=8 PQ codes) and therefore the codec
    // most likely chosen at extreme scale. Mirrors the ADC leg one order
    // past the sf0.1 evidence behind q187–q189: bincodes walk + exact
    // rerank against the probed shards' data rows, at both batch sizes —
    // shuffle-byte columns confirm the |Q|·probes·(kReorder·k)
    // walk-partial exchange law at 10⁸.
    val kReorder = 2
    val binary = GraphLayout.Codec.Binary(kReorder)
    val probedHam =
      GraphLayout.probes(layout, queries, 8, Metric.L2, binary).keySet
    meter.delta()
    val (hamRes, tHamLocal) = time {
      val r = GraphLayout.serve(layout, queries, k, searchWindow = 64,
          nProbes = 8, Metric.L2, binary)
        .select("query_id", "neighbor_id").cache()
      r.count(); r
    }
    val (shufRhl, shufWhl) = meter.delta()
    val hamRecall =
      hamRes.intersect(truth).count().toDouble / (k.toLong * nq)
    meter.delta()
    val (_, tHamLocal5) = time {
      GraphLayout.serve(layout, queries5, k, searchWindow = 64,
        nProbes = 8, Metric.L2, binary).count()
    }
    val (shufRhl5, shufWhl5) = meter.delta()
    println(s"""{"experiment":"scale100m_stored_hamming","n":$n,""" +
      s""""k_reorder":$kReorder,""" +
      s""""probed100_shards":${probedHam.size},""" +
      s""""probed_bincodes_graph_bytes":${
        probedBytes(probedHam, Seq("bincodes", "graph"))},""" +
      s""""hamming_local100_sec":$tHamLocal,""" +
      s""""hamming_local100_shuffle_read_bytes":$shufRhl,""" +
      s""""hamming_local100_shuffle_write_bytes":$shufWhl,""" +
      s""""probed_data_bytes":${probedBytes(probedHam, Seq("data"))},""" +
      s""""hamming_local5_sec":$tHamLocal5,""" +
      s""""hamming_local5_shuffle_read_bytes":$shufRhl5,""" +
      s""""hamming_local5_shuffle_write_bytes":$shufWhl5,""" +
      s""""hamming_recall_vs_exact":$hamRecall}""")
    hamRes.unpersist()

    truth.unpersist(); localRes.unpersist()
    queries5.unpersist(); queries.unpersist()
    if (!sys.env.get("SPARK_GRAFT_100M_KEEP").exists(_.nonEmpty))
      rmr(storePath)
    spark.stop()
  }
}
