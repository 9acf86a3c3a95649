package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.{FlatKnn, GraphLayout, Vamana}
import graft.operators.VamanaKernel.BuildParams
import graft.sources.SyntheticData

/** The binary-vs-PQ serving CROSSOVER at high dimension, end to end —
  * the measured companion to KernelBench's `hamming_store_ab` (which
  * showed the v2 WordStore kernel winning 1.49×/2.37×/3.40× at
  * 64/256/1024-d) and to SCALE.md's byte argument (1 bit/dim undercuts
  * PQ codes above ~64-d). Every 64-d Scale row serves both codecs off
  * one store; this harness repeats that A/B at ≥256-d where the claim
  * actually lives, on ONE store carrying both code families over the
  * SAME graph:
  *
  *   1. corpus + exact flat truth (recall denominator),
  *   2. sharded Vamana build (the shared graph both walks ride),
  *   3. store write with PQ codes at m sub-quantizers (4-bit codes →
  *      m·4 bits/row; SPARK_GRAFT_HD_PQM picks m — dims/8 is the
  *      suite's standard density at 64-d (0.5 bit/dim), dims/4 is TRUE
  *      BIT PARITY with the 1-bit/dim binary codes) AND v2 bincodes;
  *      per-dir bytes,
  *   4. `GraphLayout.serve` with the Pq codec at kReorder 0 and 4 and
  *      the Binary codec at kReorder 4 (Binary has no rerank-free mode):
  *      wall, shuffle,
  *      probed code bytes (the serving I/O ∝ probes law, per codec),
  *      recall@10 vs the exact truth.
  *
  * Range sharding like Scale100M (uniform synthetic data has no cluster
  * structure; kernel rates, I/O shapes and recall under equal budgets
  * are what this measures). Env: SPARK_GRAFT_HD_N (default 5 000 000),
  * SPARK_GRAFT_HD_DIMS (default 256), SPARK_GRAFT_HD_SHARD (rows/shard,
  * default 5000), SPARK_GRAFT_CPUS. One JSON line per experiment. Run
  * alone (measurement hygiene: never overlap harness runs). */
object ScaleHighDim {

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
    val n = sys.env.getOrElse("SPARK_GRAFT_HD_N", "5000000").toLong
    val dims = sys.env.getOrElse("SPARK_GRAFT_HD_DIMS", "256").toInt
    val shardRows = sys.env.getOrElse("SPARK_GRAFT_HD_SHARD", "5000").toInt
    require(dims % 8 == 0, s"dims must be a multiple of 8, got $dims")
    val pqM = sys.env.getOrElse("SPARK_GRAFT_HD_PQM", (dims / 8).toString)
      .toInt
    require(dims % pqM == 0, s"pq m=$pqM must divide dims=$dims")
    // SPARK_GRAFT_HD_ANISO=1 scales dim j by exp(-j/8) (the ScaleBench
    // anisotropic-twin recipe): uniform data is simultaneously the
    // sign-bit worst case and the trained-codebook best case, so the
    // crossover's bit-parity gap needs this leg to bound how much of
    // it is the generator rather than the codec
    val aniso = sys.env.get("SPARK_GRAFT_HD_ANISO").contains("1")
    def shaped(df: org.apache.spark.sql.DataFrame, c: String)
        : org.apache.spark.sql.DataFrame =
      if (!aniso) df
      else df.withColumn(c,
        transform(col(c), (v, i) => v * exp(i.cast("double") * lit(-0.125))))
    val k = 10
    val nq = 100
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val srcPath = s"/tmp/graft_hd_src_$dims"
    val storePath = s"/tmp/graft_hd_store_$dims"
    rmr(srcPath); rmr(storePath)

    // ---- corpus (parquet-materialized: a 10⁷×256-d double frame is too
    // big as cached JVM objects) + sampled per-shard rounded means -------
    val (_, tGen) = time {
      graft.operators.IvfIndex.writeClustered(
        shaped(SyntheticData.generateMixed(spark, n, dims), "vec")
          .withColumn("cluster_id", (col("id") / shardRows).cast("long")),
        srcPath)
    }
    val clustered = spark.read.parquet(srcPath)
      .withColumn("cluster_id", col("cluster_id").cast("long"))
    val queries = shaped(
        SyntheticData.generateMixed(spark, n + nq, dims), "vec")
      .filter(col("id") >= n)
      .select(col("id").as("query_id"), col("vec").as("qvec")).cache()
    queries.count()
    // sampled per-shard means through the ONE shared rounded-mean fold
    val cents = graft.operators.KMeans.roundedMeans(
      clustered.filter(col("id") % 10 === 0))
    println(s"""{"experiment":"scale_hd_corpus","n":$n,"dims":$dims,""" +
      s""""aniso":$aniso,""" +
      s""""shards":$nShards,"gen_write_sec":$tGen,""" +
      s""""data_bytes":${duBytes(srcPath)}}""")

    // ---- exact flat truth (the recall denominator) ----------------------
    meter.delta()
    val (truth, tFlat) = time {
      val t = FlatKnn.search(queries, clustered.select("id", "vec"), k,
          simdL2)
        .select("query_id", "neighbor_id").cache()
      t.count(); t
    }
    println(s"""{"experiment":"scale_hd_flat","n":$n,"dims":$dims,""" +
      s""""flat_simd_${nq}q_sec":$tFlat}""")

    // ---- shared graph build ---------------------------------------------
    val vParams = BuildParams(maxDegree = 16, buildWindow = 32,
      alpha = 1.2, pruneTo = 14)
    meter.delta()
    val graphTmp = s"/tmp/graft_hd_graph_tmp_$dims"
    val (_, tBuild) = time {
      Vamana.buildSharded(clustered, vParams, simdL2)
        .write.mode("overwrite").parquet(graphTmp)
    }
    val graph = spark.read.parquet(graphTmp)
    val (shufRb, shufWb) = meter.delta()
    println(s"""{"experiment":"scale_hd_build","n":$n,"dims":$dims,""" +
      s""""build_sec":$tBuild,""" +
      s""""build_shuffle_read_bytes":$shufRb,""" +
      s""""build_shuffle_write_bytes":$shufWb}""")

    // ---- one store, both code families ------------------------------------
    // PQ at m 4-bit codes (m = dims/4 → 1 bit/dim, TRUE bit parity with
    // the binary codes; m = dims/8 → the suite's standard density)
    val sample = clustered
      .filter(col("id") % math.max(1L, n / 20000L) === 3)
    val pqP = graft.operators.Pq.trainLloyd(sample, m = pqM, k = 16,
      dims, iters = 2)
    val binP = graft.operators.BinaryQuant.train(sample)
    val (_, tWrite) = time {
      GraphLayout.write(clustered, graph, cents, storePath,
        pq = Some(pqP), bin = Some(binP))
    }
    val layout = GraphLayout.open(spark, storePath)
    rmr(srcPath); rmr(graphTmp)
    println(s"""{"experiment":"scale_hd_store","n":$n,"dims":$dims,""" +
      s""""store_write_sec":$tWrite,""" +
      s""""pq_m":$pqM,""" +
      s""""data_bytes":${duBytes(s"$storePath/data")},""" +
      s""""graph_bytes":${duBytes(s"$storePath/graph")},""" +
      s""""codes_bytes":${duBytes(s"$storePath/codes")},""" +
      s""""bincodes_bytes":${duBytes(s"$storePath/bincodes")}}""")

    // ---- the serving A/B -------------------------------------------------
    // two regimes: PROBED (nProbes=8 — the 100 TB serving shape; on
    // uniform data recall here is routing-fraction-bound, the walls and
    // probed bytes are the signal) and EXHAUSTIVE (all shards — recall
    // is codec+window-bound, the walls are the end-to-end kernel
    // crossover the KernelBench A/B predicts)
    def probedBytes(cids: Set[Long], sub: String): Long =
      cids.toSeq.map(c => duBytes(s"$storePath/$sub/cluster_id=$c")).sum
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Recall.recallAtK(res, truth, k)
    for ((regime, nProbes) <- Seq(("probed", 8), ("exhaustive", nShards))) {
      // PQ-ADC walk (codes ⋈ graph), pure and reranked
      val pmAdc = GraphLayout.probes(layout, queries, nProbes, Metric.L2,
        GraphLayout.Codec.Pq())
      val adcProbed = probedBytes(pmAdc.keySet, "codes")
      for (kr <- Seq(0, 4)) {
        meter.delta()
        val (res, tA) = time {
          val r = GraphLayout.serve(layout, queries, k, searchWindow = 64,
            nProbes = nProbes, Metric.L2, GraphLayout.Codec.Pq(kr)).cache()
          r.count(); r
        }
        val (sr, sw) = meter.delta()
        val rec = recallOf(res)
        res.unpersist()
        println(s"""{"experiment":"scale_hd_serve_adc","n":$n,""" +
          s""""dims":$dims,"aniso":$aniso,"regime":"$regime","n_probes":$nProbes,""" +
          s""""k_reorder":$kr,"serve_sec":$tA,""" +
          s""""recall_at_$k":$rec,"probed_code_bytes":$adcProbed,""" +
          s""""probed_shards":${pmAdc.size},""" +
          s""""shuffle_read_bytes":$sr,"shuffle_write_bytes":$sw}""")
      }
      // binary Hamming walk (bincodes ⋈ graph), reranked exactly
      val pmH = GraphLayout.probes(layout, queries, nProbes, Metric.L2,
        GraphLayout.Codec.Binary(1))
      val hProbed = probedBytes(pmH.keySet, "bincodes")
      val kr = 4
      meter.delta()
      val (res, tH) = time {
        val r = GraphLayout.serve(layout, queries, k, searchWindow = 64,
          nProbes = nProbes, Metric.L2, GraphLayout.Codec.Binary(kr))
          .cache()
        r.count(); r
      }
      val (sr, sw) = meter.delta()
      val rec = recallOf(res)
      res.unpersist()
      println(s"""{"experiment":"scale_hd_serve_hamming","n":$n,""" +
        s""""dims":$dims,"aniso":$aniso,"regime":"$regime","n_probes":$nProbes,""" +
        s""""k_reorder":$kr,"serve_sec":$tH,""" +
        s""""recall_at_$k":$rec,"probed_code_bytes":$hProbed,""" +
        s""""probed_shards":${pmH.size},""" +
        s""""shuffle_read_bytes":$sr,"shuffle_write_bytes":$sw}""")
    }
    rmr(storePath)
    spark.stop()
  }
}
