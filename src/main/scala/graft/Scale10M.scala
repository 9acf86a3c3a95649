package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.{Dedup, FlatKnn, KMeans, TextAnalysis, TextIndex,
  Vamana}
import graft.operators.VamanaKernel.BuildParams
import graft.sources.SyntheticData

/** The 10⁷-row scale probe — one order of magnitude past ScaleBench's 1M
  * default on the four headline shapes (flat i8/f32 scan,
  * hierarchical-routed sharded walk, stored-BM25 probe, MinHash-LSH
  * dedup), with per-stage wall AND shuffle bytes (a SparkListener
  * summing task shuffle metrics), so SCALE.md's linearity claims past
  * 1M are measured rather than asserted.
  *
  * `SPARK_GRAFT_10M_N` overrides the row count (default 10 000 000;
  * set small to smoke-test the harness). One JSON line per shape.
  * Run alone — concurrent heavy jobs make the timings garbage. */
object Scale10M {

  /** Task-level shuffle-bytes meter. `delta` snapshots (read, write)
    * growth since the last call — coarse (whole-app, task-granular) but
    * exactly what the linearity question needs. */
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
      val r = read.get(); val w = write.get()
      val d = (r - r0, w - w0); r0 = r; w0 = w; d
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_10M_N", "10000000").toLong
    val dims = 64
    val k = 10
    val nq = 100
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
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

    // ---- 1. flat scan: f32 + i8, scalar + SIMD --------------------------
    val vecPath = "/tmp/graft_10m_vec"
    SyntheticData.generateMixed(spark, n, dims)
      .repartition(cpus.toInt * 4)
      .write.mode("overwrite").parquet(vecPath)
    val data = spark.read.parquet(vecPath)
    val queries = SyntheticData.generateMixed(spark, n + nq, dims)
      .filter(col("id") >= n)
      .select(col("id").as("query_id"), col("vec").as("qvec")).cache()
    queries.count()
    val f32Path = "/tmp/graft_10m_vec_f32"
    data.select(col("id"), col("vec").cast("array<float>").as("vec"))
      .write.mode("overwrite").parquet(f32Path)
    val dataF32 = spark.read.parquet(f32Path)
    val i8Path = "/tmp/graft_10m_vec_i8"
    graft.functions.ByteVecs.markSigned(data.select(col("id"),
        graft.functions.ByteVecs.quantizeSigned(col("vec"), 100.0)
          .as("vec")))
      .write.mode("overwrite").parquet(i8Path)
    val dataI8 = spark.read.parquet(i8Path)
    // f16 rung: raw binary16 bits in parquet — the scan-bytes halving
    // vs f32 that makes f16 the common 100 TB dump format
    val f16Path = "/tmp/graft_10m_vec_f16"
    graft.functions.HalfVecs.toHalf(dataF32, graft.functions.HalfVecs.F16)
      .write.mode("overwrite").parquet(f16Path)
    val dataF16 = spark.read.parquet(f16Path)
    dataF32.count(); dataI8.count(); dataF16.count()
    def duBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val simdL2 = Metric.simd(Metric.L2)
    def best2(f: => Unit): Double = (0 until 2).map(_ => time(f)._2).min
    val warm = best2 { FlatKnn.search(queries, dataF32, k, Metric.L2)
      .count() } // JIT + page-cache warm leg, also the f32 scalar number
    meter.delta()
    val tF32Simd = best2 {
      FlatKnn.search(queries, dataF32, k, simdL2).count() }
    val tI8 = best2 { FlatKnn.search(queries, dataI8, k, Metric.L2)
      .count() }
    val tI8Simd = best2 {
      FlatKnn.search(queries, dataI8, k, simdL2).count() }
    val tF16Simd = best2 {
      FlatKnn.search(queries, dataF16, k, simdL2).count() }
    val (shufR1, shufW1) = meter.delta()
    val pairs = n * nq
    println(s"""{"experiment":"scale10m_flat","n":$n,"dims":$dims,""" +
      s""""nq":$nq,"flat_f32_sec":$warm,"flat_f32_simd_sec":$tF32Simd,""" +
      s""""flat_i8_sec":$tI8,"flat_i8_simd_sec":$tI8Simd,""" +
      s""""flat_f16_simd_sec":$tF16Simd,""" +
      s""""f32_store_bytes":${duBytes(f32Path)},""" +
      s""""f16_store_bytes":${duBytes(f16Path)},""" +
      s""""i8_store_bytes":${duBytes(i8Path)},""" +
      s""""i8_simd_pairs_per_sec":${(pairs / tI8Simd).toLong},""" +
      s""""shuffle_read_bytes":$shufR1,"shuffle_write_bytes":$shufW1}""")

    // ---- 2. hierarchical-routed sharded walk ----------------------------
    // sampled Lloyd (the 100 TB training contract), size-bounded shards,
    // SIMD build, routed search at realistic l1Probes, recall vs exact
    val nClusters = math.max(64, (n / 20000L).toInt)
    val seedStride = math.max(1L, n / nClusters)
    val seed0 = data.filter(col("id") % seedStride === 0)
      .limit(nClusters).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val (cents0, tLloyd) = time {
      KMeans.lloyd(data.filter(col("id") % 50 === 1), seed0, iters = 2,
        dims)
    }
    val clustered0 = KMeans.assign(data, cents0)
    val (split, splitCents) = {
      val (c, s) = Vamana.splitOversized(clustered0, cents0,
        maxRows = 30000)
      (c.cache(), s)
    }
    split.count()
    meter.delta()
    val vParams = BuildParams(maxDegree = 32, buildWindow = 64,
      alpha = 1.2, pruneTo = 28)
    val bStats = Vamana.newBuildStats(spark)
    val (graph, tBuild) = time {
      val g = Vamana.buildSharded(split, vParams, simdL2,
        Some(bStats)).cache()
      g.count(); g
    }
    val (shufRb, shufWb) = meter.delta()
    val truth = FlatKnn.search(queries, data, k, simdL2)
      .select("query_id", "neighbor_id").cache()
    truth.count()
    meter.delta()
    val nGroups = math.max(1, math.sqrt(splitCents.length.toDouble).toInt)
    val ((l1, groupOf), tRoute) = time {
      Vamana.trainRoutingLevel(splitCents, nGroups) }
    val l1Probes = math.max(4, nGroups / 4)
    val (routedRes, tSearch) = time {
      val r = Vamana.searchShardedHierarchical(queries, split, graph,
          splitCents, l1, groupOf, k, searchWindow = 64,
          l1Probes = l1Probes, nProbes = 8, simdL2)
        .select("query_id", "neighbor_id").cache()
      r.count(); r
    }
    val (shufRs, shufWs) = meter.delta()
    val recall = routedRes.intersect(truth).count().toDouble / (k.toLong * nq)
    println(s"""{"experiment":"scale10m_routed_walk","n":$n,""" +
      s""""shards":${splitCents.length},"groups":$nGroups,""" +
      s""""l1_probes":$l1Probes,"lloyd_sec":$tLloyd,""" +
      s""""build_sec":$tBuild,"build_shuffle_write_bytes":$shufWb,""" +
      s""""build_shuffle_read_bytes":$shufRb,""" +
      s""""route_train_sec":$tRoute,"search_sec":$tSearch,""" +
      s""""search_shuffle_read_bytes":$shufRs,""" +
      s""""search_shuffle_write_bytes":$shufWs,"recall":$recall,""" +
      bStats.jsonFields + "}")
    // ---- 2b. STORED-layout routed serving -------------------------------
    // the round-9 caveat closed: the in-memory scattered-probe co-group
    // above moves corpus bytes; the persisted layout partition-prunes —
    // only the probed shards' cluster_id= dirs are READ at all. Report the
    // bytes-read fraction (serve input bytes / store size) like the BM25
    // row's 0.4%, plus serve wall + shuffle, recall pinned vs the same
    // exact truth.
    val storedPath = "/tmp/graft_10m_graph_store"
    // PQ codes ride along in the store: the DiskANN serving shape —
    // m=8 subspaces × k=16 codes over 64-d rows shrink each walked
    // vector 512 B → 8 B; codebooks train on a 10k-row sample
    val pqP = graft.operators.Pq.trainLloyd(
      data.filter(col("id") % 1000 === 3), m = 8, k = 16, dims, iters = 2)
    val (_, tStoreWrite) = time {
      graft.operators.GraphLayout.write(split, graph, splitCents,
        storedPath, pq = Some(pqP), routingGroups = nGroups)
    }
    val storeBytes = duBytes(storedPath)
    val dgBytes = duBytes(s"$storedPath/data") +
      duBytes(s"$storedPath/graph")
    val codesBytes = duBytes(s"$storedPath/codes")
    // unpersist exactly the BUILD frames so serving runs cold from the
    // store (clearCache() would also evict truth/queries and silently
    // re-pay the full 10M exact sweep inside each recall computation)
    graph.unpersist(blocking = true); split.unpersist(blocking = true)
    val layout = graft.operators.GraphLayout.open(spark, storedPath)
    val routed = graft.operators.GraphLayout.Codec.Full(l1Probes = l1Probes)
    meter.delta()
    val (storedRes, tStoredServe) = time {
      val r = graft.operators.GraphLayout.serve(layout, queries, k,
          searchWindow = 64, nProbes = 8, simdL2, routed)
        .select("query_id", "neighbor_id").cache()
      r.count(); r
    }
    val (shufRss, shufWss) = meter.delta()
    // bytes-read fraction: the walk reads each probed shard's files
    // directly inside its task, which Spark's input metrics do not see,
    // so the honest witness is the on-disk size of exactly the probed
    // cluster_id= partition dirs over the full store size — the
    // stored-serving twin of the BM25 row's 0.4%.
    def probedOf(qs: DataFrame): Set[Long] = {
      val qRows = qs.select(col("query_id").cast("long"),
          col("qvec").cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val cArr = layout.centroids
        .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
      val (l1t, g1) = layout.routing.get
      val l1Arr = l1t.sortBy(_._1)
        .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
      graft.operators.BatchScore.probeTopKHierarchical(qRows, cArr, l1Arr,
        g1, l1Probes, 8, simdL2).flatten.toSet
    }
    def dataGraphBytes(probed: Set[Long]): Long = probed.toSeq.map { c =>
      duBytes(s"$storedPath/data/cluster_id=$c") +
        duBytes(s"$storedPath/graph/cluster_id=$c")
    }.sum
    val probedSet = probedOf(queries)
    val probedBytes = dataGraphBytes(probedSet)
    val storedRecall =
      storedRes.intersect(truth).count().toDouble / (k.toLong * nq)
    // the small-batch leg (5 of the nq queries): the uniform 100-query
    // batch above UNIONs its probes over ~every shard (each query still
    // only pays its own nProbes) — the partition-pruning win shows at
    // non-saturating batch sizes, where I/O ∝ |union of probed shards|,
    // not store size
    val queries5 = queries.filter(col("query_id") < n + 5).cache()
    queries5.count()
    meter.delta()
    val (_, tServe5) = time {
      graft.operators.GraphLayout.serve(layout, queries5, k,
          searchWindow = 64, nProbes = 8, simdL2, routed)
        .select("query_id", "neighbor_id").count()
    }
    val (shufRs5, shufWs5) = meter.delta()
    val probed5 = probedOf(queries5)
    val probed5Bytes = dataGraphBytes(probed5)
    // DiskANN serving leg: codes-only walk, data never read during the
    // walk; the exchange is the top-k partials only
    meter.delta()
    val (_, tAdc) = time {
      graft.operators.GraphLayout.serve(layout, queries, k,
        searchWindow = 64, nProbes = 8, Metric.L2,
        graft.operators.GraphLayout.Codec.Pq()).count()
    }
    val (shufRa, shufWa) = meter.delta()
    val probedAdc = {
      val qRows = queries.select(col("query_id").cast("long"),
          col("qvec").cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val cArr = layout.centroids
        .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
      graft.operators.BatchScore.probeTopK(qRows, cArr, 8, Metric.L2)
        .flatten.toSet
    }
    val probedAdcBytes = probedAdc.toSeq.map { c =>
      duBytes(s"$storedPath/codes/cluster_id=$c") +
        duBytes(s"$storedPath/graph/cluster_id=$c")
    }.sum
    println(s"""{"experiment":"scale10m_stored_adc","n":$n,""" +
      s""""codes_bytes":$codesBytes,""" +
      s""""probed_codes_graph_bytes":$probedAdcBytes,""" +
      s""""adc_serve_sec":$tAdc,""" +
      s""""adc_shuffle_read_bytes":$shufRa,""" +
      s""""adc_shuffle_write_bytes":$shufWa}""")
    println(s"""{"experiment":"scale10m_stored_routed","n":$n,""" +
      s""""shards":${splitCents.length},"groups":$nGroups,""" +
      s""""l1_probes":$l1Probes,"store_write_sec":$tStoreWrite,""" +
      s""""store_bytes":$storeBytes,"data_graph_bytes":$dgBytes,""" +
      s""""codes_bytes":$codesBytes,"serve_sec":$tStoredServe,""" +
      s""""probed_shards":${probedSet.size},""" +
      s""""probed_bytes":$probedBytes,""" +
      s""""bytes_read_fraction":${probedBytes.toDouble / dgBytes},""" +
      s""""serve_shuffle_read_bytes":$shufRss,""" +
      s""""serve_shuffle_write_bytes":$shufWss,""" +
      s""""serve5_sec":$tServe5,"probed5_shards":${probed5.size},""" +
      s""""probed5_bytes":$probed5Bytes,""" +
      s""""bytes_read_fraction5":${probed5Bytes.toDouble / dgBytes},""" +
      s""""serve5_shuffle_read_bytes":$shufRs5,""" +
      s""""serve5_shuffle_write_bytes":$shufWs5,""" +
      s""""recall":$storedRecall}""")
    queries5.unpersist()
    storedRes.unpersist(); truth.unpersist()
    rmr(storedPath); rmr(f32Path); rmr(i8Path); rmr(f16Path)

    // SPARK_GRAFT_10M_ONLY=vector skips the text experiments (3+4) —
    // for re-measuring the vector legs without paying the ~11 min of
    // unchanged BM25/MinHash builds
    if (sys.env.get("SPARK_GRAFT_10M_ONLY").contains("vector")) {
      spark.stop(); return
    }

    // ---- 3. stored-BM25 probe ------------------------------------------
    // PipelineBench's corpus generator shape at n docs
    val vocab = 50000
    val docPath = "/tmp/graft_10m_docs"
    spark.range(n).as[Long].map { id =>
      val rnd = new scala.util.Random(id * 2654435761L + 11)
      val len = 20 + rnd.nextInt(120)
      def word(v: Int): String = {
        val c = (0x4E00 + v % 2000).toChar
        c.toString + (v.toString * 2).take(2 + (v / 2000) % 8)
      }
      (id, Array.tabulate(len)(_ => word(rnd.nextInt(vocab)))
        .mkString(" "))
    }.toDF("doc_id", "text")
      .repartition(cpus.toInt * 4)
      .write.mode("overwrite").parquet(docPath)
    val docs = spark.read.parquet(docPath)
    docs.count()
    val tiqTerms = Seq(0, 7, 123, 4567, 49999).map { v =>
      val c = (0x4E00 + v % 2000).toChar
      c.toString + (v.toString * 2).take(2 + (v / 2000) % 8)
    }
    val bmQueries = Seq(
      0L -> Seq(tiqTerms(0), tiqTerms(1)),
      1L -> Seq(tiqTerms(2), tiqTerms(3), tiqTerms(4)))
    val tiPath = "/tmp/graft_10m_ti"
    meter.delta()
    val (_, tTiBuild) = time {
      TextIndex.buildIndex(docs, tiPath, nBuckets = 64) }
    val (shufRt, shufWt) = meter.delta()
    val (nBm, tBm) = time {
      TextIndex.bm25TopKStored(spark, tiPath, bmQueries, 10, 64).count() }
    val (shufRp, shufWp) = meter.delta()
    println(s"""{"experiment":"scale10m_bm25_stored","n_docs":$n,""" +
      s""""index_build_sec":$tTiBuild,""" +
      s""""build_shuffle_read_bytes":$shufRt,""" +
      s""""build_shuffle_write_bytes":$shufWt,""" +
      s""""bm25_rows":$nBm,"bm25_stored_sec":$tBm,""" +
      s""""probe_shuffle_read_bytes":$shufRp,""" +
      s""""probe_shuffle_write_bytes":$shufWp}""")
    rmr(tiPath)

    // ---- 4. MinHash-LSH dedup ------------------------------------------
    // DedupBench's duplicate-planted corpus shape at n docs (every 17th
    // doc a verbatim copy, every 10th a near-dup)
    val dedupPath = "/tmp/graft_10m_dedup_docs"
    val firstChars = 2000
    spark.range(n).as[Long].map { id =>
      val exactDup = id % 17 == 5 && id >= 5
      val nearDup = !exactDup && id % 10 == 3 && id >= 3
      val base = if (exactDup) id - 5 else if (nearDup) id - 3 else id
      val rnd = new scala.util.Random(base * 2654435761L + 11)
      val len = 50 + (base % 70).toInt
      def word(v: Int): String = {
        val kk = v % firstChars
        val c = (0x4E00 + kk).toChar
        c.toString + (v.toString * 4).take(2 + (v / firstChars) % 9)
      }
      val words = Array.tabulate(len)(_ => word(rnd.nextInt(vocab)))
      if (nearDup) {
        val r2 = new scala.util.Random(id * 40503L + 7)
        var i = 0
        while (i < math.max(1, len / 12)) {
          words(r2.nextInt(len)) = word(r2.nextInt(vocab)); i += 1
        }
      }
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
      .repartition(cpus.toInt * 4)
      .write.mode("overwrite").parquet(dedupPath)
    rmr(docPath)
    val ddocs = spark.read.parquet(dedupPath)
    ddocs.count()
    meter.delta()
    val (codes, tCodes) = time {
      val c = Dedup.shingleCodeTable(ddocs).cache(); c.count(); c }
    val (shufRc, shufWc) = meter.delta()
    val (nLsh, tLsh) = time(Dedup.minhashLshPairs(codes).count())
    val (shufRl, shufWl) = meter.delta()
    println(s"""{"experiment":"scale10m_minhash_lsh","n_docs":$n,""" +
      s""""shingle_prep_sec":$tCodes,""" +
      s""""prep_shuffle_read_bytes":$shufRc,""" +
      s""""prep_shuffle_write_bytes":$shufWc,""" +
      s""""minhash_lsh_sec":$tLsh,"minhash_pairs":$nLsh,""" +
      s""""lsh_shuffle_read_bytes":$shufRl,""" +
      s""""lsh_shuffle_write_bytes":$shufWl}""")
    codes.unpersist()
    rmr(dedupPath); rmr(vecPath)
    spark.stop()
  }
}
