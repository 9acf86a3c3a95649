package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Metric

/** IVF (inverted-file) index (SURVEY §2 J3, B5): k-means partitioning +
  * probe-n-clusters search — the reference's cluster pruning
  * (include/svs/index/ivf/index.h:284-332) expressed as Spark partition
  * pruning. At scale the clustered table is written `partitionBy(cluster_id)`
  * so a probe equi-join scans only the probed partitions; queries and the
  * probe list stay broadcast-small, so nothing large ever shuffles.
  */
object IvfIndex {

  /** Assign every row to its nearest centroid (map-only projection). */
  def cluster(data: DataFrame, centroids: Seq[(Long, Seq[Double])]): DataFrame =
    KMeans.assign(data, centroids)

  /** Persist the clustered table partitioned by cluster_id — probe joins
    * then prune partitions at the source (DPP). Rows are shuffled onto their
    * cluster first so each partition directory holds one file instead of
    * one-per-task (task_count × cluster_count small files would dominate
    * both write and scan time at any scale). */
  def writeClustered(clustered: DataFrame, path: String): Unit =
    clustered.repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)

  def readClustered(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The cold-serve read of a cluster-partitioned store dir: a frame over
    * ONLY the `probed` shards' `cluster_id=` dirs (`basePath` keeps
    * `cluster_id` a column), so the listing cost is ∝ probes instead of
    * the store-wide listing ∝ total shards. Shared by the graph and IVF
    * stores' `serveCold`. */
  def readProbed(spark: SparkSession, path: String,
                 probed: Iterable[Long]): DataFrame = {
    require(probed.nonEmpty, s"no probed shards to read under $path")
    spark.read.option("basePath", path)
      .parquet(probed.toSeq.sorted.map(c => s"$path/cluster_id=$c"): _*)
  }

  /** Attach a resident scalar-quantized `codes` column — the Spark analog of
    * the reference keeping the SQ codes as the dataset it scans
    * (quantization/scalar/scalar.h:364). Stored as ARRAY<SMALLINT> (codes fit
    * 0..2^bits-1), so a codes-only scan reads a fraction of the vector bytes
    * and column pruning keeps `vec` untouched until the reorder pass. */
  def withResidentCodes(clustered: DataFrame, p: ScalarQuant.Params): DataFrame =
    clustered.withColumn("codes",
      ScalarQuant.encodeColumn(col("vec"), p).cast("array<smallint>"))

  /** writeClustered + resident codes: the on-disk layout for
    * [[searchWithReorder]]. */
  def writeClustered(clustered: DataFrame, path: String,
                     codec: ScalarQuant.Params): Unit =
    writeClustered(withResidentCodes(clustered, codec), path)

  /** Driver-side probe selection: per query, the nProbes best centroids by
    * the metric. The query batch and centroid list are both broadcast-small
    * by the reference's own contract (its query matrix and centroid table
    * live in memory, index/ivf/index.h:284-332), so scoring them on the
    * driver replaces two Spark jobs (explode-aggregate + distinct-collect)
    * per search call with a microsecond loop. Ordering (metric, ties to
    * smaller cluster id) is identical to the TopK aggregate it replaces,
    * and `Metric.compute` keeps the Catalyst fold order bit-for-bit.
    * Returns (probe rows (query_id, cluster_id, qvec), distinct probed ids
    * for partition pruning).
    *
    * [[ProbeRoute]] is the routing hook: (query rows, ascending-id
    * centroid table) → per-query probe cluster ids in rank order. The
    * default is the flat [[BatchScore.probeTopK]] sweep;
    * [[IndexLayout.searchRouted]] passes the two-level
    * [[BatchScore.probeTopKHierarchical]] selection. */
  type ProbeRoute = (Array[(Long, Array[Double])],
    IndexedSeq[(Long, Array[Double])]) => Array[Array[Long]]

  private def selectProbes(queries: DataFrame,
                           centroids: Seq[(Long, Seq[Double])], nProbes: Int,
                           metric: Metric): (DataFrame, Seq[Long]) =
    // Shared probe kernel: parallel per-query sweep at certified sizes,
    // GEMM-style query×centroid tiling past BatchScore.GemmPairThreshold —
    // both bit-identical (same per-pair fold, same centroid order).
    selectProbesWith(queries, centroids)(
      BatchScore.probeTopK(_, _, nProbes, metric))

  private def selectProbesWith(queries: DataFrame,
                               centroids: Seq[(Long, Seq[Double])])
      (route: (Array[(Long, Array[Double])],
               IndexedSeq[(Long, Array[Double])]) => Array[Array[Long]])
      : (DataFrame, Seq[Long]) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cents = centroids.sortBy(_._1)
      .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val probeIds = route(qRows, cents)
    val rows = qRows.toSeq.zipWithIndex.flatMap { case ((qid, qvec), i) =>
      probeIds(i).map(cid => (qid, cid, qvec.toSeq))
    }
    (rows.toDF("query_id", "cluster_id", "qvec"),
      rows.map(_._2).distinct.sorted)
  }

  /** Probe search: score centroids per query, keep nProbes best clusters,
    * scan only those clusters, keep k best rows.
    *
    * queries(query_id, qvec); clustered(id, vec, cluster_id).
    * Output: (query_id, rnk, neighbor_id, dist) best-first. */
  def search(queries: DataFrame, clustered: DataFrame,
             centroids: Seq[(Long, Seq[Double])], k: Int, nProbes: Int,
             metric: Metric): DataFrame = {
    val (probes, probedIds) = selectProbes(queries, centroids, nProbes, metric)
    // partition-pruned scan: the probed-cluster set is tiny, so prune
    // statically with an isin (reaches PartitionFilters on partitioned
    // storage — PlanSpec asserts it) before the broadcast equi-join.
    val cand = broadcast(probes)
      .join(clustered.filter(col("cluster_id").isin(probedIds: _*)),
        Seq("cluster_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKey(cand, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** [[search]] with TWO-LEVEL probe routing — the reference's own home
    * for hierarchical k-means (index/ivf/hierarchical_kmeans.h): probe
    * selection scores the `l1` group centroids, then only the chosen
    * groups' cluster centroids ([[BatchScore.probeTopKHierarchical]]).
    * The probed-cluster scan is [[search]]'s unchanged; with
    * `l1Probes = |l1|` the whole query is bit-identical to [[search]]
    * (KMeansIvfSpec). Build (l1, groupOf) with
    * [[Vamana.trainRoutingLevel]] over the cluster centroids, passing the
    * SAME `metric` served here — similarity metrics need spherical
    * groups, or realistic l1Probes route through L2-shaped ones. */
  def searchHierarchical(queries: DataFrame, clustered: DataFrame,
                         centroids: Seq[(Long, Seq[Double])],
                         l1: Seq[(Long, Seq[Double])],
                         groupOf: Map[Long, Long], k: Int, l1Probes: Int,
                         nProbes: Int, metric: Metric): DataFrame = {
    val l1Arr = l1.sortBy(_._1)
      .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val (probes, probedIds) = selectProbesWith(queries, centroids)(
      BatchScore.probeTopKHierarchical(_, _, l1Arr, groupOf, l1Probes,
        nProbes, metric))
    val cand = broadcast(probes)
      .join(clustered.filter(col("cluster_id").isin(probedIds: _*)),
        Seq("cluster_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKey(cand, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** Attach resident LVQ two-level code columns
    * (`c1, lo1, s1, c2, lo2, s2`) — the IVF+LVQ on-disk layout: the coarse
    * pass scans level-1 codes, re-ranking reads the level-2 residual, and
    * full precision is never touched. At scale persist with
    * [[writeClustered]] after attaching (cluster-partitioned parquet). */
  def withResidentLvq(clustered: DataFrame, p: Lvq.Params): DataFrame =
    clustered.join(Lvq.encode(clustered.select("id", "vec"), p), Seq("id"))

  /** IVF probe + LVQ-compressed coarse scan + two-level re-rank: the
    * reference's IVF-over-compressed-data composition with the LVQ codec as
    * the resident representation. The coarse pass prunes to the probed
    * cluster partitions and scans `(c1, lo1, s1)` only, ranking with the
    * codegen'd [[graft.functions.Lvq1Distance]] (distance evaluated on the
    * codes — no decode column ever materializes); the `kReorder·k`
    * shortlist is re-ranked on the level-1+2 reconstruction. Full-precision
    * `vec` is never read in either pass. L2 only. */
  def searchWithLvqReorder(queries: DataFrame, clustered: DataFrame,
                           centroids: Seq[(Long, Seq[Double])],
                           p: Lvq.Params, k: Int, nProbes: Int,
                           kReorder: Int,
                           route: Option[ProbeRoute] = None): DataFrame = {
    require(clustered.columns.contains("c1"),
      "searchWithLvqReorder scans resident LVQ codes: attach them via " +
        "IvfIndex.withResidentLvq(clustered, p)")
    val metric = graft.core.Metric.L2
    val (probes, probedIds) = route
      .map(selectProbesWith(queries, centroids)(_))
      .getOrElse(selectProbes(queries, centroids, nProbes, metric))

    // coarse pass: partition-pruned scan of (cluster_id, id, c1, lo1, s1)
    // ranked by code-space L2 — column pruning keeps c2/lo2/s2/vec unread
    val coarseDist = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Lvq1Distance(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          col("qvec").cast("array<double>")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("c1")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("lo1")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("s1")),
        p.mean.toArray))
    val candCoarse = broadcast(probes)
      .join(clustered.filter(col("cluster_id").isin(probedIds: _*))
          .select("cluster_id", "id", "c1", "lo1", "s1"),
        Seq("cluster_id"))
      .select(col("query_id"), col("id"), coarseDist.as("cdist"))
    val shortlist = TopK.perKey(candCoarse, Seq("query_id"), col("id"),
        col("cdist"), kReorder * k, ascending = true)
      .select(col("query_id"), col("neighbor_id").as("id"))

    // re-rank on the two-level reconstruction of just the shortlisted rows
    val encShort = clustered
      .select("id", "c1", "lo1", "s1", "c2", "lo2", "s2")
      .join(shortlist.select("id").distinct(), Seq("id"))
    val d2 = Lvq.decode(encShort, p, twoLevel = true)
    val fine = shortlist
      .join(d2, Seq("id"))
      .join(queries.select("query_id", "qvec"), Seq("query_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKeyViaWindow(fine, Seq("query_id"), col("id"), col("dist"), k,
      ascending = true)
  }

  /** Attach a resident LeanVec reduced column `rvec` — the IVF+LeanVec
    * on-disk layout (reference example_ivf_with_compression_leanvec.cpp:
    * 38-60: clustering built on uncompressed data, LeanVec storage within):
    * the coarse pass scans r-dim reductions, full precision only re-ranks. */
  def withResidentLeanVec(clustered: DataFrame, m: LeanVec.Model): DataFrame =
    clustered.join(
      LeanVec.transform(clustered.select("id", "vec"), m, outCol = "rvec"),
      Seq("id"))

  /** IVF probe + LeanVec coarse scan + full-precision reorder: probe
    * selection runs on the full-dim centroids (the reference builds
    * clustering on uncompressed data), the coarse pass scans ONLY
    * `(cluster_id, id, rvec)` of the probed partitions ranked by reduced
    * L2, and the `kReorder·k` shortlist re-ranks on true vectors — an
    * r/d bandwidth cut on the scan-dominated pass. L2 only. */
  def searchWithLeanVecReorder(queries: DataFrame, clustered: DataFrame,
                               centroids: Seq[(Long, Seq[Double])],
                               m: LeanVec.Model, k: Int, nProbes: Int,
                               kReorder: Int,
                               route: Option[ProbeRoute] = None): DataFrame = {
    require(clustered.columns.contains("rvec"),
      "searchWithLeanVecReorder scans a resident reduced column: attach " +
        "it via IvfIndex.withResidentLeanVec(clustered, m)")
    val metric = graft.core.Metric.L2
    val (probes, probedIds) = route
      .map(selectProbesWith(queries, centroids)(_))
      .getOrElse(selectProbes(queries, centroids, nProbes, metric))
    val rq = LeanVec.transform(queries, m, idCol = "query_id",
      vecCol = "qvec", outCol = "rqvec")
    val candCoarse = broadcast(probes.drop("qvec")
        .join(rq, Seq("query_id")))
      .join(clustered.filter(col("cluster_id").isin(probedIds: _*))
          .select("cluster_id", "id", "rvec"),
        Seq("cluster_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("rqvec"), col("rvec")).as("cdist"))
    val shortlist = TopK.perKey(candCoarse, Seq("query_id"), col("id"),
        col("cdist"), kReorder * k, ascending = true)
      .select(col("query_id"), col("neighbor_id").as("id"))
    LeanVec.rerank(shortlist, queries, clustered.select("id", "vec"), k,
      metric)
  }

  /** Probe search with compressed-scan + full-precision reorder (the
    * reference's `k_reorder`, ivf/common.h:151-166): the coarse pass scans
    * the RESIDENT `codes` column (attach with [[withResidentCodes]] or
    * persist with `writeClustered(path, codec)`) and ranks by code-space
    * distance (monotone in the decoded L2 — ScalarQuant.searchQuantized
    * algebra), keeps the `kReorder·k` best, then re-ranks exactly those at
    * full precision. Column pruning means the coarse pass never reads `vec`:
    * it touches the smallint codes only (¼ the bytes of f64), and the
    * full-precision pass reads `|Q|·kReorder·k` rows. L2 only. */
  def searchWithReorder(queries: DataFrame, clustered: DataFrame,
                        centroids: Seq[(Long, Seq[Double])],
                        p: ScalarQuant.Params, k: Int, nProbes: Int,
                        kReorder: Int,
                        route: Option[ProbeRoute] = None): DataFrame = {
    require(clustered.columns.contains("codes"),
      "searchWithReorder scans resident SQ codes: attach a codes column via " +
        "IvfIndex.withResidentCodes(clustered, p) or persist with " +
        "writeClustered(clustered, path, codec)")
    val metric = graft.core.Metric.L2
    val (probes, probedIds) = route
      .map(selectProbesWith(queries, centroids)(_))
      .getOrElse(selectProbes(queries, centroids, nProbes, metric))

    // compressed pass: distances on the stored codes (queries encoded with
    // the same codec on the fly — the query batch is tiny); the scan prunes
    // to (cluster_id, id, codes), never touching vec
    val qCodes = ScalarQuant.encodeColumn(col("qvec"), p)
      .cast("array<double>")
    val candCoarse = broadcast(probes)
      .join(clustered.filter(col("cluster_id").isin(probedIds: _*))
          .select("cluster_id", "id", "codes"),
        Seq("cluster_id"))
      .select(col("query_id"), col("id"),
        metric.column(qCodes, col("codes").cast("array<double>")).as("cdist"))
    val shortlist = TopK.perKey(candCoarse, Seq("query_id"), col("id"),
        col("cdist"), kReorder * k, ascending = true)
      .select(col("query_id"), col("neighbor_id").as("id"))

    // full-precision reorder of the shortlist only
    val fine = shortlist
      .join(clustered.select("id", "vec"), Seq("id"))
      .join(queries.select("query_id", "qvec"), Seq("query_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    TopK.perKeyViaWindow(fine, Seq("query_id"), col("id"), col("dist"), k,
      ascending = true)
  }
}
