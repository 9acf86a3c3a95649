package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Metric

/** The single documented entry point for the clustered on-disk index layout
  * (the reference's serialized index directory: data + codec config in one
  * place, svs/index/ivf/index.h + its save/load schema): cluster-partitioned
  * parquet with the chosen codec's resident code columns attached at write
  * time, plus a `layout.json` sidecar recording the codec and its trained
  * parameters. `open` re-reads both, so a search over the layout can never
  * run against data whose codes were attached with different parameters —
  * the mistake this API removes.
  *
  * Layout on disk:
  * {{{
  * <path>/data/cluster_id=<c>/part-*.parquet   (codes resident per codec)
  * <path>/centroids/part-*.parquet
  * <path>/layout.json
  * }}}
  */
object IndexLayout {

  /** Resident-code codec for the coarse scan. */
  sealed trait Codec
  /** Full-precision layout: no code columns, coarse pass reads `vec`. */
  case object Uncompressed extends Codec
  /** Scalar quantization: resident `codes` ARRAY<SMALLINT> column
    * ([[IvfIndex.withResidentCodes]]); decode-free L2/IP/cosine scans. */
  final case class Sq(p: ScalarQuant.Params) extends Codec
  /** LVQ two-level residual codec: resident `(c1, lo1, s1, c2, lo2, s2)`
    * columns ([[IvfIndex.withResidentLvq]]). */
  final case class LvqC(p: Lvq.Params) extends Codec
  /** LeanVec learned reduction: resident `rvec` r-dim column
    * ([[IvfIndex.withResidentLeanVec]]); the trained model (mean +
    * projection + spectrum) persists in the sidecar — the reference's
    * LeanVecTrainingData save/load (training_impl.h:68-79). */
  final case class LeanVecC(m: LeanVec.Model) extends Codec
  /** IVFADC (Jégou et al. TPAMI'11 §IV): resident residual-PQ code
    * columns `c0..c{m−1}` quantizing `vec − coarse_centroid`; search
    * ranks by probe-pruned residual-LUT sums over codes only, so the
    * stored coarse pass never reads `vec`. Codebooks persist in the
    * sidecar with shortest-round-trip doubles. */
  final case class PqResC(p: Pq.Params) extends Codec

  final case class Layout(clustered: DataFrame,
                          centroids: Seq[(Long, Seq[Double])], codec: Codec,
                          routing: Option[(Seq[(Long, Seq[Double])],
                            Map[Long, Long])] = None,
                          routingMetricName: Option[String] = None)

  /** Attach the codec's resident code columns to a clustered (id, vec,
    * cluster_id) frame — shared by [[write]] and [[upsert]] so initial
    * encode and re-encode can never drift. Codec attachment is VALUE
    * arithmetic (residual/quantize folds run on element values):
    * byte-resident inputs widen through the shared mark-aware helper
    * first so u8 never encodes in the sign-extended space. The widened
    * frame feeds ONLY the code computation — added code columns join
    * back onto the raw frame, so the persisted `vec` stays byte-/half-
    * resident on disk. For [[PqResC]], residuals quantize against the
    * centroid of each row's `cluster_id` in `centroids` — the caller
    * decides whether those are the original or refreshed means. */
  private def withCodecColumns(clustered: DataFrame,
                               centroids: Seq[(Long, Seq[Double])],
                               codec: Codec): DataFrame = {
    val wide = graft.functions.HalfVecs.widenedForMath(
      graft.functions.ByteVecs.widenedForMath(clustered, "vec"), "vec")
    def attach(f: DataFrame => DataFrame): DataFrame =
      if (wide eq clustered) f(clustered)
      else {
        val coded = f(wide)
        val newCols = coded.columns.filterNot(clustered.columns.contains)
        clustered.join(
          coded.select("cluster_id", ("id" +: newCols.toSeq): _*),
          Seq("cluster_id", "id"))
      }
    codec match {
      case Uncompressed => clustered
      case Sq(p) => attach(IvfIndex.withResidentCodes(_, p))
      case LvqC(p) => attach(IvfIndex.withResidentLvq(_, p))
      case LeanVecC(m) => attach(IvfIndex.withResidentLeanVec(_, m))
      case PqResC(p) => clustered.join(
        Pq.encodeResiduals(wide, centroids, p), Seq("cluster_id", "id"))
    }
  }

  /** Write the clustered table (id, vec, cluster_id) + centroids + codec in
    * one call: attaches the codec's resident columns, then persists
    * cluster-partitioned so probe joins prune partitions at the source. */
  def write(clustered: DataFrame, centroids: Seq[(Long, Seq[Double])],
            path: String, codec: Codec = Uncompressed,
            routingGroups: Int = 0,
            routingMetric: Metric = Metric.L2): Unit = {
    val spark = clustered.sparkSession
    import spark.implicits._
    // byte stores persist their declared signedness in the sidecar (the
    // authoritative copy of the ByteVecs mark — open() restores it);
    // unmarked byte input fails loudly rather than writing ambiguity
    val byteU: Option[Boolean] =
      if (graft.functions.ByteVecs.isByteVec(clustered.schema("vec").dataType))
        Some(graft.functions.ByteVecs.requireSignedness(
          clustered.schema, "vec"))
      else None
    // half stores persist their declared f16/bf16 format the same way
    val halfF: Option[String] =
      if (graft.functions.HalfVecs.isShortVec(
        clustered.schema("vec").dataType))
        Some(graft.functions.HalfVecs.requireFormat(clustered.schema, "vec"))
      else None
    // the rebuild is itself a multi-artifact commit: bracket it with a
    // rebuild-kind marker (superseding any stale upsert marker) and lift
    // it only after the LAST artifact (the sidecar) lands — a crash
    // mid-rebuild leaves a marked, open()-refused store instead of an
    // unmarked inconsistent one (the pre-r16 delete-marker-first order
    // dropped the protection exactly when the store was being remade)
    StoreMarker.bracket(spark, path, "rebuild", Nil) {
      // optional persisted level-1 routing table — the stored-IVF analog of
      // GraphLayout.write(routingGroups): trained for the serving metric,
      // persisted with the metric's name so a reopened layout routes
      // hierarchically without retraining and a mismatched searchRouted
      // fails loudly (reference: index/ivf/hierarchical_kmeans.h).
      // Trained before the concurrent writes (driver-side, milliseconds).
      val routing =
        if (routingGroups > 0) {
          require(
            Metric.byName(routingMetric.name.stripSuffix("_simd")).isDefined,
            s"routing metric '${routingMetric.name}' cannot round-trip the " +
              "sidecar (Metric.byName) — route with l2/ip/cosine")
          Some(Vamana.trainRoutingLevel(centroids, routingGroups,
            metric = routingMetric))
        } else None
      val withCodes = withCodecColumns(clustered, centroids, codec)
      // independent artifact writes (disjoint dirs, rebuild marker covers
      // the commit) run concurrently — guide §2.6; sidecar stays LAST
      UpsertBatch.runConcurrently(Seq(
        () => IvfIndex.writeClustered(withCodes, s"$path/data"),
        () => centroids.toDF("id", "vec").write.mode("overwrite")
          .parquet(s"$path/centroids")) ++
        routing.map { case (l1, groupOf) => () =>
          l1.toDF("id", "vec").write.mode("overwrite")
            .parquet(s"$path/routing_l1")
          groupOf.toSeq.toDF("cluster_id", "group_id").write
            .mode("overwrite").parquet(s"$path/routing_groups")
        })
      val codecJson = codec match {
        case Uncompressed => """{"type":"none"}"""
        case Sq(p) =>
          s"""{"type":"sq","scale":${p.scale},"bias":${p.bias},""" +
            s""""bits":${p.bits}}"""
        case LvqC(p) =>
          s"""{"type":"lvq","bits1":${p.bits1},"bits2":${p.bits2},""" +
            s""""mean":[${p.mean.mkString(",")}]}"""
        case LeanVecC(m) =>
          // Double.toString is shortest-round-trip, so the model reopens
          // bit-exactly and re-derived reductions match the resident column
          s"""{"type":"leanvec","mean":[${m.mean.mkString(",")}],""" +
            s""""proj":[${m.proj.map(r => s"[${r.mkString(",")}]")
              .mkString(",")}],""" +
            s""""eigvals":[${m.eigvals.mkString(",")}]}"""
        case PqResC(p) =>
          s"""{"type":"pqres","m":${p.m},"k":${p.k},"dims":${p.dims},""" +
            s""""books":[${p.codebooks.map(cb => "[" + cb.map(c =>
              "[" + c.mkString(",") + "]").mkString(",") + "]")
              .mkString(",")}]}"""
      }
      writeSidecar(spark, s"$path/layout.json",
        s"""{"codec":$codecJson,""" +
          s""""byte_unsigned":${byteU.map(_.toString).getOrElse("null")},""" +
          s""""half_format":${halfF.map(f => s""""$f"""").getOrElse("null")},""" +
          s""""routing_groups":$routingGroups,""" +
          s""""routing_metric":"${routingMetric.name.stripSuffix("_simd")}"}""")
    }
  }

  /** Re-open a written layout: clustered data with its resident codes, the
    * centroid table, and the codec parameters the codes were built with.
    * FAILS LOUDLY if an upsert's in-progress marker is present: a crashed
    * upsert can leave re-encoded codes committed against centroids the
    * table does not yet hold (codes and centroids are separate artifacts
    * — no multi-file commit is atomic), and for the residual codec that
    * is silently wrong DISTANCES, not a recall dip. Run [[repair]] to
    * restore the codes ≡ centroids ≡ rows invariant, then re-apply the
    * upsert batch (replace-on-add converges). */
  def open(spark: SparkSession, path: String): Layout = {
    // marker triage is mechanized (StoreMarker): a fresh heartbeat means
    // a LIVE writer (do not repair under it), a stale upsert marker
    // directs to repair(), a stale rebuild marker to re-running write()
    StoreMarker.guard(spark, path, "layout",
      "IndexLayout.repair(spark, path)", "IndexLayout.write")
    openUnchecked(spark, path)
  }

  private def markerPath(path: String): String = StoreMarker.markerPath(path)

  /** Everything [[openUnchecked]] reads EXCEPT the data directory: codec
    * + marks from the sidecar, the centroid table, the routing level.
    * None of it scales with shard count — the data dir's partition
    * listing is the one open cost ∝ total shards (measured: serve
    * 100q/8probes 2.7 → 9.2 s at 2k → 20k shards with flat bytes,
    * SCALE.md r15), which [[serveCold]] avoids by listing only the
    * probed `cluster_id=` dirs. */
  private case class Meta(codec: Codec, byteU: Option[Boolean],
                          halfF: Option[String],
                          centroids: Seq[(Long, Seq[Double])],
                          routing: Option[(Seq[(Long, Seq[Double])],
                            Map[Long, Long])],
                          routingMetricName: Option[String])

  private def markVec(df: DataFrame, byteU: Option[Boolean],
                      halfF: Option[String]): DataFrame =
    (byteU, halfF) match {
      case (Some(u), _) if graft.functions.ByteVecs.isByteVec(
        df.schema("vec").dataType) =>
        graft.functions.ByteVecs.markSignedness(df, "vec", u)
      case (_, Some(f)) if graft.functions.HalfVecs.isShortVec(
        df.schema("vec").dataType) =>
        graft.functions.HalfVecs.markHalf(df, f, "vec")
      case _ => df
    }

  /** [[open]] minus the marker guard — [[repair]]'s entry point. */
  private def openUnchecked(spark: SparkSession, path: String): Layout = {
    val m = readMeta(spark, path)
    Layout(markVec(spark.read.parquet(s"$path/data"), m.byteU, m.halfF),
      m.centroids, m.codec, m.routing, m.routingMetricName)
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    // crash recovery for the upsert's centroid swap: if an upsert died
    // between delete and rename, finish the rename (centroids.tmp holds
    // the complete new table) — the GraphLayout.open recipe
    val cfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cDst = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val cTmp = new org.apache.hadoop.fs.Path(s"$path/centroids.tmp")
    if (!cfs.exists(cDst) && cfs.exists(cTmp))
      require(cfs.rename(cTmp, cDst), s"failed to recover $cDst from $cTmp")
    val json = readSidecar(spark, s"$path/layout.json")
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    val c = parsed \ "codec"
    val codec = (c \ "type").extract[String] match {
      case "none" => Uncompressed
      case "sq" => Sq(ScalarQuant.Params((c \ "scale").extract[Double],
        (c \ "bias").extract[Double], (c \ "bits").extract[Int]))
      case "lvq" => LvqC(Lvq.Params((c \ "mean").extract[Seq[Double]],
        (c \ "bits1").extract[Int], (c \ "bits2").extract[Int]))
      case "leanvec" => LeanVecC(LeanVec.Model(
        (c \ "mean").extract[Seq[Double]].toArray,
        (c \ "proj").extract[Seq[Seq[Double]]].map(_.toArray).toArray,
        (c \ "eigvals").extract[Seq[Double]].toArray))
      case "pqres" => PqResC(Pq.Params((c \ "m").extract[Int],
        (c \ "k").extract[Int], (c \ "dims").extract[Int],
        (c \ "books").extract[Seq[Seq[Seq[Double]]]]
          .map(_.map(_.toArray).toArray).toArray))
      case t => sys.error(s"unknown layout codec '$t' in $path/layout.json")
    }
    val byteU = (parsed \ "byte_unsigned") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[Boolean])
    }
    val halfF = (parsed \ "half_format") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[String])
    }
    // routing is sidecar-gated like the codec: a rewrite without
    // routingGroups records 0 and stale routing dirs are ignored
    val routingGroups = (parsed \ "routing_groups") match {
      case JNull | JNothing => 0
      case node             => node.extract[Int]
    }
    val routingMetricName = (parsed \ "routing_metric") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[String])
    }
    val fsR = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val routing =
      if (routingGroups > 0 &&
        fsR.exists(new org.apache.hadoop.fs.Path(s"$path/routing_l1")) &&
        fsR.exists(new org.apache.hadoop.fs.Path(s"$path/routing_groups")))
        Some((DriverParquet.vectors(spark, s"$path/routing_l1"),
          DriverParquet.longPairs(spark, s"$path/routing_groups",
            "cluster_id", "group_id")))
      else None
    Meta(codec, byteU, halfF, DriverParquet.vectors(spark, s"$path/centroids"),
      routing,
      if (routingGroups > 0) routingMetricName else None)
  }

  /** Cold one-shot PROBED serve — the serve-side half of the r15 scale
    * bend (SCALE.md: serve 100q/8probes 2.7 → 9.2 s at 2k → 20k shards
    * with FLAT bytes, purely from `open()`'s partition discovery listing
    * every `cluster_id=` dir). [[open]] + [[serve]] stays the right shape
    * when one opened layout serves many batches (the StreamingServe
    * deployment — the listing amortizes); for a COLD single batch this
    * entry point selects the probe union driver-side from the
    * centroid/routing tables (shard-count-independent reads) and lists
    * ONLY the probed shards' directories, so the open cost is
    * ∝ |Q|·nProbes instead of ∝ total shards.
    *
    * Row-identical to `serve(open(path), …)`: probe selection uses the
    * SAME kernels the codec scans use ([[BatchScore.probeTopK]] /
    * [[BatchScore.probeTopKHierarchical]] — every codec branch probes on
    * the serve metric), and the pruned frame contains every partition
    * any query probes, so the inner probe joins prune identically
    * (IndexLayoutSpec pins equality), and an empty batch returns the
    * same empty result. The marker guard still runs — a crashed store
    * is refused, not partially served. */
  def serveCold(spark: SparkSession, path: String, queries: DataFrame,
                k: Int, nProbes: Int, metric: Metric, l1Probes: Int = 0,
                kReorder: Int = 3): DataFrame = {
    StoreMarker.guard(spark, path, "layout",
      "IndexLayout.repair(spark, path)", "IndexLayout.write")
    val m = readMeta(spark, path)
    val probed = coldProbes(m, queries, nProbes, metric, l1Probes)
    // an empty batch probes nothing: read one shard (for its schema
    // only) so the codec scan plans the same empty result a warm serve
    // returns
    val read = if (probed.nonEmpty) probed else m.centroids.take(1).map(_._1)
    serve(Layout(coldData(spark, path, m, read), m.centroids, m.codec,
      m.routing, m.routingMetricName), queries, k, nProbes, metric,
      l1Probes, kReorder)
  }

  /** [[serveCold]]'s probe union, chosen driver-side with the SAME
    * kernels the serve scan uses. */
  private def coldProbes(m: Meta, queries: DataFrame, nProbes: Int,
                         metric: Metric, l1Probes: Int): Seq[Long] = {
    val centArr = m.centroids
      .map { case (cid, cv) => (cid, cv.toArray) }.toIndexedSeq
    import org.apache.spark.sql.functions.col
    val qs = queries.select(col("query_id").cast("long"), col("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probedPerQ: Array[Array[Long]] =
      if (m.routing.isDefined && l1Probes > 0) {
        Vamana.requireRoutingMetric(m.routingMetricName, metric)
        val (l1, groupOf) = m.routing.get
        val l1Arr = l1.sortBy(_._1)
          .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
        BatchScore.probeTopKHierarchical(qs, centArr, l1Arr, groupOf,
          l1Probes, nProbes, metric)
      } else BatchScore.probeTopK(qs, centArr, nProbes, metric)
    probedPerQ.iterator.flatten.toArray.distinct.sorted.toSeq
  }

  /** [[serveCold]]'s clustered frame, rooted at ONLY the probed
    * `cluster_id=` dirs. */
  private def coldData(spark: SparkSession, path: String, m: Meta,
                       probed: Seq[Long]): DataFrame =
    markVec(IvfIndex.readProbed(spark, s"$path/data", probed), m.byteU,
      m.halfF)

  /** Regression seam (r16 verdict: cold listing must stay ∝ probes, not
    * shards): the frame [[serveCold]] scans, so a spec can assert its
    * FileIndex is rooted at probed `cluster_id=` dirs only. */
  private[graft] def coldClusteredFor(spark: SparkSession, path: String,
      queries: DataFrame, nProbes: Int, metric: Metric): DataFrame = {
    val m = readMeta(spark, path)
    coldData(spark, path, m, coldProbes(m, queries, nProbes, metric,
      l1Probes = 0))
  }

  /** Search the layout with the codec-matched coarse scan: SQ layouts run
    * the decode-free code scan + full-precision reorder, LVQ layouts the
    * two-level re-rank, uncompressed layouts the plain probe join. */
  def search(layout: Layout, queries: DataFrame, k: Int, nProbes: Int,
             metric: Metric, kReorder: Int = 3): DataFrame = {
    // byte-resident stores serve through the mark-aware widen: the
    // declarative scans (metric.column, re-rank passes) accept
    // ARRAY<FLOAT|DOUBLE> only, and an unwidened cast would sign-extend
    // u8. The transform is column-pruned away wherever a pass reads only
    // code columns, so codes-only coarse passes pay nothing.
    val cl = graft.functions.HalfVecs.widenedForMath(
      graft.functions.ByteVecs.widenedForMath(layout.clustered, "vec"),
      "vec")
    layout.codec match {
      case Uncompressed =>
        IvfIndex.search(queries, cl, layout.centroids, k, nProbes, metric)
      case Sq(p) =>
        require(metric == Metric.L2, "SQ layout reorder search is L2-only")
        IvfIndex.searchWithReorder(queries, cl, layout.centroids,
          p, k, nProbes, kReorder)
      case LvqC(p) =>
        require(metric == Metric.L2, "LVQ layout search is L2-only")
        IvfIndex.searchWithLvqReorder(queries, cl,
          layout.centroids, p, k, nProbes, kReorder)
      case LeanVecC(m) =>
        require(metric == Metric.L2, "LeanVec layout search is L2-only")
        IvfIndex.searchWithLeanVecReorder(queries, cl,
          layout.centroids, m, k, nProbes, kReorder)
      case PqResC(p) =>
        require(metric == Metric.L2, "IVFADC layout search is L2-only " +
          "(the residual decomposition is an L2 identity)")
        Pq.searchIvfAdc(queries, cl, layout.centroids, p, k, nProbes)
    }
  }

  /** [[search]] routed through the PERSISTED level-1 table
    * ([[write]]'s `routingGroups`) — the stored-IVF twin of
    * [[GraphLayout.serve]] with `Codec.Full(l1Probes)`: probe selection
    * scores the l1 groups
    * first and only their member centroids after
    * ([[BatchScore.probeTopKHierarchical]]), then the codec-matched scan
    * runs unchanged on the selected probes. At `l1Probes = |l1|` probe
    * selection is bit-identical to the flat sweep, so searchRouted ≡
    * [[search]] (IndexRoutingSpec). */
  def searchRouted(layout: Layout, queries: DataFrame, k: Int,
                   l1Probes: Int, nProbes: Int, metric: Metric,
                   kReorder: Int = 3): DataFrame = {
    val (l1, groupOf) = layout.routing.getOrElse(sys.error(
      "layout has no routing level — write(routingGroups = …) first"))
    Vamana.requireRoutingMetric(layout.routingMetricName, metric)
    // one route closure shared by every codec branch (the Uncompressed
    // branch routes through IvfIndex.searchHierarchical, which rebuilds
    // the same selection from (l1, groupOf) — same inputs, same kernel)
    lazy val route: IvfIndex.ProbeRoute = {
      val l1Arr = l1.sortBy(_._1)
        .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
      BatchScore.probeTopKHierarchical(_, _, l1Arr, groupOf, l1Probes,
        nProbes, metric)
    }
    val cl = graft.functions.HalfVecs.widenedForMath(
      graft.functions.ByteVecs.widenedForMath(layout.clustered, "vec"),
      "vec")
    layout.codec match {
      case Uncompressed =>
        IvfIndex.searchHierarchical(queries, cl,
          layout.centroids, l1, groupOf, k, l1Probes, nProbes, metric)
      case Sq(p) =>
        require(metric == Metric.L2, "SQ layout reorder search is L2-only")
        IvfIndex.searchWithReorder(queries, cl,
          layout.centroids, p, k, nProbes, kReorder, Some(route))
      case LvqC(p) =>
        require(metric == Metric.L2, "LVQ layout search is L2-only")
        IvfIndex.searchWithLvqReorder(queries, cl,
          layout.centroids, p, k, nProbes, kReorder, Some(route))
      case LeanVecC(m) =>
        require(metric == Metric.L2, "LeanVec layout search is L2-only")
        IvfIndex.searchWithLeanVecReorder(queries, cl,
          layout.centroids, m, k, nProbes, kReorder, Some(route))
      case PqResC(p) =>
        require(metric == Metric.L2, "IVFADC layout search is L2-only " +
          "(the residual decomposition is an L2 identity)")
        Pq.searchIvfAdc(queries, cl, layout.centroids, p, k,
          nProbes, Some(route))
    }
  }

  /** ONE serving entry point for the stored-IVF codec layouts — the
    * [[GraphLayout.serve]] posture (reference: one type-erased
    * `search()`, orchestrators/manager.h:217) applied here: routes
    * through the persisted level-1 when the layout HAS one and the
    * caller asks for routing (`l1Probes > 0`), falls back to the flat
    * probe sweep otherwise — so one call signature serves every codec
    * (Uncompressed/SQ/LVQ/LeanVec/IVFADC) and every layout, routed or
    * not. Every coarse pass broadcasts the probe list and scans only the
    * probed `cluster_id=` partitions (PlanSpec pins the
    * PartitionFilters), so corpus rows never shuffle on ANY path.
    * At `l1Probes = |l1|` routed ≡ flat bit-for-bit (IndexRoutingSpec),
    * making the routing dial a pure cost decision. */
  def serve(layout: Layout, queries: DataFrame, k: Int, nProbes: Int,
            metric: Metric, l1Probes: Int = 0,
            kReorder: Int = 3): DataFrame =
    if (layout.routing.isDefined && l1Probes > 0)
      searchRouted(layout, queries, k, l1Probes, nProbes, metric, kReorder)
    else
      search(layout, queries, k, nProbes, metric, kReorder)

  /** Incremental maintenance of the stored codec layout — the M1–M4
    * lifecycle for the IVF family, mirroring [[GraphLayout.upsert]]
    * (reference analog: the dynamic IVF index,
    * include/svs/index/ivf/dynamic_ivf.h): `added` rows (id, vec,
    * cluster_id — the caller routes, exactly like GraphLayout.upsert)
    * join their shards, `deletedIds` rows leave theirs, and ONLY the
    * touched `cluster_id=` partitions of `data` are rewritten — with
    * their codec columns RE-ENCODED through the same
    * [[withCodecColumns]] the initial write used (dynamic partition
    * overwrite; at 100 TB an upsert touching 3 of 10⁴ shards rewrites
    * 0.03% of the store). Touched centroids are re-derived with the
    * rounded-mean fold BEFORE the re-encode, so [[PqResC]] residual
    * codes always quantize against the REFRESHED coarse centroid —
    * codes and centroids cannot drift, and the upserted store equals a
    * from-scratch write of the merged corpus with the refreshed
    * centroid table (q191, IndexLayoutSpec).
    *
    * Quantizer-parameter drift rule: the codec's TRAINED constants (SQ
    * scale/bias, LVQ mean, LeanVec model, PQ codebooks) stay PINNED in
    * the sidecar. They are corpus-trained; retraining them on an upsert
    * would silently change the code space of every UNTOUCHED partition.
    * Decoding stays exact under pinned constants (codes read back with
    * the parameters that wrote them); what drifts as upserts accumulate
    * is quantization EFFICIENCY (residual spread vs stale codebooks) —
    * the staleness the reference's dynamic IVF accepts between retrains.
    * Retrain by rewriting the layout.
    *
    * ID-level UPSERT semantics are [[GraphLayout.upsert]]'s exactly:
    * replace-on-add (a re-added id leaves its old shard even when it
    * routes elsewhere), delete-wins over add in one batch, duplicate
    * identical adds collapse, conflicting payloads for one id fail
    * loudly — so micro-batch REPLAYS converge. A layout with a
    * persisted routing level retrains it from the refreshed centroids
    * (driver-side, milliseconds). Returns the reopened layout.
    *
    * CRASH SAFETY: data partitions, centroid table and routing level
    * cannot commit atomically, and for the residual codec a
    * codes/centroids mismatch is silently wrong DISTANCES — so the
    * whole multi-artifact commit is bracketed by an in-progress marker:
    * a crash anywhere inside leaves the marker, [[open]] refuses the
    * store, [[repair]] restores the codes ≡ centroids ≡ rows invariant
    * from rows on disk, and re-applying the batch restores content. */
  def upsert(spark: SparkSession, path: String, added: DataFrame,
             deletedIds: DataFrame): Layout = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val layout = open(spark, path)
    val stored = layout.clustered
      .select(col("id").cast("long").as("id"), col("vec"),
        col("cluster_id").cast("long").as("cluster_id"))
    val addedN = added.select(col("id").cast("long").as("id"), col("vec"),
      col("cluster_id").cast("long").as("cluster_id"))
    // micro-batch fast path: batches within the UpsertBatch bound collect
    // ONCE and run the hygiene contract (duplicate collapse / conflict
    // check / delete-wins / removed set) driver-side — the distributed
    // twin below spent ~10 fixed-cost jobs on contractually tiny frames.
    // A delete-only batch (e.g. a CDC micro-batch through
    // StreamingIndexLayout) carries a PLACEHOLDER vec type on an EMPTY
    // adds frame — against a byte-/half-resident store the value-space
    // contract below would fail loudly on zero added rows, and the merge
    // union would fail on the placeholder's type — so zero added rows
    // substitute a schema-matched empty frame (the store's own schema,
    // marks included) and deletes just apply. A batch whose adds are all
    // deleted in-batch flows through typed (its frame carried payloads).
    val (addedFinal, removed) = UpsertBatch.prep(addedN, deletedIds) match {
      case Some(p) =>
        // raw-empty adds substitute the store-schema empty frame; adds
        // all deleted IN-BATCH keep the batch's schema (empty rows) so
        // the value-space checks fire like the distributed typed flow
        (if (p.addedRows.isEmpty && !p.hadRows)
          stored.select("id", "vec", "cluster_id").limit(0)
        else p.addedDF(spark),
          p.removedDF(spark))
      case None => // bulk batch — the distributed path, unchanged
        val dels = deletedIds.select(col("id").cast("long").as("id"))
          .distinct()
        val af =
          if (added.isEmpty)
            stored.select("id", "vec", "cluster_id").limit(0)
          else {
            val addedDistinct = addedN.distinct()
            // only a handful of ids are reported — bound the collect
            // BEFORE it reaches the driver (a batch could conflict en
            // masse)
            val conflicted = addedDistinct.groupBy("id").count()
              .filter(col("count") > 1).select(col("id").cast("long"))
              .limit(6).as[Long].collect()
            require(conflicted.isEmpty,
              s"upsert: conflicting added payloads for ids " +
                s"${conflicted.take(5).mkString(", ")}" +
                (if (conflicted.length > 5) ", …" else ""))
            addedDistinct.join(dels, Seq("id"), "left_anti")
          }
        // rows to remove = explicit deletes ∪ re-added ids
        // (replace-on-add)
        (af, dels.unionByName(af.select(col("id"))).distinct())
    }
    // byte/half stores: added rows must DECLARE the same value space as
    // the store — mixing spaces in one store is silent corruption
    val storedSig =
      graft.functions.ByteVecs.signednessOf(stored.schema, "vec")
    storedSig.foreach { u =>
      require(graft.functions.ByteVecs.isByteVec(
        addedFinal.schema("vec").dataType),
        s"upsert: the store is byte-resident (${if (u) "u8" else "i8"}) " +
          s"but added rows have ${addedFinal.schema("vec").dataType} — " +
          "quantize and mark them to match the store")
      val au = graft.functions.ByteVecs.requireSignedness(
        addedFinal.schema, "vec")
      require(au == u,
        s"upsert: added rows are ${if (au) "u8" else "i8"} but the store " +
          s"is ${if (u) "u8" else "i8"}")
    }
    val storedHalf =
      graft.functions.HalfVecs.formatOf(stored.schema, "vec")
    storedHalf.foreach { f =>
      require(graft.functions.HalfVecs.isShortVec(
        addedFinal.schema("vec").dataType),
        s"upsert: the store is half-resident ($f) but added rows have " +
          s"${addedFinal.schema("vec").dataType} — encode and mark them " +
          "to match the store")
      val af = graft.functions.HalfVecs.requireFormat(
        addedFinal.schema, "vec")
      require(af == f, s"upsert: added rows are $af but the store is $f")
    }
    // delete-LOCATE via the shared fast path: micro-batch-small id sets
    // push as a scan predicate so parquet stats prune untouched files
    // (file-open-bound at 2×10⁴ shards otherwise — SCALE.md r15)
    val touched = addedFinal.select(col("cluster_id"))
      .union(Vamana.locateShards(stored, removed))
      .distinct().as[Long].collect().toSeq.sorted
    if (touched.isEmpty) return layout // nothing changed on disk
    val nc0 = stored.join(removed, Seq("id"), "left_anti")
      .unionByName(addedFinal)
    val nc1 = storedSig.map(u => graft.functions.ByteVecs
      .markSignedness(nc0, "vec", u)).getOrElse(nc0)
    val nc = storedHalf.map(f => graft.functions.HalfVecs
      .markHalf(nc1, f, "vec")).getOrElse(nc1)
    val touchedRows = nc.filter(col("cluster_id").isin(touched: _*))
    // the in-progress marker brackets the multi-artifact commit (data
    // partitions + centroids + routing cannot commit atomically): a
    // crash anywhere inside leaves the marker behind (heartbeat gone
    // stale), open() refuses to serve the possibly
    // code/centroid-inconsistent store, and repair() restores the
    // invariant from the marker's touched list
    val (mergedCents, routing) =
      StoreMarker.bracket(spark, path, "upsert", touched) {
        rewriteTouched(spark, path, layout, touchedRows, touched)
      }
    // construct the reopened layout directly instead of a full open():
    // only the data dir needs a fresh read (new file listing over the
    // rewritten partitions) — the centroid table, codec and routing level
    // are the values this very commit just wrote (parquet round-trips the
    // doubles bit-exactly, IndexLayoutSpec pins upsert ≡ reopen), and the
    // sidecar/centroid re-read cost three more driver jobs per upsert
    val data0 = spark.read.parquet(s"$path/data")
    val data1 = storedSig.map(u => graft.functions.ByteVecs
      .markSignedness(data0, "vec", u)).getOrElse(data0)
    val dataR = storedHalf.map(f => graft.functions.HalfVecs
      .markHalf(data1, f, "vec")).getOrElse(data1)
    Layout(dataR, mergedCents, layout.codec, routing,
      layout.routingMetricName)
  }

  /** Restore a store whose upsert crashed mid-commit (open() refuses it
    * by the in-progress marker): re-derive the marker's touched shards
    * FROM THE ROWS CURRENTLY ON DISK — refreshed rounded-mean centroids,
    * codec columns re-encoded against them, centroid table swapped,
    * routing retrained — so codes ≡ centroids ≡ rows again regardless of
    * which partition writes committed before the crash. This restores
    * the INVARIANT; re-applying the interrupted upsert batch afterwards
    * restores the CONTENT (replace-on-add makes the replay converge).
    * Idempotent; a store without a marker is returned unchanged. */
  def repair(spark: SparkSession, path: String): Layout = {
    import org.apache.spark.sql.functions._
    // the guard refuses LIVE markers (repair under a running writer
    // interleaves two commits) and stale REBUILD markers (no touched
    // list exists — only re-running write() helps); what remains is the
    // stale upsert marker repair exists for
    val info = StoreMarker.guard(spark, path, "layout",
      "IndexLayout.repair(spark, path)", "IndexLayout.write",
      forRepair = true)
    if (info.isEmpty) return open(spark, path)
    val touched = info.get.touched.sorted
    val layout = openUnchecked(spark, path)
    val touchedRows = layout.clustered
      .select(col("id").cast("long").as("id"), col("vec"),
        col("cluster_id").cast("long").as("cluster_id"))
      .filter(col("cluster_id").isin(touched: _*))
    // re-mark with a fresh session + heartbeat for the repair's own
    // rewrite: a crash mid-repair leaves the same stale-upsert state
    // (repair is idempotent), and the heartbeat keeps a concurrent
    // open() from reading "stale — repair me" under a live repair
    StoreMarker.bracket(spark, path, "upsert", touched) {
      rewriteTouched(spark, path, layout, touchedRows, touched)
    }
    open(spark, path)
  }

  /** The shared multi-artifact commit of [[upsert]] and [[repair]]:
    * refreshed centroids FIRST (the residual codec quantizes against
    * them), touched `cluster_id=` data partitions rewritten with codec
    * columns re-encoded through [[withCodecColumns]], emptied shard dirs
    * dropped, centroid table swapped (two-step with open()-side
    * recovery), persisted routing retrained. Callers bracket this with
    * the in-progress marker. Returns the committed centroid table and
    * retrained routing level so [[upsert]] can hand back the reopened
    * layout without re-reading what it just wrote. */
  private def rewriteTouched(spark: SparkSession, path: String,
                             layout: Layout, touchedRows: DataFrame,
                             touched: Seq[Long])
      : (Seq[(Long, Seq[Double])],
         Option[(Seq[(Long, Seq[Double])], Map[Long, Long])]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // value arithmetic widens byte/half marks like the build; the fold is
    // the ONE shared rounded-mean definition (KMeans.roundedMeans)
    val touchedW = graft.functions.HalfVecs.widenedForMath(
      graft.functions.ByteVecs.widenedForMath(touchedRows, "vec"), "vec")
    val touchedSet = touched.toSet
    val newCents = KMeans.roundedMeans(touchedW)
    val kept = layout.centroids.filterNot(c => touchedSet.contains(c._1))
    val mergedCents = (kept ++ newCents).sortBy(_._1)
    // re-encode the touched rows with the SAME codec attachment the
    // initial write used, against the refreshed centroid table;
    // materialize BEFORE overwriting (the plan reads the very
    // partitions the write replaces — the GraphLayout.upsert lesson)
    val coded = withCodecColumns(touchedRows, mergedCents, layout.codec)
      .localCheckpoint(true)
    coded.repartition(col("cluster_id")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster_id").parquet(s"$path/data")
    // a shard emptied by deletes writes zero rows and dynamic
    // overwrite cannot delete a partition it never writes — drop dirs
    val liveCids = coded.select(col("cluster_id")).distinct()
      .as[Long].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(liveCids).foreach { cid =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/data/cluster_id=$cid"), true)
    }
    // emptied shards also lose their centroid (newCents has no entry)
    mergedCents.toDF("id", "vec")
      .write.mode("overwrite").parquet(s"$path/centroids.tmp")
    // two-step swap with open()-side crash recovery, the
    // GraphLayout.upsert recipe
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids"), true)
    require(fs.rename(
      new org.apache.hadoop.fs.Path(s"$path/centroids.tmp"),
      new org.apache.hadoop.fs.Path(s"$path/centroids")),
      s"failed to swap $path/centroids.tmp into place")
    // refreshed centroids make a persisted routing level stale —
    // retrain it at the recorded group count for the recorded metric,
    // from the centroid table just committed (mergedCents — parquet
    // round-trips the doubles bit-exactly, so training on the in-memory
    // copy ≡ the old read-back, minus a collect job)
    val rg = routingGroupsOf(spark, path)
    val routing =
      if (rg > 0) {
        val rm = layout.routingMetricName match {
          case Some(name) => Metric.byName(name).getOrElse(sys.error(
            s"layout routing_metric '$name' is not a routable metric"))
          case None => Metric.L2
        }
        val (l1, groupOf) = Vamana.trainRoutingLevel(mergedCents, rg,
          metric = rm)
        l1.toDF("id", "vec").write.mode("overwrite")
          .parquet(s"$path/routing_l1")
        groupOf.toSeq.toDF("cluster_id", "group_id").write.mode("overwrite")
          .parquet(s"$path/routing_groups")
        Some((l1, groupOf))
      } else None
    (mergedCents, routing)
  }

  /** The sidecar's recorded routing group count (0 = no routing). */
  private def routingGroupsOf(spark: SparkSession, path: String): Int = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    (org.json4s.jackson.JsonMethods.parse(
      readSidecar(spark, s"$path/layout.json")) \ "routing_groups") match {
      case JNull | JNothing => 0
      case node             => node.extract[Int]
    }
  }

  private def writeSidecar(spark: SparkSession, path: String,
                           json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def readSidecar(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no layout sidecar at $p")
    val in = fs.open(p)
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    in.readFully(bytes); in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}
