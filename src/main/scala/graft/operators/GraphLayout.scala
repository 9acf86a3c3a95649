package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Metric

/** Persisted sharded-Vamana index directory — the graph analog of
  * [[IndexLayout]] (IVF layouts) and `TextIndex.buildIndex` (text), and the
  * Spark equivalent of the reference's three-directory Vamana save
  * (index/vamana/index.h:788-802: config TOML + graph blob + data blob,
  * loaded back by `SvsIndexDir` for the reference fixtures):
  *
  *   path/data      — (id, vec) cluster-partitioned parquet
  *   path/graph     — (id, entry_id, neighbors) cluster-partitioned parquet
  *   path/centroids — probe-routing centroids
  *   path/codes     — optional PQ codes, cluster-partitioned (DiskANN
  *                    serving: the walk reads THIS, never `data`)
  *   path/bincodes  — optional sign-bit word codes (8 B/row — the
  *                    smallest serving footprint), cluster-partitioned
  *   path/layout.json — PQ codebooks / binary thresholds sidecar
  *                    (shortest-round-trip doubles, so reopened ADC and
  *                    Hamming arithmetic are bit-identical)
  *   path/manifest.json — the committed file list ([[StoreManifest]]):
  *                    per big dir its read schema and each shard's part
  *                    files, so [[open]] / [[serveCold]] build their
  *                    frames without listing a dir or inferring a schema
  *
  * Every component is partitioned by `cluster_id`, so a served search reads
  * only the probed shards' partitions of graph + codes (plus the candidate
  * rows of `data` when reranking) — the corpus is never rescanned. At
  * 100 TB this is the index lifecycle: build once with
  * [[Vamana.buildSharded]], persist, serve probe-pruned from object
  * storage.
  */
object GraphLayout {

  /** An opened store: its frames, centroids and sidecar params, and the
    * store directory `path` it was read from. [[serve]] walks the files
    * the frames were opened over (their file index), so a layout is a
    * snapshot of the store: after an [[upsert]], serve the layout it
    * returns (or a fresh [[open]]). */
  final case class Layout(clustered: DataFrame, graph: DataFrame,
                          codes: Option[DataFrame],
                          centroids: Seq[(Long, Seq[Double])],
                          pq: Option[Pq.Params],
                          binCodes: Option[DataFrame] = None,
                          bin: Option[BinaryQuant.Params] = None,
                          binVersion: Int = 1,
                          routing: Option[(Seq[(Long, Seq[Double])],
                            Map[Long, Long])] = None,
                          routingMetricName: Option[String] = None,
                          path: String)

  /** Byte vec columns widened for VALUE arithmetic (centroid means, PQ /
    * sign-bit encodes) — the shared mark-aware helper: a raw TINYINT fold
    * would sign-extend u8 raw bytes (200 → −56) into the wrong value
    * space, silently skewing refreshed centroids and re-encoded codes. */
  private def widenedForMath(df: DataFrame): DataFrame =
    graft.functions.HalfVecs.widenedForMath(
      graft.functions.ByteVecs.widenedForMath(df, "vec"), "vec")

  /** Persist a built index. `clustered` (id, vec, cluster_id) and `graph`
    * are [[Vamana.buildSharded]]'s input/output; when `pq` is given the
    * codes table is derived here so codes and codebooks can never drift. */
  def write(clustered: DataFrame, graph: DataFrame,
            centroids: Seq[(Long, Seq[Double])], path: String,
            pq: Option[Pq.Params] = None,
            bin: Option[BinaryQuant.Params] = None,
            routingGroups: Int = 0,
            routingMetric: Metric = Metric.L2,
            binVersion: Int = 2): Unit = {
    // bincodes layout versions: 1 = 32 bits per BIGINT word (words-as-
    // doubles heritage), 2 = full 64-bit density (DEFAULT — half the
    // store bytes and walk state; serving is bit-identical, see
    // BinaryQuant.codeColumns64). The version is a STORE property
    // recorded in the sidecar; v1 remains writable for old readers.
    require(binVersion == 1 || binVersion == 2,
      s"unknown bincodes layout version $binVersion (supported: 1, 2)")
    val spark = clustered.sparkSession
    import spark.implicits._
    // byte stores persist their DECLARED signedness in the sidecar: the
    // schema mark alone can be stripped by external rewrites of the data
    // dir, and a u8 store served as i8 is silent corruption — open()
    // restores the mark from here. Unmarked byte input fails loudly now
    // rather than writing an ambiguous store.
    val byteU: Option[Boolean] =
      if (graft.functions.ByteVecs.isByteVec(clustered.schema("vec").dataType))
        Some(graft.functions.ByteVecs.requireSignedness(
          clustered.schema, "vec"))
      else None
    // half stores persist their DECLARED format the same way: an f16
    // store reopened as bf16 (or served bare) is silent corruption
    val halfF: Option[String] =
      if (graft.functions.HalfVecs.isShortVec(
        clustered.schema("vec").dataType))
        Some(graft.functions.HalfVecs.requireFormat(clustered.schema, "vec"))
      else None
    // the rebuild is itself a multi-artifact commit: bracket it with a
    // rebuild-kind marker (superseding any stale upsert marker) and lift
    // it only after the LAST artifact (the manifest) lands — a crash
    // mid-rebuild leaves a marked, open()-refused store instead of an
    // unmarked inconsistent one (the pre-r16 delete-marker-first order
    // dropped the protection exactly when the store was being remade)
    StoreMarker.bracket(spark, path, "rebuild", Nil) {
      // optional persisted level-1 routing table (the 10⁵-shard dial):
      // trained deterministically from the centroids FOR THE SERVING METRIC
      // (similarity metrics get spherical groups), stored with that metric's
      // name so a reopened index routes hierarchically without re-training
      // and a metric-mismatched routed serve fails loudly. Trained before
      // the concurrent writes (driver-side, milliseconds) so its two
      // table writes can join them.
      val routing =
        if (routingGroups > 0) {
          require(
            Metric.byName(routingMetric.name.stripSuffix("_simd")).isDefined,
            s"routing metric '${routingMetric.name}' cannot round-trip the " +
              "sidecar (Metric.byName) — route with l2/ip/cosine")
          Some(Vamana.trainRoutingLevel(centroids, routingGroups,
            metric = routingMetric))
        } else None
      // encodes are VALUE arithmetic: widen byte-resident vecs first so
      // u8 codes land in the unsigned value space (data stays raw on disk)
      lazy val clusteredW = widenedForMath(clustered)
      // every artifact write below is independent (disjoint dirs, shared
      // read-only inputs) and the rebuild marker covers the whole commit —
      // run them concurrently (guide §2.6) so the write fixture is bound
      // by the largest artifact, not the sum; the sidecar and then the
      // manifest follow them (the manifest's arrival plus the lifted
      // marker is the completion signal)
      UpsertBatch.runConcurrently(Seq(
        () => IvfIndex.writeClustered(clustered, s"$path/data"),
        () => graph.write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$path/graph"),
        () => centroids.toDF("id", "vec").write.mode("overwrite")
          .parquet(s"$path/centroids")) ++
        routing.map { case (l1, groupOf) => () =>
          l1.toDF("id", "vec").write.mode("overwrite")
            .parquet(s"$path/routing_l1")
          groupOf.toSeq.toDF("cluster_id", "group_id").write
            .mode("overwrite").parquet(s"$path/routing_groups")
        } ++
        pq.map { p => () =>
          Pq.encodeClustered(clusteredW, p).write.partitionBy("cluster_id")
            .mode("overwrite").parquet(s"$path/codes")
        } ++
        bin.map { b => () =>
          val wordCols =
            if (binVersion >= 2) BinaryQuant.codeColumns64(col("vec"), b)
            else BinaryQuant.codeColumns(col("vec"), b)
          clusteredW.select(col("cluster_id") +: col("id") +:
              wordCols.zipWithIndex.map {
                case (c, w) => c.as(s"w$w") }: _*)
            .write.partitionBy("cluster_id").mode("overwrite")
            .parquet(s"$path/bincodes")
        })
      val pqJson = pq match {
        case None => "null"
        case Some(p) =>
          s"""{"m":${p.m},"k":${p.k},"dims":${p.dims},"books":[""" +
            p.codebooks.map(cb => "[" + cb.map(c =>
              "[" + c.mkString(",") + "]").mkString(",") + "]")
              .mkString(",") + "]}"
      }
      val binJson = bin match {
        case None => "null"
        case Some(b) =>
          s"""{"version":$binVersion,"thresholds":[${
            b.thresholds.mkString(",")}]}"""
      }
      writeSidecar(spark, s"$path/layout.json",
        s"""{"pq":$pqJson,"bin":$binJson,""" +
          s""""routing_groups":$routingGroups,""" +
          s""""routing_metric":"${routingMetric.name.stripSuffix("_simd")}",""" +
          s""""byte_unsigned":${byteU.map(_.toString).getOrElse("null")},""" +
          s""""half_format":${halfF.map(f => s""""$f"""").getOrElse("null")}}""")
      StoreManifest.commit(spark, path,
        StoreManifest.list(spark, path, bigDirs(pq, bin)))
    }
  }

  /** The cluster-partitioned dirs a store with these codecs holds. */
  private def bigDirs(pq: Option[Pq.Params],
                      bin: Option[BinaryQuant.Params]): Seq[String] =
    Seq("data", "graph") ++ pq.map(_ => "codes") ++ bin.map(_ => "bincodes")

  /** Re-open a written layout. FAILS LOUDLY if an upsert's in-progress
    * marker is present: the multi-dir commit (data → graph → codes →
    * bincodes → centroids) cannot be atomic, and a crash between the
    * data write and a codes/bincodes write leaves touched shards' codes
    * describing DELETED rows — a `kReorder = 0` pure-ADC/Hamming serve
    * walks codes ⋈ graph without ever touching `data`, so it can EMIT a
    * deleted id (reranked serves drop it in the inner data join — that
    * window is answer-grade only on the code-only paths). Run [[repair]]
    * to restore the codes ≡ centroids ≡ data-rows invariant, then
    * re-apply the upsert batch (replace-on-add converges).
    *
    * The frames come from the committed manifest: no listing, no schema
    * inference, and (with the sidecar, centroids and routing level read
    * on the driver) no Spark job. A store without a manifest fails here;
    * one [[repair]] lists it and commits one. */
  def open(spark: SparkSession, path: String): Layout =
    assembleLayout(spark, path, guardedMeta(spark, path), None)

  /** Everything a layout holds besides its frames — sidecar params,
    * centroid table, routing level — plus the manifest the frames are
    * built from. */
  private case class GMeta(pq: Option[Pq.Params],
                           bin: Option[BinaryQuant.Params], binVersion: Int,
                           centroids: IndexedSeq[(Long, Seq[Double])],
                           routing: Option[(Seq[(Long, Seq[Double])],
                             Map[Long, Long])],
                           routingMetricName: Option[String],
                           byteU: Option[Boolean], halfF: Option[String],
                           manifest: StoreManifest.Manifest)

  /** The marker guard, then [[readMetaG]]. Marker triage is mechanized
    * (StoreMarker): a fresh heartbeat means a LIVE writer (do not repair
    * under it), a stale upsert marker directs to repair(), a stale
    * rebuild marker to re-running write(). */
  private def guardedMeta(spark: SparkSession, path: String): GMeta = {
    StoreMarker.guard(spark, path, "graph layout",
      "GraphLayout.repair(spark, path)", "GraphLayout.write")
    readMetaG(spark, path)
  }

  /** Build the served frames from [[GMeta]]'s manifest: every shard, or
    * only `shards` ([[serveCold]]'s probed ones). */
  private def assembleLayout(spark: SparkSession, path: String, m: GMeta,
                             shards: Option[Iterable[Long]]): Layout = {
    def readBig(sub: String) =
      StoreManifest.frame(spark, path, sub, m.manifest(sub), shards)
    val codes =
      if (m.pq.isDefined && m.manifest.contains("codes"))
        Some(readBig("codes"))
      else None
    val binCodes =
      if (m.bin.isDefined && m.manifest.contains("bincodes"))
        Some(readBig("bincodes"))
      else None
    val data0 = readBig("data")
    val data = (m.byteU, m.halfF) match {
      case (Some(u), _) if graft.functions.ByteVecs.isByteVec(
        data0.schema("vec").dataType) =>
        graft.functions.ByteVecs.markSignedness(data0, "vec", u)
      case (_, Some(f)) if graft.functions.HalfVecs.isShortVec(
        data0.schema("vec").dataType) =>
        graft.functions.HalfVecs.markHalf(data0, f, "vec")
      case _ => data0
    }
    Layout(data, readBig("graph"), codes, m.centroids, m.pq, binCodes,
      m.bin, m.binVersion, m.routing,
      if (m.routing.isDefined) m.routingMetricName else None, path)
  }

  /** Sidecar, centroids and routing level (read on the driver), and the
    * manifest: the committed one, or with `relist` the committed one
    * with the `relist` shards listed afresh (every shard when there is
    * none) — [[repair]]'s view of a store whose commit did not finish. */
  private def readMetaG(spark: SparkSession, path: String,
                        relist: Option[Seq[Long]] = None): GMeta = {
    // crash recovery for the centroid swap: if an upsert died between
    // delete and rename, finish the rename (centroids.tmp holds the
    // complete new table)
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
    val pqNode = parsed \ "pq"
    val pq = pqNode match {
      case JNull | JNothing => None
      case node => Some(Pq.Params((node \ "m").extract[Int],
        (node \ "k").extract[Int], (node \ "dims").extract[Int],
        (node \ "books").extract[Seq[Seq[Seq[Double]]]]
          .map(_.map(_.toArray).toArray).toArray))
    }
    val binNode = parsed \ "bin"
    val bin = binNode match {
      case JNull | JNothing => None
      case node => Some(BinaryQuant.Params(
        (node \ "thresholds").extract[Seq[Double]]))
    }
    // sidecar version gate: absent = v1 (every pre-v2 store), known
    // versions open, unknown versions fail loudly rather than serve
    // garbage Hamming distances off a misread word layout
    val binVersion = binNode match {
      case JNull | JNothing => 1
      case node => (node \ "version") match {
        case JNull | JNothing => 1
        case v                => v.extract[Int]
      }
    }
    require(binVersion == 1 || binVersion == 2,
      s"bincodes layout at $path has version $binVersion, which this " +
        "reader does not understand (supported: 1, 2) — refusing to " +
        "serve rather than misread the word packing")
    // routing is SIDECAR-gated like pq/bin: a rewrite without
    // routingGroups records 0 and stale routing dirs are ignored rather
    // than silently served
    val routingGroups = (parsed \ "routing_groups") match {
      case JNull | JNothing => 0
      case node             => node.extract[Int]
    }
    val routingMetricName = (parsed \ "routing_metric") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[String])
    }
    val routing =
      if (routingGroups > 0 &&
        cfs.exists(new org.apache.hadoop.fs.Path(s"$path/routing_l1")) &&
        cfs.exists(new org.apache.hadoop.fs.Path(s"$path/routing_groups")))
        Some((DriverParquet.vectors(spark, s"$path/routing_l1"),
          DriverParquet.longPairs(spark, s"$path/routing_groups",
            "cluster_id", "group_id")))
      else None
    // restore byte signedness from the sidecar: the authoritative copy of
    // the mark — a data dir whose schema metadata was stripped by an
    // external rewrite still reopens in the declared value space
    val byteU = (parsed \ "byte_unsigned") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[Boolean])
    }
    val halfF = (parsed \ "half_format") match {
      case JNull | JNothing => None
      case node             => Some(node.extract[String])
    }
    val committed = StoreManifest.read(spark, path)
    val manifest = relist match {
      case None => committed.getOrElse(sys.error(
        s"graph layout at $path has no ${StoreManifest.FileName} (a store " +
          "written before stores committed one, or it was removed) — run " +
          "GraphLayout.repair(spark, path) once to list the store and " +
          "commit it"))
      case Some(t) => StoreManifest.list(spark, path, bigDirs(pq, bin),
        committed.getOrElse(Map.empty), Some(t))
    }
    GMeta(pq, bin, binVersion, DriverParquet.vectors(spark, s"$path/centroids"),
      routing, if (routingGroups > 0) routingMetricName else None,
      byteU, halfF, manifest)
  }

  /** What a serve walks, and how it ranks. One case per stored codec
    * family, so each family takes exactly its own parameters:
    *
    *   - [[Codec.Full]] walks the full-precision `data` + `graph` dirs.
    *     With `l1Probes > 0` on a layout written with `routingGroups`,
    *     probe selection routes through the persisted level-1 (scores the
    *     l1 groups, then only their member centroids); otherwise it
    *     sweeps every centroid. `keep` is the traverse-but-filter
    *     predicate over the data FILE columns (`id`, `vec`): rows failing
    *     it keep the graph connected through them but are never emitted.
    *   - [[Codec.Pq]] is DiskANN serving: the walk scores PQ codes by ADC
    *     over the `codes` + `graph` dirs and never reads `data`.
    *     `kReorder > 0` keeps `kReorder·k` candidates and reranks them
    *     exactly against only their rows of `data`; `kReorder = 0` returns
    *     ADC ranks. The walk needs a subspace-decomposable metric (L2/IP);
    *     any other metric walks on L2 and needs the rerank. `keep` is
    *     evaluated against the codes file columns (practically `id`, the
    *     tombstone shape).
    *   - [[Codec.Binary]] walks the sign-bit `bincodes` + `graph` dirs by
    *     Hamming (8 bytes of walk state per row at 64 dims, the smallest
    *     serving read), probing by Hamming to the word-encoded centroids,
    *     then reranks `kReorder·k` candidates exactly (`kReorder ≥ 1`:
    *     there are no Hamming ranks to return without the rerank).
    *
    * In every case the serve's `metric` is the metric results are ranked
    * by. */
  sealed trait Codec
  object Codec {
    final case class Full(l1Probes: Int = 0, keep: Column = lit(true))
      extends Codec
    final case class Pq(kReorder: Int = 0, keep: Column = lit(true))
      extends Codec
    final case class Binary(kReorder: Int) extends Codec {
      require(kReorder >= 1,
        s"Codec.Binary reranks kReorder·k Hamming candidates exactly; " +
          s"kReorder must be ≥ 1, got $kReorder")
    }
  }

  /** Probed shard id → the (query_id, query vector) pairs probing it. */
  private[graft] type ProbeMap = Map[Long, Array[(Long, Array[Double])]]

  /** THE serving entry point — the reference posture of one type-erased
    * `search()` (orchestrators/manager.h:217) over the stored layout:
    * the batch is collected and probe-scored ONCE on the driver by the
    * codec's routing kernel ([[probeMap]]), then each probed shard's two
    * `cluster_id=` dirs (codec side + graph) are read straight off their
    * parquet files into one walk task per shard — ONE Spark job, whose
    * |Q|·nProbes·k top-k partials the driver merges as its tasks finish.
    * Corpus rows never enter a shuffle and nothing is exchanged: I/O is
    * the probed dirs' bytes (plus the candidate rows of `data` when a
    * codec reranks, whose join is the only further work). Rows are
    * bit-identical to the in-memory Vamana walks over the layout's
    * frames (`searchSharded*`, GraphLayoutSpec / HierRoutingSpec /
    * ServingPropSpec).
    *
    * Two things follow from the one job:
    *   - The walk runs when `serve` is called, as the probe map already
    *     did; the returned frame is a local relation of the rows
    *     (query_id, rnk, neighbor_id, dist), not a plan that reads the
    *     store later.
    *   - The walk reads the files `layout` was opened over — its frames'
    *     own file index, so no listing runs per call. A layout is a
    *     snapshot: after an [[upsert]], serve the layout it returns (or a
    *     fresh [[open]]); the superseded layout fails loudly on the part
    *     files the upsert replaced rather than mix two versions. */
  def serve(layout: Layout, queries: DataFrame, k: Int, searchWindow: Int,
            nProbes: Int, metric: Metric,
            codec: Codec = Codec.Full()): DataFrame =
    serveProbed(layout, queries, k, searchWindow, metric, codec,
      probes(layout, queries, nProbes, metric, codec))

  /** Cold one-shot serve ≡ `serve(open(path), …)`, row for row (and an
    * empty batch returns the same empty result). This reads the sidecar,
    * centroids, routing level and manifest on the driver, probes with the
    * same [[probeMap]] the warm serve uses, and builds the layout over
    * ONLY the probed shards' manifest entries: no listing, no schema
    * inference, and the walk is the one Spark job. Like [[serve]], the
    * walk runs when this is called and returns its rows as a local
    * relation. The marker guard still runs: a crashed store is refused,
    * not partially served. */
  def serveCold(spark: SparkSession, path: String, queries: DataFrame,
                k: Int, searchWindow: Int, nProbes: Int, metric: Metric,
                codec: Codec = Codec.Full()): DataFrame = {
    val m = guardedMeta(spark, path)
    val pm = probeMap(queries, nProbes, metric, codec, m.centroids,
      m.routing, m.routingMetricName, m.bin)
    serveProbed(assembleLayout(spark, path, m, Some(pm.keys)), queries, k,
      searchWindow, metric, codec, pm)
  }

  /** Regression seam (r16 verdict: the cold path must keep its reads
    * ∝ probes, not shards): the cold layout [[serveCold]] would build for
    * a flat probe set, so a spec can assert every big-dir FileIndex is
    * rooted at probed `cluster_id=` dirs — never the store-wide dir. */
  private[graft] def coldLayoutFor(spark: SparkSession, path: String,
      queries: DataFrame, nProbes: Int, metric: Metric): Layout = {
    val m = readMetaG(spark, path)
    assembleLayout(spark, path, m, Some(
      Vamana.flatProbeMap(queries, m.centroids, nProbes, metric).keys))
  }

  /** [[probeMap]] over an opened layout — with [[serveProbed]], the
    * probe-once seam StreamingServe's decision log uses to record the
    * probe map the serve then reads. */
  private[graft] def probes(layout: Layout, queries: DataFrame,
                            nProbes: Int, metric: Metric,
                            codec: Codec): ProbeMap =
    probeMap(queries, nProbes, metric, codec, layout.centroids,
      layout.routing, layout.routingMetricName, layout.bin)

  /** The codec's routing kernel — the one probe-map definition shared by
    * [[serve]], [[serveCold]] and StreamingServe's decision log, so every
    * entry reads exactly the shards the others would:
    * Full routes on `metric` (hierarchically when `l1Probes > 0` and the
    * layout has a level-1 — a metric mismatched with the level fails
    * here, before any probing work), Pq on its walk metric, Binary by
    * Hamming over the word-encoded batch and centroids (the pairs then
    * carry the word-encoded query, which is what the Hamming walk
    * scores). */
  private def probeMap(queries: DataFrame, nProbes: Int, metric: Metric,
                       codec: Codec,
                       centroids: Seq[(Long, Seq[Double])],
                       routing: Option[(Seq[(Long, Seq[Double])],
                         Map[Long, Long])],
                       routingMetricName: Option[String],
                       bin: Option[BinaryQuant.Params]): ProbeMap =
    codec match {
      case Codec.Full(l1Probes, _) if l1Probes > 0 && routing.isDefined =>
        Vamana.requireRoutingMetric(routingMetricName, metric)
        val (l1, groupOf) = routing.get
        Vamana.hierProbeMap(queries, centroids, l1, groupOf, l1Probes,
          nProbes, metric)
      case Codec.Full(_, _) =>
        Vamana.flatProbeMap(queries, centroids, nProbes, metric)
      case Codec.Pq(kReorder, _) =>
        Vamana.flatProbeMap(queries, centroids, nProbes,
          adcWalkMetric(metric, kReorder))
      case Codec.Binary(_) =>
        val b = bin.getOrElse(sys.error(
          "layout has no binary codes — write(bin = Some(...)) first"))
        Vamana.flatProbeMap(
          queries.select(col("query_id"),
            array(BinaryQuant.codeColumns(col("qvec"), b)
              .map(_.cast("double")): _*).as("qvec")),
          centroids.map { case (cid, cv) =>
            (cid, BinaryQuant.encodeWords(cv, b)) },
          nProbes, Metric.Hamming)
    }

  /** The metric a PQ walk scores by: ADC decomposes over subspaces only
    * for L2/IP, so any other metric walks on L2 and must rerank exactly
    * (`kReorder > 0`) on the requested one. */
  private def adcWalkMetric(metric: Metric, kReorder: Int): Metric =
    if (metric == Metric.L2 || metric == Metric.IP) metric
    else {
      require(kReorder > 0,
        s"ADC requires a subspace-decomposable metric (L2/IP) unless " +
          s"kReorder > 0 reranks exactly — got $metric with no rerank")
      Metric.L2
    }

  /** The codec's walk over the probed shards' stored dirs, given the
    * batch's probe map (see [[serve]]). */
  private[graft] def serveProbed(layout: Layout, queries: DataFrame,
                                 k: Int, searchWindow: Int, metric: Metric,
                                 codec: Codec, pm: ProbeMap): DataFrame = {
    codec match {
      case Codec.Full(_, keep) =>
        Vamana.searchStored(pm, layout.clustered, layout.graph, k,
          searchWindow, metric, keep)
      case Codec.Pq(kReorder, keep) =>
        val codes = layout.codes.getOrElse(
          sys.error("layout has no PQ codes — write(pq = Some(...)) first"))
        val walkK = if (kReorder > 0) kReorder * k else k
        val walked = Vamana.searchStoredAdc(pm, codes, layout.graph,
          layout.pq.get, walkK, searchWindow, adcWalkMetric(metric, kReorder),
          keep)
        if (kReorder > 0) rerankExact(walked, queries, layout, pm, k, metric)
        else walked
      case Codec.Binary(kReorder) =>
        val b = layout.bin.getOrElse(sys.error(
          "layout has no binary codes — write(bin = Some(...)) first"))
        val codes = layout.binCodes.getOrElse(sys.error(
          "layout has no bincodes table — rewrite with bin = Some(...) " +
            "(sidecar thresholds present but bincodes directory missing)"))
        val cand = Vamana.searchStoredHamming(pm, codes, layout.graph,
          b.wordsFor(layout.binVersion), kReorder * k, searchWindow,
          fullDensity = layout.binVersion >= 2)
        rerankExact(cand, queries, layout, pm, k, metric)
    }
  }

  /** [[Rerank.exact]] of a walk's candidates against the `data` rows of
    * the PROBED shards only: every candidate comes from a probed
    * `cluster_id=` partition by construction (the walk reads only those
    * dirs and graph edges stay in-shard), so the filter is a pure
    * partition-prune — bit-identical rows, rerank scan I/O ∝ the probed
    * union instead of the full corpus. At 10⁸ the un-pruned rerank's
    * data scan (~12.4 GB) was the dominant wall slice of the binary
    * serve (SCALE.md r13 Hamming leg); pruned it reads the probed
    * ~600 MB.
    *
    * HARD CONTRACT (the prune feeds an INNER join, so a violation drops
    * valid candidates silently): every walk candidate must come from a
    * probed `cluster_id=` partition. Today that holds by construction —
    * [[Vamana.buildSharded]] builds each shard's graph independently
    * (groupByKey on cluster_id), so edges never cross shards. Any future
    * layout with CROSS-SHARD edges or shard reassignment (e.g. a
    * merged/global graph over sharded data) MUST NOT use this prune.
    * `graft.debug.rerank.assert=true` (session conf or JVM property,
    * default off — the check is one extra job over the shortlist)
    * anti-joins the candidate ids against the pruned frame before
    * reranking and fails loudly on any candidate outside it. */
  private def rerankExact(cand: DataFrame, queries: DataFrame,
                          layout: Layout, pm: ProbeMap, k: Int,
                          metric: Metric): DataFrame = {
    val data =
      layout.clustered.filter(col("cluster_id").isin(pm.keySet.toSeq: _*))
    val spark = cand.sparkSession
    val flag = spark.conf.getOption("graft.debug.rerank.assert")
      .orElse(sys.props.get("graft.debug.rerank.assert"))
      .exists(_.equalsIgnoreCase("true"))
    if (flag) {
      val missing = cand.select(col("neighbor_id")).distinct()
        .join(data.select(col("id").as("neighbor_id")),
          Seq("neighbor_id"), "left_anti")
        .limit(5).collect().map(_.getLong(0))
      require(missing.isEmpty,
        s"rerank candidates outside the probed partitions (in-shard-" +
          s"edges contract violated): ids ${missing.mkString(", ")} — " +
          "this layout must rerank against the full frame")
    }
    Rerank.exact(cand, queries, data, k, metric)
  }

  /** Incremental maintenance of the persisted index — the M1–M4 lifecycle
    * for the graph store (the vector analog of `TextIndex.replaceDocs`):
    * `added` rows (id, vec, cluster_id) join their shards, `deletedIds`
    * rows leave theirs, touched shards are rebuilt from scratch via
    * [[Vamana.updateShards]] (bit-identical to a full rebuild of the
    * merged corpus, since untouched shards' rows are unchanged), and ONLY
    * the touched `cluster_id=` partitions of data/graph/codes are
    * rewritten (dynamic partition overwrite — at 100 TB an upsert touching
    * 3 of 10⁴ shards rewrites 0.03% of the store). Touched shards'
    * centroids are re-derived with the same rounded-mean fold so probe
    * routing tracks the moved mass. The store is read through its
    * manifest, and the commit relists only the touched `cluster_id=`
    * dirs, carrying the other shards' entries over, and commits the new
    * manifest last. Returns the layout built from that manifest (no
    * listing, no schema inference) — the one to serve from now on: a
    * layout opened before the upsert still names the replaced part files
    * ([[Layout]] is a snapshot).
    *
    * ID-level UPSERT semantics (the q134 text-lifecycle contract, and what
    * makes micro-batch REPLAYS converge instead of duplicating): an added
    * id that already exists in the store REPLACES its old row — the old
    * row's shard is touched and loses it even when the new row routes to a
    * different shard. */
  def upsert(spark: SparkSession, path: String, added: DataFrame,
             deletedIds: DataFrame, params: VamanaKernel.BuildParams,
             metric: Metric): Layout = {
    val meta = guardedMeta(spark, path)
    val layout = assembleLayout(spark, path, meta, None)
    import spark.implicits._
    val stored = layout.clustered
      .select(col("id").cast("long").as("id"), col("vec"),
        col("cluster_id").cast("long").as("cluster_id"))
    // batch hygiene, in precedence order:
    //  1. exact duplicate added rows collapse (at-least-once redelivery);
    //  2. two DIFFERENT payloads for one id in one batch is ambiguous —
    //     fail loudly rather than pick one;
    //  3. an id in both added and deletedIds is DELETED (delete wins, so
    //     a redelivered stale add can never resurrect a deleted row).
    // Micro-batch fast path: batches within the UpsertBatch bound collect
    // ONCE and run that contract driver-side (the distributed twin below
    // spent ~10 fixed-cost jobs on contractually tiny frames).
    // delete-only batches (CDC) carry a placeholder vec type on an EMPTY
    // adds frame — zero added rows substitute a schema-matched empty
    // frame (the store's own schema, marks included) so the value-space
    // checks and the merge union cannot fail. A batch whose adds are all
    // deleted in-batch flows through typed (its frame carried payloads).
    val (addedFinal, removed) = UpsertBatch.prep(added, deletedIds) match {
      case Some(p) =>
        // raw-empty adds (CDC delete-only) substitute the store-schema
        // empty frame; a batch whose adds were all deleted IN-BATCH keeps
        // the batch's own schema (empty rows) so the value-space checks
        // below fire exactly like the distributed path's typed flow
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
            val addedDistinct = added.distinct()
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
        (af, dels
          .unionByName(af.select(col("id").cast("long").as("id")))
          .distinct())
    }
    // byte stores: added rows must DECLARE the same signedness as the
    // store (an unmarked or mismatched byte add fails loudly — mixing
    // value spaces in one store is silent corruption), and the merged
    // frame re-carries the mark below in case a union drops metadata
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
    // half stores: the same declare-to-match contract as bytes (an f16
    // add into a bf16 store — or an unmarked one — is silent corruption)
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
      require(af == f,
        s"upsert: added rows are $af but the store is $f")
    }
    val (nc0, ng, touched) = Vamana.updateShardsTouched(stored, layout.graph,
      addedFinal, removed, params, metric)
    val nc1 = storedSig.map(u => graft.functions.ByteVecs
      .markSignedness(nc0, "vec", u)).getOrElse(nc0)
    val nc = storedHalf.map(f => graft.functions.HalfVecs
      .markHalf(nc1, f, "vec")).getOrElse(nc1)
    if (touched.isEmpty) return layout // nothing changed on disk
    // the in-progress marker brackets the multi-artifact commit
    // (data → graph → codes → bincodes → centroids cannot commit
    // atomically): a crash anywhere inside leaves the marker behind,
    // open() refuses to serve the store (a kReorder=0 code-only serve
    // of a crashed upsert can emit deleted ids), and repair()
    // restores the codes ≡ centroids ≡ data-rows invariant from the
    // marker's touched list
    val (mergedCents, routing, manifest) =
      StoreMarker.bracket(spark, path, "upsert", touched) {
        // materialize the touched shards' new rows BEFORE overwriting: the
        // plans read the very partitions the writes replace, and the source
        // DataFrames' cached file listing would otherwise chase deleted
        // part-files mid-job (eager localCheckpoint severs the lineage —
        // the Dedup.jaccardPairsPrefix epilogue lesson applied to writes)
        val ncT = nc.filter(col("cluster_id").isin(touched: _*))
          .localCheckpoint(true)
        val ngT = ng.filter(col("cluster_id").isin(touched: _*))
          .localCheckpoint(true)
        // VALUE arithmetic below (re-encodes, centroid means) must widen
        // byte-resident vecs mark-aware — matching write()'s encode space;
        // the persisted data/graph partitions keep the raw bytes
        lazy val ncW = widenedForMath(ncT)
        // the four per-dir writes are independent reads of the two
        // checkpoints targeting disjoint directories — run them
        // concurrently so each write's task tail back-fills with the
        // next's (marker semantics unchanged: any failure keeps the
        // marker). Dynamic overwrite is set PER WRITE
        // (DataFrameWriter.option), not via the session conf — a
        // concurrent overwrite on the same SparkSession must not inherit
        // dynamic semantics from this job.
        UpsertBatch.runConcurrently(Seq(
          () => ncT.repartition(col("cluster_id")).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cluster_id").parquet(s"$path/data"),
          () => ngT.repartition(col("cluster_id")).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cluster_id").parquet(s"$path/graph")) ++
          layout.pq.map { p => () =>
            Pq.encodeClustered(ncW, p).repartition(col("cluster_id"))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("cluster_id").parquet(s"$path/codes")
          } ++
          layout.bin.map { b => () =>
            // re-encode in the STORE's word layout (sidecar version): a v1
            // store must keep v1 words — mixed packings across partitions
            // of one bincodes dir would be silent Hamming corruption
            val wordCols =
              if (layout.binVersion >= 2)
                BinaryQuant.codeColumns64(col("vec"), b)
              else BinaryQuant.codeColumns(col("vec"), b)
            ncW.select(col("cluster_id") +: col("id") +:
                wordCols.zipWithIndex.map {
                  case (c, w) => c.as(s"w$w") }: _*)
              .repartition(col("cluster_id"))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("cluster_id").parquet(s"$path/bincodes")
          })
        // a shard emptied by deletes writes zero rows, and dynamic overwrite
        // cannot delete a partition it never writes — drop those dirs (and
        // their centroids, via the kept-filter below) explicitly
        val liveCids = ncT.select(col("cluster_id")).distinct()
          .as[Long].collect().toSet
        val fsE = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        touched.filterNot(liveCids).foreach { cid =>
          Seq("data", "graph", "codes", "bincodes").foreach { sub =>
            fsE.delete(new org.apache.hadoop.fs.Path(
              s"$path/$sub/cluster_id=$cid"), true)
          }
        }
        // refresh touched centroids with the same rounded-mean fold the
        // build used; untouched entries carry over verbatim
        val touchedSet = touched.toSet
        // the shared rounded-mean fold (KMeans.roundedMeans) — one
        // definition with the oracle replays and IndexLayout's refresh
        val newCents = KMeans.roundedMeans(ncW)
        val kept = layout.centroids.filterNot(c => touchedSet.contains(c._1))
        val mergedCents = (kept ++ newCents).sortBy(_._1)
        mergedCents.toDF("id", "vec")
          .write.mode("overwrite").parquet(s"$path/centroids.tmp")
        // two-step swap: centroids is a whole-file artifact (no
        // partitions). A crash between delete and rename leaves only
        // centroids.tmp — open() recovers by completing the rename, so the
        // store is never unopenable; the rename result is checked (HDFS
        // returns false instead of throwing).
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids"), true)
        require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/centroids.tmp"),
          new org.apache.hadoop.fs.Path(s"$path/centroids")),
          s"failed to swap $path/centroids.tmp into place")
        // the upsert changed centroids (refreshed / dropped), so a
        // persisted routing level would be stale: retrain it from the
        // just-committed centroid table at the recorded group count
        // (driver-side Lloyd over the broadcast-small centroids —
        // milliseconds; mergedCents ≡ the parquet read-back, doubles
        // round-trip bit-exactly)
        val rg = routingGroupsOf(spark, path)
        val routingNew =
          if (rg > 0) {
            // retrain with the metric the level was written for (sidecar),
            // not the upsert's build metric — the serving contract is the
            // writer's; absent (pre-metric sidecars) default L2, but an
            // unresolvable RECORDED name fails loudly rather than silently
            // retraining L2-shaped groups under a sidecar that still
            // advertises the original metric
            val rm = layout.routingMetricName match {
              case Some(name) => Metric.byName(name).getOrElse(sys.error(
                s"layout routing_metric '$name' is not a routable metric"))
              case None => Metric.L2
            }
            val (l1, groupOf) = Vamana.trainRoutingLevel(mergedCents, rg,
              metric = rm)
            import spark.implicits._
            l1.toDF("id", "vec").write.mode("overwrite")
              .parquet(s"$path/routing_l1")
            groupOf.toSeq.toDF("cluster_id", "group_id")
              .write.mode("overwrite").parquet(s"$path/routing_groups")
            Some((l1, groupOf))
          } else None
        val manifest = StoreManifest.list(spark, path,
          meta.manifest.keys.toSeq, meta.manifest, Some(touched))
        StoreManifest.commit(spark, path, manifest)
        (mergedCents, routingNew, manifest)
      }
    // the centroid table and routing level are the values this commit
    // just wrote (parquet round-trips the doubles bit-exactly;
    // GraphLayoutSpec pins upsert ≡ reopen)
    assembleLayout(spark, path, meta.copy(centroids = mergedCents.toIndexedSeq,
      routing = routing, manifest = manifest), None)
  }

  /** Restore a graph store whose upsert crashed mid-commit (open()
    * refuses it by the in-progress marker): re-derive the DERIVED
    * artifacts of the marker's touched shards FROM THE DATA ROWS
    * CURRENTLY ON DISK — PQ codes and sign-bit word codes re-encoded
    * (both are centroid-INDEPENDENT, so this is cheaper than
    * [[IndexLayout.repair]]'s: no coupled centroid/code ordering),
    * touched centroids refreshed with the shared rounded-mean fold,
    * centroid table swapped, persisted routing retrained — so no
    * code-only serve (ADC or Hamming, any kReorder) can ever emit an id
    * the data partitions no longer hold, whatever subset of the five
    * writes committed.
    *
    * The GRAPH gets a parameter-free CONSISTENCY pass, not a rebuild (a
    * rebuild needs the caller's BuildParams): touched shards' graph rows
    * are pruned to live data ids, dangling neighbor edges dropped
    * (original order kept), and a shard whose ENTRY node died gets the
    * smallest live graph node as its entry — without this, a
    * post-repair walk of that shard fails loudly on the dead entry.
    * Connectivity QUALITY stays degraded until the batch replays
    * (pruned edges are not re-linked; data rows the crashed upsert
    * added are code-served but unreachable by walks — both
    * recall-grade). This restores the INVARIANT — no code-only serve
    * can emit an id the data partitions no longer hold, and every
    * touched shard is servable; re-applying the interrupted upsert
    * batch afterwards restores the CONTENT (replace-on-add re-routes,
    * rebuilds the touched shards' graphs, and converges). The touched
    * shards are listed afresh and the manifest is committed last, inside
    * the marker bracket. Idempotent; a store without a marker is returned
    * unchanged, except that a store without a manifest (written before
    * stores committed one) is listed once and gets one. */
  def repair(spark: SparkSession, path: String): Layout = {
    import spark.implicits._
    // the guard refuses LIVE markers (repair under a running writer
    // interleaves two commits) and stale REBUILD markers (no touched
    // list exists — only re-running write() helps); what remains is the
    // stale upsert marker repair exists for
    val info = StoreMarker.guard(spark, path, "graph layout",
      "GraphLayout.repair(spark, path)", "GraphLayout.write",
      forRepair = true)
    if (info.isEmpty) {
      // an unmarked store without a manifest (written before stores
      // committed one, or the file was removed): list it once, commit
      if (StoreManifest.read(spark, path).isEmpty)
        StoreManifest.commit(spark, path,
          readMetaG(spark, path, relist = Some(Nil)).manifest)
      return open(spark, path)
    }
    val touched = info.get.touched.sorted
    // re-mark with a fresh session + heartbeat for the repair's own
    // rewrite: a crash mid-repair leaves the same stale-upsert state
    // (repair is idempotent), and the heartbeat keeps a concurrent
    // open() from reading "stale — repair me" under a live repair
    StoreMarker.bracket(spark, path, "upsert", touched) {
      // the touched shards as they are on disk now, whatever subset of
      // the crashed commit landed
      val meta = readMetaG(spark, path, relist = Some(touched))
      val layout = assembleLayout(spark, path, meta, None)
      val touchedRows = layout.clustered
        .select(col("id").cast("long").as("id"), col("vec"),
          col("cluster_id").cast("long").as("cluster_id"))
        .filter(col("cluster_id").isin(touched: _*))
        .localCheckpoint(true)
      lazy val touchedW = widenedForMath(touchedRows)
      // re-encode the DERIVED code artifacts from the rows on disk, in the
      // store's own packing — exactly the encode write()/upsert() run
      layout.pq.foreach { p =>
        Pq.encodeClustered(touchedW, p).repartition(col("cluster_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cluster_id").parquet(s"$path/codes")
      }
      layout.bin.foreach { b =>
        val wordCols =
          if (layout.binVersion >= 2) BinaryQuant.codeColumns64(col("vec"), b)
          else BinaryQuant.codeColumns(col("vec"), b)
        touchedW.select(col("cluster_id") +: col("id") +:
            wordCols.zipWithIndex.map {
              case (c, w) => c.as(s"w$w") }: _*)
          .repartition(col("cluster_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cluster_id").parquet(s"$path/bincodes")
      }
      // graph consistency pass (parameter-free — NOT a rebuild): keep only
      // live nodes, prune dangling neighbor edges preserving their original
      // order, and remap a DEAD entry to the smallest live graph node so
      // the shard stays servable (a walk fails loudly on a dead entry)
      val liveIds = touchedRows.select(col("cluster_id"), col("id"))
      val gTouched = layout.graph
        .select(col("id").cast("long").as("id"),
          col("entry_id").cast("long").as("entry_id"), col("neighbors"),
          col("cluster_id").cast("long").as("cluster_id"))
        .filter(col("cluster_id").isin(touched: _*))
      val gLive = gTouched.join(liveIds, Seq("cluster_id", "id"))
      val entryOf = gLive.groupBy(col("cluster_id")).agg(
        coalesce(max(when(col("id") === col("entry_id"), col("id"))),
          min(col("id"))).as("live_entry"))
      val gFixed = gLive
        .select(col("cluster_id"), col("id"),
          posexplode_outer(col("neighbors")).as(Seq("pos", "nbr")))
        .join(liveIds.withColumnRenamed("id", "nbr")
          .withColumn("nbr_live", lit(true)),
          Seq("cluster_id", "nbr"), "left_outer")
        .groupBy(col("cluster_id"), col("id"))
        .agg(expr("transform(sort_array(collect_list(" +
          "case when nbr_live then struct(pos, nbr) end)), s -> s.nbr)")
          .as("neighbors"))
        .join(entryOf, Seq("cluster_id"))
        .select(col("id"), col("live_entry").as("entry_id"),
          col("neighbors"), col("cluster_id"))
        .localCheckpoint(true)
      gFixed.repartition(col("cluster_id")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster_id").parquet(s"$path/graph")
      // shards whose data partitions are gone (emptied by the crashed
      // upsert) must lose their code partitions and centroid entries too —
      // dynamic overwrite cannot delete a partition it never writes. The
      // graph deletion keys on the PRUNED graph's live shards instead: a
      // data-live shard whose every graph node died (all pre-crash rows
      // deleted, only crashed-batch adds remain) would otherwise keep its
      // stale dead-node partition; dropping it leaves the shard walkless
      // (zero candidates) until the replay rebuilds it — recall-grade.
      val liveCids = touchedRows.select(col("cluster_id")).distinct()
        .as[Long].collect().toSet
      val gLiveCids = gFixed.select(col("cluster_id")).distinct()
        .as[Long].collect().toSet
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(liveCids).foreach { cid =>
        Seq("codes", "bincodes").foreach { sub =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/$sub/cluster_id=$cid"), true)
        }
      }
      touched.filterNot(gLiveCids).foreach { cid =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$path/graph/cluster_id=$cid"), true)
      }
      // refresh touched centroids from the rows on disk (the ONE shared
      // rounded-mean fold) and swap with open()-side crash recovery
      val touchedSet = touched.toSet
      val newCents = KMeans.roundedMeans(touchedW)
      val kept = layout.centroids.filterNot(c => touchedSet.contains(c._1))
      val mergedCents = (kept ++ newCents).sortBy(_._1)
      mergedCents.toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$path/centroids.tmp")
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids"), true)
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/centroids.tmp"),
        new org.apache.hadoop.fs.Path(s"$path/centroids")),
        s"failed to swap $path/centroids.tmp into place")
      // refreshed centroids make a persisted routing level stale
      val rg = routingGroupsOf(spark, path)
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
      }
      StoreManifest.commit(spark, path, StoreManifest.list(spark, path,
        meta.manifest.keys.toSeq, meta.manifest, Some(touched)))
    }
    open(spark, path)
  }

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
    in.readFully(bytes)
    in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}
