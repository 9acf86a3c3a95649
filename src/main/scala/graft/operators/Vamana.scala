package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.VamanaKernel.BuildParams

/** Distributed Vamana index (SURVEY §2 J2/B1-B4) as a **sharded graph**: rows
  * are routed to shards (k-means clusters, reusing IVF's A2-A4 machinery), a
  * local Vamana graph is built per shard inside `flatMapGroups`, and search
  * probes the nProbes nearest shards per query, runs the executor-local greedy
  * beam walk on each, and merges with the bounded top-k.
  *
  * Scale rationale (SURVEY §7 hard parts): the reference's greedy search
  * (include/svs/index/vamana/greedy_search.h:124-203) is a sequential pointer
  * chase — antithetical to bulk dataflow. Sharding keeps each walk local to
  * one executor while Spark parallelizes across shards × queries; at 100 TB
  * each shard's (vectors + graph) stays executor-memory-sized via the k-means
  * fanout (hierarchical at extreme scale), graphs are built once in parallel
  * with zero driver involvement, and only |Q|·nProbes·k partial rows shuffle
  * at search time. A single-shard build (`buildSingle`) reproduces the
  * reference's whole-dataset graph semantics exactly.
  *
  * Graph table schema: (cluster_id, id, entry_id, neighbors Array[Long]) —
  * SURVEY §1.4's adjacency mapping; `entry_id` is the shard medioid
  * (core/medioid.h:292).
  */
object Vamana {

  /** Build one Vamana graph per cluster. clustered: (id, vec, cluster_id).
    *
    * Element-type aware: an `ARRAY<FLOAT>` source keeps shard vectors
    * RESIDENT as float32 (`VamanaKernel.FloatStore`) — half the task
    * memory, twice the rows per cache line through the memory-bound build —
    * while all arithmetic widens per element into the identical double
    * fold, so the graph is bit-identical to casting the source to
    * `ARRAY<DOUBLE>` first (F32BuildSpec asserts this; the reference makes
    * the same float32-native choice, core/data/simple.h). */
  /** Spark-accumulator twin of [[VamanaKernel.BuildStats]] for the
    * SHARDED build: per-phase nanos and distance-call counts summed
    * across every shard task — the 10M/10⁸-scale attribution SCALE.md
    * reports (task-CPU sums, so phase seconds ≫ wall at 32-way
    * parallelism; fractions are the signal). DIAGNOSTIC, not exact:
    * the adds run inside a transformation, so a retried/speculated/
    * recomputed shard task counts again (Spark guarantees exactly-once
    * accumulators only for actions) — per-phase FRACTIONS stay
    * representative because a retry re-pays every phase proportionally,
    * but absolute sums can exceed one clean pass; never gate
    * correctness on them. */
  final case class ShardedBuildStats(
      search: org.apache.spark.util.LongAccumulator,
      greedyCpu: org.apache.spark.util.LongAccumulator,
      pruneCpu: org.apache.spark.util.LongAccumulator,
      applyNs: org.apache.spark.util.LongAccumulator,
      overflow: org.apache.spark.util.LongAccumulator,
      distCalls: org.apache.spark.util.LongAccumulator) {
    def jsonFields: String =
      s""""build_search_task_sec":${search.value / 1e9},""" +
        s""""build_greedy_cpu_sec":${greedyCpu.value / 1e9},""" +
        s""""build_prune_cpu_sec":${pruneCpu.value / 1e9},""" +
        s""""build_apply_task_sec":${applyNs.value / 1e9},""" +
        s""""build_overflow_task_sec":${overflow.value / 1e9},""" +
        s""""build_dist_calls":${distCalls.value}"""
  }

  def newBuildStats(spark: org.apache.spark.sql.SparkSession)
      : ShardedBuildStats = {
    val sc = spark.sparkContext
    ShardedBuildStats(sc.longAccumulator("vamana.build.search"),
      sc.longAccumulator("vamana.build.greedyCpu"),
      sc.longAccumulator("vamana.build.pruneCpu"),
      sc.longAccumulator("vamana.build.apply"),
      sc.longAccumulator("vamana.build.overflow"),
      sc.longAccumulator("vamana.build.distCalls"))
  }

  def buildSharded(clustered: DataFrame, params: BuildParams, metric: Metric,
                   stats: Option[ShardedBuildStats] = None)
      : DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, ByteType, FloatType}
    val isFloat = clustered.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val isByte = clustered.schema("vec").dataType match {
      case ArrayType(ByteType, _) => true
      case _                      => false
    }
    val unsigned =
      if (isByte) graft.functions.ByteVecs.requireSignedness(
        clustered.schema, "vec")
      else false
    val isHalf =
      graft.functions.HalfVecs.isShortVec(clustered.schema("vec").dataType)
    val bf16 = isHalf && graft.functions.HalfVecs.requireFormat(
      clustered.schema, "vec") == graft.functions.HalfVecs.BF16
    val built =
      if (isByte)
        // i8/u8 sources build byte-resident (ByteStore): 1/8 the task
        // memory of f64, bit-identical graphs (ByteKnnSpec)
        clustered
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"))
          .as[(Long, Long, Seq[Byte])]
          .groupByKey(_._1)
          .flatMapGroups { (cid, it) =>
            val rows = it.toArray.sortBy(_._2)
            emitGraph(cid, rows.map(_._2),
              new VamanaKernel.ByteStore(rows.map(_._3.toArray), unsigned),
              params, metric, stats)
          }
      else if (isHalf)
        // f16/bf16 sources build half-resident (HalfStore): 1/4 the task
        // memory of f64, bit-identical graphs (HalfKnnSpec)
        clustered
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"))
          .as[(Long, Long, Seq[Short])]
          .groupByKey(_._1)
          .flatMapGroups { (cid, it) =>
            val rows = it.toArray.sortBy(_._2)
            emitGraph(cid, rows.map(_._2),
              new VamanaKernel.HalfStore(rows.map(_._3.toArray), bf16),
              params, metric, stats)
          }
      else if (isFloat)
        clustered
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"))
          .as[(Long, Long, Array[Float])]
          .groupByKey(_._1)
          .flatMapGroups { (cid, it) =>
            val rows = it.toArray.sortBy(_._2)
            emitGraph(cid, rows.map(_._2),
              new VamanaKernel.FloatStore(rows.map(_._3)), params, metric,
              stats)
          }
      else
        clustered
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec").cast("array<double>"))
          .as[(Long, Long, Array[Double])]
          .groupByKey(_._1)
          .flatMapGroups { (cid, it) =>
            // deterministic slot order: ascending external id
            val rows = it.toArray.sortBy(_._2)
            emitGraph(cid, rows.map(_._2),
              new VamanaKernel.DoubleStore(rows.map(_._3)), params, metric,
              stats)
          }
    built.toDF("cluster_id", "id", "entry_id", "neighbors")
  }

  private def emitGraph(cid: Long, ids: Array[Long],
                        store: VamanaKernel.VecStore, params: BuildParams,
                        metric: Metric,
                        stats: Option[ShardedBuildStats])
      : Iterator[(Long, Long, Long, Array[Long])] = {
    val local = if (stats.isDefined) new VamanaKernel.BuildStats else null
    val (adj, entry) = VamanaKernel.build(store, params, metric, local)
    stats.foreach { s =>
      s.search.add(local.search.sum); s.greedyCpu.add(local.greedyCpu.sum)
      s.pruneCpu.add(local.pruneCpu.sum); s.applyNs.add(local.apply.sum)
      s.overflow.add(local.overflow.sum)
      s.distCalls.add(local.distCalls.sum)
    }
    val entryId = ids(entry)
    ids.indices.iterator.map { i =>
      (cid, ids(i), entryId, adj(i).map(ids(_)))
    }
  }

  /** Whole-dataset single graph — the reference's exact shape (one entry
    * point, one adjacency). Only for shards that fit one executor. */
  def buildSingle(data: DataFrame, params: BuildParams, metric: Metric)
      : DataFrame =
    buildSharded(data.withColumn("cluster_id", lit(0L)), params, metric)

  /** Skew hardening for [[buildSharded]]: any cluster holding more than
    * `maxRows` rows (a hot key — one 10× shard would otherwise pin one task
    * while the rest of the cluster idles) is split into ceil(size/maxRows)
    * equal sub-shards by deterministic rank round-robin. Every cluster id is
    * remapped to `cid·splitBase (+ subIdx)`, and split clusters get
    * per-sub-shard mean centroids (rounded, engine-portable) so probe
    * routing keeps working — a hot region's sub-centroids are near-equal,
    * so raise nProbes to sweep them. Returns (clustered', centroids').
    * Deterministic: rank order is by ascending id. */
  def splitOversized(clustered: DataFrame,
                     centroids: Seq[(Long, Seq[Double])], maxRows: Long,
                     splitBase: Long = 1024)
      : (DataFrame, Seq[(Long, Seq[Double])]) = {
    require(maxRows >= 1, "maxRows must be >= 1")
    // partitioned-parquet round trips read cluster_id back as INT; widen
    val cl = clustered.withColumn("cluster_id", col("cluster_id").cast("long"))
    val sizes = cl.groupBy("cluster_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val kOf: Map[Long, Long] = sizes.collect {
      case (cid, s) if s > maxRows => cid -> ((s + maxRows - 1) / maxRows)
    }
    if (kOf.isEmpty) (cl, centroids)
    else {
      require(kOf.values.max <= splitBase,
        s"split fanout ${kOf.values.max} exceeds splitBase $splitBase")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy("id")
      val kCol = coalesce(
        element_at(typedlit(kOf), col("cluster_id")), lit(1L))
      val reclustered = cl
        .withColumn("rn", row_number().over(w).cast("long") - 1)
        .withColumn("cluster_id",
          col("cluster_id") * splitBase + col("rn") % kCol)
        .drop("rn")
      val keptCents = centroids.collect {
        case (cid, v) if !kOf.contains(cid) => (cid * splitBase, v)
      }
      // sub-centroid means are VALUE arithmetic: widen byte-resident vecs
      // mark-aware first (a raw TINYINT avg would run u8 in the
      // sign-extended space, 200 → −56, skewing routing sub-centroids);
      // `reclustered` itself stays byte-resident in the returned frame
      val subCents = graft.functions.HalfVecs.widenedForMath(
        graft.functions.ByteVecs.widenedForMath(reclustered))
        .filter(element_at(typedlit(kOf),
          floor(col("cluster_id") / lit(splitBase)).cast("long")).isNotNull)
        .select(col("cluster_id"), posexplode(col("vec")))
        .groupBy("cluster_id", "pos").agg(round(avg("col"), 6).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, xs) =>
          cid -> xs.sortBy(_._2).map(_._3).toIndexedSeq }
        .toSeq
      (reclustered, (keptCents ++ subCents).sortBy(_._1))
    }
  }

  /** Probe-and-walk search. queries(query_id, qvec) must be broadcast-small
    * (the reference holds the query batch in memory too); clustered and graph
    * are the `buildSharded` inputs/outputs. nProbes clusters per query are
    * chosen by centroid distance exactly like IVF (J3a); the per-shard walk
    * uses `searchWindow ≥ k`. Output: (query_id, rnk, neighbor_id, dist). */
  def searchSharded(queries: DataFrame, clustered: DataFrame, graph: DataFrame,
                    centroids: Seq[(Long, Seq[Double])], k: Int,
                    searchWindow: Int, nProbes: Int, metric: Metric,
                    searchCapacity: Int = 0): DataFrame =
    searchShardedImpl(queries, clustered, graph, centroids, k, searchWindow,
      nProbes, metric, searchCapacity, lit(true))

  /** Predicate-filtered probe-and-walk: rows failing `keep` (a boolean
    * Column over the clustered table) are still TRAVERSED — they sit in
    * the store and the graph, keeping connectivity intact — but never
    * emitted, the reference's deleted-slot search semantics
    * (index/vamana/dynamic_index.h:617-629: skip non-Valid slots from
    * results while walking through them; docstring
    * bindings/python/src/dynamic_vamana.cpp:196-198). Per shard the walk
    * keeps collecting past filtered entries until k kept rows emerge (or
    * the beam is exhausted), so with a full window the result is exactly
    * "kNN over probed shards WHERE keep" — the SQL the oracle states.
    * Pushing the filter BEFORE the walk instead would sever graph edges
    * through filtered nodes (the q27 flat anti-join shape is right for
    * flat scans, wrong for graphs). */
  def searchShardedFiltered(queries: DataFrame, clustered: DataFrame,
                            graph: DataFrame,
                            centroids: Seq[(Long, Seq[Double])], k: Int,
                            searchWindow: Int, nProbes: Int, metric: Metric,
                            keep: org.apache.spark.sql.Column,
                            searchCapacity: Int = 0): DataFrame =
    searchShardedImpl(queries, clustered, graph, centroids, k, searchWindow,
      nProbes, metric, searchCapacity, keep)

  /** Two-level routed [[searchSharded]] — the shard-count scale path
    * (reference hierarchical_kmeans.h posture): probe selection scores
    * the `l1` group centroids first and only the chosen groups' shard
    * centroids after ([[BatchScore.probeTopKHierarchical]]). The walk is
    * the searchSharded walk unchanged; with `l1Probes = |l1|` the whole
    * search is bit-identical to [[searchSharded]] (HierRoutingSpec).
    * Build (l1, groupOf) once with [[trainRoutingLevel]]. */
  def searchShardedHierarchical(queries: DataFrame, clustered: DataFrame,
                                graph: DataFrame,
                                centroids: Seq[(Long, Seq[Double])],
                                l1: Seq[(Long, Seq[Double])],
                                groupOf: Map[Long, Long], k: Int,
                                searchWindow: Int, l1Probes: Int,
                                nProbes: Int, metric: Metric,
                                searchCapacity: Int = 0,
                                keep: org.apache.spark.sql.Column = lit(true))
      : DataFrame =
    searchShardedImpl(queries, clustered, graph, centroids, k, searchWindow,
      nProbes, metric, searchCapacity, keep,
      Some(hierProbeMap(queries, centroids, l1, groupOf, l1Probes, nProbes,
        metric)))

  /** THE two-level routing kernel — the one definition every
    * hierarchical path (the in-memory walk and GraphLayout's stored
    * serve) shares, so both probe exactly the same shards. Returns
    * cluster → (query_id, qvec) batch. */
  private[operators] def hierProbeMap(queries: DataFrame,
      centroids: Seq[(Long, Seq[Double])], l1: Seq[(Long, Seq[Double])],
      groupOf: Map[Long, Long], l1Probes: Int, nProbes: Int,
      metric: Metric): Map[Long, Array[(Long, Array[Double])]] =
    probeMapWith(queries, centroids, metric) { (qRows, cents) =>
      BatchScore.probeTopKHierarchical(qRows, cents,
        l1.sortBy(_._1).map { case (i, v) => (i, v.toArray) }.toIndexedSeq,
        groupOf, l1Probes, nProbes, metric)
    }

  /** Flat twin of [[hierProbeMap]] for layouts without a routing level. */
  private[operators] def flatProbeMap(queries: DataFrame,
      centroids: Seq[(Long, Seq[Double])], nProbes: Int, metric: Metric)
      : Map[Long, Array[(Long, Array[Double])]] =
    probeMap(queries, centroids, nProbes, metric)

  /** The DISTINCT shards a query batch probes under the persisted
    * two-level routing (the same kernel the walks use, so the set is
    * exactly the shards a serve reads). */
  def probedShardsHierarchical(queries: DataFrame,
                               centroids: Seq[(Long, Seq[Double])],
                               l1: Seq[(Long, Seq[Double])],
                               groupOf: Map[Long, Long], l1Probes: Int,
                               nProbes: Int, metric: Metric): Set[Long] =
    hierProbeMap(queries, centroids, l1, groupOf, l1Probes, nProbes,
      metric).keySet

  /** The one stored serve scaffold, shared by [[searchStored]],
    * [[searchStoredAdc]] and [[searchStoredHamming]], and ONE Spark job:
    * for each probed shard with data files under BOTH frames'
    * `cluster_id=` dirs, one task reads the shard's two sides straight
    * off the parquet files, extracts (id, payload) per `left` row,
    * id-sorts, merges with the graph rows and walks the shard's queries
    * (its `pm` entry, shipped in the task). The driver folds each task's
    * partials into one bounded top-k per query as the task finishes
    * ([[PerKeyTopK]], ≡ [[TopK.perKeyViaWindow]] row for row), so
    * nothing is exchanged and driver memory stays |Q|·k plus the results
    * in flight. The rows come back as a local relation (query_id, rnk,
    * neighbor_id, dist). A shard missing either dir — or with zero data
    * files — emits nothing: the inner-join semantics of the frame path.
    *
    * No listing at serve time: each shard's files come from the frames'
    * own file index (the listing their read already made — [[GraphLayout]]'s
    * `open` lists every dir, its `serveCold` only the probed ones), and
    * the parquet readers are built ONCE driver-side
    * (`Bridge.parquetRowReader` — the same reader FileSourceScanExec
    * ships), so planning is O(1) Spark work in probed shards.
    *
    * `keep` is the traverse-but-filter predicate, analyzer-resolved
    * and ordinal-bound against the LEFT side's file schema driver-side
    * ([[org.apache.spark.sql.graftbridge.Bridge.resolveBoundPredicate]])
    * and evaluated per file row task-side before decode — rows failing
    * it reach the walk flagged keep=false (null counts as false, SQL
    * filter semantics). */
  private def zipServe[P](pm: Map[Long, Array[(Long, Array[Double])]],
      left: DataFrame, graph: DataFrame,
      keep: Option[org.apache.spark.sql.Column],
      extract: org.apache.spark.sql.Row => (Long, P),
      mkStore: IndexedSeq[P] => VamanaKernel.VecStore,
      k: Int, searchWindow: Int, metric: Metric): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = left.sparkSession
    val top = new PerKeyTopK(k, metric.ascending)
    val lFiles = shardFiles(left, pm.keySet)
    val gFiles = shardFiles(graph, pm.keySet)
    val shards = pm.toSeq.sortBy(_._1).flatMap { case (cid, qs) =>
      for (lf <- lFiles.get(cid); gf <- gFiles.get(cid))
        yield (cid, qs, lf, gf)
    }
    if (shards.nonEmpty) {
      val leftSchema = fileSchema(left)
      val graphSchema = fileSchema(graph)
      val leftReader = Bridge.parquetRowReader(spark, leftSchema)
      val graphReader = Bridge.parquetRowReader(spark, graphSchema)
      val leftDec = Bridge.rowDecoder(leftSchema)
      val graphDec = Bridge.rowDecoder(graphSchema)
      val keepBound = keep.map { c =>
        Bridge.resolveBoundPredicate(spark,
          Bridge.toCatalyst(c.cast("boolean")),
          leftSchema.map(f =>
            org.apache.spark.sql.catalyst.expressions.AttributeReference(
              f.name, f.dataType, f.nullable, f.metadata)()))
      }
      val gIdIx = graphSchema.fieldIndex("id")
      val gEntryIx = graphSchema.fieldIndex("entry_id")
      val gNbrIx = graphSchema.fieldIndex("neighbors")
      val sc = spark.sparkContext
      // one ELEMENT per slice ⇒ one task per probed shard
      val partials = sc.parallelize(shards, shards.length)
        .flatMap { case (cid, qs, lf, gf) =>
          val pred = keepBound.map(Bridge.createPredicate)
          val lDes = leftDec.createDeserializer()
          val gDes = graphDec.createDeserializer()
          def rows(reader: org.apache.spark.sql.execution.datasources
                .PartitionedFile => Iterator[
                  org.apache.spark.sql.catalyst.InternalRow],
              fs: Array[(String, Long, Long)]) =
            fs.iterator.flatMap { case (p, len, mod) =>
              Bridge.flattenToRows(
                reader(Bridge.partitionedFile(p, len, mod)))
            }
          // eval keep on the raw InternalRow BEFORE decode: batch-backed
          // rows are reused views, and the decoder's output is a copy
          val lRows = rows(leftReader, lf).map { ir =>
            val kp = pred.forall(_(ir))
            val (id, p) = extract(lDes(ir))
            (id, p, kp)
          }.toArray.sortBy(_._1)
          val g = rows(graphReader, gf).map { ir =>
            val r = gDes(ir)
            (cid, longAt(r, gIdIx), longAt(r, gEntryIx),
              longArrayAt(r, gNbrIx))
          }
          walkMerged(cid, lRows.map(x => (x._1, x._3)),
            idxs => mkStore(idxs.toIndexedSeq.map(ix => lRows(ix)._2)),
            g, qs, k, searchWindow, 0, metric)
        }
      // the result handler runs on the driver as each task finishes
      // (Spark calls it under the job waiter's lock)
      sc.runJob(partials,
        (it: Iterator[(Long, Long, Double)]) => it.toArray,
        (_: Int, part: Array[(Long, Long, Double)]) =>
          part.foreach { case (q, id, d) => top.add(q, id, d) })
    }
    top.toDF(spark, "query_id")
  }

  /** Each of `shards`' data files in `frame`'s own file index — the
    * listing the frame's read already made (a `partitionBy("cluster_id")`
    * parquet read: `spark.read.parquet(dir)` or
    * [[IvfIndex.readProbed]]) — as (path, length, modification time),
    * path-sorted; shards without data files are absent. */
  private def shardFiles(frame: DataFrame, shards: Set[Long])
      : Map[Long, Array[(String, Long, Long)]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val rel = frame.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(sys.error(
      "a stored serve needs frames read from a cluster-partitioned store " +
        "(GraphLayout.open / serveCold), got a plan without a file scan"))
    val cidType = rel.partitionSchema("cluster_id").dataType
    val cidIx = rel.partitionSchema.fieldIndex("cluster_id")
    rel.location.listFiles(Nil, Nil).flatMap { pd =>
      val cid = pd.values.get(cidIx, cidType) match {
        case n: java.lang.Number => n.longValue()
      }
      if (!shards.contains(cid) || pd.files.isEmpty) None
      else Some(cid -> pd.files.map(f => (f.getPath.toString, f.getLen,
        f.getModificationTime)).toArray.sortBy(_._1))
    }.toMap
  }

  /** A stored frame's file columns: everything but the `cluster_id`
    * partition column, which lives in the directory name. */
  private def fileSchema(frame: DataFrame)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      frame.schema.filterNot(_.name == "cluster_id"))

  /** The in-memory walk ([[searchShardedFiltered]] /
    * [[searchShardedHierarchical]]) served straight off a PERSISTED
    * sharded layout with ZERO corpus shuffle — the 100 TB serving shape
    * (reference posture: the serialized index IS the serving format and
    * each cluster's file is walked where it is read,
    * include/svs/index/ivf/index.h:299-332 cluster pruning).
    *
    * The stored layout keeps `data/cluster_id=c/` and `graph/cluster_id=c/`
    * as sibling partition dirs, so for each PROBED shard one task reads
    * both sides straight off the shard's parquet files (no scan plan per
    * shard — see [[zipServe]]) and hands them to the same per-shard
    * merge + walk kernel the cogroup walk uses — results are
    * bit-identical to the in-memory walk over the reopened frames with
    * the same probes, but corpus rows never enter a shuffle and nothing
    * is exchanged: the driver merges the |Q|·nProbes·k partials of the
    * final top-k as the one job's tasks finish. I/O is the probed dirs'
    * bytes (partition pruning by construction), parallelism is one task
    * per probed shard, and the files come from the frames' own listing.
    * The walk runs when this is called; the rows come back as a local
    * relation. `pm` is the batch's probe map (shard → (query_id, query
    * vector)), computed once by the caller's routing kernel; the walk
    * reads exactly the shards it names.
    *
    * `clustered`/`graph` are the opened layout's frames: their schemas
    * carry the vec element type plus its signedness/half-format marks
    * (restored from the sidecar), which pick the same element-resident
    * store the cogroup branches do, and their file indexes name each
    * shard's files. A probed shard missing either dir emits nothing, the
    * inner-join semantics of the frame path.
    *
    * `keep` carries the [[searchShardedFiltered]] traverse-but-filter
    * semantics into the stored walk: rows failing it are walked through
    * but never emitted. It may reference the data FILE columns (`id`,
    * `vec`) — `cluster_id` lives in the directory name, not the files. */
  def searchStored(pm: Map[Long, Array[(Long, Array[Double])]],
                   clustered: DataFrame, graph: DataFrame,
                   k: Int, searchWindow: Int, metric: Metric,
                   keep: org.apache.spark.sql.Column = lit(true))
      : DataFrame = {
    require(searchWindow >= k, "searchWindow must be ≥ k")
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType,
      FloatType}
    val schema = clustered.schema
    val isFloat = schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val isByte = schema("vec").dataType match {
      case ArrayType(ByteType, _) => true
      case _                      => false
    }
    val unsigned =
      if (isByte) graft.functions.ByteVecs.requireSignedness(schema, "vec")
      else false
    val isHalf = graft.functions.HalfVecs.isShortVec(schema("vec").dataType)
    val bf16 = isHalf && graft.functions.HalfVecs.requireFormat(
      schema, "vec") == graft.functions.HalfVecs.BF16
    // field lookups + element widening resolved ONCE against the file
    // schema (the walk reads raw file rows; the former per-dir select's
    // casts are applied here in Scala)
    val dSub = fileSchema(clustered)
    val dIdIx = dSub.fieldIndex("id"); val dVecIx = dSub.fieldIndex("vec")
    val vecIsDouble = dSub("vec").dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    // residency dispatch picks the (row payload, store) pair once; the
    // shard shape is the shared zipServe scaffold
    if (isHalf)
      zipServe[Array[Short]](pm, clustered, graph, Some(keep),
        r => (longAt(r, dIdIx), r.getSeq[Short](dVecIx).toArray),
        xs => new VamanaKernel.HalfStore(xs.toArray, bf16),
        k, searchWindow, metric)
    else if (isByte)
      zipServe[Array[Byte]](pm, clustered, graph, Some(keep),
        r => (longAt(r, dIdIx), r.getSeq[Byte](dVecIx).toArray),
        xs => new VamanaKernel.ByteStore(xs.toArray, unsigned),
        k, searchWindow, metric)
    else if (isFloat)
      zipServe[Array[Float]](pm, clustered, graph, Some(keep),
        r => (longAt(r, dIdIx), r.getSeq[Float](dVecIx).toArray),
        xs => new VamanaKernel.FloatStore(xs.toArray),
        k, searchWindow, metric)
    else
      zipServe[Array[Double]](pm, clustered, graph, Some(keep),
        r => (longAt(r, dIdIx), doubleArrayAt(r, dVecIx, vecIsDouble)),
        xs => new VamanaKernel.DoubleStore(xs.toArray),
        k, searchWindow, metric)
  }

  /** The former per-dir scan selects applied `cast("long")` /
    * `cast("array<long>")` / `cast("array<double>")` defensively; the
    * zipServe walk reads raw file rows, so these helpers keep that
    * tolerance (a store written with int ids by an external tool still
    * serves) without a per-row schema dispatch in the common case. */
  private def longAt(r: org.apache.spark.sql.Row, i: Int): Long =
    r.get(i) match {
      case l: Long           => l
      case n: java.lang.Number => n.longValue()
    }

  private def longArrayAt(r: org.apache.spark.sql.Row, i: Int)
      : Array[Long] =
    r.getSeq[Any](i) match {
      case s if s.isEmpty => Array.empty[Long]
      case s => s.head match {
        case _: Long => s.asInstanceOf[Seq[Long]].toArray
        case _ => s.map(_.asInstanceOf[java.lang.Number].longValue()).toArray
      }
    }

  private def doubleArrayAt(r: org.apache.spark.sql.Row, i: Int,
                            isDouble: Boolean): Array[Double] =
    if (isDouble) r.getSeq[Double](i).toArray
    else r.getSeq[Any](i)
      .map(_.asInstanceOf[java.lang.Number].doubleValue()).toArray

  /** A persisted level-1 partitions centroid space for ONE metric (the
    * one it was trained with, [[trainRoutingLevel]]); routing an IP/cosine
    * serve over L2-shaped groups (or vice versa) silently degrades
    * routed recall at realistic l1Probes — the one guard both stored
    * layouts run before any routed probing. */
  private[operators] def requireRoutingMetric(trainedFor: Option[String],
                                              metric: Metric): Unit =
    trainedFor.foreach { rm =>
      require(metric.name.stripSuffix("_simd") == rm,
        s"layout routing level was trained for metric '$rm' but the " +
          s"serve got '${metric.name}' — rewrite the layout with " +
          s"routingMetric = ${metric.name} or serve with '$rm'")
    }

  /** Broadcast-small ceiling for [[trainRoutingLevel]]'s input: the shard
    * centroid table is held, trained, and broadcast whole — at 64-d
    * doubles, 2²⁰ centroids ≈ 0.5 GB, the edge of driver/broadcast
    * comfort. Past it, shard coarser or add another routing level. */
  val MaxRoutingCentroids: Int = 1 << 20

  /** Deterministic driver-side Lloyd over the SHARD CENTROIDS themselves
    * — builds the level-1 routing table for
    * [[searchShardedHierarchical]]. Seeds are the first `nGroups`
    * centroids in ascending id order; ties to the smaller group id; empty
    * groups keep their seed. Returns (l1 centroids, shard-cid → group-id).
    * Runs on the centroid table only (broadcast-small by the routing
    * contract, enforced via `maxCentroids`), so even 10⁶ shards train in
    * milliseconds.
    *
    * `metric` is the SERVING metric: groups must partition the centroid
    * space the way [[BatchScore.probeTopKHierarchical]] will score it, so
    * assignment uses `metric.compute` with the metric's own ordering.
    * Similarity metrics (IP/cosine) route by DIRECTION, so their group
    * representatives are unit-normalized means (spherical k-means,
    * Dhillon & Modha '01) — a raw-mean representative would hand every
    * query to whichever group's mean has the largest norm under IP
    * scoring. L2 keeps the plain Lloyd mean, bit-identical to the
    * historical behavior. */
  def trainRoutingLevel(centroids: Seq[(Long, Seq[Double])], nGroups: Int,
                        iters: Int = 5,
                        metric: Metric = graft.core.Metric.L2,
                        maxCentroids: Int = MaxRoutingCentroids)
      : (Seq[(Long, Seq[Double])], Map[Long, Long]) = {
    require(nGroups >= 1 && centroids.nonEmpty)
    require(centroids.length <= maxCentroids,
      s"${centroids.length} shard centroids exceed the broadcast-small " +
        s"routing contract (max $maxCentroids): the centroid table is " +
        "driver-held and broadcast whole — shard coarser, or raise the " +
        "per-shard row budget so the shard count stays within the limit")
    def unit(v: Array[Double]): Array[Double] = {
      var n = 0.0; var j = 0
      while (j < v.length) { n += v(j) * v(j); j += 1 }
      if (n == 0.0) v
      else { val s = math.sqrt(n); v.map(_ / s) }
    }
    val spherical = !metric.ascending
    val cents = centroids.sortBy(_._1)
      .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val g = math.min(nGroups, cents.length)
    var l1 = cents.take(g).zipWithIndex.map { case ((_, v), gi) =>
      (gi.toLong, if (spherical) unit(v.clone()) else v.clone()) }
    var assign: Map[Long, Long] = Map.empty
    for (_ <- 0 until iters) {
      assign = cents.map { case (cid, v) =>
        var bestG = 0L; var bestD = Double.NaN
        l1.foreach { case (gid, gv) =>
          val d = metric.compute(v, gv)
          val closer = if (metric.ascending) d < bestD else d > bestD
          if (bestD.isNaN || closer ||
            (d == bestD && gid < bestG)) { bestD = d; bestG = gid }
        }
        cid -> bestG
      }.toMap
      l1 = l1.map { case (gid, seed) =>
        val mem = cents.filter { case (cid, _) => assign(cid) == gid }
        if (mem.isEmpty) (gid, seed)
        else {
          val d = seed.length
          val acc = new Array[Double](d)
          mem.foreach { case (_, v) =>
            var j = 0; while (j < d) { acc(j) += v(j); j += 1 } }
          var j = 0
          while (j < d) { acc(j) /= mem.length; j += 1 }
          (gid, if (spherical) unit(acc) else acc)
        }
      }
    }
    (l1.map { case (gid, v) => (gid, v.toSeq) }, assign)
  }

  private def searchShardedImpl(queries: DataFrame, clustered: DataFrame,
                                graph: DataFrame,
                                centroids: Seq[(Long, Seq[Double])], k: Int,
                                searchWindow: Int, nProbes: Int,
                                metric: Metric, searchCapacity: Int,
                                keep: org.apache.spark.sql.Column,
                                hierProbes: Option[Map[Long,
                                  Array[(Long, Array[Double])]]] = None)
      : DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    require(searchWindow >= k, "searchWindow must be ≥ k")

    // (a) per-query probe list — tiny; computed on the driver so the probe
    // map broadcasts with the query vectors attached (the hierarchical
    // walk hands in its two-level map).
    val probesByCluster = hierProbes.getOrElse(
      probeMap(queries, centroids, nProbes, metric))
    val bc = spark.sparkContext.broadcast(probesByCluster)
    val probedIds = probesByCluster.keys.toSeq

    // (b) partition-pruned co-group: only probed clusters are read at all
    // (isin filter reaches the parquet scan when clustered is partitioned by
    // cluster_id), then each shard walks its local graph for its queries.
    // Element-type aware like buildSharded: ARRAY<FLOAT> sources stay
    // float-resident through the walk (half the per-task bytes; identical
    // double fold via the mixed kernels, F32BuildSpec asserts equality).
    import org.apache.spark.sql.types.{ArrayType, ByteType, FloatType}
    val isFloat = clustered.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val isByte = clustered.schema("vec").dataType match {
      case ArrayType(ByteType, _) => true
      case _                      => false
    }
    val unsigned =
      if (isByte) graft.functions.ByteVecs.requireSignedness(
        clustered.schema, "vec")
      else false
    val isHalf =
      graft.functions.HalfVecs.isShortVec(clustered.schema("vec").dataType)
    val bf16 = isHalf && graft.functions.HalfVecs.requireFormat(
      clustered.schema, "vec") == graft.functions.HalfVecs.BF16
    // ONE shuffle per side, not three: the former
    // `clustered ⋈ graph on (cluster_id, id)` + `groupByKey(cluster_id)`
    // moved the corpus rows twice (join exchange, then regroup exchange).
    // A typed cogroup on cluster_id exchanges each side exactly once and
    // the per-shard id-merge happens in the walk task — bit-identical
    // rows (inner-join semantics, ascending-id order) at half the
    // shuffle bytes, which is THE cost of scattered-probe serving when
    // uniform queries touch every shard (SCALE.md 10M routed-walk row).
    val dataPruned = clustered
      .withColumn("keep", keep)
      .filter(col("cluster_id").isin(probedIds: _*))
    val graphK = graph
      .filter(col("cluster_id").isin(probedIds: _*))
      .select(col("cluster_id").cast("long"), col("id").cast("long"),
        col("entry_id").cast("long"), col("neighbors").cast("array<long>"))
      .as[(Long, Long, Long, Array[Long])]
      .groupByKey(_._1)

    val m = metric

    val partials = (
      if (isHalf)
        // half-resident walk (f16/bf16 datatype parity): same shape as
        // the float branch at half its per-task bytes, bit-identical
        // results (HalfKnnSpec)
        dataPruned
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"), col("keep"))
          .as[(Long, Long, Seq[Short], Boolean)]
          .groupByKey(_._1)
          .cogroup(graphK) { (cid, dIt, gIt) =>
            val qs = bc.value.getOrElse(cid,
              Array.empty[(Long, Array[Double])])
            if (qs.isEmpty) Iterator.empty
            else {
              val rows = dIt.toArray.sortBy(_._2)
              walkMerged(cid, rows.map(r => (r._2, r._4)),
                idxs => new VamanaKernel.HalfStore(
                  idxs.map(ix => rows(ix)._3.toArray), bf16), gIt, qs,
                k, searchWindow, searchCapacity, m)
            }
          }
      else if (isByte)
        // byte-resident walk (i8/u8 datatype parity): same shape as the
        // float branch at 1/8 the per-task bytes, bit-identical results
        dataPruned
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"), col("keep"))
          .as[(Long, Long, Seq[Byte], Boolean)]
          .groupByKey(_._1)
          .cogroup(graphK) { (cid, dIt, gIt) =>
            val qs = bc.value.getOrElse(cid,
              Array.empty[(Long, Array[Double])])
            if (qs.isEmpty) Iterator.empty
            else {
              val rows = dIt.toArray.sortBy(_._2)
              walkMerged(cid, rows.map(r => (r._2, r._4)),
                idxs => new VamanaKernel.ByteStore(
                  idxs.map(ix => rows(ix)._3.toArray), unsigned), gIt, qs,
                k, searchWindow, searchCapacity, m)
            }
          }
      else if (isFloat)
        dataPruned
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec"), col("keep"))
          .as[(Long, Long, Array[Float], Boolean)]
          .groupByKey(_._1)
          .cogroup(graphK) { (cid, dIt, gIt) =>
            val qs = bc.value.getOrElse(cid,
              Array.empty[(Long, Array[Double])])
            if (qs.isEmpty) Iterator.empty
            else {
              val rows = dIt.toArray.sortBy(_._2)
              walkMerged(cid, rows.map(r => (r._2, r._4)),
                idxs => new VamanaKernel.FloatStore(
                  idxs.map(ix => rows(ix)._3)), gIt, qs,
                k, searchWindow, searchCapacity, m)
            }
          }
      else
        dataPruned
          .select(col("cluster_id").cast("long"), col("id").cast("long"),
            col("vec").cast("array<double>"), col("keep"))
          .as[(Long, Long, Array[Double], Boolean)]
          .groupByKey(_._1)
          .cogroup(graphK) { (cid, dIt, gIt) =>
            val qs = bc.value.getOrElse(cid,
              Array.empty[(Long, Array[Double])])
            if (qs.isEmpty) Iterator.empty
            else {
              val rows = dIt.toArray.sortBy(_._2)
              walkMerged(cid, rows.map(r => (r._2, r._4)),
                idxs => new VamanaKernel.DoubleStore(
                  idxs.map(ix => rows(ix)._3)), gIt, qs,
                k, searchWindow, searchCapacity, m)
            }
          }
      ).toDF("query_id", "id", "dist")

    // (c) merge: |Q|·nProbes·k rows — window rank is exact and cheap
    TopK.perKeyViaWindow(partials, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** DiskANN-style compressed serving (Subramanya et al. NeurIPS'19;
    * the open-source analog of the reference's LVQ-compressed walk —
    * README.md:36 keeps LVQ closed, so SVS users compose Vamana with a
    * quantized dataset exactly like this): walk the sharded Vamana graph
    * scoring candidates by PQ ASYMMETRIC distance over a CODES-ONLY scan.
    * The walk input is `codes ⋈ graph` — full-precision vectors are never
    * read at search time; per (query, shard) the [[VamanaKernel.PqStore]]
    * builds one LUT (k·d multiplies) and every candidate costs m lookups
    * + m−1 adds, the TPAMI'11 §V ADC contract.
    *
    * `codes`: (cluster_id, id, c0..c{m−1}) from [[Pq.encodeClustered]] —
    * cluster-partitioned like the data, so the probe `isin` prunes the
    * scan to probed shards. Metric must decompose over subspaces (L2 or
    * inner product — NOT cosine; rerank with [[searchShardedAdcRerank]]
    * handles the rest). At 100 TB this is the shape that fits graphs in
    * executor memory: 64-d float64 rows shrink 64× (4 bytes of codes vs
    * 512), so a shard's walk state is codes + adjacency only. */
  def searchShardedAdc(queries: DataFrame, codes: DataFrame,
                       graph: DataFrame,
                       centroids: Seq[(Long, Seq[Double])], p: Pq.Params,
                       k: Int, searchWindow: Int, nProbes: Int,
                       metric: Metric = Metric.L2,
                       keep: org.apache.spark.sql.Column = lit(true))
      : DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    require(searchWindow >= k, "searchWindow must be ≥ k")
    require(metric == Metric.L2 || metric == Metric.IP,
      s"ADC requires a subspace-decomposable metric (L2/IP), got $metric")

    val probesByCluster = probeMap(queries, centroids, nProbes, metric)
    val bc = spark.sparkContext.broadcast(probesByCluster)
    val probedIds = probesByCluster.keys.toSeq
    val m = metric
    val books = p.codebooks

    // one exchange per side (the searchShardedImpl cogroup shape): codes
    // and graph each move once; the per-shard id-merge in the walk task
    // reproduces the former inner join bit-for-bit
    val codeArr = array((0 until p.m).map(j => col(s"c$j").cast("int")): _*)
    val graphK = graph
      .filter(col("cluster_id").isin(probedIds: _*))
      .select(col("cluster_id").cast("long"), col("id").cast("long"),
        col("entry_id").cast("long"), col("neighbors").cast("array<long>"))
      .as[(Long, Long, Long, Array[Long])]
      .groupByKey(_._1)
    val partials = codes
      .withColumn("keep", keep)
      .filter(col("cluster_id").isin(probedIds: _*))
      .select(col("cluster_id").cast("long"), col("id").cast("long"),
        codeArr.as("code"), col("keep"))
      .as[(Long, Long, Array[Int], Boolean)]
      .groupByKey(_._1)
      .cogroup(graphK) { (cid, dIt, gIt) =>
        val qs = bc.value.getOrElse(cid, Array.empty[(Long, Array[Double])])
        if (qs.isEmpty) Iterator.empty
        else {
          val rows = dIt.toArray.sortBy(_._2)
          walkMerged(cid, rows.map(r => (r._2, r._4)),
            idxs => new VamanaKernel.PqStore(
              idxs.map(ix => rows(ix)._3), books), gIt, qs,
            k, searchWindow, 0, m)
        }
      }
      .toDF("query_id", "id", "dist")

    TopK.perKeyViaWindow(partials, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** The two-pass DiskANN serving plan: ADC walk keeps the best
    * `kReorder·k` candidates per query (first pass, codes only), then the
    * tiny candidate list — |Q|·kReorder·k rows, broadcast — joins the
    * full-precision table ONCE for an exact-distance rerank (the
    * reference's k_reorder pattern, index/ivf/index.h:284, applied to the
    * graph walk). Full-precision reads are O(|Q|·kReorder·k), independent
    * of corpus size — the property that makes PQ-in-RAM / vectors-on-disk
    * serving work at 100 TB. Exact rerank also restores cosine (the walk
    * metric stays L2/IP). */
  def searchShardedAdcRerank(queries: DataFrame, codes: DataFrame,
                             graph: DataFrame,
                             centroids: Seq[(Long, Seq[Double])],
                             p: Pq.Params, data: DataFrame, k: Int,
                             kReorder: Int, searchWindow: Int, nProbes: Int,
                             walkMetric: Metric = Metric.L2,
                             rerankMetric: Metric = Metric.L2,
                             keep: org.apache.spark.sql.Column = lit(true))
      : DataFrame = {
    val cand = searchShardedAdc(queries, codes, graph, centroids, p,
      kReorder * k, searchWindow, nProbes, walkMetric, keep)
    Rerank.exact(cand, queries, data, k, rerankMetric)
  }

  /** [[searchShardedAdc]] served straight off a PERSISTED layout's
    * `codes/cluster_id=c` + `graph/cluster_id=c` dirs with ZERO corpus
    * shuffle — the codes twin of [[searchStored]]: one task
    * per probed shard reads codes + graph files directly (one job, see
    * [[zipServe]]) into the same PqStore walk, and the driver merges the
    * |Q|·nProbes·k top-k partials — nothing is exchanged. At 100 TB this
    * is DiskANN serving with per-query I/O = probed CODE partitions
    * (64× smaller than data) and network = walk output. `keep` is the
    * traverse-but-filter predicate over the codes file columns —
    * [[searchShardedAdc]]'s deleted-slot semantics on the stored path
    * (reference: index/vamana/dynamic_index.h:617-629). */
  def searchStoredAdc(pm: Map[Long, Array[(Long, Array[Double])]],
                      codes: DataFrame, graph: DataFrame,
                      p: Pq.Params, k: Int, searchWindow: Int,
                      metric: Metric = Metric.L2,
                      keep: org.apache.spark.sql.Column = lit(true))
      : DataFrame = {
    require(searchWindow >= k, "searchWindow must be ≥ k")
    require(metric == Metric.L2 || metric == Metric.IP,
      s"ADC requires a subspace-decomposable metric (L2/IP), got $metric")
    val cSub = fileSchema(codes)
    val cIdIx = cSub.fieldIndex("id")
    val cIxs = (0 until p.m).map(j => cSub.fieldIndex(s"c$j")).toArray
    val books = p.codebooks
    // `keep` carries [[searchShardedAdc]]'s traverse-but-filter semantics
    // into the stored path: it may reference the CODES file columns
    // (`id`, `c0`..`c{m-1}` — practically id, the tombstone shape);
    // `cluster_id` lives in the directory name, not the files
    zipServe[Array[Int]](pm, codes, graph, Some(keep),
      r => (longAt(r, cIdIx), cIxs.map(ix => intAt(r, ix))),
      xs => new VamanaKernel.PqStore(xs.toArray, books),
      k, searchWindow, metric)
  }

  private def intAt(r: org.apache.spark.sql.Row, i: Int): Int =
    r.get(i) match {
      case x: Int              => x
      case n: java.lang.Number => n.intValue()
    }

  /** The binary (sign-bit word) twin of [[searchStoredAdc]]: Hamming
    * walk served straight off a persisted layout's
    * `bincodes/cluster_id=c` + `graph/cluster_id=c` dirs with ZERO
    * corpus shuffle — one task per probed shard reads word codes + graph
    * files directly into a Hamming walk kernel. With
    * `fullDensity = false` (bincodes layout v1) that is the
    * words-as-doubles `DoubleStore` + `Metric.Hamming` (the in-memory
    * [[searchSharded]] over word-double rows scores the same); with
    * `fullDensity = true` (layout v2, the write default) rows stay raw
    * 64-bit words in a [[VamanaKernel.WordStore]] (native xor/popcount,
    * half the walk state) while QUERIES remain in the v1 word-double
    * space — the store recombines them once per search, and the
    * word-grouping identity (BinaryQuant.codeColumns64) makes every
    * distance bit-identical across the two paths (GraphLayoutSpec pins
    * v2 ≡ v1 serving). Candidates are bit-identical either way, and the
    * driver merges the |Q|·nProbes·k top-k partials with no exchange
    * ([[zipServe]]). At 100 TB this
    * is the smallest serving I/O shape of all: 8 bytes of walk state
    * per row at 64 dims.
    * The query vectors in `pm` must already be word-encoded (word-
    * doubles, `BinaryQuant.codeColumns`), probed by Hamming against the
    * word-encoded centroids (`BinaryQuant.encodeWords`). */
  def searchStoredHamming(pm: Map[Long, Array[(Long, Array[Double])]],
                          codes: DataFrame, graph: DataFrame,
                          words: Int, k: Int, searchWindow: Int,
                          fullDensity: Boolean = false)
      : DataFrame = {
    require(searchWindow >= k, "searchWindow must be ≥ k")
    val cSub = fileSchema(codes)
    val cIdIx = cSub.fieldIndex("id")
    val wIxs = (0 until words).map(j => cSub.fieldIndex(s"w$j")).toArray
    // v2 (fullDensity): rows stay raw 64-bit words in a WordStore — half
    // the walk state; queries remain in the v1 word-double space and the
    // store recombines them once per search. Hamming sums are invariant
    // to the word grouping, so candidates are bit-identical to v1.
    if (fullDensity)
      zipServe[Array[Long]](pm, codes, graph, None,
        r => (longAt(r, cIdIx), wIxs.map(ix => longAt(r, ix))),
        xs => new VamanaKernel.WordStore(xs.toArray),
        k, searchWindow, Metric.Hamming)
    else
      zipServe[Array[Double]](pm, codes, graph, None,
        r => (longAt(r, cIdIx), wIxs.map(ix => longAt(r, ix).toDouble)),
        xs => new VamanaKernel.DoubleStore(xs.toArray),
        k, searchWindow, Metric.Hamming)
  }

  /** Driver-side probe routing shared by [[searchSharded]] and
    * [[searchPrepared]]: nProbes nearest centroids per query, inverted to
    * cluster → query-batch for broadcast. Queries must be broadcast-small
    * (the reference holds the query batch in memory too). */
  private def probeMap(queries: DataFrame,
                       centroids: Seq[(Long, Seq[Double])], nProbes: Int,
                       metric: Metric)
      : Map[Long, Array[(Long, Array[Double])]] =
    // Shared probe kernel (BatchScore): per-query sweep or GEMM-style
    // tiling by size, bit-identical either way.
    probeMapWith(queries, centroids, metric)(
      BatchScore.probeTopK(_, _, nProbes, metric))

  /** Collect the query batch, route each query with `route`, and invert
    * the probe lists to cluster → query-batch for the broadcast. */
  private def probeMapWith(queries: DataFrame,
                           centroids: Seq[(Long, Seq[Double])],
                           metric: Metric)
      (route: (Array[(Long, Array[Double])],
               IndexedSeq[(Long, Array[Double])]) => Array[Array[Long]])
      : Map[Long, Array[(Long, Array[Double])]] = {
    val qRows = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cents = centroids.sortBy(_._1)
      .map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val probeIds = route(qRows, cents)
    qRows.toSeq.zipWithIndex
      .flatMap { case ((qid, qvec), i) =>
        probeIds(i).map(cid => (cid, (qid, qvec))) }
      .groupBy(_._1).map { case (cid, xs) => cid -> xs.map(_._2).toArray }
  }

  /** Executor-local beam walk over one shard's rows (sorted ascending by id)
    * for a query batch — the shared kernel behind [[searchSharded]] and
    * [[searchPrepared]]. Rows: (cluster_id, id, vec, entry_id, neighbors). */
  /** null when every row passes (the common unfiltered case — keeps the
    * walk's emit loop branch-free), else per-slot keep flags. */
  /** Per-shard inner merge of the cogrouped data and graph runs (both
    * sorted ascending by id): the surviving rows, their order, and
    * dangling-id behavior match the former `clustered ⋈ graph` inner
    * join exactly, with the store built from just the surviving rows
    * (`mkStore` receives their data-row indices). Object-level (not a
    * local def inside searchShardedImpl) so cogroup closures capture
    * only serializable primitives, never the planning frame. */
  private def walkMerged(cid: Long, dRows: Array[(Long, Boolean)],
      mkStore: Array[Int] => VamanaKernel.VecStore,
      gIt: Iterator[(Long, Long, Long, Array[Long])],
      qs: Array[(Long, Array[Double])], k: Int, searchWindow: Int,
      searchCapacity: Int, m: Metric): Iterator[(Long, Long, Double)] = {
    val g = gIt.toArray.sortBy(_._2)
    val ids = Array.newBuilder[Long]
    val keeps = Array.newBuilder[Boolean]
    val nbrs = Array.newBuilder[Array[Long]]
    val dataIdx = Array.newBuilder[Int]
    var entry = Long.MinValue
    var di = 0; var gi = 0
    while (di < dRows.length && gi < g.length) {
      val dId = dRows(di)._1; val gId = g(gi)._2
      if (dId < gId) di += 1
      else if (dId > gId) gi += 1
      else {
        ids += dId; keeps += dRows(di)._2; nbrs += g(gi)._4; dataIdx += di
        if (entry == Long.MinValue) entry = g(gi)._3
        di += 1; gi += 1
      }
    }
    val idArr = ids.result()
    if (qs.isEmpty || idArr.isEmpty) Iterator.empty
    else
      walkShardCore(cid, idArr, mkStore(dataIdx.result()), entry,
        nbrs.result(), qs, k, searchWindow, searchCapacity, m,
        allowedOf(keeps.result()))
  }

  private def allowedOf(keeps: Array[Boolean]): Array[Boolean] =
    if (keeps.forall(identity)) null else keeps

  /** Element-type-erased shard walk shared by the f64 and f32 search
    * paths: slot resolution, dangling-edge drops, and the per-query greedy
    * walk over a [[VamanaKernel.VecStore]]. `allowed` (by slot; null = all)
    * filters EMISSION only — filtered rows are traversed so graph
    * connectivity through them is preserved, and the walk keeps taking
    * buffer entries past them until k allowed rows are out. */
  private def walkShardCore(cid: Long, ids: Array[Long],
                            store: VamanaKernel.VecStore, entryId: Long,
                            neighborIds: Array[Array[Long]],
                            qs: Array[(Long, Array[Double])], k: Int,
                            searchWindow: Int, searchCapacity: Int, m: Metric,
                            allowed: Array[Boolean] = null)
      : Iterator[(Long, Long, Double)] = {
    val slotOf = new java.util.HashMap[Long, Integer](ids.length * 2)
    ids.indices.foreach(i => slotOf.put(ids(i), i))
    val entrySlot = {
      val e = slotOf.get(entryId)
      require(e != null, s"vamana shard $cid: entry id $entryId " +
        "not present in the clustered rows (stale graph vs data?)")
      e.intValue()
    }
    // a graph row may reference a neighbor absent from the joined rows
    // (e.g. a tombstone-filtered table searched with a stale graph);
    // drop the dangling edge instead of dying with an opaque NPE —
    // matching the reference's skip-deleted posture during traversal
    val adj = neighborIds.map(_.flatMap { n =>
      val s = slotOf.get(n)
      if (s == null) None else Some(s.intValue())
    })
    qs.iterator.flatMap { case (qid, qvec) =>
      val buf = VamanaKernel.greedySearch(adj, store, entrySlot, qvec,
        searchWindow, m, searchCapacity)
      if (allowed == null)
        (0 until math.min(k, buf.n)).iterator.map { i =>
          (qid, ids(buf.slots(i)), buf.dists(i))
        }
      else {
        val out = Seq.newBuilder[(Long, Long, Double)]
        var taken = 0
        var i = 0
        while (taken < k && i < buf.n) {
          val s = buf.slots(i)
          if (allowed(s)) { out += ((qid, ids(s), buf.dists(i))); taken += 1 }
          i += 1
        }
        out.result().iterator
      }
    }
  }

  /** Co-locate clustered ⋈ graph by shard ONCE for repeated searches
    * (calibration sweeps, batch-iterator paging, recall grids). The returned
    * Dataset is hash-partitioned by cluster_id with whole shards contiguous
    * and id-sorted inside each partition, and cached — so every subsequent
    * [[searchPrepared]] call is a shuffle-free mapPartitions + the tiny
    * |Q|·nProbes·k partial merge, instead of re-paying the join + groupByKey
    * shuffle per search the way repeated [[searchSharded]] calls do. Caller
    * unpersists. At 100 TB the same shape holds: the prepared dataset is the
    * bucketed index layout, built once per calibration session. */
  def prepareShards(clustered: DataFrame, graph: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, Array[Double], Long,
          Array[Long])] = {
    val spark = clustered.sparkSession
    import spark.implicits._
    clustered
      .join(graph, Seq("cluster_id", "id"))
      .select(col("cluster_id").cast("long"), col("id").cast("long"),
        col("vec").cast("array<double>"), col("entry_id").cast("long"),
        col("neighbors").cast("array<long>"))
      .as[(Long, Long, Array[Double], Long, Array[Long])]
      .repartition(col("cluster_id"))
      .sortWithinPartitions("cluster_id", "id")
      .cache()
  }

  /** f32-resident twin of [[prepareShards]]: the cached index layout holds
    * float32 vectors — HALF the executor storage memory for the prepared
    * dataset (the residency that sizes a calibration session at 100 TB) —
    * and [[searchPreparedF32]] walks it with the mixed kernels for
    * bit-identical results. Requires an `ARRAY<FLOAT>` vec column. */
  def prepareShardsF32(clustered: DataFrame, graph: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long, Array[Float], Long,
          Array[Long])] = {
    val spark = clustered.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    require(clustered.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }, "prepareShardsF32 requires an ARRAY<FLOAT> vec column")
    clustered
      .join(graph, Seq("cluster_id", "id"))
      .select(col("cluster_id").cast("long"), col("id").cast("long"),
        col("vec"), col("entry_id").cast("long"),
        col("neighbors").cast("array<long>"))
      .as[(Long, Long, Array[Float], Long, Array[Long])]
      .repartition(col("cluster_id"))
      .sortWithinPartitions("cluster_id", "id")
      .cache()
  }

  /** [[searchSharded]] semantics over a [[prepareShards]] dataset: identical
    * results (same walk kernel, same merge), no per-call shard shuffle. */
  def searchPrepared(queries: DataFrame,
                     prepared: org.apache.spark.sql.Dataset[(Long, Long,
                       Array[Double], Long, Array[Long])],
                     centroids: Seq[(Long, Seq[Double])], k: Int,
                     searchWindow: Int, nProbes: Int, metric: Metric,
                     searchCapacity: Int = 0): DataFrame =
    searchPreparedImpl[Array[Double]](queries, prepared,
      vs => new VamanaKernel.DoubleStore(vs), centroids, k, searchWindow,
      nProbes, metric, searchCapacity)

  /** [[searchPrepared]] over an f32-resident [[prepareShardsF32]] dataset —
    * same walk via the mixed kernels, bit-identical output. */
  def searchPreparedF32(queries: DataFrame,
                        prepared: org.apache.spark.sql.Dataset[(Long, Long,
                          Array[Float], Long, Array[Long])],
                        centroids: Seq[(Long, Seq[Double])], k: Int,
                        searchWindow: Int, nProbes: Int, metric: Metric,
                        searchCapacity: Int = 0): DataFrame =
    searchPreparedImpl[Array[Float]](queries, prepared,
      vs => new VamanaKernel.FloatStore(vs), centroids, k, searchWindow,
      nProbes, metric, searchCapacity)

  private def searchPreparedImpl[V: scala.reflect.ClassTag](
      queries: DataFrame,
      prepared: org.apache.spark.sql.Dataset[(Long, Long, V, Long,
        Array[Long])],
      mkStore: Array[V] => VamanaKernel.VecStore,
      centroids: Seq[(Long, Seq[Double])], k: Int, searchWindow: Int,
      nProbes: Int, metric: Metric, searchCapacity: Int): DataFrame = {
    val spark = prepared.sparkSession
    import spark.implicits._
    require(searchWindow >= k, "searchWindow must be ≥ k")
    val bc = spark.sparkContext.broadcast(
      probeMap(queries, centroids, nProbes, metric))
    val m = metric
    // whole shards are contiguous and id-sorted within each cached partition,
    // so grouping is a linear scan over consecutive same-cid runs
    val partials = prepared.mapPartitions { it =>
      val rowsIt = it.buffered
      new Iterator[Iterator[(Long, Long, Double)]] {
        def hasNext: Boolean = rowsIt.hasNext
        def next(): Iterator[(Long, Long, Double)] = {
          val cid = rowsIt.head._1
          val run = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, V, Long, Array[Long])]
          while (rowsIt.hasNext && rowsIt.head._1 == cid)
            run += rowsIt.next()
          val qs = bc.value
            .getOrElse(cid, Array.empty[(Long, Array[Double])])
          if (qs.isEmpty) Iterator.empty[(Long, Long, Double)]
          else {
            val rows = run.toArray
            walkShardCore(cid, rows.map(_._2), mkStore(rows.map(_._3)),
              rows(0)._4, rows.map(_._5), qs, k, searchWindow,
              searchCapacity, m)
          }
        }
      }.flatten
    }.toDF("query_id", "id", "dist")
    TopK.perKeyViaWindow(partials, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** Incremental mutation (SURVEY §2 M1-M3 for the graph index): apply a
    * batch of additions (already routed: (id, vec, cluster_id)) and deletions
    * to a sharded index by rebuilding ONLY the touched shards — the Spark
    * form of the reference's incremental insert + consolidate
    * (dynamic_index.h:630-745,950): work is proportional to the delta's
    * shard fanout, not the index size, and untouched graph rows pass through
    * byte-identical. Returns (newClustered, newGraph). */
  def updateShards(clustered: DataFrame, graph: DataFrame, added: DataFrame,
                   deletedIds: DataFrame, params: BuildParams, metric: Metric)
      : (DataFrame, DataFrame) = {
    val (c, g, _) = updateShardsTouched(clustered, graph, added, deletedIds,
      params, metric)
    (c, g)
  }

  /** Locate fast-path bound: id sets at or below this push as a scan
    * predicate; larger sets fall back to the join. */
  private[graft] val LocateIsinMax = 10000

  /** The shards holding any of `ids` — the upsert delete-LOCATE, shared
    * by the graph and codec stores. Fast path: delete/replace batches
    * are micro-batch-small by the maintenance contract, so pushing the
    * id set as a SCAN PREDICATE lets parquet row-group min/max stats
    * (and dictionary filters) prune untouched FILES from the locate
    * entirely — the SCALE.md r15 measurement shows the join-based
    * full-store id scan going file-open-bound at 2×10⁴ shards. Large
    * In sets push down as a min/max RANGE, so range-sharded /
    * time-ordered id layouts still prune to the touched files while
    * hash-scattered layouts degrade to today's column scan — never
    * worse than the join. Batches above [[LocateIsinMax]] fall back to
    * the join (a multi-million-literal predicate would bloat the plan
    * for no pruning win). Result: a (cluster_id) frame, not collected. */
  private[graft] def locateShards(stored: DataFrame,
                                  ids: DataFrame): DataFrame = {
    import stored.sparkSession.implicits._
    // ONE deduped projection feeds both the size probe and (on
    // fallback) the join side, so an oversized duplicate-heavy batch
    // neither re-derives ids nor fans duplicate cluster_id rows into
    // the downstream distinct; the bounded take is the size probe's
    // only extra pass, and it is capped at LocateIsinMax+1 rows.
    // NULL ids (plausible from a CDC delete feed) drop here — the
    // pre-fast-path join ignored them silently, and a null can match
    // no stored row either way; without the filter the typed collect
    // fails the whole batch on "Null value in non-nullable field"
    val idsL = ids.select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
    val bounded = idsL.limit(LocateIsinMax + 1).as[Long].collect()
    if (bounded.isEmpty) stored.select(col("cluster_id")).limit(0)
    else if (bounded.length <= LocateIsinMax)
      stored.filter(col("id").isin(bounded: _*)).select(col("cluster_id"))
    else stored.join(idsL, Seq("id")).select(col("cluster_id"))
  }

  /** [[updateShards]] + the touched-cluster set it derived — so callers
    * that need the set (partition-scoped store rewrites) don't recompute
    * the same join + collects over the store. */
  def updateShardsTouched(clustered: DataFrame, graph: DataFrame,
                          added: DataFrame, deletedIds: DataFrame,
                          params: BuildParams, metric: Metric)
      : (DataFrame, DataFrame, Seq[Long]) = {
    val touched = added.select(col("cluster_id").cast("long"))
      .union(locateShards(clustered, deletedIds)
        .select(col("cluster_id").cast("long")))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val newClustered = clustered
      .join(deletedIds.select("id"), Seq("id"), "left_anti")
      .unionByName(added)
    val rebuilt = buildSharded(
      newClustered.filter(col("cluster_id").isin(touched: _*)), params, metric)
    val untouched = graph.filter(!col("cluster_id").isin(touched: _*))
    (newClustered, untouched.unionByName(rebuilt), touched)
  }

  /** Out-degree distribution of a graph table (SURVEY §2 A8). */
  def degreeStats(graph: DataFrame): DataFrame =
    graph.select(col("cluster_id"),
        size(col("neighbors")).cast("long").as("degree"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("nodes"), max("degree").as("max_degree"),
        min("degree").as("min_degree"),
        sum("degree").as("total_edges"))
}
