package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}
import graft.core.Metric
import graft.operators.{GraphLayout, IndexLayout}

/** Serving a QUERY STREAM against a stored index layout — the deployment
  * shape of a 100 TB index: the index is a persisted store
  * ([[graft.operators.GraphLayout]] / [[graft.operators.IndexLayout]]),
  * queries arrive continuously, and every micro-batch is answered through
  * the family's ONE `serve()` entry point, so each batch gets the same
  * probe-once routing and zero-corpus-shuffle execution the batch API
  * certifies (reference posture: the long-lived
  * orchestrator object queries flow through,
  * include/svs/orchestrators/manager.h:197-245 — here the "orchestrator"
  * is the opened layout plus this attached stream).
  *
  * Sink protocol (exactly-once): results land under `outPath`
  * partitioned by `batch_id` and each micro-batch writes with DYNAMIC
  * partition overwrite, so a REPLAYED batch (foreachBatch's at-least-once
  * redelivery after a failure) rewrites its own `batch_id=` partition
  * instead of appending duplicates — the same idempotence recipe as
  * [[graft.operators.GraphLayout.upsert]]'s dynamic partition overwrite,
  * applied to the result stream. Batch ≡ stream: the union of all batch
  * partitions is bit-identical to one batch `serve()` of the union of the
  * query batches (StreamingServeSpec; per-query top-k is independent
  * across queries, so micro-batch boundaries cannot change any row).
  *
  * Deployment dials (all certified batch ≡ stream in StreamingServeSpec):
  *   - `trigger` — any Structured Streaming trigger passes through;
  *     `Trigger.AvailableNow()` is the CATCH-UP recipe (drain everything
  *     pending in rate-limited micro-batches, then stop — the restartable
  *     backfill for a query backlog).
  *   - `maxQueriesPerBatch` — the query-rate bound: a micro-batch larger
  *     than the dial is served in ≤-dial SLICES (deterministic: distinct
  *     query_ids sorted ascending, chunked), one result write per batch.
  *     Per-query top-k independence makes slicing exact; what it bounds
  *     is the per-serve collected query batch (probe maps and query
  *     broadcasts are ∝ batch size by the serving contract — this keeps
  *     both flat under a burst). No query is ever dropped. Source-side
  *     admission (fewer queries per TRIGGER) composes via the reader's
  *     own `maxFilesPerTrigger`/`maxOffsetsPerTrigger` options.
  *   - `decisionLog` (graph stores) — per-batch probe provenance: each
  *     slice probes ONCE and the walk reads that same map (so logging
  *     adds zero extra routing work), and (slice, mode, fraction,
  *     probed_shards) rows land under the log path partitioned by
  *     `batch_id` with the same dynamic-overwrite idempotence as the
  *     result sink. `mode` reads `local` (the stored walk) on every row;
  *     the column stays so logs written by older versions, which could
  *     also record `cogroup`, keep one schema.
  *
  * Scale shape: each micro-batch pays I/O ∝ its probed shard union; a
  * graph store's walk is one Spark job whose |batch|·probes·k partials
  * the driver merges with no exchange (SCALE.md serving laws) — a steady
  * query stream against a 100 TB store reads only what its batches
  * probe. */
object StreamingServe {

  /** The canonical serving result shape every family's `serve()` emits
    * (TopK/Rerank contract): what [[results]] returns for a sink no
    * batch has written yet. */
  val resultSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("rnk", IntegerType),
    StructField("neighbor_id", LongType),
    StructField("dist", DoubleType)))

  /** Decision-log row shape ([[decisions]] on an unwritten log).
    * `serve_ms` is the BATCH's measured serve wall (probe + serve +
    * sink write, driver clock) — every slice row of one batch carries
    * the same value because the batch's slices execute inside one sink
    * write; it is a MEASUREMENT, not content, so a replayed batch
    * rewrites it with the replay's own wall. */
  val decisionSchema: StructType = StructType(Seq(
    StructField("slice", IntegerType),
    StructField("mode", org.apache.spark.sql.types.StringType),
    StructField("fraction", DoubleType),
    StructField("probed_shards", IntegerType),
    StructField("serve_ms", DoubleType),
    StructField("batch_id", LongType)))

  /** Attach a query stream to ANY per-batch serving function — the
    * generic core the graph and IVF attaches share. Each micro-batch is
    * served via `serve` and written to `outPath/batch_id=N/` with
    * dynamic partition overwrite (idempotent under replay). Callers own
    * the returned query's lifecycle. */
  def attach(queryStream: DataFrame, outPath: String, checkpoint: String,
             trigger: Option[Trigger] = None, maxQueriesPerBatch: Int = 0)
            (serve: DataFrame => DataFrame): StreamingQuery =
    attachCore(queryStream, outPath, checkpoint, trigger,
      maxQueriesPerBatch, None)(slice => (serve(slice), None))

  /** The shared foreachBatch body: empty-skip → slice → serve →
    * one result write per batch → one decision-log write per batch. */
  private def attachCore(queryStream: DataFrame, outPath: String,
                         checkpoint: String, trigger: Option[Trigger],
                         maxQueriesPerBatch: Int,
                         decisionLog: Option[String])
                        (serveSlice: DataFrame =>
                          (DataFrame, Option[(String, Double, Int)]))
      : StreamingQuery = {
    val w0 = queryStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
    val w = trigger.fold(w0)(w0.trigger)
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!isKnownEmpty(batch)) {
          val parts =
            if (maxQueriesPerBatch > 0) slices(batch, maxQueriesPerBatch)
            else if (batch.isEmpty) Seq.empty[DataFrame]
            else Seq(batch)
          if (parts.nonEmpty) {
            // the batch's serve wall spans probe-once routing (eager in
            // serveSlice), the serve plans, and the sink write that
            // executes them — the latency leg of the capacity-planning
            // view (decisionStats joins it to the dispatch shape)
            val t0 = System.nanoTime()
            val served = parts.map(serveSlice)
            writeBatch(served.map(_._1).reduce(_ union _), batchId, outPath)
            val serveMs = (System.nanoTime() - t0) / 1e6
            decisionLog.foreach { lp =>
              val rows = served.zipWithIndex.collect {
                case ((_, Some((m, f, ps))), i) => (i, m, f, ps) }
              if (rows.nonEmpty)
                writeDecisions(lp, batchId, rows, serveMs,
                  batch.sparkSession)
            }
          }
        }
      }
      .start()
  }

  /** Driver-side (zero-job) emptiness check: true iff the optimizer
    * already folded the batch to an empty LocalRelation (a trigger whose
    * plan is STATICALLY empty — e.g. the source delivered no rows, or an
    * always-false predicate upstream let PropagateEmptyRelation collapse
    * it). Plans the optimizer cannot prove empty fall through to the
    * one-small-job `batch.isEmpty` guard in [[attachCore]] — that
    * take(1) is the price of never serving a phantom batch, and it runs
    * only when a row-bearing plan arrived (the steady-state batch then
    * pays real serve jobs anyway, so the guard is noise there). */
  private[graft] def isKnownEmpty(batch: DataFrame): Boolean =
    batch.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Deterministic ≤-`maxQ`-query slices of one micro-batch: distinct
    * query_ids sorted ascending, chunked — arrival order inside the
    * batch cannot change the slicing, so a REPLAYED batch re-serves the
    * identical slices. The distinct-ids collect doubles as the emptiness
    * check when the rate bound is on (queries are broadcast-small by the
    * serving contract, so the collect is the same size class as the
    * probe map every serve builds anyway). */
  private def slices(batch: DataFrame, maxQ: Int): Seq[DataFrame] = {
    val ids = batch.select(col("query_id")).distinct()
      .orderBy(col("query_id")).collect().map(_.get(0))
    if (ids.isEmpty) Seq.empty
    else {
      val groups = ids.grouped(maxQ).toSeq
      // one source materialization per burst batch: every slice
      // re-filters the batch frame, so a multi-slice batch carrying a
      // heavy upstream plan would recompute that plan once per slice —
      // sever the lineage once (eager localCheckpoint, the batch is
      // broadcast-small by the serving contract) and slice off the
      // checkpoint; the single-slice steady state skips the copy
      val src = if (groups.length > 1) batch.localCheckpoint(true) else batch
      groups.map(g => src.filter(col("query_id").isin(g.toSeq: _*)))
    }
  }

  /** One micro-batch's results into its own `batch_id=` partition.
    * Dynamic overwrite is scoped to THIS WRITER via the per-write
    * option — NOT a session-conf set/restore, which would race across
    * concurrently attached streams sharing the session (a concurrent
    * restore to "static" would turn a batch's overwrite into a full-sink
    * truncation). A replay of batch N rewrites only `batch_id=N`;
    * earlier batches' partitions are untouched. */
  private def writeBatch(result: DataFrame, batchId: Long,
                         outPath: String): Unit =
    result.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)

  /** One micro-batch's dispatch-decision rows into the log's own
    * `batch_id=` partition — the same idempotence recipe as
    * [[writeBatch]], so a replayed batch rewrites its decision rows
    * alongside its results. */
  private def writeDecisions(logPath: String, batchId: Long,
                             rows: Seq[(Int, String, Double, Int)],
                             serveMs: Double,
                             spark: SparkSession): Unit = {
    import spark.implicits._
    rows.toDF("slice", "mode", "fraction", "probed_shards")
      .withColumn("serve_ms", lit(serveMs))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(logPath)
  }

  /** Everything served so far, batch provenance dropped. TOTAL: a sink
    * no non-empty micro-batch has written yet (the directory does not
    * exist) returns an empty frame with `emptySchema` — the canonical
    * [[resultSchema]] by default — instead of failing the read. */
  def results(spark: SparkSession, outPath: String,
              emptySchema: StructType = resultSchema): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else spark.read.parquet(outPath).drop("batch_id")
  }

  /** The dispatch-decision log (batch_id, slice, mode, fraction,
    * probed_shards) a `decisionLog`-attached stream wrote — total like
    * [[results]]: an unwritten log returns an empty frame. */
  def decisions(spark: SparkSession, logPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], decisionSchema)
    else {
      // partition-column inference types small batch ids as INT — pin
      // the declared long so consumers see one schema regardless of id
      // range; logs written before the latency leg existed read with a
      // NULL serve_ms (percentiles skip nulls). mergeSchema matters: a
      // MIXED log (old batches without serve_ms retained next to new
      // ones) must not lose the column to whichever footer Spark
      // happens to sample — merged, old rows null-fill and new rows
      // keep their measured walls
      val d0 = spark.read.option("mergeSchema", "true").parquet(logPath)
        .withColumn("batch_id", col("batch_id").cast("long"))
      if (d0.columns.contains("serve_ms")) d0
      else d0.withColumn("serve_ms", lit(null).cast("double"))
        .select("slice", "mode", "fraction", "probed_shards",
          "serve_ms", "batch_id")
    }
  }

  /** The decision log aggregated into the capacity-planning view it
    * exists for: one row per dispatch mode with slice/batch counts, the
    * probed-shard / probe-union-fraction spread, AND the per-batch
    * serve-latency spread (p50/p90/max of `serve_ms`) — dispatch shape
    * and latency in ONE view, so a probes/rate dial choice reads
    * directly off "local batches at fraction ≲ f run p90 X ms". The
    * latency fold dedupes to one wall per (batch, mode) first (a
    * batch's slice rows share its wall — counting them per slice would
    * weight bursty batches) and then keeps ONLY single-mode batches: a
    * batch whose slices span modes (older logs, written when each slice
    * could dispatch to either walk) has one
    * wall and no single mode to charge it to — attributing it to every
    * mode present would let walls dominated by the OTHER mode's slices
    * pollute each mode's percentiles. Excluded batches are not silent:
    * each mode row carries `mixed_mode_batches`, the number of its
    * batches whose wall went unattributed (per-slice walls cannot exist
    * — a batch's slices execute inside ONE sink write). Exact
    * percentiles (the log is driver-small: one row per (batch, slice));
    * total like [[decisions]] — an unwritten log aggregates to zero
    * rows, and pre-latency logs aggregate with NULL latency columns. */
  def decisionStats(spark: SparkSession, logPath: String): DataFrame = {
    val d = decisions(spark, logPath)
    val perBatch = d.select("mode", "batch_id", "serve_ms").distinct()
    val nModes = perBatch.groupBy("batch_id")
      .agg(countDistinct("mode").as("n_modes"))
    val latency = perBatch.join(nModes, Seq("batch_id"))
      .groupBy("mode").agg(
        expr("percentile(if(n_modes = 1, serve_ms, null), 0.5)")
          .as("p50_serve_ms"),
        expr("percentile(if(n_modes = 1, serve_ms, null), 0.9)")
          .as("p90_serve_ms"),
        max(when(col("n_modes") === 1, col("serve_ms")))
          .as("max_serve_ms"),
        sum(when(col("n_modes") > 1, 1L).otherwise(0L))
          .as("mixed_mode_batches"))
    d.groupBy("mode").agg(
      count(lit(1)).as("slices"),
      countDistinct("batch_id").as("batches"),
      min("probed_shards").as("min_probed"),
      expr("percentile(probed_shards, 0.5)").as("median_probed"),
      max("probed_shards").as("max_probed"),
      round(avg("fraction"), 6).as("avg_fraction"),
      max("fraction").as("max_fraction"))
      .join(latency, Seq("mode"), "left_outer")
  }

  /** Sink retention: delete every `batch_id=` partition except the
    * NEWEST `retainBatches` (by batch id), bounding a long-lived
    * stream's partition count. Returns the expired batch ids.
    *
    * Replay safety: a checkpointed restart can only re-deliver batches
    * whose COMMIT was never recorded — the newest ones — so retaining
    * ≥ 1 newest keeps every possible replay target intact; committed
    * older batches are never re-delivered and can be expired freely.
    * This is a data-retention dial (expired results leave [[results]]
    * by design), the streaming analog of the text index's segment
    * expiry. Works on the decision log too (same partition scheme). */
  def expireBatches(spark: SparkSession, outPath: String,
                    retainBatches: Int): Seq[Long] = {
    require(retainBatches >= 1,
      s"retainBatches must be ≥ 1 (the newest batch is a replay " +
        s"target) — got $retainBatches")
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val ids = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq
    val expired = ids.dropRight(retainBatches)
    expired.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_id=$id"), true) }
    expired
  }

  /** Graph-store serving: every micro-batch through
    * [[GraphLayout.serve]] with `codec` (probe-once routing, the stored
    * zero-corpus-shuffle walk; `codec` carries the family's own dials —
    * routing, `keep`, rerank width). Each slice's probe map is computed
    * once and handed to the walk; with `decisionLog` the same map is
    * recorded (mode `local` — the one stored walk — probe-union
    * fraction, probed shards), so logging adds no routing work.
    *
    * As with `serve`, each slice's walk runs when the slice is served
    * (one job, its rows a local relation the sink write then writes),
    * and it reads the files `layout` was opened over: the stream serves
    * that snapshot of the store. To serve a store that an upsert has
    * changed, attach the layout the upsert returns — a stream left on
    * the superseded layout fails loudly on the replaced part files. */
  def attachGraph(queryStream: DataFrame, layout: GraphLayout.Layout,
                  outPath: String, checkpoint: String, k: Int,
                  searchWindow: Int, nProbes: Int, metric: Metric,
                  codec: GraphLayout.Codec = GraphLayout.Codec.Full(),
                  trigger: Option[Trigger] = None,
                  maxQueriesPerBatch: Int = 0,
                  decisionLog: Option[String] = None): StreamingQuery =
    attachCore(queryStream, outPath, checkpoint, trigger,
      maxQueriesPerBatch, decisionLog) { slice =>
      val pm = GraphLayout.probes(layout, slice, nProbes, metric, codec)
      (GraphLayout.serveProbed(layout, slice, k, searchWindow, metric,
        codec, pm),
        decisionLog.map(_ =>
          ("local", pm.size.toDouble / layout.centroids.size, pm.size)))
    }

  /** Stored-IVF codec serving: every micro-batch through
    * [[IndexLayout.serve]] (routed through the persisted level-1 when
    * the layout has one and `l1Probes > 0`). */
  def attachIndex(queryStream: DataFrame, layout: IndexLayout.Layout,
                  outPath: String, checkpoint: String, k: Int,
                  nProbes: Int, metric: Metric, l1Probes: Int = 0,
                  kReorder: Int = 3,
                  trigger: Option[Trigger] = None,
                  maxQueriesPerBatch: Int = 0): StreamingQuery =
    attachCore(queryStream, outPath, checkpoint, trigger,
      maxQueriesPerBatch, None)(slice =>
      (IndexLayout.serve(layout, slice, k, nProbes, metric, l1Probes,
        kReorder), None))
}
