package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.{Metric, Tables}
import graft.operators.GraphLayout.Codec
import graft.operators.{BinaryQuant, GraphLayout, IndexLayout, KMeans, Pq,
  Vamana}
import graft.operators.VamanaKernel.BuildParams
import graft.streaming.StreamingServe

/** Streaming QUERY serving against stored layouts: each micro-batch flows
  * through the family's one serve() entry point and lands in its own
  * batch_id partition — the union must be bit-identical to one batch
  * serve() of the same queries (per-query top-k is independent across
  * queries, so micro-batch boundaries cannot change any row), and a
  * replayed micro-batch must overwrite its partition, never duplicate. */
class StreamingServeSpec extends SparkSpec {
  import spark.implicits._

  private val K = 6
  private val W = 1 << 12

  private def ckpt() =
    java.nio.file.Files.createTempDirectory("graft-serve-stream").toString

  private def cleanDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** One stored layout carrying all three graph-family codecs. */
  private lazy val layout: GraphLayout.Layout = {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val cents = data.filter(col("id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 16, buildWindow = 32), Metric.L2)
    val rows = data.orderBy("id").limit(8).collect()
      .map(_.getAs[Seq[Double]]("vec").toArray).toSeq
    val p = Pq.paramsFromRows(rows, 4, 8, Tables.embDims)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_streaming_serve_layout"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b), routingGroups = 2)
    GraphLayout.open(spark, path)
  }

  private def queryRows: Seq[(Long, Seq[Double])] =
    Tables.embeddingQueries(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  private def tuples(df: DataFrame): Seq[Seq[Any]] = df
    .select("query_id", "rnk", "neighbor_id")
    .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq

  /** Stream `qs` in `nBatches` micro-batches through `attach`, return the
    * sink dir's content. */
  private def streamed(qs: Seq[(Long, Seq[Double])], nBatches: Int,
                       outPath: String)
                      (attach: DataFrame =>
                        org.apache.spark.sql.streaming.StreamingQuery)
      : DataFrame = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    cleanDir(outPath)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = attach(mem.toDF().toDF("query_id", "qvec"))
    try qs.grouped(math.max(1, (qs.length + nBatches - 1) / nBatches))
      .foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    StreamingServe.results(spark, outPath)
  }

  test("attachGraph: 3 micro-batches through serve() ≡ one batch serve; " +
      "each micro-batch lands in its own batch_id partition") {
    val out = "/tmp/graft_streaming_serve_graph"
    val res = streamed(queryRows, 3, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2, Codec.Full(l1Probes = 1)))
    val batch = GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2,
      Codec.Full(l1Probes = 1))
    assert(tuples(res) === tuples(batch))
    assert(tuples(res).nonEmpty)
    // provenance: >1 distinct batch_id partitions actually materialized
    assert(spark.read.parquet(out).select("batch_id").distinct().count()
      > 1L)
  }

  test("attachAdc (kReorder + keep) and attachHamming: stream ≡ batch " +
      "through the compressed and binary dispatchers") {
    // (the name predates the one graph attach: both codecs stream
    // through attachGraph(…, codec))
    val keep = col("id") % 3 =!= 1
    val outA = "/tmp/graft_streaming_serve_adc"
    val resA = streamed(queryRows, 2, outA)(st =>
      StreamingServe.attachGraph(st, layout, outA, ckpt(), K, W,
        nProbes = 2, Metric.L2, Codec.Pq(kReorder = 2, keep = keep)))
    assert(tuples(resA) === tuples(GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2,
      Codec.Pq(kReorder = 2, keep = keep))))
    tuples(resA).foreach(r =>
      assert(r(2).asInstanceOf[Long] % 3 !== 1, "excluded id emitted"))

    val outH = "/tmp/graft_streaming_serve_hamming"
    val resH = streamed(queryRows, 2, outH)(st =>
      StreamingServe.attachGraph(st, layout, outH, ckpt(), K, W,
        nProbes = 2, Metric.L2, Codec.Binary(kReorder = 2)))
    assert(tuples(resH) === tuples(GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2,
      Codec.Binary(kReorder = 2))))
  }

  test("attachIndex: stream ≡ batch through IndexLayout.serve at both " +
      "routing dials") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val cents = data.filter(col("id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val path = "/tmp/graft_streaming_serve_ivf"
    IndexLayout.write(KMeans.assign(data, cents), cents, path,
      IndexLayout.Uncompressed, routingGroups = 2)
    val ivf = IndexLayout.open(spark, path)
    val l1Size = ivf.routing.map(_._1.size).getOrElse(0)
    for (l1p <- Seq(0, l1Size)) {
      val out = s"/tmp/graft_streaming_serve_index_$l1p"
      val res = streamed(queryRows, 2, out)(st =>
        StreamingServe.attachIndex(st, ivf, out, ckpt(), K, nProbes = 2,
          Metric.L2, l1Probes = l1p))
      assert(tuples(res) === tuples(IndexLayout.serve(ivf,
        Tables.embeddingQueries(spark, sfDir), K, nProbes = 2, Metric.L2,
        l1Probes = l1p)), s"l1Probes=$l1p")
    }
  }

  test("Trigger.AvailableNow catch-up: a pre-loaded backlog drains to " +
      "termination and the result ≡ one batch serve()") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = "/tmp/graft_streaming_serve_availablenow"
    cleanDir(out)
    val mem = MemoryStream[(Long, Seq[Double])]
    val qs = queryRows
    // backlog FIRST, then attach — the catch-up shape
    qs.grouped(math.max(1, (qs.length + 1) / 2)).foreach(mem.addData(_))
    val q = StreamingServe.attachGraph(mem.toDF().toDF("query_id", "qvec"),
      layout, out, ckpt(), K, W, nProbes = 2, Metric.L2,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q.awaitTermination(120000L)
    assert(!q.isActive, "AvailableNow must terminate once drained")
    val batch = GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2)
    assert(tuples(StreamingServe.results(spark, out)) === tuples(batch))
  }

  test("maxQueriesPerBatch rate bound: an oversized micro-batch is " +
      "served in slices, one write, no query dropped — ≡ unbounded") {
    val out = "/tmp/graft_streaming_serve_ratebound"
    val qs = queryRows
    assert(qs.length > 3, "need an oversized batch for the bound to bite")
    val res = streamed(qs, 1, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2, Codec.Binary(kReorder = 2),
        maxQueriesPerBatch = 3))
    assert(tuples(res) === tuples(GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2,
      Codec.Binary(kReorder = 2))))
    // one batch → exactly one batch_id partition despite multiple slices
    assert(spark.read.parquet(out).select("batch_id").distinct().count()
      === 1L)
  }

  test("decisionLog: each batch probes once, records what dispatched, " +
      "and the logged map is the one the serve ran on (rows ≡ batch)") {
    val out = "/tmp/graft_streaming_serve_decisions"
    val log = "/tmp/graft_streaming_serve_decisions_log"
    cleanDir(log)
    // total BEFORE anything is written
    val empty = StreamingServe.decisions(spark, log)
    assert(empty.count() === 0L)
    assert(empty.columns.toSet ===
      Set("batch_id", "slice", "mode", "fraction", "probed_shards",
        "serve_ms"))
    val res = streamed(queryRows, 2, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2, decisionLog = Some(log)))
    assert(tuples(res) === tuples(GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2,
      Metric.L2)))
    val d = StreamingServe.decisions(spark, log).collect()
    assert(d.nonEmpty)
    // one stored walk: every row records mode local
    assert(d.forall(_.getAs[String]("mode") == "local"))
    assert(d.forall(_.getAs[Int]("probed_shards") >= 1))
    assert(d.map(_.getAs[Long]("batch_id")).distinct.length === d.length,
      "one decision row per (batch, slice)")
    // the latency leg: every batch carries a positive measured serve
    // wall, shared across its slice rows (one sink write per batch)
    assert(d.forall(_.getAs[Double]("serve_ms") > 0.0))
    d.groupBy(_.getAs[Long]("batch_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Double]("serve_ms")).distinct.length === 1,
        "slices of one batch must share the batch's serve wall")
    }
    // every codec logs through the same probe-once seam: a Binary
    // stream's row records the Hamming probe map its walk read
    val res2 = streamed(queryRows, 1, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2, Codec.Binary(kReorder = 2),
        decisionLog = Some(log)))
    assert(tuples(res2).nonEmpty)
    val probed = StreamingServe.decisions(spark, log)
      .filter(col("batch_id") === 0L).collect()
      .map(_.getAs[Int]("probed_shards")).toSeq
    assert(probed === Seq(GraphLayout.probes(layout,
      Tables.embeddingQueries(spark, sfDir), 2, Metric.L2,
      Codec.Binary(kReorder = 2)).size))
    // the capacity-planning aggregate over the same log: totals line up
    // with the raw rows, and an unwritten log aggregates to zero rows
    val stats = StreamingServe.decisionStats(spark, log).collect()
      .map(r => r.getAs[String]("mode") -> r).toMap
    val raw = StreamingServe.decisions(spark, log).collect()
    assert(stats.values.map(_.getAs[Long]("slices")).sum === raw.length)
    stats.foreach { case (m, r) =>
      val ofMode = raw.filter(_.getAs[String]("mode") == m)
      assert(r.getAs[Long]("batches") ===
        ofMode.map(_.getAs[Long]("batch_id")).distinct.length)
      assert(r.getAs[Int]("max_probed") ===
        ofMode.map(_.getAs[Int]("probed_shards")).max)
      // latency ties to the raw rows: one wall per batch, the stats
      // fold over the per-batch walls of this mode
      val walls = ofMode.map(r2 => (r2.getAs[Long]("batch_id"),
        r2.getAs[Double]("serve_ms"))).distinct.map(_._2)
      assert(r.getAs[Double]("max_serve_ms") === walls.max)
      assert(r.getAs[Double]("p90_serve_ms") >= walls.min &&
        r.getAs[Double]("p90_serve_ms") <= walls.max)
      assert(r.getAs[Double]("p50_serve_ms") <=
        r.getAs[Double]("p90_serve_ms"))
    }
    assert(StreamingServe.decisionStats(spark,
      "/tmp/graft_streaming_serve_no_such_log").count() === 0L)
    // totality for PRE-LATENCY logs: a log written without serve_ms
    // reads with a NULL column and aggregates with NULL latency stats
    val oldLog = "/tmp/graft_streaming_serve_decisions_oldlog"
    cleanDir(oldLog)
    Seq((0, "local", 0.5, 2)).toDF("slice", "mode", "fraction",
        "probed_shards")
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(oldLog)
    val old = StreamingServe.decisions(spark, oldLog)
    assert(old.columns.contains("serve_ms"))
    assert(old.collect().forall(_.isNullAt(old.columns.indexOf("serve_ms"))))
    val oldStats = StreamingServe.decisionStats(spark, oldLog).collect()
    assert(oldStats.length === 1 &&
      oldStats.head.isNullAt(oldStats.head.fieldIndex("p90_serve_ms")))
    // MIXED log (old batches retained next to post-upgrade ones): the
    // merged-schema read must keep the new rows' measured walls
    // regardless of which parquet footer Spark samples — old rows
    // null-fill, new rows keep serve_ms
    Seq((0, "local", 0.5, 2, 12.5)).toDF("slice", "mode", "fraction",
        "probed_shards", "serve_ms")
      .withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(oldLog)
    val mixed = StreamingServe.decisions(spark, oldLog).collect()
    assert(mixed.length === 2)
    val newRow = mixed.find(_.getAs[Long]("batch_id") == 1L).get
    assert(newRow.getAs[Double]("serve_ms") === 12.5)
    assert(mixed.find(_.getAs[Long]("batch_id") == 0L).get
      .isNullAt(newRow.fieldIndex("serve_ms")))
    val mixedStats = StreamingServe.decisionStats(spark, oldLog)
      .collect()
    assert(mixedStats.head.getAs[Double]("max_serve_ms") === 12.5)
    // a single-mode log attributes every wall: nothing lands in
    // mixed_mode_batches
    assert(mixedStats.forall(_.getAs[Long]("mixed_mode_batches") === 0L))
    // a MULTI-mode batch (Auto can flip per slice) has one wall and no
    // single mode to charge it to: its wall is EXCLUDED from every
    // mode's latency fold and surfaced via mixed_mode_batches instead
    // of inflating per-mode percentiles with the other mode's slices
    val mmLog = "/tmp/graft_streaming_serve_decisions_multimode"
    cleanDir(mmLog)
    Seq((0, "local", 0.2, 1, 7.0), (1, "cogroup", 0.9, 4, 7.0))
      .toDF("slice", "mode", "fraction", "probed_shards", "serve_ms")
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(mmLog)
    Seq((0, "local", 0.3, 2, 3.0))
      .toDF("slice", "mode", "fraction", "probed_shards", "serve_ms")
      .withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(mmLog)
    val mm = StreamingServe.decisionStats(spark, mmLog).collect()
      .map(r => r.getAs[String]("mode") -> r).toMap
    assert(mm("local").getAs[Long]("mixed_mode_batches") === 1L)
    assert(mm("cogroup").getAs[Long]("mixed_mode_batches") === 1L)
    // local's latency comes from its single-mode batch only
    assert(mm("local").getAs[Double]("max_serve_ms") === 3.0)
    assert(mm("local").getAs[Double]("p50_serve_ms") === 3.0)
    // cogroup ran only inside the mixed batch → NULL latency, counted
    assert(mm("cogroup").isNullAt(
      mm("cogroup").fieldIndex("max_serve_ms")))
    // the dispatch-shape half still counts the mixed batch's slices
    assert(mm("cogroup").getAs[Long]("slices") === 1L)
  }

  test("burst batches materialize their source plan ONCE: a multi-slice " +
      "batch localCheckpoints before slicing, so a heavy upstream plan " +
      "is not recomputed per slice") {
    val out = "/tmp/graft_streaming_serve_burst_ckpt"
    val acc = spark.sparkContext.longAccumulator("graft-burst-evals")
    val counting = udf((v: Seq[Double]) => { acc.add(1L); v })
    val qs = queryRows
    assert(qs.length > 3, "need a multi-slice batch")
    val res = streamed(qs, 1, out)(st =>
      StreamingServe.attachGraph(
        st.withColumn("qvec", counting(col("qvec"))), layout, out, ckpt(),
        K, W, nProbes = 2, Metric.L2, Codec.Binary(kReorder = 2),
        maxQueriesPerBatch = 3))
    assert(tuples(res) === tuples(GraphLayout.serve(layout,
      Tables.embeddingQueries(spark, sfDir), K, W, nProbes = 2, Metric.L2,
      Codec.Binary(kReorder = 2))))
    // ≤ 2 passes over the source plan: the distinct-ids pass plus the
    // eager localCheckpoint; every slice (probe collect + rerank join +
    // sink write) then reads the checkpoint. Without the checkpoint the
    // same batch measured 9 full passes (ids + 4 slices × 2 actions) —
    // 90 evals for these 10 rows
    assert(acc.value <= 2L * qs.length,
      s"source plan evaluated ${acc.value} times for ${qs.length} rows")
  }

  test("results() is TOTAL: an unwritten sink returns an empty frame " +
      "with the canonical serving schema instead of failing") {
    val out = "/tmp/graft_streaming_serve_never_written"
    cleanDir(out)
    val r = StreamingServe.results(spark, out)
    assert(r.count() === 0L)
    assert(r.schema === StreamingServe.resultSchema)
  }

  test("statically-empty micro-batches are skipped WITHOUT a probe job " +
      "(isKnownEmpty) and never create the sink — results stays total") {
    // driver-side plan check: statically-empty folds to LocalRelation
    val base = Tables.embeddingQueries(spark, sfDir)
    assert(StreamingServe.isKnownEmpty(base.filter(lit(false))))
    assert(!StreamingServe.isKnownEmpty(base))
    // end-to-end: a stream whose every batch is statically empty
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = "/tmp/graft_streaming_serve_allempty"
    cleanDir(out)
    val mem = MemoryStream[(Long, Seq[Double])]
    val st = mem.toDF().toDF("query_id", "qvec").filter(lit(false))
    val q = StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
      nProbes = 2, Metric.L2)
    try { mem.addData(queryRows.take(3)); q.processAllAvailable() }
    finally q.stop()
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(p), "empty batches must not create the sink")
    assert(StreamingServe.results(spark, out).count() === 0L)
  }

  test("expireBatches retention: old batch_id partitions expire, the " +
      "newest retainBatches survive, results() reflects exactly those") {
    val out = "/tmp/graft_streaming_serve_expire"
    val qs = queryRows
    val groups = qs.grouped(math.max(1, (qs.length + 3) / 4)).toSeq
    assert(groups.length >= 3, "need several batches for expiry to bite")
    streamed(qs, 4, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2))
    val before = spark.read.parquet(out)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val expired = StreamingServe.expireBatches(spark, out, retainBatches = 2)
    assert(expired === before.dropRight(2).toSeq)
    val after = spark.read.parquet(out)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before.takeRight(2).toSeq)
    // surviving rows ≡ a batch serve of exactly the retained queries
    val retainedQs = groups.takeRight(2).flatten
    val expect = GraphLayout.serve(layout,
      retainedQs.toDF("query_id", "qvec"), K, W, nProbes = 2, Metric.L2)
    assert(tuples(StreamingServe.results(spark, out)) === tuples(expect))
    // guard: the newest batch is a replay target — retain 0 must refuse
    intercept[IllegalArgumentException] {
      StreamingServe.expireBatches(spark, out, retainBatches = 0)
    }
  }

  test("replayed micro-batch overwrites its own batch_id partition — " +
      "no duplicates, earlier partitions untouched (exactly-once sink)") {
    val out = "/tmp/graft_streaming_serve_replay"
    val qs = queryRows
    val first = streamed(qs, 2, out)(st =>
      StreamingServe.attachGraph(st, layout, out, ckpt(), K, W,
        nProbes = 2, Metric.L2))
    val before = tuples(first)
    val nPartsBefore = spark.read.parquet(out)
      .select("batch_id").distinct().count()
    // a fresh stream with a NEW checkpoint re-delivers the first group as
    // batch 0 again — exactly the post-crash replay shape. Its partition
    // must be overwritten in place: same rows, same partition count.
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingServe.attachGraph(mem.toDF().toDF("query_id", "qvec"),
      layout, out, ckpt(), K, W, nProbes = 2, Metric.L2)
    try {
      mem.addData(qs.grouped((qs.length + 1) / 2).next())
      q.processAllAvailable()
    } finally q.stop()
    assert(tuples(StreamingServe.results(spark, out)) === before)
    assert(spark.read.parquet(out).select("batch_id").distinct().count()
      === nPartsBefore)
  }
}
