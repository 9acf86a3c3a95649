package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.{GraphLayout, KMeans, Vamana}
import graft.operators.VamanaKernel.BuildParams
import graft.streaming.StreamingGraphIndex

/** Streaming maintenance of the persisted graph index: after any sequence
  * of add/delete micro-batches (including replays), the store must serve
  * the same rows as a from-scratch index of the surviving corpus. */
class StreamingGraphIndexSpec extends SparkSpec {

  private val params = BuildParams(maxDegree = 24, buildWindow = 48)

  private def freshStore(path: String) = {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val cents = data.filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered, params, Metric.L2)
    GraphLayout.write(clustered, graph, cents, path)
    (data, cents)
  }

  private def servedRows(path: String) = {
    val layout = GraphLayout.open(spark, path)
    GraphLayout.serve(layout, Tables.embeddingQueries(spark, sfDir), 10,
        searchWindow = 1 << 14, nProbes = layout.centroids.size, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
  }

  test("rows with a NULL op are plain adds, not silently dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val path = "/tmp/graft_stream_graph_nullop"
    val (data, _) = freshStore(path)
    val row = data.orderBy("id").limit(1).collect().head
    val mem = MemoryStream[(Long, Seq[Double], Option[String])]
    val stream = mem.toDF().toDF("id", "vec", "op")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-graph-stream-null").toString
    val q = StreamingGraphIndex.attach(stream, path, ckpt,
      params, Metric.L2, opCol = Some("op"))
    try {
      mem.addData((row.getLong(0) + 777000L,
        row.getSeq[Double](1), None: Option[String]))
      q.processAllAvailable()
    } finally q.stop()
    val up = GraphLayout.open(spark, path)
    assert(up.clustered.filter(col("id") === row.getLong(0) + 777000L)
      .count() === 1, "null-op row must be upserted")
  }

  test("add/delete micro-batches (with a replayed add): store holds " +
      "exactly the surviving corpus and equals the batch-upsert twin " +
      "bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val path = "/tmp/graft_stream_graph_idx"
    val (data, _) = freshStore(path)

    val addRows = data.filter(col("id") % 37 === 3).orderBy("id").limit(8)
      .collect().map(r =>
        (r.getLong(0) + 500000L, r.getSeq[Double](1), "add"))
    val delRows = data.filter(col("id") % 41 === 5).orderBy("id").limit(4)
      .collect().map(r => (r.getLong(0), Seq.empty[Double], "delete"))

    val mem = MemoryStream[(Long, Seq[Double], String)]
    val stream = mem.toDF().toDF("id", "vec", "op")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-graph-stream").toString
    val q = StreamingGraphIndex.attach(stream, path, ckpt, params,
      Metric.L2, opCol = Some("op"))
    try {
      mem.addData(addRows.take(4).toSeq); q.processAllAvailable()
      mem.addData(delRows.toSeq); q.processAllAvailable()
      // batch 3 re-delivers two of batch 1's adds (source replay) plus
      // the remaining adds — replace-on-add must converge, not duplicate
      mem.addData((addRows.take(2) ++ addRows.drop(4)).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // expected survivors: all originals minus deletes, plus the 8 adds
    val delSet = delRows.map(_._1).toSet
    val addDf = addRows.toSeq.toDF("id", "vec", "op").drop("op")
    val expected = data.filter(!col("id").isin(delSet.toSeq: _*))
      .unionByName(addDf)
    val upLayout = GraphLayout.open(spark, path)
    // store holds exactly the expected ids, each once
    val storedIds = upLayout.clustered.select("id").as[Long].collect().sorted
    val expIds = expected.select("id").as[Long].collect().sorted
    assert(storedIds.toSeq === expIds.toSeq)

    // stream ≡ batch twin: applying the SAME micro-batch sequence through
    // direct GraphLayout.upsert calls (route → upsert per batch, exactly
    // what each foreachBatch invocation does) must leave a bit-identical
    // store — data, graph, and centroids. (Exact-search equivalence is
    // q152's oracle contract on the organic label sharding; an arbitrary
    // re-sharded membership may legitimately build a graph whose entry
    // does not reach every node — the reference's greedy search has the
    // same directed-reachability property.)
    val path2 = "/tmp/graft_stream_graph_idx_twin"
    freshStore(path2)
    val batches = Seq(addRows.take(4).toSeq, delRows.toSeq,
      (addRows.take(2) ++ addRows.drop(4)).toSeq)
    batches.foreach { rows =>
      val b = rows.toDF("id", "vec", "op")
      val adds = b.filter(col("op") =!= "delete").drop("op")
      val dels = b.filter(col("op") === "delete").select("id")
      val l2 = GraphLayout.open(spark, path2)
      GraphLayout.upsert(spark, path2,
        KMeans.assign(adds.select("id", "vec"), l2.centroids), dels,
        params, Metric.L2)
    }
    def storeRows(p: String) = {
      val l = GraphLayout.open(spark, p)
      (l.clustered.select("cluster_id", "id", "vec").orderBy("id")
          .collect().map(_.toSeq).toSeq,
        l.graph.select("cluster_id", "id", "entry_id", "neighbors")
          .orderBy("id").collect().map(_.toSeq).toSeq,
        l.centroids)
    }
    assert(storeRows(path) === storeRows(path2))
    // and identical stores serve identical rows
    assert(servedRows(path) === servedRows(path2))
  }
}
