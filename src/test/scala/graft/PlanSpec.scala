package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators._
import graft.operators.VamanaKernel.BuildParams

/** Scale-hygiene assertions: the physical plans the engine relies on at
  * 100 TB must actually materialize — partition pruning at the source and
  * partial (pre-shuffle) top-k limits. */
class PlanSpec extends SparkSpec {

  test("IVF partitioned storage prunes partitions at the parquet scan") {
    val path = "/tmp/graft_test_plan_ivf"
    val cents = Tables.lineitemCentroids(spark, sfDir)
    val clustered = IvfIndex.cluster(
      Tables.lineitemVectorsDedup(spark, sfDir), cents)
    IvfIndex.writeClustered(clustered, path)
    val stored = IvfIndex.readClustered(spark, path)
    val probeIds = cents.take(2).map(_._1)
    val probed = stored.filter(col("cluster_id").isin(probeIds: _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains("cluster_id") &&
      plan.contains(s"IN (${probeIds.mkString(",")})"), plan.take(500))
    // and the probe actually reads only those clusters
    val expect = clustered.filter(col("cluster_id").isin(probeIds: _*)).count()
    assert(probed.count() === expect)
  }

  test("upsert delete-LOCATE fast path: micro-batch id sets push as a " +
      "scan predicate (parquet file pruning), oversized sets fall back " +
      "to the join, results identical either way") {
    import spark.implicits._
    val path = "/tmp/graft_test_plan_locate"
    val cents = Tables.lineitemCentroids(spark, sfDir)
    val clustered = IvfIndex.cluster(
      Tables.lineitemVectorsDedup(spark, sfDir), cents)
    IvfIndex.writeClustered(clustered, path)
    val stored = IvfIndex.readClustered(spark, path)
    def shards(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(col("cluster_id").cast("long"))
        .collect().map(_.getLong(0)).toSeq.sorted
    val joinLocate = (ids: org.apache.spark.sql.DataFrame) =>
      stored.join(ids.select("id"), Seq("id")).select(col("cluster_id"))
    // small batch: the id predicate reaches the parquet scan
    val small = clustered.select("id").orderBy("id").limit(7)
    val fast = Vamana.locateShards(stored, small)
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(id"),
      plan.take(600))
    assert(shards(fast) === shards(joinLocate(small)))
    // empty batch: empty locate, no jobs against the store
    assert(Vamana.locateShards(stored,
      small.limit(0)).collect().isEmpty)
    // NULL ids (a malformed CDC delete row) are ignored, matching the
    // old join semantics — not a batch-failing typed-collect error
    val withNull = small.unionByName(
      Seq[Option[Long]](None).toDF("id"))
    assert(shards(Vamana.locateShards(stored, withNull)) ===
      shards(joinLocate(small)))
    assert(Vamana.locateShards(stored,
      Seq[Option[Long]](None, None).toDF("id")).collect().isEmpty)
    // oversized batch (> LocateIsinMax): join fallback, same rows
    val big = spark.range(Vamana.LocateIsinMax + 5).select(col("id"))
    val slow = Vamana.locateShards(stored, big)
    assert(shards(slow) === shards(joinLocate(big)))
  }

  test("reorder coarse pass scans the codes column only, never vec " +
      "(column pruning reaches the parquet scan)") {
    val path = "/tmp/graft_test_plan_codes"
    val emb = Tables.embeddingVectors(spark, sfDir)
    val clustered = emb.select(col("id"), col("vec"),
      col("label").cast("long").as("cluster_id"))
    val p = ScalarQuant.train(emb.select("id", "vec"))
    IvfIndex.writeClustered(clustered, path, p)
    val stored = IvfIndex.readClustered(spark, path)
    val cents = clustered.select(col("cluster_id"), posexplode(col("vec")))
      .groupBy("cluster_id", "pos").agg(round(avg("col"), 6).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (c, xs) => c -> xs.sortBy(_._2).map(_._3).toIndexedSeq }
      .toIndexedSeq.sortBy(_._1)
    val res = IvfIndex.searchWithReorder(
      Tables.embeddingQueries(spark, sfDir), stored, cents, p,
      k = 5, nProbes = 2, kReorder = 3)
    val plan = res.queryExecution.executedPlan.toString
    // two scans of the stored table: the coarse one must read codes and
    // NOT vec; the fine one reads (id, vec) for the shortlist only
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(path)).toSeq
    assert(scans.nonEmpty, plan.take(1200))
    // match on ReadSchema (the pruned column set), not the whole line —
    // the storage path itself contains the word "codes"
    val coarse = scans.filter(_.contains("codes:array"))
    assert(coarse.nonEmpty, s"no codes-reading scan:\n${scans.mkString("\n")}")
    assert(coarse.forall(l => !l.contains("vec:array")),
      s"coarse scan reads vec:\n${coarse.mkString("\n")}")
    assert(res.count() > 0)
  }

  test("IVF+LVQ coarse pass scans level-1 code columns only — " +
      "never vec, never the level-2 residual") {
    val path = "/tmp/graft_test_plan_lvq"
    val emb = Tables.embeddingVectors(spark, sfDir)
    val clustered = emb.select(col("id"), col("vec"),
      col("label").cast("long").as("cluster_id"))
    val p = graft.operators.Lvq.Params(
      graft.operators.Lvq.trainMean(emb.select("id", "vec")))
    IvfIndex.writeClustered(IvfIndex.withResidentLvq(clustered, p), path)
    val stored = IvfIndex.readClustered(spark, path)
    val cents = clustered.select(col("cluster_id"), posexplode(col("vec")))
      .groupBy("cluster_id", "pos").agg(round(avg("col"), 6).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (c, xs) => c -> xs.sortBy(_._2).map(_._3).toIndexedSeq }
      .toIndexedSeq.sortBy(_._1)
    val res = IvfIndex.searchWithLvqReorder(
      Tables.embeddingQueries(spark, sfDir), stored, cents, p,
      k = 5, nProbes = 2, kReorder = 3)
    val plan = res.queryExecution.executedPlan.toString
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(path)).toSeq
    assert(scans.nonEmpty, plan.take(1200))
    val coarse = scans.filter(_.contains("c1:array"))
    assert(coarse.nonEmpty, s"no c1-reading scan:\n${scans.mkString("\n")}")
    assert(coarse.exists(l => !l.contains("vec:array") &&
        !l.contains("c2:array")),
      s"coarse scan reads vec or the residual level:\n${coarse.mkString("\n")}")
    assert(res.count() > 0)
  }

  test("decontamination joins the corpus against a BROADCAST gram set — " +
      "the 100 TB side is never shuffled") {
    val docs = Tables.table(spark, sfDir, "documents")
    val codes3 = Dedup.shingleCodeTable(docs, n = 3)
    val out = Decontaminate.flags(codes3, codes3.filter(col("id") % 97 === 0))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // the gram-hit join itself must not be a sort-merge join (the final
    // per-doc left join against the tiny hit table may be anything)
    val gramJoin = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("gram"))
    assert(gramJoin.forall(!_.contains("SortMergeJoin")), gramJoin.toString)
  }

  test("fuzzy decontamination joins corpus band keys against a BROADCAST " +
      "benchmark key set — the 100 TB side is never sort-merge joined") {
    val docs = Tables.table(spark, sfDir, "documents")
    val codes2 = Dedup.shingleCodeTable(docs, n = 2)
    val out = Decontaminate.fuzzyFlags(codes2,
      codes2.filter(col("id") % 97 === 0))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the (band, key) collision join must not sort-merge the corpus side
    val keyJoin = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("band"))
    assert(keyJoin.forall(!_.contains("SortMergeJoin")), keyJoin.toString)
  }

  test("piiScan is a single codegen'd map over the scan — no shuffle") {
    val docs = Tables.table(spark, sfDir, "documents")
    val out = TextAnalysis.piiScan(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    // "*(n)" is toString's whole-stage-codegen marker
    assert(plan.contains("*(1)"), plan.take(800))
  }

  test("mixture sampling, upsampling, C4 gate, and chunking are " +
      "shuffle-free codegen'd scans") {
    val docs = Tables.table(spark, sfDir, "documents")
    val plans = Seq(
      "sampleByRate" -> graft.operators.Mixture.sampleByRate(docs,
        col("doc_id"), lit(0.5)),
      "upsample" -> graft.operators.Mixture.upsampleByFactor(docs,
        col("doc_id"), lit(2.5)),
      "c4" -> TextAnalysis.c4Filters(docs),
      "chunk" -> graft.operators.Packing.chunkByTokens(docs, "doc_id",
        "text", 40, 8))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name: ${plan.take(600)}")
    }
  }

  test("greedy packing is exactly one co-locating exchange + an in-" +
      "partition sort (no global range sort)") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val packed = graft.operators.Packing.packGreedy(docs, "source",
      "doc_id", "n_chars", 4000L)
    val plan = packed.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1, plan.take(800))
    assert(!plan.contains("rangepartitioning"), plan.take(800))
    assert(plan.contains("Sort ") || plan.contains("Sort["), plan.take(800))
  }

  test("flat kNN pre-limits per partition and merges on the driver, " +
      "no shuffle") {
    val q = Tables.embeddingQueries(spark, sfDir)
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val res = FlatKnn.search(q, data, 10, Metric.L2)
    val plan = res.queryExecution.executedPlan
    // the exec is the whole plan: a collect runs the node itself
    assert(plan.nodeName === "KnnPartial", plan.toString.take(800))
    assert(!plan.toString.contains("Exchange") &&
      !plan.toString.contains("Window"), plan.toString.take(800))
  }

  test("BSP vamana search with exhaustive window equals exact top-k") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
      .filter(col("id") < 200)
    val q = Tables.embeddingQueries(spark, sfDir).limit(3)
    val graph = Vamana.buildSingle(data,
      BuildParams(maxDegree = 16, buildWindow = 32), Metric.L2).cache()
    val bsp = BspSearch.searchBsp(q, data, graph, k = 10, searchWindow = 200,
      Metric.L2)
    val exact = FlatKnn.search(q, data, 10, Metric.L2)
    assert(bsp.select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().toSeq ===
      exact.select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().toSeq)
  }

  test("BSP vamana at realistic window reaches the local walk's recall") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
      .filter(col("id") < 200)
    val q = Tables.embeddingQueries(spark, sfDir).limit(3)
    val graph = Vamana.buildSingle(data,
      BuildParams(maxDegree = 16, buildWindow = 32), Metric.L2).cache()
    val clustered = data.withColumn("cluster_id", lit(0L))
    val cents = Seq(0L -> Seq.fill(64)(0.0))
    val truth = FlatKnn.search(q, data, 10, Metric.L2)
      .select("query_id", "neighbor_id").cache()
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id").intersect(truth).count()
        .toDouble / truth.count()
    val rBsp = recall(BspSearch.searchBsp(q, data, graph, 10, 30, Metric.L2))
    val rLocal = recall(Vamana.searchSharded(q, clustered, graph, cents, 10,
      30, 1, Metric.L2))
    // BSP expands every unexpanded window node per round — strictly more
    // exploration than the sequential best-first walk at equal window
    assert(rBsp >= rLocal - 1e-9, s"bsp $rBsp < local $rLocal")
    assert(rBsp >= 0.8, s"bsp recall $rBsp")
  }

  test("permuteShards is one hash exchange + one window exchange — " +
      "never a global range sort") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id")
    val out = graft.operators.Mixture.permuteShards(docs, col("doc_id"), 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan.take(800))
    assert("Exchange".r.findAllIn(plan).length <= 2, plan.take(800))
    assert(plan.contains("hashpartitioning"), plan.take(800))
  }

  test("maxsim shuffles per-(query,doc,qtok) partials, never token pairs") {
    val vecs = Tables.embeddingVectors(spark, sfDir)
    val docsV = graft.operators.MaxSim.groupTokens(vecs, 4)
    val queries = docsV.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"), col("dtok").as("qtok"),
        col("dvec").as("qvec"))
    val out = graft.operators.MaxSim.topK(queries, docsV, 5)
    val plan = out.queryExecution.executedPlan.toString
    // query bags broadcast: the token-pair block is a broadcast nested
    // loop next to the doc-token scan, and the first exchange above it
    // carries per-(query, doc, qtok) max partials (partial_max before
    // the exchange), not raw pairs
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(900))
    assert(plan.contains("partial_max") ||
      plan.contains("partial_min"), plan.take(900))
  }
}
