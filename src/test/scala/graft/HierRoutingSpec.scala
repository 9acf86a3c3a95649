package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.{BatchScore, FlatKnn, KMeans, Vamana}
import graft.operators.VamanaKernel.BuildParams

/** Two-level probe routing for the sharded graph index (the shard-count
  * scale path): exhaustive level-1 routing must be BIT-identical to flat
  * routing — same centroid fold, same global insert order, same
  * tie-breaks — and the full search composed with the walk must then be
  * bit-equal to searchSharded. Realistic level-1 probes trade routing
  * exactness for |L1| + l1Probes·(|C|/|L1|) cost; recall holds a floor. */
class HierRoutingSpec extends SparkSpec {

  private def mkRows(n: Int, d: Int, seed: Long)
      : Array[(Long, Array[Double])] =
    Array.tabulate(n) { i =>
      val r = new scala.util.Random(seed + i)
      (i.toLong, Array.fill(d)(r.nextDouble()))
    }

  test("exhaustive level-1 routing equals flat routing bit-for-bit; " +
      "tie-heavy data included") {
    for (quantize <- Seq(false, true)) {
      val q = mkRows(100, 8, 3L).map { case (i, v) =>
        (i, if (quantize) v.map(x => math.floor(x * 3)) else v) }
      val cents = mkRows(500, 8, 71L).map { case (i, v) =>
        (i, if (quantize) v.map(x => math.floor(x * 3)) else v) }
        .toIndexedSeq
      val (l1, groupOf) = Vamana.trainRoutingLevel(
        cents.map { case (i, v) => (i, v.toSeq) }, nGroups = 20)
      val l1Arr = l1.map { case (i, v) => (i, v.toArray) }.toIndexedSeq
      val flat = BatchScore.probeTopK(q, cents, 7, Metric.L2)
      val hier = BatchScore.probeTopKHierarchical(q, cents, l1Arr,
        groupOf, l1Probes = l1.length, nProbes = 7, Metric.L2)
      flat.zip(hier).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a.sameElements(b), s"quantize=$quantize query $i")
      }
      // groupOf covers every centroid exactly once
      assert(groupOf.keySet === cents.map(_._1).toSet)
    }
  }

  test("hierarchical searchSharded at exhaustive l1Probes equals " +
      "searchSharded; realistic probes keep a recall floor") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    // many small shards: 50 clusters over 500 rows
    val cents = data.filter(col("id") % 10 === 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 12, buildWindow = 24), Metric.L2).cache()
    val (l1, groupOf) = Vamana.trainRoutingLevel(cents, nGroups = 7)
    val k = 10
    val exhaustive = Vamana.searchShardedHierarchical(q, clustered, graph,
        cents, l1, groupOf, k, 32, l1Probes = l1.length, nProbes = 8,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val flat = Vamana.searchSharded(q, clustered, graph, cents, k, 32,
        nProbes = 8, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(exhaustive === flat)
    // realistic: 3 of 7 groups; every query still fills k, recall floor
    val real = Vamana.searchShardedHierarchical(q, clustered, graph, cents,
      l1, groupOf, k, 32, l1Probes = 3, nProbes = 8, Metric.L2)
    assert(real.groupBy("query_id").count()
      .filter(col("count") =!= k).count() === 0)
    val truth = FlatKnn.search(q, data, k, Metric.L2)
      .select("query_id", "neighbor_id")
    val nq = q.count()
    val rec = real.select("query_id", "neighbor_id").intersect(truth)
      .count().toDouble / (k * nq)
    assert(rec > 0.3, s"hierarchical recall floor broken: $rec")
  }

  test("metric-aware routing: cosine-trained groups keep routed recall " +
      "at flat-probing recall for realistic l1Probes and beat L2-trained " +
      "groups; exhaustive level-1 stays bit-equal to the flat sweep") {
    import graft.operators.IvfIndex
    val s = spark
    import s.implicits._
    // directional clusters where routing is meaningful for cosine but
    // norm-confusable for L2: 8 unit prototype directions; 64 shards
    // jittered around them with WILDLY varying centroid norms (cosine
    // serving ignores norms, so metric-blind L2 grouping clusters shard
    // centroids by magnitude, not direction)
    val d = 16
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def jitter(p: Array[Double], eps: Double): Array[Double] =
      unit(p.zip(Array.fill(d)(rnd.nextGaussian() * eps)).map {
        case (a, b) => a + b })
    val protos = Array.fill(8)(unit(Array.fill(d)(rnd.nextGaussian())))
    val cents: IndexedSeq[(Long, Seq[Double])] = (0 until 64).map { sId =>
      val norm = 0.2 + 3.0 * (sId % 7)
      (sId.toLong,
        jitter(protos(sId % 8), 0.15).map(_ * norm).toIndexedSeq)
    }
    val rows = (0 until 64).flatMap { sId =>
      (0 until 20).map { j =>
        val mag = 0.5 + rnd.nextDouble() * 4
        ((sId * 20 + j).toLong,
          jitter(protos(sId % 8), 0.10).map(_ * mag).toSeq, sId.toLong)
      }
    }
    val clustered = rows.toDF("id", "vec", "cluster_id").cache()
    val data = clustered.select("id", "vec")
    val q = (0 until 50).map { i =>
      (i.toLong, jitter(protos(i % 8), 0.10).toSeq) }
      .toDF("query_id", "qvec").cache()
    val k = 10
    val truth = FlatKnn.search(q, data, k, Metric.Cosine)
      .select("query_id", "neighbor_id").cache()
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      res.select("query_id", "neighbor_id").intersect(truth)
        .count().toDouble / (k * 50)
    // the serving metric threads into training: spherical groups
    val (l1, groupOf) = Vamana.trainRoutingLevel(cents, nGroups = 8,
      metric = Metric.Cosine)
    // exhaustive level-1 ≡ flat sweep, bit-for-bit, under cosine ordering
    val qRows = q.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val l1Arr = l1.map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val centArr = cents.map { case (i, v) => (i, v.toArray) }.toIndexedSeq
    val flatProbes = graft.operators.BatchScore.probeTopK(
      qRows, centArr, 8, Metric.Cosine)
    val hierProbes = graft.operators.BatchScore.probeTopKHierarchical(
      qRows, centArr, l1Arr, groupOf, l1Probes = l1.length, nProbes = 8,
      Metric.Cosine)
    flatProbes.zip(hierProbes).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"query $i") }
    // realistic routing (2 of 8 groups): recall holds the flat-probing
    // anchor — the metric-aware done-gate
    val flatRec = recallOf(IvfIndex.search(q, clustered, cents, k,
      nProbes = 8, Metric.Cosine))
    val routedRec = recallOf(IvfIndex.searchHierarchical(q, clustered,
      cents, l1, groupOf, k, l1Probes = 2, nProbes = 8, Metric.Cosine))
    assert(routedRec >= flatRec - 0.02,
      s"cosine routed recall $routedRec strayed from flat-probing $flatRec")
    // and metric-BLIND training (the old L2 hardcode) visibly degrades
    // the same search — the hazard this feature closes
    val (l1Blind, groupOfBlind) = Vamana.trainRoutingLevel(cents,
      nGroups = 8, metric = Metric.L2)
    val blindRec = recallOf(IvfIndex.searchHierarchical(q, clustered,
      cents, l1Blind, groupOfBlind, k, l1Probes = 2, nProbes = 8,
      Metric.Cosine))
    assert(routedRec > blindRec,
      s"cosine-trained $routedRec not above L2-trained $blindRec")
  }

  test("trainRoutingLevel enforces the broadcast-small contract loudly") {
    val cents = (0 until 11).map(i => (i.toLong, Seq(i.toDouble)))
    val e = intercept[IllegalArgumentException] {
      Vamana.trainRoutingLevel(cents, nGroups = 2, maxCentroids = 10)
    }
    assert(e.getMessage.contains("broadcast-small"))
    // within the cap it trains fine
    val (l1, groupOf) = Vamana.trainRoutingLevel(cents, nGroups = 2,
      maxCentroids = 11)
    assert(l1.size === 2 && groupOf.size === 11)
  }

  test("searchRouted refuses a metric mismatched with the stored " +
      "routing level") {
    import graft.operators.GraphLayout
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val cents = data.filter(col("id") % 10 === 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 12, buildWindow = 24), Metric.Cosine)
    val path = "/tmp/graft_hier_layout_cosine"
    GraphLayout.write(clustered, graph, cents, path, routingGroups = 7,
      routingMetric = Metric.Cosine)
    val layout = GraphLayout.open(spark, path)
    assert(layout.routingMetricName === Some("cosine"))
    // the warm and the cold serve refuse it alike, before any probing
    val e = intercept[IllegalArgumentException] {
      GraphLayout.serve(layout, q, 10, 32, 8, Metric.L2,
        GraphLayout.Codec.Full(l1Probes = 2))
    }
    assert(e.getMessage.contains("trained for metric"))
    val eCold = intercept[IllegalArgumentException] {
      GraphLayout.serveCold(spark, path, q, 10, 32, 8, Metric.L2,
        GraphLayout.Codec.Full(l1Probes = 2))
    }
    assert(eCold.getMessage.contains("trained for metric"))
    // the matching metric serves, and exhaustive-l1 equals unrouted search
    def served(l: GraphLayout.Layout, l1Probes: Int) =
      GraphLayout.serve(l, q, 10, 32, 8, Metric.Cosine,
          GraphLayout.Codec.Full(l1Probes))
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(served(layout, 7) === served(layout, 0))
    // upsert retrains with the STORED metric and keeps serving cosine
    val added = data.filter(col("id") % 100 === 9).limit(8)
      .select((col("id") + 7000L).as("id"), col("vec"),
        lit(cents.head._1).as("cluster_id"))
    val delIds = clustered.filter(col("cluster_id") === cents(1)._1)
      .limit(3).select("id")
    val up = GraphLayout.upsert(spark, path, added, delIds,
      BuildParams(maxDegree = 12, buildWindow = 24), Metric.Cosine)
    assert(up.routingMetricName === Some("cosine"))
    assert(served(up, 7) === served(up, 0))
  }

  test("stored layout persists the routing level: a routed serve at " +
      "exhaustive l1Probes equals the flat serve; a routing-less layout " +
      "serves flat") {
    import graft.operators.GraphLayout
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val cents = data.filter(col("id") % 10 === 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 12, buildWindow = 24), Metric.L2)
    val path = "/tmp/graft_hier_layout"
    GraphLayout.write(clustered, graph, cents, path, routingGroups = 7)
    val layout = GraphLayout.open(spark, path)
    val (l1, groupOf) = layout.routing.get
    assert(l1.length === 7 && groupOf.keySet === cents.map(_._1).toSet)
    def served(l: GraphLayout.Layout, l1Probes: Int) =
      GraphLayout.serve(l, q, 10, 32, 8, Metric.L2,
          GraphLayout.Codec.Full(l1Probes))
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val flat = served(layout, 0)
    assert(served(layout, l1.length) === flat)
    // a layout written without routing serves a routed request through
    // the flat probe sweep (there is no level to route by)
    val pathNo = "/tmp/graft_hier_layout_none"
    GraphLayout.write(clustered, graph, cents, pathNo)
    val bare = GraphLayout.open(spark, pathNo)
    assert(bare.routing.isEmpty)
    assert(served(bare, 2) === flat)
    // a REWRITE without routingGroups ignores the stale routing dirs
    // (sidecar-gated like pq/bin) instead of silently serving them
    GraphLayout.write(clustered, graph, cents, path)
    assert(GraphLayout.open(spark, path).routing.isEmpty,
      "stale routing served after a routing-less rewrite")
    // an upsert on a routed layout RETRAINS the level over the refreshed
    // centroids — groupOf covers exactly the post-upsert centroid set
    GraphLayout.write(clustered, graph, cents, path, routingGroups = 7)
    val added = data.filter(col("id") % 100 === 9).limit(8)
      .select((col("id") + 7000L).as("id"), col("vec"),
        lit(cents.head._1).as("cluster_id"))
    val delIds = clustered.filter(col("cluster_id") === cents(1)._1)
      .limit(3).select("id")
    val up = GraphLayout.upsert(spark, path,
      added, delIds, BuildParams(maxDegree = 12, buildWindow = 24),
      Metric.L2)
    val (_, g2) = up.routing.getOrElse(fail("routing lost by upsert"))
    assert(g2.keySet === up.centroids.map(_._1).toSet,
      "retrained routing does not cover the post-upsert centroids")
    assert(served(up, 7) === served(up, 0))
  }

  test("searchRoutedLocal (zero-corpus-shuffle serve) ≡ searchRouted " +
      "bit-for-bit across residencies; shuffles only top-k partials") {
    import graft.operators.GraphLayout
    val s = spark
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val cents = data.filter(col("id") % 10 === 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    // three residencies through the same lifecycle: f64, u8-marked
    // bytes, f16 halves — the local path must pick the same
    // element-resident store the cogroup branches do
    val frames: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      ("f64", data),
      ("u8", graft.functions.ByteVecs.markUnsigned(data.select(col("id"),
        graft.functions.ByteVecs.quantizeUnsigned(col("vec"), 100.0)
          .as("vec")))),
      ("f16", graft.functions.HalfVecs.toHalf(data,
        graft.functions.HalfVecs.F16)))
    for ((tag, frame) <- frames) {
      val centsT =
        if (tag == "f64") cents
        else graft.functions.HalfVecs.widenedForMath(
            graft.functions.ByteVecs.widenedForMath(frame, "vec"), "vec")
          .filter(col("id") % 10 === 3).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
          .toIndexedSeq
      val clustered = KMeans.assign(frame, centsT)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 12, buildWindow = 24), Metric.L2)
      val path = s"/tmp/graft_local_serve_$tag"
      GraphLayout.write(clustered, graph, centsT, path, routingGroups = 7)
      val layout = GraphLayout.open(s, path)
      val meter = new graft.ShuffleProbe(s)
      try {
        // the serve runs its one walk job when called: measure it alone
        val served = GraphLayout.serve(layout, q, 10, 32, nProbes = 8,
          Metric.L2, GraphLayout.Codec.Full(l1Probes = 3))
        val localShuffle = meter.readBytes()
        val local = served.orderBy("query_id", "rnk").collect()
          .map(_.toSeq).toSeq
        val cogrouped = graft.GraphRefs.walk(layout, q, 10, 32, 8,
            Metric.L2, GraphLayout.Codec.Full(l1Probes = 3))
          .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
        assert(local === cogrouped, tag)
        // the driver merges the |Q|·nProbes·k partials as the walk's
        // tasks finish: nothing is exchanged, whatever the residency
        assert(localShuffle === 0,
          s"$tag: the stored serve shuffled $localShuffle B")
      } finally meter.close()
    }
    // traverse-but-filter carries into the local path: at exhaustive
    // l1Probes it must equal searchShardedFiltered over the reopened
    // frames (filtered rows walked through, never emitted)
    val layoutF = GraphLayout.open(s, "/tmp/graft_local_serve_f64")
    val pred = col("id") % 3 =!= 1
    val localF = GraphLayout.serve(layoutF, q, 10, 32, nProbes = 8,
        Metric.L2, GraphLayout.Codec.Full(l1Probes = 7, keep = pred))
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val cogroupF = Vamana.searchShardedFiltered(q, layoutF.clustered,
        layoutF.graph, layoutF.centroids, 10, 32, 8, Metric.L2, pred)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(localF === cogroupF)
    val unfiltered = GraphLayout.serve(layoutF, q, 10, 32, nProbes = 8,
        Metric.L2, GraphLayout.Codec.Full(l1Probes = 7))
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(localF.nonEmpty && localF != unfiltered,
      "the predicate must actually change the result set")
  }
}
