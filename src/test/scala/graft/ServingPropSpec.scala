package graft

import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.{BinaryQuant, KMeans, Pq, Vamana}
import graft.operators.GraphLayout.Codec
import graft.operators.VamanaKernel.BuildParams

/** Randomized property coverage for the round-6 serving family, beyond
  * the parquet fixtures: seeded random corpora, ragged dimensions, and
  * degenerate shapes (k > n, empty query batches, single-row shards). */
class ServingPropSpec extends SparkSpec {
  import spark.implicits._

  private def randData(seed: Long, n: Int, dims: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(dims)(rnd.nextDouble())))
  }

  test("full-window ADC walk ≡ brute-force ADC on random corpora " +
      "(3 seeds, random m); filtered walk respects its predicate") {
    for (seed <- Seq(11L, 42L, 99L)) {
      val dims = 16
      val m = Seq(2, 4, 8)(new scala.util.Random(seed).nextInt(3))
      val rows = randData(seed, 60, dims)
      val data = rows.toDF("id", "vec")
      val cents = rows.take(3).map { case (id, v) => (id, v.toIndexedSeq) }
      val clustered = KMeans.assign(data, cents)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val p = Pq.paramsFromRows(
        rows.take(4).map(_._2.toArray), m, 4, dims)
      val codes = Pq.encodeClustered(clustered, p)
      val queries = rows.take(5)
        .map { case (id, v) => (id + 1000, v.map(x => 1.0 - x)) }
        .toDF("query_id", "qvec")
      val walked = Vamana.searchShardedAdc(queries, codes, graph, cents, p,
          k = 7, searchWindow = 1 << 12, nProbes = 3)
        .select("query_id", "rnk", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val flat = Pq.searchAdc(queries, Pq.encode(data, p), p, 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(walked === flat, s"seed $seed m $m")
      val filtered = Vamana.searchShardedAdc(queries, codes, graph, cents,
          p, k = 7, searchWindow = 1 << 12, nProbes = 3,
          keep = col("id") % 2 === 0)
        .collect()
      assert(filtered.nonEmpty)
      assert(!filtered.exists(_.getAs[Long]("neighbor_id") % 2 != 0),
        s"seed $seed emitted an excluded id")
    }
  }

  test("binary codes ride the GRAPH walk kernel: sharded Hamming walk " +
      "(full window, all probes) ≡ flat Hamming search") {
    val dims = 16
    val rows = randData(5L, 80, dims)
    val data = rows.toDF("id", "vec")
    val p = BinaryQuant.train(data)
    val cents = rows.take(3).map { case (id, v) => (id, v.toIndexedSeq) }
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
    // words-as-doubles: the binary codes become the walk's "vectors";
    // probe routing is degenerate (all shards probed), so centroids only
    // need the right arity
    val codesVec = BinaryQuant.encode(clustered, p)
      .join(clustered.select("id", "cluster_id"), Seq("id"))
      .select(col("cluster_id"), col("id"),
        array((0 until p.words).map(w => col(s"w$w").cast("double")): _*)
          .as("vec"))
    val wordCents = cents.map { case (cid, _) =>
      (cid, Seq.fill(p.words)(0.0)) }
    val queries = rows.take(6)
      .map { case (id, v) => (id + 500, v.map(1.0 - _)) }
      .toDF("query_id", "qvec")
    val qWords = queries.select(col("query_id"),
      array(BinaryQuant.codeColumns(col("qvec"), p)
        .map(_.cast("double")): _*).as("qvec"))
    val walked = Vamana.searchSharded(qWords, codesVec, graph, wordCents,
        k = 9, searchWindow = 1 << 12, nProbes = 3, Metric.Hamming)
      .select("query_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val flat = BinaryQuant.searchHamming(queries,
        BinaryQuant.encode(data, p), p, k = 9)
      .select("query_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(walked === flat)
  }

  test("byte-resident serving on random corpora (3 seeds, i8 + u8, " +
      "extreme values): full-window walk ≡ flat byte scan ≡ double " +
      "brute force; k > n and empty batches degrade gracefully") {
    import graft.functions.ByteVecs
    for (seed <- Seq(3L, 21L, 77L); unsigned <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      val dims = 1 + rnd.nextInt(24)
      val n = 40 + rnd.nextInt(40)
      // full byte range, extremes planted (−128/0/127 are where a sign
      // or widen bug would bite)
      val rows = (0 until n).map { i =>
        val v = Seq.fill(dims)((rnd.nextInt(256) - 128).toByte)
        (i.toLong, if (i == 0) Seq.fill(dims)((-128).toByte)
        else if (i == 1) Seq.fill(dims)(127.toByte) else v)
      }
      val df0 = rows.toDF("id", "vec")
      val bytes =
        if (unsigned) ByteVecs.markUnsigned(df0) else ByteVecs.markSigned(df0)
      val queries = (0 until 4).map { i =>
        (1000L + i, Seq.fill(dims)(rnd.nextDouble() * 256 - 128)) }
        .toDF("query_id", "qvec")
      val wide = bytes.select(col("id"),
        ByteVecs.widen(col("vec"), unsigned).as("vec"))
      val flatB = graft.operators.FlatKnn.search(queries, bytes, 7,
          Metric.L2).collect().map(_.toSeq).toSeq
      val flatW = graft.operators.FlatKnn.search(queries, wide, 7,
          Metric.L2).collect().map(_.toSeq).toSeq
      assert(flatB === flatW, s"seed $seed unsigned=$unsigned flat")
      val cents = (0 until 3).map(c =>
        (c.toLong, wide.filter(col("id") === c).head.getSeq[Double](1)))
      val clustered = KMeans.assign(bytes, cents)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val walked = Vamana.searchSharded(queries, clustered, graph, cents,
          7, 1 << 12, nProbes = 3, Metric.L2)
        .select("query_id", "rnk", "neighbor_id")
        .collect().map(_.toSeq).toSeq
      val exact = graft.operators.FlatKnn.search(queries, wide, 7,
          Metric.L2)
        .select("query_id", "rnk", "neighbor_id")
        .collect().map(_.toSeq).toSeq
      assert(walked === exact, s"seed $seed unsigned=$unsigned walk")
      // degenerate shapes through the byte branch
      val big = graft.operators.FlatKnn.search(queries, bytes, n + 50,
        Metric.L2)
      assert(big.groupBy("query_id").count().collect()
        .forall(_.getLong(1) === n))
      assert(graft.operators.FlatKnn.search(queries.limit(0), bytes, 5,
        Metric.L2).count() === 0)
    }
  }

  test("binary quantization on ragged dims (40 → a partial second word) " +
      "matches a driver reference; k > n walks/searches degrade to n") {
    val dims = 40
    val rows = randData(7L, 30, dims)
    val data = rows.toDF("id", "vec")
    val p = BinaryQuant.train(data)
    assert(p.words === 2)
    val got = BinaryQuant.encode(data, p).collect()
      .map(r => r.getLong(0) -> (1 to 2).map(r.getLong)).toMap
    rows.foreach { case (id, v) =>
      val w = new Array[Long](2)
      for (i <- 0 until dims if v(i) > p.thresholds(i))
        w(i / 32) |= 1L << (i % 32)
      assert(got(id) === w.toSeq, s"id $id")
    }
    // k > n: Hamming search returns all n rows, ranked
    val queries = rows.take(2)
      .map { case (id, v) => (id + 100, v) }.toDF("query_id", "qvec")
    val big = BinaryQuant.searchHamming(queries,
      BinaryQuant.encode(data, p), p, k = 100)
    assert(big.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 30))
    // k > n on the ADC walk: emits min(k, reachable) per shard
    val cents = rows.take(1).map { case (id, v) => (id, v.toIndexedSeq) }
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 6, buildWindow = 12), Metric.L2)
    val pq = Pq.paramsFromRows(rows.take(4).map(_._2.toArray), 4, 4, dims)
    val walked = Vamana.searchShardedAdc(queries,
      Pq.encodeClustered(clustered, pq), graph, cents, pq, k = 100,
      searchWindow = 1 << 12, nProbes = 1)
    assert(walked.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 30))
    // empty query batch: empty result, no failure
    val none = Vamana.searchShardedAdc(queries.limit(0),
      Pq.encodeClustered(clustered, pq), graph, cents, pq, k = 5,
      searchWindow = 16, nProbes = 1)
    assert(none.count() === 0)
  }

  test("serveAdc() on random corpora (3 seeds, random m): both dispatch " +
      "outcomes ≡ the manual ADC paths; full-window pure-ADC ≡ brute " +
      "force; keep respected") {
    for (seed <- Seq(13L, 44L, 91L)) {
      val dims = 16
      val m = Seq(2, 4, 8)(new scala.util.Random(seed).nextInt(3))
      val rows = randData(seed, 60, dims)
      val data = rows.toDF("id", "vec")
      val cents = rows.take(3).map { case (id, v) => (id, v.toIndexedSeq) }
      val clustered = KMeans.assign(data, cents)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val p = Pq.paramsFromRows(rows.take(4).map(_._2.toArray), m, 4, dims)
      val path = s"/tmp/graft_prop_serveadc_$seed"
      graft.operators.GraphLayout.write(clustered, graph, cents, path,
        pq = Some(p))
      val layout = graft.operators.GraphLayout.open(spark, path)
      val queries = rows.take(5)
        .map { case (id, v) => (id + 1000, v.map(x => 1.0 - x)) }
        .toDF("query_id", "qvec")
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      // pure ADC, full window + all probes: the stored walk must land on
      // brute-force flat ADC (same contract as the in-memory walk)
      val served = rowsOf(graft.operators.GraphLayout.serve(layout,
        queries, 7, 1 << 12, nProbes = 3, Metric.L2, Codec.Pq()))
      assert(served === rowsOf(GraphRefs.walk(layout, queries, 7, 1 << 12,
        3, Metric.L2, Codec.Pq())), s"seed $seed in-memory")
      assert(served.map(r => (r(0), r(1), r(2))).toSet ===
        Pq.searchAdc(queries, Pq.encode(data, p), p, 7)
          .select("query_id", "rnk", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet, s"seed $seed brute")
      // reranked + keep through the serve ≡ the in-memory walk, and
      // excluded ids never surface
      val keepC = Codec.Pq(kReorder = 2, keep = col("id") % 2 === 0)
      val kept = rowsOf(graft.operators.GraphLayout.serve(layout,
        queries, 7, 1 << 12, nProbes = 3, Metric.L2, keepC))
      assert(kept === rowsOf(GraphRefs.walk(layout, queries, 7, 1 << 12, 3,
        Metric.L2, keepC)), s"seed $seed keep parity")
      kept.foreach(r => assert(r(2).asInstanceOf[Long] % 2 === 0,
        s"seed $seed emitted an excluded id"))
    }
  }

  test("stored Hamming serving on random corpora: exhaustive rerank " +
      "width recovers exact kNN through the bincodes walk; bounded " +
      "width keeps k rows per query") {
    for (seed <- Seq(17L, 58L)) {
      val dims = 24
      val n = 50
      val rows = randData(seed, n, dims)
      val data = rows.toDF("id", "vec")
      val b = BinaryQuant.train(data)
      val cents = rows.take(3).map { case (id, v) => (id, v.toIndexedSeq) }
      val clustered = KMeans.assign(data, cents)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val path = s"/tmp/graft_prop_hamming_$seed"
      graft.operators.GraphLayout.write(clustered, graph, cents, path,
        bin = Some(b))
      val layout = graft.operators.GraphLayout.open(spark, path)
      val queries = rows.take(4)
        .map { case (id, v) => (id + 700, v.map(1.0 - _)) }
        .toDF("query_id", "qvec")
      val k = 6
      // kReorder·k ≥ n + full window + all probes ⇒ the Hamming walk
      // shortlists EVERY row and the exact rerank is exact kNN — the
      // stored binary path's analog of the full-window contract
      val exhaustive = graft.operators.GraphLayout.serve(layout,
          queries, k, 1 << 12, nProbes = 3, Metric.L2,
          Codec.Binary(kReorder = (n / k) + 1))
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val exact = graft.operators.FlatKnn.search(queries, data, k,
          Metric.L2)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(exhaustive === exact, s"seed $seed")
      // bounded width still yields k ranked rows per query
      val bounded = graft.operators.GraphLayout.serve(layout,
        queries, k, 1 << 12, nProbes = 3, Metric.L2, Codec.Binary(2))
      assert(bounded.groupBy("query_id").count().collect()
        .forall(_.getLong(1) === k), s"seed $seed bounded")
    }
  }

  test("serveHamming() on random corpora: both dispatch outcomes ≡ both " +
      "manual binary paths at selective AND exhaustive probes") {
    for (seed <- Seq(23L, 71L)) {
      val dims = 24
      val rows = randData(seed, 50, dims)
      val data = rows.toDF("id", "vec")
      val b = BinaryQuant.train(data)
      val cents = rows.take(3).map { case (id, v) => (id, v.toIndexedSeq) }
      val clustered = KMeans.assign(data, cents)
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val path = s"/tmp/graft_prop_servehamming_$seed"
      graft.operators.GraphLayout.write(clustered, graph, cents, path,
        bin = Some(b))
      val layout = graft.operators.GraphLayout.open(spark, path)
      val queries = rows.take(4)
        .map { case (id, v) => (id + 800, v.map(1.0 - _)) }
        .toDF("query_id", "qvec")
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      for (np <- Seq(1, 3)) {
        val served = rowsOf(graft.operators.GraphLayout.serve(layout,
          queries, 6, 1 << 12, nProbes = np, Metric.L2, Codec.Binary(3)))
        assert(served.nonEmpty)
        assert(served === rowsOf(GraphRefs.walk(layout, queries, 6, 1 << 12,
          np, Metric.L2, Codec.Binary(3))), s"seed $seed np $np")
      }
    }
  }

  test("degenerate shapes through the serve() dispatchers: empty query " +
      "batches yield empty results, k > n degrades to n — no failures") {
    val dims = 16
    val rows = randData(31L, 40, dims)
    val data = rows.toDF("id", "vec")
    val cents = rows.take(2).map { case (id, v) => (id, v.toIndexedSeq) }
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
    val p = Pq.paramsFromRows(rows.take(4).map(_._2.toArray), 4, 4, dims)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_prop_serve_degenerate"
    graft.operators.GraphLayout.write(clustered, graph, cents, path,
      pq = Some(p), bin = Some(b), routingGroups = 2)
    val layout = graft.operators.GraphLayout.open(spark, path)
    val queries = rows.take(3)
      .map { case (id, v) => (id + 400, v.map(1.0 - _)) }
      .toDF("query_id", "qvec")
    val none = queries.limit(0)
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    // empty batches: every codec returns the same empty result warm and
    // cold (serveCold ≡ serve(open(path)) holds for empty batches too),
    // at both routing dials
    for (codec <- Seq(Codec.Full(), Codec.Full(l1Probes = 1), Codec.Pq(),
        Codec.Pq(kReorder = 2), Codec.Binary(kReorder = 2))) {
      val warm = graft.operators.GraphLayout.serve(layout, none, 5,
        1 << 12, nProbes = 2, Metric.L2, codec)
      val cold = graft.operators.GraphLayout.serveCold(spark, path, none,
        5, 1 << 12, nProbes = 2, Metric.L2, codec)
      assert(warm.count() === 0, s"warm $codec")
      assert(cold.count() === 0, s"cold $codec")
      assert(cols(cold) === cols(warm), s"cold columns $codec")
    }
    // k > n: exhaustive probes + full window return all n rows ranked —
    // per query — through every dispatcher (the walk emits min(k,
    // reachable) per shard and the final top-k keeps them all)
    val n = rows.length
    def counts(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.groupBy("query_id").count().collect().map(_.getLong(1)).toSeq
    counts(graft.operators.GraphLayout.serve(layout, queries, n + 50,
      1 << 12, nProbes = 2, Metric.L2, Codec.Full(l1Probes = 2)))
      .foreach(c => assert(c === n, "serve k>n"))
    counts(graft.operators.GraphLayout.serve(layout, queries, n + 50,
      1 << 12, nProbes = 2, Metric.L2, Codec.Pq()))
      .foreach(c => assert(c === n, "Pq k>n"))
    // the reranked paths cap at the walk's candidate count too
    counts(graft.operators.GraphLayout.serve(layout, queries, n + 50,
      1 << 12, nProbes = 2, Metric.L2, Codec.Binary(kReorder = 1)))
      .foreach(c => assert(c === n, "Binary k>n"))
  }

  test("degenerate shapes through IndexLayout.serve: empty batches and " +
      "k > n at BOTH routing dials, across codecs — no failures") {
    import graft.operators.IndexLayout
    val dims = 16
    val rows = randData(37L, 40, dims)
    val data = rows.toDF("id", "vec")
    val cents = rows.take(2).map { case (id, v) => (id, v.toIndexedSeq) }
    val clustered = KMeans.assign(data, cents)
    val p = Pq.paramsFromRows(rows.take(4).map(_._2.toArray), 4, 4, dims)
    val queries = rows.take(3)
      .map { case (id, v) => (id + 900, v.map(1.0 - _)) }
      .toDF("query_id", "qvec")
    val none = queries.limit(0)
    val n = rows.length
    for ((codec, tag) <- Seq(
      (IndexLayout.Uncompressed: IndexLayout.Codec, "plain"),
      (IndexLayout.PqResC(p): IndexLayout.Codec, "ivfadc"))) {
      val path = s"/tmp/graft_prop_indexserve_degenerate_$tag"
      IndexLayout.write(clustered, cents, path, codec, routingGroups = 2)
      val layout = IndexLayout.open(spark, path)
      val l1 = layout.routing.map(_._1.size).getOrElse(0)
      assert(l1 > 0, s"$tag: routing level not persisted")
      // empty batches at the flat AND routed dials: empty results, and
      // the cold serve returns the same empty result
      for (l1p <- Seq(0, l1)) {
        val warm = IndexLayout.serve(layout, none, 5, nProbes = 2, Metric.L2,
          l1Probes = l1p)
        val cold = IndexLayout.serveCold(spark, path, none, 5, nProbes = 2,
          Metric.L2, l1Probes = l1p)
        assert(warm.count() === 0, s"$tag empty l1Probes=$l1p")
        assert(cold.count() === 0, s"$tag cold empty l1Probes=$l1p")
        assert(cold.schema.map(f => f.name -> f.dataType) ===
          warm.schema.map(f => f.name -> f.dataType),
          s"$tag cold columns l1Probes=$l1p")
      }
      // k > n at exhaustive probes: all n rows ranked per query, both
      // dials, and routed ≡ flat bit-for-bit at exhaustive level-1
      def tuples(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val flat = IndexLayout.serve(layout, queries, n + 50,
        nProbes = cents.size, Metric.L2)
      val routed = IndexLayout.serve(layout, queries, n + 50,
        nProbes = cents.size, Metric.L2, l1Probes = l1)
      flat.groupBy("query_id").count().collect()
        .foreach(r => assert(r.getLong(1) === n, s"$tag flat k>n"))
      assert(tuples(flat) === tuples(routed), s"$tag routed ≡ flat")
    }
  }

  test("LeanVec/MRL serving compositions on random corpora: full-dim " +
      "truncation ≡ exact; exhaustive rerank ≡ exact at any prefix; " +
      "trained-projection search with exhaustive rerank ≡ exact") {
    import graft.operators.LeanVec
    for (seed <- Seq(29L, 83L)) {
      val dims = 20
      val n = 45
      val rows = randData(seed, n, dims)
      val data = rows.toDF("id", "vec")
      val queries = rows.take(4)
        .map { case (id, v) => (id + 600, v.map(1.0 - _)) }
        .toDF("query_id", "qvec")
      val k = 5
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val exact = rowsOf(graft.operators.FlatKnn.search(queries, data, k,
        Metric.L2))
      // rDims = dims: truncation is the identity, any kReorder ≥ 1 must
      // already be exact (the coarse pass IS the exact ranking)
      assert(rowsOf(LeanVec.searchTruncated(queries, data, k,
        rDims = dims, kReorder = 1)) === exact, s"seed $seed identity")
      // random strict prefix + exhaustive rerank: the shortlist covers
      // the corpus, so the exact rerank recovers exact kNN
      val rd = 2 + new scala.util.Random(seed).nextInt(dims - 2)
      assert(rowsOf(LeanVec.searchTruncated(queries, data, k, rDims = rd,
        kReorder = (n / k) + 1)) === exact, s"seed $seed prefix $rd")
      // learned projection (trained on the corpus) + exhaustive rerank
      val model = LeanVec.train(data, rDims = 8)
      assert(rowsOf(LeanVec.search(queries, data, model, k,
        kReorder = (n / k) + 1)) === exact, s"seed $seed trained")
      // bounded rerank still yields k ranked rows per query
      assert(LeanVec.search(queries, data, model, k, kReorder = 2)
        .groupBy("query_id").count().collect()
        .forall(_.getLong(1) === k), s"seed $seed bounded")
    }
  }

  test("serve() on random corpora (3 seeds × f64/u8/f16 residency): " +
      "both dispatch outcomes ≡ both manual paths, keep respected") {
    for ((seed, res) <- Seq((7L, "f64"), (21L, "u8"), (63L, "f16"))) {
      val dims = 16
      val rows = randData(seed, 70, dims)
      val raw = rows.toDF("id", "vec")
      // residency-marked corpora exercise the stored sidecar round-trip
      // (u8 quantize values are integers; f16 halves of [0,1) doubles
      // round — both fine: parity is vs the SAME residency manual paths)
      val data = res match {
        case "u8" => graft.functions.ByteVecs.markUnsigned(
          raw.select(col("id"), graft.functions.ByteVecs
            .quantizeUnsigned(col("vec"), 100.0).as("vec")))
        case "f16" => graft.functions.HalfVecs.toHalf(
          raw.select(col("id"),
            col("vec").cast("array<float>").cast("array<double>")
              .as("vec")), graft.functions.HalfVecs.F16)
        case _ => raw
      }
      val centsSrc = rows.take(4).map { case (id, v) => (id, v.toIndexedSeq) }
      val clustered = KMeans.assign(
        graft.functions.HalfVecs.widenedForMath(
          graft.functions.ByteVecs.widenedForMath(data, "vec"), "vec"),
        centsSrc)
        .select(col("cluster_id"), col("id")).join(data, Seq("id"))
        .select("id", "vec", "cluster_id")
      val graph = Vamana.buildSharded(clustered,
        BuildParams(maxDegree = 8, buildWindow = 16), Metric.L2)
      val path = s"/tmp/graft_prop_serve_${seed}_$res"
      graft.operators.GraphLayout.write(clustered, graph, centsSrc, path,
        routingGroups = 2)
      val layout = graft.operators.GraphLayout.open(spark, path)
      val queries = rows.take(5)
        .map { case (id, v) => (id + 900, v.map(1.0 - _)) }
        .toDF("query_id", "qvec")
      val keep = col("id") % 3 =!= 1
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val manualLocal = rowsOf(graft.operators.GraphLayout.serve(layout,
        queries, 5, 1 << 12, nProbes = 4, Metric.L2,
        Codec.Full(l1Probes = 2, keep = keep)))
      val manualCogroup = rowsOf(Vamana.searchShardedHierarchical(queries,
        layout.clustered, layout.graph, layout.centroids,
        layout.routing.get._1, layout.routing.get._2, 5, 1 << 12,
        l1Probes = 2, nProbes = 4, Metric.L2, keep = keep))
      assert(manualLocal === manualCogroup, s"$seed/$res parity")
      manualLocal.foreach(r =>
        assert(r(2).asInstanceOf[Long] % 3 !== 1, s"$seed/$res keep"))
      assert(manualLocal.nonEmpty)
    }
  }
}
