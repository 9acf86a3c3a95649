package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.{GraphLayout, KMeans, Pq, Vamana}
import graft.operators.GraphLayout.Codec
import graft.operators.VamanaKernel.BuildParams

/** Persisted sharded-Vamana layout: roundtrip fidelity (graph, data,
  * centroids, PQ codebook sidecar), served ≡ in-memory searches, and
  * probe-pruned scans of the stored partitions. */
class GraphLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4
  private val K = 8
  private def dims = Tables.embDims

  private def fixture() = {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val cents = data.filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 24, buildWindow = 48), Metric.L2)
    val rows = data.filter(col("id") % 7 === 0 && col("id") < 7 * K)
      .orderBy("id").collect()
      .map(_.getAs[Seq[Double]]("vec").toArray).toSeq
    val p = Pq.paramsFromRows(rows, M, K, dims)
    (data, cents, clustered, graph, p)
  }

  test("write/open roundtrip: codebooks bit-exact, served searches equal " +
      "in-memory, codes-only probe prunes partitions") {
    val (_, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_spec"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val layout = GraphLayout.open(spark, path)

    // sidecar round-trips every codebook double bit-exactly
    assert(layout.pq.get.m === p.m && layout.pq.get.k === p.k &&
      layout.pq.get.dims === p.dims)
    for (j <- 0 until p.m; c <- 0 until p.k)
      assert(layout.pq.get.codebooks(j)(c).toSeq ===
        p.codebooks(j)(c).toSeq, s"codebook ($j,$c)")
    assert(layout.centroids === cents)

    // served full-precision walk ≡ in-memory walk, bit-for-bit
    val served = GraphLayout.serve(layout, queries, 10, searchWindow = 40,
        nProbes = 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().toSeq
    val mem = Vamana.searchSharded(queries, clustered, graph, cents, 10,
        searchWindow = 40, nProbes = 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served.map(_.toSeq) === mem.map(_.toSeq))

    // served ADC walk ≡ in-memory ADC walk over freshly-derived codes
    val codes = Pq.encodeClustered(clustered, p)
    val servedAdc = GraphLayout.serve(layout, queries, 10,
        searchWindow = 40, nProbes = 2, Metric.L2, Codec.Pq())
      .orderBy("query_id", "rnk").collect().toSeq
    val memAdc = Vamana.searchShardedAdc(queries, codes, graph, cents, p,
        10, searchWindow = 40, nProbes = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(servedAdc.map(_.toSeq) === memAdc.map(_.toSeq))

    // rerank path from the store ≡ in-memory rerank
    val servedRr = GraphLayout.serve(layout, queries, 10,
        searchWindow = 40, nProbes = 2, Metric.L2, Codec.Pq(kReorder = 4))
      .orderBy("query_id", "rnk").collect().toSeq
    val memRr = Vamana.searchShardedAdcRerank(queries, codes, graph, cents,
        p, clustered, 10, 4, searchWindow = 40, nProbes = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(servedRr.map(_.toSeq) === memRr.map(_.toSeq))

    // probe pruning reaches the stored codes scan: the ADC walk's plan
    // must carry PartitionFilters over cluster_id
    val probe = layout.codes.get
      .filter(col("cluster_id").isin(Seq(0L, 1L): _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cluster_id"), plan.take(600))
  }

  test("upsert ≡ from-scratch store of the merged corpus; untouched " +
      "partitions' files are not rewritten; emptied shards vanish") {
    val (data, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val path = "/tmp/graft_graphlayout_spec_upsert"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))

    // add into cluster of id<4 seed 0's shard only; delete a few ids from
    // shard of seed 1 — shards 2,3 stay untouched
    val addCid = 0L
    val added = data.filter(col("id") % 50 === 7).orderBy("id").limit(20)
      .select((col("id") + 100000L).as("id"), col("vec"),
        lit(addCid).as("cluster_id"))
    val delIds = KMeans.assign(data, cents)
      .filter(col("cluster_id") === 1L).orderBy("id").limit(5).select("id")

    def mtimes(sub: String): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$sub"))
        .filter(_.getPath.getName.startsWith("cluster_id="))
        .flatMap(d => fs.listStatus(d.getPath).map(f =>
          f.getPath.toString -> f.getModificationTime))
        .toMap
    }
    val before = mtimes("data") ++ mtimes("graph") ++ mtimes("codes")
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)

    // untouched shards (2, 3): identical file list, identical mtimes
    val after = mtimes("data") ++ mtimes("graph") ++ mtimes("codes")
    val untouchedBefore = before.filter(_._1.contains("cluster_id=2"))
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (f, t) =>
      assert(after.get(f).contains(t), s"untouched file rewritten: $f")
    }

    // equivalence: a from-scratch store of the merged corpus serves the
    // same rows on every path
    val merged = clustered
      .join(delIds.withColumnRenamed("id", "id"), Seq("id"), "left_anti")
      .unionByName(added)
    val graph2 = Vamana.buildSharded(merged, params, Metric.L2)
    val cents2 = up.centroids // probe with the SAME refreshed centroids
    val path2 = "/tmp/graft_graphlayout_spec_upsert_fresh"
    GraphLayout.write(merged, graph2, cents2, path2, pq = Some(p))
    val fresh = GraphLayout.open(spark, path2)
    def rows(l: GraphLayout.Layout) = {
      val a = GraphLayout.serve(l, queries, 10, 1 << 14, 4, Metric.L2)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val b = GraphLayout.serve(l, queries, 10, 1 << 14, 4, Metric.L2,
        Codec.Pq(kReorder = 4)).orderBy("query_id", "rnk").collect()
        .map(_.toSeq).toSeq
      (a, b)
    }
    assert(rows(up) === rows(fresh))

    // emptying a whole shard drops its partitions and its centroid
    // (membership read from the STORE — the ids the upsert will route)
    val allOf3 = up.clustered.filter(col("cluster_id") === 3L).select("id")
    val up2 = GraphLayout.upsert(spark, path,
      added.limit(0), allOf3, params, Metric.L2)
    assert(!up2.centroids.exists(_._1 == 3L))
    assert(!mtimes("data").keys.exists(_.contains("cluster_id=3")))
    assert(up2.clustered.filter(col("cluster_id") === 3L).count() === 0)
  }

  test("binary layout: thresholds roundtrip bit-exactly, served Hamming " +
      "rerank ≡ in-memory, upsert maintains bincodes partitions") {
    import graft.operators.BinaryQuant
    val (data, cents, clustered, graph, _) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_graphlayout_spec_bin"
    GraphLayout.write(clustered, graph, cents, path, bin = Some(b))
    val layout = GraphLayout.open(spark, path)
    assert(layout.bin.get.thresholds === b.thresholds)
    // all shards probed + full window ⇒ global Hamming top-R + exact
    // rerank — must equal the flat in-memory two-pass bit-for-bit
    val served = GraphLayout.serve(layout, queries, 10,
        searchWindow = 1 << 14, nProbes = cents.size, Metric.L2,
        Codec.Binary(kReorder = 4))
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val mem = BinaryQuant.searchHammingRerank(queries,
        BinaryQuant.encode(data, b), b, data, 10, 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(served === mem)
    // the stored bincodes walk ≡ the in-memory Hamming walk over the
    // layout's frames bit-for-bit, exhaustive probes AND a selective
    // probe subset
    for (np <- Seq(cents.size, 1))
      assert(GraphRefs.rows(GraphLayout.serve(layout, queries, 10,
          searchWindow = 1 << 14, nProbes = np, Metric.L2,
          Codec.Binary(kReorder = 4))) ===
        GraphRefs.rows(GraphRefs.walk(layout, queries, 10, 1 << 14, np,
          Metric.L2, Codec.Binary(kReorder = 4))), s"np=$np")
    // upsert keeps bincodes in sync: after an add+delete, the served
    // global rerank equals the in-memory two-pass over the survivors
    val added = data.filter(col("id") % 61 === 2).orderBy("id").limit(6)
      .select((col("id") + 70000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val dels = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(3).select("id")
    val up = GraphLayout.upsert(spark, path, added, dels,
      BuildParams(maxDegree = 24, buildWindow = 48), Metric.L2)
    assert(up.binCodes.isDefined)
    val survivors = data
      .join(dels, Seq("id"), "left_anti")
      .unionByName(added.drop("cluster_id"))
    val servedUp = GraphLayout.serve(up, queries, 10,
        searchWindow = 1 << 14, nProbes = up.centroids.size, Metric.L2,
        Codec.Binary(kReorder = 4))
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val memUp = BinaryQuant.searchHammingRerank(queries,
        BinaryQuant.encode(survivors, b), b, survivors, 10, 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(servedUp === memUp)
  }

  test("crash safety: a marked graph store refuses open()/upsert; " +
      "repair() re-encodes codes+bincodes from the data rows on disk so " +
      "a kReorder=0 code-only serve cannot emit deleted ids; the " +
      "interrupted batch then replays to the uninterrupted store") {
    import graft.operators.BinaryQuant
    val (data, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_graphlayout_spec_crash"
    val pathTwin = "/tmp/graft_graphlayout_spec_crash_twin"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b))
    GraphLayout.write(clustered, graph, cents, pathTwin, pq = Some(p),
      bin = Some(b))

    // the interrupted batch: adds into shard 0, deletes from shard 1
    val added = data.filter(col("id") % 47 === 3).orderBy("id").limit(6)
      .select((col("id") + 300000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val delIds = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(5).select("id")
    val delSeq = delIds.orderBy("id").collect().map(_.getLong(0)).toSeq

    // simulate THE answer-grade crash window: marker present, the DATA
    // write committed (adds in, deletes gone), but codes/bincodes/graph/
    // centroids never rewritten — touched shards' code partitions still
    // describe the deleted rows, so a kReorder=0 pure-ADC/Hamming serve
    // (which never joins data) could emit a deleted id
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      """{"touched":[0,1]}""".getBytes)
    val mergedTouched = clustered
      .join(delIds, Seq("id"), "left_anti").unionByName(added)
      .filter(col("cluster_id").isin(0L, 1L)).localCheckpoint(true)
    mergedTouched.repartition(col("cluster_id")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster_id").parquet(s"$path/data")
    // the hazard is real on disk: stale code partitions list deleted ids
    assert(spark.read.parquet(s"$path/bincodes")
      .filter(col("id").isin(delSeq: _*)).count() > 0)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("id").isin(delSeq: _*)).count() > 0)

    // a FRESH marker reads as a LIVE writer (heartbeat within the
    // liveness window): open() refuses with the live-writer triage and
    // repair() refuses too — repairing under a live writer is the
    // single-writer hazard the heartbeat mechanizes
    val eLive = intercept[RuntimeException] { GraphLayout.open(spark, path) }
    assert(eLive.getMessage.contains("LIVE") &&
      eLive.getMessage.contains("Do NOT repair"))
    intercept[RuntimeException] { GraphLayout.repair(spark, path) }
    // age the marker past the liveness window: the simulated writer is
    // now CRASHED — open() directs to repair(), upsert refuses as well
    def ageMarker(): Unit = java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * graft.operators.StoreMarker
          .LiveWindowMs))
    ageMarker()
    val e = intercept[RuntimeException] { GraphLayout.open(spark, path) }
    assert(e.getMessage.contains("repair") &&
      e.getMessage.contains("STALE upsert"))
    intercept[RuntimeException] {
      GraphLayout.upsert(spark, path, added, delIds, params, Metric.L2)
    }

    // repair: codes/bincodes/centroids of the marker's shards re-derived
    // from the data rows on disk, bit-exactly
    val rep = GraphLayout.repair(spark, path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/upsert.inprogress")))
    val touchedNow = rep.clustered.filter(col("cluster_id").isin(0L, 1L))
    val wCols = (0 until b.words64).map(w => col(s"w$w"))
    val expBin = touchedNow.select(col("id") +:
        BinaryQuant.codeColumns64(col("vec"), b).zipWithIndex.map {
          case (c, w) => c.as(s"w$w") }: _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val gotBin = rep.binCodes.get.filter(col("cluster_id").isin(0L, 1L))
      .select(col("id") +: wCols: _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotBin === expBin)
    val cCols = (0 until p.m).map(j => col(s"c$j"))
    val expPq = Pq.encodeClustered(touchedNow, p)
      .select(col("id") +: cCols: _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val gotPq = rep.codes.get.filter(col("cluster_id").isin(0L, 1L))
      .select(col("id") +: cCols: _*)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotPq === expPq)
    assert(rep.centroids.filter(c => c._1 == 0L || c._1 == 1L) ===
      KMeans.roundedMeans(touchedNow))
    // no deleted id survives in ANY code partition...
    assert(spark.read.parquet(s"$path/bincodes")
      .filter(col("id").isin(delSeq: _*)).count() === 0)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("id").isin(delSeq: _*)).count() === 0)
    // ...so the code-only walks cannot emit one: the Hamming walk over
    // the repaired bincodes (the candidates Codec.Binary reranks, which
    // never touch data) and the kReorder=0 ADC serve
    val hammed = Vamana.searchStoredHamming(
        GraphLayout.probes(rep, queries, rep.centroids.size, Metric.L2,
          Codec.Binary(kReorder = 1)),
        rep.binCodes.get, rep.graph, b.wordsFor(rep.binVersion), 10,
        searchWindow = 1 << 14, fullDensity = rep.binVersion >= 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hammed.nonEmpty)
    assert(hammed.intersect(delSeq.toSet).isEmpty)
    val adced = GraphLayout.serve(rep, queries, 10,
        searchWindow = 1 << 14, nProbes = rep.centroids.size, Metric.L2,
        Codec.Pq())
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(adced.nonEmpty)
    assert(adced.intersect(delSeq.toSet).isEmpty)

    // content restoration: replaying the interrupted batch converges to
    // the UNINTERRUPTED upsert of the same batch on a pristine twin
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)
    val twin = GraphLayout.upsert(spark, pathTwin, added, delIds, params,
      Metric.L2)
    assert(up.centroids === twin.centroids)
    def servedAll(l: GraphLayout.Layout) = Seq(Codec.Full(),
        Codec.Pq(kReorder = 4), Codec.Binary(kReorder = 4))
      .map(c => GraphLayout.serve(l, queries, 10, 1 << 14,
        l.centroids.size, Metric.L2, c))
      .map(_.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq)
    assert(servedAll(up) === servedAll(twin))
    // repair without a marker is the identity
    assert(GraphLayout.repair(spark, path).centroids === up.centroids)
    // a full REBUILD onto a crashed path supersedes a STALE marker
    // (write() refuses a LIVE one — single-writer) and lifts it after
    // the last artifact, so open() accepts the now-consistent store
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      """{"touched":[0]}""".getBytes)
    intercept[RuntimeException] {
      GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
        bin = Some(b))
    }
    ageMarker()
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b))
    assert(GraphLayout.open(spark, path).centroids === cents)
  }

  test("rebuild crash window: a rebuild-kind marker (crashed write()) " +
      "is refused by open() with the re-run-write() triage and by " +
      "repair(); a completed write() lifts it") {
    val (_, cents, clustered, graph, _) = fixture()
    val path = "/tmp/graft_graphlayout_spec_rebuild_crash"
    GraphLayout.write(clustered, graph, cents, path)
    val mp = java.nio.file.Paths.get(s"$path/upsert.inprogress")
    assert(!java.nio.file.Files.exists(mp))
    java.nio.file.Files.write(mp,
      """{"kind":"rebuild","session":"dead-writer","touched":[]}"""
        .getBytes)
    val eLive = intercept[RuntimeException] { GraphLayout.open(spark, path) }
    assert(eLive.getMessage.contains("LIVE"))
    java.nio.file.Files.setLastModifiedTime(mp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * graft.operators.StoreMarker
          .LiveWindowMs))
    val e = intercept[RuntimeException] { GraphLayout.open(spark, path) }
    assert(e.getMessage.contains("STALE rebuild") &&
      e.getMessage.contains("re-run"))
    val eR = intercept[RuntimeException] { GraphLayout.repair(spark, path) }
    assert(eR.getMessage.contains("STALE rebuild"))
    GraphLayout.write(clustered, graph, cents, path)
    assert(GraphLayout.open(spark, path).centroids === cents)
  }

  test("delete-only upsert batches apply against a byte-resident store " +
      "even when the adds frame carries a placeholder ARRAY<DOUBLE> vec " +
      "(the CDC delete-only micro-batch shape)") {
    import graft.functions.ByteVecs
    val (data, _, _, _, _) = fixture()
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val bytes = ByteVecs.markUnsigned(data.select(col("id"),
      ByteVecs.quantizeUnsigned(col("vec"), 64.0).as("vec")))
    // seed centroids in the BYTE VALUE SPACE (widened u8) — raw-double
    // seeds would collapse the assignment
    val cents = ByteVecs.widenedForMath(bytes, "vec")
      .filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val clustered = KMeans.assign(bytes, cents)
    val graph = Vamana.buildSharded(clustered, params, Metric.L2)
    val path = "/tmp/graft_graphlayout_spec_delonly_u8"
    GraphLayout.write(clustered, graph, cents, path)
    val dels = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(3).select("id")
    val delSeq = dels.collect().map(_.getLong(0)).toSeq
    assert(delSeq.size === 3, "fixture must have rows to delete")
    // adds frame is EMPTY but typed (id, vec ARRAY<DOUBLE>) — exactly
    // what a CDC stream hands upsert on a delete-only trigger; the byte
    // store's value-space contract must not fire on zero added rows
    val emptyAdds = data.select(col("id"), col("vec")).limit(0)
    val up = GraphLayout.upsert(spark, path, emptyAdds, dels, params,
      Metric.L2)
    assert(up.clustered.filter(col("id").isin(delSeq: _*)).count() === 0)
    assert(up.clustered.count() === clustered.count() - 3)
    assert(ByteVecs.signednessOf(up.clustered.schema, "vec")
      .contains(true))
  }

  test("bincodes layout versions: v2 (default) halves the word columns " +
      "and serves ≡ an explicit v1 store on every path; pre-v2 sidecars " +
      "open as v1; unknown versions fail loudly; upsert keeps each " +
      "store's packing") {
    import graft.operators.BinaryQuant
    val (data, cents, clustered, graph, _) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val b = BinaryQuant.train(data)
    val pathV2 = "/tmp/graft_graphlayout_spec_binv2"
    val pathV1 = "/tmp/graft_graphlayout_spec_binv1"
    GraphLayout.write(clustered, graph, cents, pathV2, bin = Some(b))
    GraphLayout.write(clustered, graph, cents, pathV1, bin = Some(b),
      binVersion = 1)
    val l2 = GraphLayout.open(spark, pathV2)
    val l1 = GraphLayout.open(spark, pathV1)
    assert(l2.binVersion === 2 && l1.binVersion === 1)
    // the 64-d case: 2 half-full BIGINT words → 1 full word, 8 B/row
    assert(l2.binCodes.get.columns.count(_.startsWith("w")) === b.words64)
    assert(l1.binCodes.get.columns.count(_.startsWith("w")) === b.words)
    assert(b.words64 < b.words)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    def served(l: GraphLayout.Layout, np: Int) =
      rows(GraphLayout.serve(l, queries, 10, searchWindow = 1 << 14,
        nProbes = np, Metric.L2, Codec.Binary(kReorder = 4)))
    // bit-parity across versions: both stores' serves ≡ the in-memory
    // Hamming walk, at exhaustive AND selective probes (identical
    // neighbor sets on the same grid — Hamming sums are
    // grouping-invariant)
    for (np <- Seq(cents.size, 1)) {
      val expect = rows(GraphRefs.walk(l1, queries, 10, 1 << 14, np,
        Metric.L2, Codec.Binary(kReorder = 4)))
      assert(served(l1, np) === expect, s"v1 np=$np")
      assert(served(l2, np) === expect, s"v2 np=$np")
    }
    // pre-v2 sidecar (no version field) opens as v1 and still serves.
    // (Drop hadoop's local-FS checksum sibling — these out-of-band edits
    // simulate a sidecar written by an older engine, not by this fs.)
    val scPath = java.nio.file.Paths.get(s"$pathV1/layout.json")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$pathV1/.layout.json.crc"))
    val sc = new String(java.nio.file.Files.readAllBytes(scPath))
    assert(sc.contains("\"version\":1"))
    java.nio.file.Files.write(scPath,
      sc.replace("\"version\":1,", "").getBytes)
    val lOld = GraphLayout.open(spark, pathV1)
    assert(lOld.binVersion === 1)
    assert(served(lOld, 1) === served(l1, 1))
    // unknown version refuses to open (fail loudly, never misread words)
    java.nio.file.Files.write(scPath, new String(
      java.nio.file.Files.readAllBytes(scPath))
      .replace("{\"thresholds\"", "{\"version\":3,\"thresholds\"")
      .getBytes)
    val e = intercept[IllegalArgumentException] {
      GraphLayout.open(spark, pathV1)
    }
    assert(e.getMessage.contains("version 3"))
    java.nio.file.Files.write(scPath, sc.getBytes) // restore v1 sidecar
    // upsert re-encodes in the STORE's packing — no mixed word layouts —
    // and the two versions stay bit-identical after the same upsert
    val added = data.orderBy("id").limit(4)
      .select((col("id") + 90000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val dels = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(2).select("id")
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val u2 = GraphLayout.upsert(spark, pathV2, added, dels, params,
      Metric.L2)
    val u1 = GraphLayout.upsert(spark, pathV1, added, dels, params,
      Metric.L2)
    assert(u2.binVersion === 2 && u1.binVersion === 1)
    assert(u2.binCodes.get.columns.count(_.startsWith("w")) === b.words64)
    assert(u1.binCodes.get.columns.count(_.startsWith("w")) === b.words)
    assert(served(u2, u2.centroids.size) === served(u1, u1.centroids.size))
  }

  test("upsert batch hygiene: duplicate identical adds collapse, delete " +
      "wins over add for the same id, conflicting payloads fail loudly") {
    val (data, cents, clustered, graph, _) = fixture()
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val path = "/tmp/graft_graphlayout_spec_hygiene"
    GraphLayout.write(clustered, graph, cents, path)
    val one = data.filter(col("id") === 0).orderBy("id")
      .select((col("id") + 90000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    // redelivered identical add + a delete of the same id in one batch
    val added = one.unionByName(one)
    val up = GraphLayout.upsert(spark, path, added,
      one.select("id"), params, Metric.L2)
    assert(up.clustered.filter(col("id") === 90000L).count() === 0,
      "delete must win over a same-batch add")
    // duplicate identical adds collapse to one row
    val up2 = GraphLayout.upsert(spark, path, added,
      added.select("id").limit(0), params, Metric.L2)
    assert(up2.clustered.filter(col("id") === 90000L).count() === 1)
    // conflicting payloads for one id: loud failure, store untouched
    val conflicting = one.unionByName(
      one.withColumn("vec", transform(col("vec"), x => x + 1.0)))
    assertThrows[IllegalArgumentException] {
      GraphLayout.upsert(spark, path, conflicting,
        one.select("id").limit(0), params, Metric.L2)
    }
    assert(GraphLayout.open(spark, path).clustered
      .filter(col("id") === 90000L).count() === 1)
  }

  test("searchAdcLocal (zero-corpus-shuffle DiskANN serve) ≡ searchAdc " +
      "bit-for-bit, pure-ADC and reranked; refuses a memory-only layout") {
    // (names predate the one serve path: the stored codes walk is
    // serve(…, Codec.Pq), the reference is the in-memory cogroup ADC
    // walk; a memory-only layout no longer type-checks — Layout.path is
    // a required String)
    val (_, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_adclocal"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val layout = GraphLayout.open(spark, path)
    def same(metric: Metric, codec: Codec) =
      assert(GraphRefs.rows(GraphLayout.serve(layout, queries, 5, 32, 3,
        metric, codec)) === GraphRefs.rows(GraphRefs.walk(layout, queries,
        5, 32, 3, metric, codec)), s"$metric $codec")
    // pure ADC ranks
    same(Metric.L2, Codec.Pq())
    // exact rerank on top (touches only candidate rows of data)
    same(Metric.L2, Codec.Pq(kReorder = 2))
    // cosine walks L2 and reranks cosine
    same(Metric.Cosine, Codec.Pq(kReorder = 2))
    // a layout written WITHOUT routing serves through the flat probe
    // sweep — ≡ the in-memory walk bit-for-bit
    same(Metric.L2, Codec.Full())
  }
  test("keep predicate on the compressed serving paths: searchAdcLocal/" +
      "searchAdc(keep) ≡ searchShardedAdc(keep) bit-for-bit; excluded " +
      "ids never emitted, pure-ADC and reranked") {
    val (_, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_adckeep"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val layout = GraphLayout.open(spark, path)
    val keep = col("id") % 3 =!= 1
    val codes = Pq.encodeClustered(clustered, p)
    def rows(df: org.apache.spark.sql.DataFrame) = GraphRefs.rows(df)
    // pure ADC: the stored walk ≡ the in-memory walk under the same
    // predicate
    val localF = rows(GraphLayout.serve(layout, queries, 5, 32, 3,
      Metric.L2, Codec.Pq(keep = keep)))
    assert(localF ===
      rows(Vamana.searchShardedAdc(queries, codes, graph, cents, p, 5, 32,
        3, Metric.L2, keep = keep)))
    localF.foreach(r =>
      assert(r(2).asInstanceOf[Long] % 3 !== 1, s"filtered id emitted: $r"))
    // the predicate changes the result (it actually filters something)
    assert(localF !== rows(GraphLayout.serve(layout, queries, 5, 32, 3,
      Metric.L2, Codec.Pq())))
    // reranked: the rerank sees only kept candidates
    assert(
      rows(GraphLayout.serve(layout, queries, 5, 32, 3, Metric.L2,
        Codec.Pq(kReorder = 2, keep = keep))) ===
      rows(Vamana.searchShardedAdcRerank(queries, codes, graph, cents, p,
        clustered, 5, 2, 32, 3, keep = keep)))
  }
  test("serve() with Codec.Full ≡ the in-memory walks, flat and routed, " +
      "selective and saturating probes; keep honored; the probe map is " +
      "authoritative") {
    val (_, cents, clustered, graph, _) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_serve"
    GraphLayout.write(clustered, graph, cents, path, routingGroups = 2)
    val layout = GraphLayout.open(spark, path)
    val q1 = queries.orderBy("query_id").limit(1)
    val keep = col("id") % 3 =!= 1
    // selective (one query, one probe) and saturating (every query,
    // exhaustive probes); routed, flat (l1Probes = 0 ignores the
    // persisted level), and keep-filtered
    for ((q, np, l1p) <- Seq((q1, 1, 1), (queries, 4, 2), (q1, 1, 0),
        (queries, 4, 0)); filtered <- Seq(false, true)) {
      val codec = if (filtered) Codec.Full(l1p, keep) else Codec.Full(l1p)
      val served = GraphRefs.rows(GraphLayout.serve(layout, q, 5, 32, np,
        Metric.L2, codec))
      assert(served.nonEmpty)
      assert(served === GraphRefs.rows(GraphRefs.walk(layout, q, 5, 32, np,
        Metric.L2, codec)), s"np=$np l1Probes=$l1p filtered=$filtered")
      if (filtered)
        served.foreach(r => assert(r(2).asInstanceOf[Long] % 3 !== 1))
    }
    // the probe map is authoritative, not advisory: a TRUNCATED map
    // serves only its shard's rows (the seam StreamingServe's decision
    // log relies on to probe once)
    val pm = GraphLayout.probes(layout, queries, 2, Metric.L2, Codec.Full())
    val kept = pm.keySet.min
    val ids = clustered.filter(col("cluster_id") === kept).select("id")
      .collect().map(_.getLong(0)).toSet
    val cut = GraphRefs.rows(GraphLayout.serveProbed(layout, queries, 5, 32,
      Metric.L2, Codec.Full(), pm.filter(_._1 == kept)))
    assert(cut.nonEmpty && cut.forall(r => ids(r(2).asInstanceOf[Long])))
  }
  test("serve() with Codec.Pq ≡ the in-memory ADC walks, selective and " +
      "saturating; keep + rerank + cosine-walks-L2 honored; cosine " +
      "without a rerank refused") {
    val (_, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_serveadc"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val layout = GraphLayout.open(spark, path)
    val q1 = queries.orderBy("query_id").limit(1)
    val keep = col("id") % 3 =!= 1
    for ((q, np, metric, codec, filtered) <- Seq(
        (q1, 1, Metric.L2, Codec.Pq(), false),
        (queries, 4, Metric.L2, Codec.Pq(), false),
        (queries, 3, Metric.L2, Codec.Pq(kReorder = 2, keep = keep), true),
        (queries, 3, Metric.Cosine, Codec.Pq(kReorder = 2), false))) {
      val served = GraphRefs.rows(GraphLayout.serve(layout, q, 5, 32, np,
        metric, codec))
      assert(served === GraphRefs.rows(GraphRefs.walk(layout, q, 5, 32, np,
        metric, codec)), s"np=$np $metric ${codec.kReorder} $filtered")
      if (filtered)
        served.foreach(r => assert(r(2).asInstanceOf[Long] % 3 !== 1))
    }
    // cosine with NO rerank cannot walk ADC — loud failure
    assertThrows[IllegalArgumentException] {
      GraphLayout.serve(layout, queries, 5, 32, 3, Metric.Cosine,
        Codec.Pq())
    }
  }
  test("Codec.Binary refuses kReorder < 1: it always reranks, and a " +
      "zero-wide shortlist would serve no rows") {
    val e = intercept[IllegalArgumentException] { Codec.Binary(kReorder = 0) }
    assert(e.getMessage.contains("kReorder"))
    assertThrows[IllegalArgumentException] { Codec.Binary(kReorder = -1) }
    assert(Codec.Binary(kReorder = 1).kReorder === 1)
  }

  test("one Spark job per warm serve, nothing shuffled; serveCold runs no " +
      "listing job of its own; the layout upsert returns serves ≡ a fresh " +
      "open for every codec") {
    import graft.operators.BinaryQuant
    import scala.jdk.CollectionConverters._
    val (data, cents, clustered, graph, p) = fixture()
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_graphlayout_spec_onejob"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b), routingGroups = 2)
    val layout = GraphLayout.open(spark, path)
    // a driver-local batch: collecting it for the probe map runs no job,
    // so every job counted below is the serve's own
    val q0 = Tables.embeddingQueries(spark, sfDir)
    val queries = spark.createDataFrame(q0.collect().toSeq.asJava, q0.schema)
    val probe = new graft.ShuffleProbe(spark)
    try {
      // (jobs, shuffle-read bytes) of `run`
      def cost(run: => Unit): (Long, Long) = {
        val (j0, s0) = (probe.jobs(), probe.readBytes())
        run
        (probe.jobs() - j0, probe.readBytes() - s0)
      }
      for (codec <- Seq(Codec.Full(), Codec.Full(l1Probes = 1),
          Codec.Pq())) {
        var served: org.apache.spark.sql.DataFrame = null
        assert(cost { served = GraphLayout.serve(layout, queries, 10, 40, 2,
          Metric.L2, codec) } === ((1L, 0L)), s"$codec: (jobs, shuffle B)")
        // the rows are a local relation: reading them runs no job
        var n = 0
        assert(cost { n = served.collect().length } === ((0L, 0L)))
        assert(n > 0, s"$codec")
      }
      // the cold serve's reads are its metadata and the probed dirs'
      // listing (what coldLayoutFor reads for the same flat probes); the
      // walk is its only other job
      val (metaJobs, _) = cost {
        GraphLayout.coldLayoutFor(spark, path, queries, 2, Metric.L2) }
      assert(cost { GraphLayout.serveCold(spark, path, queries, 10, 40, 2,
        Metric.L2) } === ((metaJobs + 1, 0L)))
    } finally probe.close()

    // snapshot: upsert (adds into shard 0, deletes from shard 1) returns
    // the reopened layout, which serves exactly what a fresh open serves
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val added = data.filter(col("id") % 47 === 3).orderBy("id").limit(6)
      .select((col("id") + 300000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val delIds = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(5).select("id")
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)
    val fresh = GraphLayout.open(spark, path)
    for (codec <- Seq(Codec.Full(), Codec.Full(l1Probes = 1), Codec.Pq(),
        Codec.Pq(kReorder = 2), Codec.Binary(kReorder = 2))) {
      val got = GraphRefs.rows(GraphLayout.serve(up, queries, 10, 40, 4,
        Metric.L2, codec))
      assert(got.nonEmpty, s"$codec")
      assert(got === GraphRefs.rows(GraphLayout.serve(fresh, queries, 10,
        40, 4, Metric.L2, codec)), s"$codec")
    }
  }

  test("upsert ↔ local-serve contract: a serve planned pre-upsert fails " +
      "loudly once its probed partitions are overwritten — never a " +
      "silent mixed read; a reopened layout serves the merged corpus") {
    val (data, cents, clustered, graph, _) = fixture()
    val params = BuildParams(maxDegree = 24, buildWindow = 48)
    val path = "/tmp/graft_graphlayout_upsert_serve"
    GraphLayout.write(clustered, graph, cents, path, routingGroups = 2)
    val layout = GraphLayout.open(spark, path)
    val queries = Tables.embeddingQueries(spark, sfDir).limit(2)

    // serve over EVERY shard pre-upsert (exhaustive probes: the probed
    // set must include the shards the upsert will overwrite); the serve
    // runs its walk when called, so its rows are a snapshot
    val planned = GraphLayout.serve(layout, queries, 5, 32, nProbes = 4,
      Metric.L2, Codec.Full(l1Probes = 2))
    val preRows = planned.select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(preRows.nonEmpty)

    // upsert: add rows into shard 0, delete a few from shard 1 — their
    // data/graph partitions are dynamically overwritten (new part files,
    // old ones deleted)
    val added = data.filter(col("id") % 50 === 7).orderBy("id").limit(10)
      .select((col("id") + 200000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val delIds = KMeans.assign(data, cents)
      .filter(col("cluster_id") === 1L).orderBy("id").limit(5).select("id")
    val reopened = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)

    // the served snapshot is unchanged by the upsert...
    assert(planned.select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq === preRows)
    // ...and the PRE-upsert layout still names the replaced part files:
    // serving it now fails loudly (FileNotFound inside the task) — it can
    // never blend old and new partitions into one answer
    val e = intercept[Exception] {
      GraphLayout.serve(layout, queries, 5, 32, nProbes = 4, Metric.L2,
        Codec.Full(l1Probes = 2))
    }
    def hasFnf(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).contains("FileNotFound") ||
        hasFnf(t.getCause))
    assert(hasFnf(e), s"expected FileNotFound-rooted failure, got $e")

    // the REOPENED layout serves the merged corpus: stored walk ≡
    // in-memory walk over the upserted store, deleted ids gone
    val local = GraphRefs.rows(GraphLayout.serve(reopened, queries, 5, 32,
      nProbes = 4, Metric.L2, Codec.Full(l1Probes = 2)))
    assert(local === GraphRefs.rows(GraphRefs.walk(reopened, queries, 5,
      32, 4, Metric.L2, Codec.Full(l1Probes = 2))))
    val delSet = delIds.as[Long].collect().toSet
    local.foreach(r =>
      assert(!delSet.contains(r(2).asInstanceOf[Long]),
        s"deleted id served: $r"))
  }

  test("probe-pruned rerank: served rerank paths scan only probed data " +
      "partitions (PartitionFilters on cluster_id) with rows identical " +
      "to the unpruned manual paths") {
    val (data, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val b = graft.operators.BinaryQuant.train(data)
    val path = "/tmp/graft_graphlayout_pruned_rerank"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b))
    val layout = GraphLayout.open(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq

    // selective probes so the prune is a strict subset of the shards
    val q1 = queries.orderBy("query_id").limit(2)
    val servedH = GraphLayout.serve(layout, q1, 5, 1 << 12, nProbes = 1,
      Metric.L2, Codec.Binary(kReorder = 2))
    // identical rows to the in-memory walk, which reranks against the
    // full data frame
    assert(rows(servedH) === rows(GraphRefs.walk(layout, q1, 5, 1 << 12, 1,
      Metric.L2, Codec.Binary(kReorder = 2))))
    // the rerank's data scan is partition-pruned: the FileSourceScan
    // over the data dir carries a cluster_id MEMBERSHIP partition
    // filter (one probed shard folds isin to an equality; several stay
    // an IN list) — not just isnotnull. Checked on the physical plan
    // tree, not the plan STRING (Spark truncates large plan strings
    // before the scan node).
    def dataScanPruned(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("/data")) => s
      }.exists(_.partitionFilters.exists {
        case _: org.apache.spark.sql.catalyst.expressions.IsNotNull =>
          false
        case e => e.references.exists(_.name == "cluster_id")
      })
    assert(dataScanPruned(servedH),
      "expected a cluster_id membership partition filter on the " +
        "Hamming rerank's data scan")

    // the reranked ADC serve prunes the same way, rows unchanged
    val servedA = GraphLayout.serve(layout, q1, 5, 1 << 12, nProbes = 1,
      Metric.L2, Codec.Pq(kReorder = 2))
    assert(rows(servedA) === rows(GraphRefs.walk(layout, q1, 5, 1 << 12, 1,
      Metric.L2, Codec.Pq(kReorder = 2))))
    assert(dataScanPruned(servedA),
      "expected a cluster_id membership partition filter on the ADC " +
        "rerank's data scan")
  }

  test("layout without PQ opens with no codes and searchAdc fails loudly") {
    val (_, cents, clustered, graph, _) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val path = "/tmp/graft_graphlayout_spec_nopq"
    GraphLayout.write(clustered, graph, cents, path)
    val layout = GraphLayout.open(spark, path)
    assert(layout.pq.isEmpty && layout.codes.isEmpty)
    // full-precision serving still works
    assert(GraphLayout.serve(layout, queries, 10, 40, 2,
      Metric.L2).count() > 0)
    assertThrows[RuntimeException] {
      GraphLayout.serve(layout, queries, 10, 40, 2, Metric.L2, Codec.Pq())
    }
  }

  test("serveCold/serveAdcCold/serveHammingCold (probed-dir cold open) ≡ " +
      "serve*(open(path)) on flat and routed probes; marked store refused") {
    import graft.operators.BinaryQuant
    val (data, cents, clustered, graph, p) = fixture()
    val queries = Tables.embeddingQueries(spark, sfDir)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_graphlayout_spec_servecold"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b), routingGroups = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val layout = GraphLayout.open(spark, path)

    // every codec: full-precision flat and ROUTED probes (cold must
    // follow the same hierarchical selection), ADC pure and reranked,
    // binary Hamming with exact rerank
    for (codec <- Seq(Codec.Full(), Codec.Full(l1Probes = 1), Codec.Pq(),
        Codec.Pq(kReorder = 4), Codec.Binary(kReorder = 4)))
      assert(rows(GraphLayout.serveCold(spark, path, queries, 10, 40, 2,
          Metric.L2, codec)) ===
        rows(GraphLayout.serve(layout, queries, 10, 40, 2, Metric.L2,
          codec)), s"$codec")

    // FileIndex regression pin (r16 verdict item 9): every big-dir scan
    // of the cold layout is rooted at probed `cluster_id=` dirs — never
    // the store-wide dir whose listing cost ∝ total shards
    val coldL = GraphLayout.coldLayoutFor(spark, path, queries, 2,
      Metric.L2)
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.flatMap(_.relation.location.rootPaths.map(_.toString))
    for (f <- Seq(coldL.clustered, coldL.graph) ++ coldL.codes ++
        coldL.binCodes) {
      val rs = scanRoots(f)
      assert(rs.nonEmpty && rs.forall(_.contains("cluster_id=")),
        s"cold scan roots must be probed shard dirs, got $rs")
    }

    // a marked store is refused by the cold serve exactly like open()
    val lease = graft.operators.StoreMarker.begin(spark, path, "upsert",
      Seq(0L))
    lease.stop()
    val e = intercept[Exception] {
      GraphLayout.serveCold(spark, path, queries, 10, 40, 2, Metric.L2) }
    assert(e.getMessage.contains("marker"))
    lease.complete()
  }

  /** (cluster_id, file name, length) of every part file under
    * `path/sub`, listed from the local file system. */
  private def listing(path: String, sub: String): Set[(Long, String, Long)] =
    new java.io.File(s"$path/$sub").listFiles.toSeq
      .filter(_.getName.startsWith("cluster_id=")).flatMap { d =>
        d.listFiles.toSeq.filter(f => f.isFile &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .map(f => (d.getName.stripPrefix("cluster_id=").toLong,
            f.getName, f.length))
      }.toSet

  private def manifestEntries(d: graft.operators.StoreManifest.Dir)
      : Set[(Long, String, Long)] =
    d.shards.toSeq.flatMap { case (c, ps) =>
      ps.map(x => (c, x.name, x.length)) }.toSet

  test("manifest: entries ≡ a fresh listing, schemas ≡ spark.read's; at " +
      "listing threshold 0 open runs no job and serveCold only the walk; " +
      "a store without a manifest fails open naming repair, which lists " +
      "it once") {
    import graft.operators.StoreManifest
    import scala.jdk.CollectionConverters._
    val (_, cents, clustered, graph, p) = fixture()
    val path = "/tmp/graft_graphlayout_spec_manifest"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val man = StoreManifest.read(spark, path).get
    assert(man.keySet === Set("data", "graph", "codes"))
    for ((sub, d) <- man) {
      assert(manifestEntries(d) === listing(path, sub), sub)
      assert(d.schema === spark.read.parquet(s"$path/$sub").schema, sub)
    }
    val q0 = Tables.embeddingQueries(spark, sfDir)
    val queries = spark.createDataFrame(q0.collect().toSeq.asJava, q0.schema)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    val probe = new graft.ShuffleProbe(spark)
    try {
      def jobs(run: => Unit): Long = {
        val j0 = probe.jobs(); run; probe.jobs() - j0
      }
      var layout: GraphLayout.Layout = null
      assert(jobs { layout = GraphLayout.open(spark, path) } === 0L)
      assert(jobs { GraphLayout.serveCold(spark, path, queries, 10, 40, 2,
        Metric.L2) } === 1L)
      val served = GraphRefs.rows(GraphLayout.serve(layout, queries, 10, 40,
        2, Metric.L2))
      // no manifest: open refuses and names repair; repair lists once
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$path/manifest.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$path/.manifest.json.crc"))
      val e = intercept[RuntimeException] { GraphLayout.open(spark, path) }
      assert(e.getMessage.contains("GraphLayout.repair"))
      val rep = GraphLayout.repair(spark, path)
      assert(GraphRefs.rows(GraphLayout.serve(rep, queries, 10, 40, 2,
        Metric.L2)) === served)
      assert(StoreManifest.read(spark, path).get === man)
    } finally {
      probe.close()
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("manifest after an upsert that empties one shard and creates " +
      "another ≡ a fresh listing") {
    import graft.operators.StoreManifest
    val (data, cents, clustered, graph, p) = fixture()
    val path = "/tmp/graft_graphlayout_spec_manifest_upsert"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p))
    val newCid = 4L
    val added = data.filter(col("id") % 50 === 7).orderBy("id").limit(20)
      .select((col("id") + 100000L).as("id"), col("vec"),
        lit(newCid).as("cluster_id"))
    val allOf3 = clustered.filter(col("cluster_id") === 3L).select("id")
    val up = GraphLayout.upsert(spark, path, added, allOf3,
      BuildParams(maxDegree = 24, buildWindow = 48), Metric.L2)
    assert(up.centroids.map(_._1).toSet === Set(0L, 1L, 2L, newCid))
    val man = StoreManifest.read(spark, path).get
    assert(man.keySet === Set("data", "graph", "codes"))
    for ((sub, d) <- man) {
      val listed = listing(path, sub)
      assert(listed.map(_._1) === Set(0L, 1L, 2L, newCid), sub)
      assert(manifestEntries(d) === listed, sub)
    }
  }
}
