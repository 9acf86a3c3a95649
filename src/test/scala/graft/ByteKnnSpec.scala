package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.functions.ByteVecs
import graft.operators.{FlatKnn, Vamana, VamanaKernel}
import graft.operators.VamanaKernel.BuildParams

/** i8/u8-resident search paths (reference datatype parity:
  * lib/datatype.h:53-66 int8/uint8 datasets). Every byte value widens to
  * double EXACTLY, so the byte-resident kernels (Metric.computeDB/BB),
  * FlatKnn's byte scan branch, and the ByteStore graph build/walk must
  * all be BIT-IDENTICAL to running over a pre-widened ARRAY<DOUBLE>
  * copy — at one eighth the resident bytes. */
class ByteKnnSpec extends SparkSpec {

  private def emb = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
  private def q = Tables.embeddingQueries(spark, sfDir)

  private def i8 = ByteVecs.markSigned(
    emb.select(col("id"), ByteVecs.quantizeSigned(col("vec"), 64.0).as("vec")))
  private def u8 =
    ByteVecs.markUnsigned(emb.select(col("id"),
      ByteVecs.quantizeUnsigned(col("vec"), 64.0).as("vec")))

  test("byte kernels are bit-identical to compute on widened copies") {
    val rnd = new scala.util.Random(17)
    for (d <- Seq(1, 3, 8, 17, 64, 65); _ <- 0 until 10) {
      val ab = Array.fill(d)((rnd.nextInt(256) - 128).toByte)
      val bb = Array.fill(d)((rnd.nextInt(256) - 128).toByte)
      val q = Array.fill(d)(rnd.nextDouble() * 4 - 2)
      for (m <- Metric.all) {
        val sS = ab.map(_.toDouble); val sT = bb.map(_.toDouble)
        val uS = ab.map(x => (x & 0xFF).toDouble)
        val uT = bb.map(x => (x & 0xFF).toDouble)
        assert(m.computeDB(q, bb, unsigned = false) == m.compute(q, sT),
          s"${m.name} DB signed d=$d")
        assert(m.computeDB(q, bb, unsigned = true) == m.compute(q, uT),
          s"${m.name} DB unsigned d=$d")
        assert(m.computeBB(ab, bb, unsigned = false) == m.compute(sS, sT),
          s"${m.name} BB signed d=$d")
        assert(m.computeBB(ab, bb, unsigned = true) == m.compute(uS, uT),
          s"${m.name} BB unsigned d=$d")
      }
    }
  }

  test("flat kNN over TINYINT equals the cast-to-double plan bit-for-bit") {
    for (m <- Seq(Metric.L2, Metric.IP, Metric.Cosine)) {
      val byteRes = FlatKnn.search(q, i8, 10, m)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val wideRes = FlatKnn.search(q,
          i8.select(col("id"), ByteVecs.widen(col("vec"),
            unsigned = false).as("vec")), 10, m)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(byteRes === wideRes, m.name)
    }
  }

  test("u8 mark flips interpretation: marked table matches unsigned widen, " +
      "unmarked matches signed widen") {
    val marked = FlatKnn.search(q, u8, 10, Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val wideU = FlatKnn.search(q,
        u8.select(col("id"), ByteVecs.widen(col("vec"),
          unsigned = true).as("vec")), 10, Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(marked === wideU)
    // strip the mark (an alias KEEPS child metadata — clearing needs an
    // explicit empty Metadata): a BARE byte table is ambiguous and the
    // dispatch refuses it loudly instead of silently serving i8 answers
    val unmarked = u8.select(col("id"),
      col("vec").as("vec", org.apache.spark.sql.types.Metadata.empty))
    val e = intercept[RuntimeException] {
      FlatKnn.search(q, unmarked, 10, Metric.IP)
    }
    assert(e.getMessage.contains("signedness"))
    // an EXPLICIT signed declaration serves the sign-extended space
    val signed = FlatKnn.search(q, ByteVecs.markSigned(unmarked), 10,
        Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val wideS = FlatKnn.search(q,
        u8.select(col("id"), ByteVecs.widen(col("vec"),
          unsigned = false).as("vec")), 10, Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(signed === wideS)
    assert(marked !== signed,
      "u8 vs i8 interpretation should rank differently on this data")
  }

  test("u8 schema mark survives a parquet round trip") {
    val path = "/tmp/graft_bytes_mark_rt"
    u8.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    assert(ByteVecs.isUnsigned(back.schema, "vec"),
      "graft_unsigned metadata lost through parquet")
    val a = FlatKnn.search(q, u8, 10, Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val b = FlatKnn.search(q, back, 10, Metric.IP)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("stored graph layout round-trips byte vectors: served search " +
      "equals the double layout bit-for-bit at 1/8 the data bytes") {
    import graft.operators.GraphLayout
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val cl8 = i8.withColumn("cluster_id", col("id") % 4)
    val clD = cl8.select(col("id"),
      ByteVecs.widen(col("vec"), unsigned = false).as("vec"),
      col("cluster_id"))
    val cents = (0 until 4).map { c =>
      (c.toLong, clD.filter(col("cluster_id") === c)
        .select(posexplode(col("vec"))).groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val g8 = Vamana.buildSharded(cl8, params, Metric.L2)
    val p8 = "/tmp/graft_bytes_layout_i8"
    val pD = "/tmp/graft_bytes_layout_f64"
    GraphLayout.write(cl8, g8, cents, p8)
    GraphLayout.write(clD, g8, cents, pD)
    val l8 = GraphLayout.open(spark, p8)
    val lD = GraphLayout.open(spark, pD)
    // stored vec column kept its element type (the 1/8-bytes claim)
    assert(ByteVecs.isByteVec(l8.clustered.schema("vec").dataType))
    val r8 = GraphLayout.serve(l8, q, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val rD = GraphLayout.serve(lD, q, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(r8 === rD)
    assert(r8.nonEmpty)
  }

  test("KMeans.assign on byte tables: same clusters as the widened " +
      "plan, byte column untouched (the Deep1B ingest-to-index flow)") {
    import graft.operators.KMeans
    val cents = (0 until 4).map(c => (c.toLong, Seq.fill(64)(c * 32.0 - 64)))
    for ((tbl, unsigned) <- Seq((i8, false), (u8, true))) {
      val a = KMeans.assign(tbl, cents)
      assert(ByteVecs.isByteVec(a.schema("vec").dataType),
        "assign widened the stored column")
      val wide = tbl.select(col("id"),
        ByteVecs.widen(col("vec"), unsigned).as("vec"))
      val b = KMeans.assign(wide, cents)
      assert(a.select("id", "cluster_id").orderBy("id").collect().toSeq ===
        b.select("id", "cluster_id").orderBy("id").collect().toSeq,
        s"unsigned=$unsigned")
      // VALUE arithmetic (Lloyd means) must widen mark-aware too — an
      // implicit tinyint upcast would sign-extend u8 raw bytes
      val trained = KMeans.lloyd(tbl, cents, iters = 2, dims = 64)
      val trainedWide = KMeans.lloyd(wide, cents, iters = 2, dims = 64)
      assert(trained === trainedWide, s"unsigned=$unsigned lloyd")
    }
  }

  test("byte layout upsert keeps residency and serves like a " +
      "from-scratch byte store") {
    import graft.operators.GraphLayout
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val cl8 = i8.withColumn("cluster_id", col("id") % 4).cache()
    val cents = (0 until 4).map { c =>
      (c.toLong, cl8.filter(col("cluster_id") === c)
        .select(posexplode(ByteVecs.widen(col("vec"), unsigned = false)))
        .groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val g8 = Vamana.buildSharded(cl8, params, Metric.L2)
    val path = "/tmp/graft_bytes_layout_upsert"
    GraphLayout.write(cl8, g8, cents, path)
    val added = cl8.filter(col("id") % 100 === 3).limit(10)
      .select((col("id") + 5000L).as("id"), col("vec"),
        lit(1L).as("cluster_id"))
    val delIds = cl8.filter(col("cluster_id") === 2L).limit(4).select("id")
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)
    // the upserted store is still byte-resident on disk
    assert(ByteVecs.isByteVec(up.clustered.schema("vec").dataType),
      s"upsert widened the store: ${up.clustered.schema("vec").dataType}")
    val served = GraphLayout.serve(up, q, 5, 16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val merged = cl8.join(delIds, Seq("id"), "left_anti").unionByName(added)
    val gFresh = Vamana.buildSharded(merged, params, Metric.L2)
    val fresh = Vamana.searchSharded(q, merged, gFresh, up.centroids, 5,
        16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(served === fresh)
    assert(served.nonEmpty)
  }

  test("u8 layout upsert refreshes centroids in the UNSIGNED value " +
      "space (raw-byte avg would sign-extend 200 → −56)") {
    import graft.operators.GraphLayout
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val clU = ByteVecs.markUnsigned(
      u8.withColumn("cluster_id", col("id") % 4)).cache()
    val cents = (0 until 4).map { c =>
      (c.toLong, clU.filter(col("cluster_id") === c)
        .select(posexplode(ByteVecs.widen(col("vec"), unsigned = true)))
        .groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val gU = Vamana.buildSharded(clU, params, Metric.L2)
    val path = "/tmp/graft_bytes_layout_upsert_u8"
    GraphLayout.write(clU, gU, cents, path)
    val added = clU.filter(col("id") % 100 === 3).limit(10)
      .select((col("id") + 5000L).as("id"), col("vec"),
        lit(1L).as("cluster_id"))
    val delIds = clU.filter(col("cluster_id") === 2L).limit(4).select("id")
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)
    assert(ByteVecs.isByteVec(up.clustered.schema("vec").dataType),
      s"upsert widened the store: ${up.clustered.schema("vec").dataType}")
    // the refreshed (touched) centroids must equal the unsigned-widened
    // rounded mean of the post-upsert shard — raw TINYINT avg would land
    // in the signed space and diverge by hundreds per element
    val merged = clU.join(delIds, Seq("id"), "left_anti").unionByName(added)
    // touched shards: 1 (adds) and 2 (deletes); untouched centroids carry
    // over verbatim so only these two see the refresh fold
    val expected = Seq(1L, 2L).map { c =>
      (c, merged.filter(col("cluster_id") === c)
        .select(posexplode(ByteVecs.widen(col("vec"), unsigned = true)))
        .groupBy("pos").agg(round(avg("col"), 6).as("m"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }.filter(_._2.nonEmpty)
    val upCents = up.centroids.toMap
    for ((cid, ev) <- expected)
      assert(upCents(cid) === ev, s"centroid $cid not in unsigned space")
    // and the upserted store serves like a from-scratch u8 store
    val served = GraphLayout.serve(up, q, 5, 16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val gFresh = Vamana.buildSharded(merged, params, Metric.L2)
    val fresh = Vamana.searchSharded(q, merged, gFresh, up.centroids, 5,
        16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(served === fresh)
    assert(served.nonEmpty)
  }

  test("streaming byte ingest: segments stay TINYINT through dynamic-IVF " +
      "routing and search the same as the widened table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.DynamicVectorTable
    import graft.streaming.StreamingIngest
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = "/tmp/graft_bytes_stream"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(spark, root)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bytes-stream").toString
    val rows = i8.limit(60).collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1)))
    val cents = (0 until 3).map(c =>
      (c.toLong, Seq.fill(64)(c * 40.0 - 40)))
    val mem = MemoryStream[(Long, Seq[Byte])]
    // streamed byte ingest declares signedness up front (the mark rides
    // the streaming schema into every micro-batch and the table sidecar)
    val stream = ByteVecs.markSigned(mem.toDF().toDF("id", "vec"))
    val query = StreamingIngest.attach(stream, tbl, ckpt,
      centroids = Some(cents))
    try {
      mem.addData(rows.take(30).toSeq); query.processAllAvailable()
      mem.addData(rows.drop(30).toSeq); query.processAllAvailable()
    } finally query.stop()
    val live = tbl.current
    assert(ByteVecs.isByteVec(live.schema("vec").dataType),
      s"streamed segments widened: ${live.schema("vec").dataType}")
    assert(live.count() === 60)
    // routing matches the widened batch assignment
    val want = graft.operators.KMeans.assign(
      i8.limit(60), cents).select("id", "cluster_id")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(live.select("id", "cluster_id").orderBy("id").collect()
      .map(_.toSeq).toSeq === want)
    // and the streamed byte table searches like its widened twin
    val a = FlatKnn.search(q, live.select("id", "vec"), 5, Metric.L2)
      .collect().map(_.toSeq).toSeq
    val b = FlatKnn.search(q,
        live.select(col("id"), ByteVecs.widen(col("vec"),
          unsigned = false).as("vec")), 5, Metric.L2)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("splitOversized computes u8 sub-centroids in the UNSIGNED value " +
      "space and keeps the split table byte-resident") {
    // everything in one oversized shard → forced split; a raw TINYINT avg
    // would compute sub-centroids around −56 for bytes storing 200
    val clU = ByteVecs.markUnsigned(u8.withColumn("cluster_id", lit(0L)))
    val cent0 = Seq((0L, clU
      .select(posexplode(ByteVecs.widen(col("vec"), unsigned = true)))
      .groupBy("pos").agg(avg("col")).orderBy("pos")
      .collect().map(_.getDouble(1)).toSeq))
    val (recl, cents2) = Vamana.splitOversized(clU, cent0, maxRows = 40)
    assert(ByteVecs.isByteVec(recl.schema("vec").dataType),
      "splitOversized widened the stored column")
    assert(ByteVecs.isUnsigned(recl.schema, "vec"),
      "splitOversized dropped the u8 mark")
    assert(cents2.size > 1, "expected a split")
    val expected = recl
      .select(col("cluster_id"),
        posexplode(ByteVecs.widen(col("vec"), unsigned = true)))
      .groupBy("cluster_id", "pos").agg(round(avg("col"), 6).as("m"))
      .orderBy("cluster_id", "pos").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    for ((cid, v) <- cents2)
      assert(v === expected(cid), s"sub-centroid $cid not unsigned-space")
  }

  test("IndexLayout codec attachment widens u8 mark-aware: residual codes " +
      "match the widened plan, stored vec stays byte-resident") {
    import graft.operators.{IndexLayout, Pq, ScalarQuant}
    val clU = ByteVecs.markUnsigned(
      u8.withColumn("cluster_id", col("id") % 3)).cache()
    val wide = clU.select(col("id"),
      ByteVecs.widen(col("vec"), unsigned = true).as("vec"),
      col("cluster_id"))
    val cents = (0 until 3).map { c =>
      (c.toLong, wide.filter(col("cluster_id") === c)
        .select(posexplode(col("vec"))).groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val rows = wide.orderBy("id").limit(4).collect()
      .map(_.getSeq[Double](1).toArray).toSeq
    val p = Pq.paramsFromRows(rows, m = 8, k = 4, dims = 64)
    val path = "/tmp/graft_bytes_ivfadc_layout"
    IndexLayout.write(clU, cents, path, IndexLayout.PqResC(p))
    val layout = IndexLayout.open(spark, path)
    assert(ByteVecs.isByteVec(layout.clustered.schema("vec").dataType),
      "PqResC layout widened the stored vec")
    val codeCols = (0 until p.m).map(j => s"c$j")
    val got = layout.clustered
      .select("id", codeCols: _*).orderBy("id").collect().map(_.toSeq).toSeq
    val want = Pq.encodeResiduals(wide, cents, p)
      .select("id", codeCols: _*).orderBy("id").collect().map(_.toSeq).toSeq
    assert(got === want, "u8 residual codes not in the unsigned space")
    // SQ attach path: codes equal the widened-plan codes, vec stays byte
    val sq = ScalarQuant.Params(scale = 0.5, bias = 128.0, bits = 8)
    val sqPath = "/tmp/graft_bytes_sq_layout"
    IndexLayout.write(clU, cents, sqPath, IndexLayout.Sq(sq))
    val sqLayout = IndexLayout.open(spark, sqPath)
    assert(ByteVecs.isByteVec(sqLayout.clustered.schema("vec").dataType))
    val gotSq = sqLayout.clustered.select("id", "codes").orderBy("id")
      .collect().map(_.toSeq).toSeq
    val wantSq = graft.operators.IvfIndex.withResidentCodes(wide, sq)
      .select("id", "codes").orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotSq === wantSq, "u8 SQ codes not in the unsigned space")
    // and the byte layouts SERVE: the stored search widens mark-aware at
    // serve time (declarative scans accept float/double arrays only), so
    // every codec's served rows equal the widened-table layout's
    for ((tag, codec) <- Seq[(String, IndexLayout.Codec)](
        ("plain", IndexLayout.Uncompressed), ("sq", IndexLayout.Sq(sq)),
        ("pqres", IndexLayout.PqResC(p)))) {
      val bPath = s"/tmp/graft_bytes_serve_${tag}_b"
      val wPath = s"/tmp/graft_bytes_serve_${tag}_w"
      IndexLayout.write(clU, cents, bPath, codec)
      IndexLayout.write(wide, cents, wPath, codec)
      val served = IndexLayout.search(IndexLayout.open(spark, bPath), q,
          5, nProbes = 2, Metric.L2)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val servedW = IndexLayout.search(IndexLayout.open(spark, wPath), q,
          5, nProbes = 2, Metric.L2)
        .select("query_id", "rnk", "neighbor_id")
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(served === servedW, s"$tag: byte layout serves differently")
      assert(served.nonEmpty, tag)
    }
  }

  test("sidecar is the authoritative signedness copy: a u8 store whose " +
      "parquet metadata is stripped reopens and serves u8-correct; bare " +
      "byte DataFrames and dynamic-table segments fail or recover loudly") {
    import graft.operators.{DynamicVectorTable, GraphLayout}
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val clU = ByteVecs.markUnsigned(
      u8.withColumn("cluster_id", col("id") % 4)).cache()
    val cents = (0 until 4).map { c =>
      (c.toLong, clU.filter(col("cluster_id") === c)
        .select(posexplode(ByteVecs.widen(col("vec"), unsigned = true)))
        .groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val gU = Vamana.buildSharded(clU, params, Metric.L2)
    val path = "/tmp/graft_bytes_sidecar_auth"
    GraphLayout.write(clU, gU, cents, path)
    val want = GraphLayout.serve(GraphLayout.open(spark, path), q, 5, 16,
        4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    // simulate an external rewrite of data/ that strips schema metadata
    // (the exact hazard the sidecar closes)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stripped = spark.read.parquet(s"$path/data")
      .select(col("id"),
        col("vec").as("vec", org.apache.spark.sql.types.Metadata.empty),
        col("cluster_id"))
      .cache()
    stripped.count()
    stripped.write.partitionBy("cluster_id").mode("overwrite")
      .parquet(s"$path/data_rewrite")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/data"), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/data_rewrite"),
      new org.apache.hadoop.fs.Path(s"$path/data")))
    // the rewrite replaced the files the store's manifest names: drop
    // the stale manifest, and repair lists the store and commits a new one
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/manifest.json"), false)
    GraphLayout.repair(spark, path)
    val re = GraphLayout.open(spark, path)
    assert(ByteVecs.isUnsigned(re.clustered.schema, "vec"),
      "sidecar did not restore the u8 mark after a stripping rewrite")
    val got = GraphLayout.serve(re, q, 5, 16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(got === want)
    // bare byte DataFrame: ambiguous, refused loudly
    intercept[RuntimeException] {
      Vamana.buildSharded(stripped, params, Metric.L2) }
    // dynamic table: first byte add declares; stripped later segments
    // re-mark from the sidecar; a contradicting add fails loudly
    val root = "/tmp/graft_bytes_dyn_sidecar"
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(spark, root)
    val seg = clU.select("id", "vec")
    tbl.addPoints(seg.filter(col("id") < 200))
    tbl.addPoints(seg.filter(col("id") >= 200)
      .select(col("id"),
        col("vec").as("vec", org.apache.spark.sql.types.Metadata.empty)))
    assert(ByteVecs.isUnsigned(tbl.current.schema, "vec"),
      "dynamic table did not re-mark a stripped segment from its sidecar")
    intercept[IllegalArgumentException] {
      tbl.addPoints(ByteVecs.markSigned(seg.limit(1))) }
    val root2 = "/tmp/graft_bytes_dyn_sidecar_bare"
    fs.delete(new org.apache.hadoop.fs.Path(root2), true)
    val bareTbl = new DynamicVectorTable(spark, root2)
    val e = intercept[RuntimeException] {
      bareTbl.addPoints(seg.limit(5)
        .select(col("id"),
          col("vec").as("vec", org.apache.spark.sql.types.Metadata.empty)))
    }
    assert(e.getMessage.contains("signedness"))
  }

  test("byte-resident sharded graph build + walk equal the double plan") {
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val cl8 = i8.withColumn("cluster_id", col("id") % 4)
    val clD = cl8.select(col("id"),
      ByteVecs.widen(col("vec"), unsigned = false).as("vec"),
      col("cluster_id"))
    val g8 = Vamana.buildSharded(cl8, params, Metric.L2)
    val gD = Vamana.buildSharded(clD, params, Metric.L2)
    assert(g8.orderBy("cluster_id", "id").collect().map(_.toSeq).toSeq ===
      gD.orderBy("cluster_id", "id").collect().map(_.toSeq).toSeq)
    val cents = (0 until 4).map { c =>
      (c.toLong, clD.filter(col("cluster_id") === c)
        .select(posexplode(col("vec"))).groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val r8 = Vamana.searchSharded(q, cl8, g8, cents, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val rD = Vamana.searchSharded(q, clD, gD, cents, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(r8 === rD)
  }
}
