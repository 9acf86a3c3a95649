package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.functions.{Binary16, HalfVecs}

/** f16/bf16-RESIDENT serving (reference parity: float16 datasets run the
  * same kernel templates, include/svs/core/distance/euclidean.h:88-105
  * widen-to-f32 accumulate; lib/float16.h, lib/bfloat16.h). Every half
  * value injects losslessly into float32, so the half-resident FlatKnn
  * branch must be BIT-IDENTICAL to serving the decoded ARRAY<FLOAT> copy
  * — at half the resident bytes of f32. */
class HalfKnnSpec extends SparkSpec {

  private def emb = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
  private def q = Tables.embeddingQueries(spark, sfDir)

  private def half(fmt: String) = HalfVecs.toHalf(emb, fmt)
  private def decoded(fmt: String) = half(fmt).select(col("id"),
    HalfVecs.widen(col("vec"), fmt).as("vec"))

  test("decodeOne matches the certified codec expressions bit-for-bit") {
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 2000) {
      val bits = rnd.nextInt(0x10000).toShort
      assert(java.lang.Float.floatToIntBits(
        HalfVecs.decodeOne(bits, bf16 = false)) ===
        java.lang.Float.floatToIntBits(Binary16.halfToFloat(bits)))
      assert(java.lang.Float.floatToIntBits(
        HalfVecs.decodeOne(bits, bf16 = true)) ===
        java.lang.Float.floatToIntBits(
          java.lang.Float.intBitsToFloat((bits & 0xffff) << 16)))
    }
  }

  test("flat kNN over f16-resident rows equals the decoded-float plan " +
      "bit-for-bit, every metric") {
    for (m <- Seq(Metric.L2, Metric.IP, Metric.Cosine)) {
      val halfRes = operators.FlatKnn.search(q, half(HalfVecs.F16), 10, m)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val wideRes = operators.FlatKnn.search(q, decoded(HalfVecs.F16), 10, m)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(halfRes === wideRes, m.name)
    }
  }

  test("bf16-resident twin equals its decoded-float plan; the two half " +
      "formats disagree on real data") {
    val halfRes = operators.FlatKnn.search(q, half(HalfVecs.BF16), 10,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val wideRes = operators.FlatKnn.search(q, decoded(HalfVecs.BF16), 10,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(halfRes === wideRes)
    // the SAME bits under the other format's mark give different
    // distances (f16 and bf16 decode differently) — the reason the mark
    // is load-bearing. Compare dists, not just ids.
    val asF16 = operators.FlatKnn.search(q,
        HalfVecs.markHalf(half(HalfVecs.BF16), HalfVecs.F16), 10, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.getDouble(3)).toSeq
    assert(asF16 !== halfRes.map(_(3)))
  }

  test("SIMD metric serves half-resident rows identically (decode-at-pack " +
      "feeds the same float tile)") {
    val simd = Metric.simd(Metric.L2)
    val halfRes = operators.FlatKnn.search(q, half(HalfVecs.F16), 10, simd)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val wideRes = operators.FlatKnn.search(q, decoded(HalfVecs.F16), 10, simd)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(halfRes === wideRes)
  }

  test("a bare ARRAY<SMALLINT> is refused loudly; parquet round-trips " +
      "keep the mark and the columnar scan serves it") {
    val bare = half(HalfVecs.F16).select(col("id"),
      col("vec").as("vec", org.apache.spark.sql.types.Metadata.empty))
    val e = intercept[RuntimeException] {
      operators.FlatKnn.search(q, bare, 10, Metric.L2)
    }
    assert(e.getMessage.contains("half-format mark"))
    // widenedForMath also refuses bare shorts, passes marked ones
    intercept[RuntimeException] { HalfVecs.widenedForMath(bare) }
    assert(HalfVecs.widenedForMath(half(HalfVecs.F16)).schema("vec")
      .dataType.simpleString === "array<double>")
    assert(HalfVecs.widenedForMath(emb).schema("vec")
      .dataType === emb.schema("vec").dataType)

    val dir = "/tmp/graft_test_half_parquet"
    half(HalfVecs.F16).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(HalfVecs.formatOf(back.schema, "vec") === Some(HalfVecs.F16))
    val fromParquet = operators.FlatKnn.search(q, back, 10, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val inMem = operators.FlatKnn.search(q, half(HalfVecs.F16), 10, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(fromParquet === inMem)
  }

  private def widenedD(fmt: String) = half(fmt).select(col("id"),
    HalfVecs.widen(col("vec"), fmt).cast("array<double>").as("vec"))

  test("stored graph layout round-trips half vectors: served search " +
      "equals the double layout bit-for-bit at 1/4 the data bytes") {
    import graft.operators.{GraphLayout, Vamana}
    import graft.operators.VamanaKernel.BuildParams
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val clH = half(HalfVecs.F16).withColumn("cluster_id", col("id") % 4)
    val clD = widenedD(HalfVecs.F16).withColumn("cluster_id", col("id") % 4)
    val cents = (0 until 4).map { c =>
      (c.toLong, clD.filter(col("cluster_id") === c)
        .select(posexplode(col("vec"))).groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val gH = Vamana.buildSharded(clH, params, Metric.L2)
    val gD = Vamana.buildSharded(clD, params, Metric.L2)
    // half-resident graph build is bit-identical to the widened build
    assert(gH.orderBy("cluster_id", "id").collect().map(_.toSeq).toSeq ===
      gD.orderBy("cluster_id", "id").collect().map(_.toSeq).toSeq)
    val pH = "/tmp/graft_half_layout_f16"
    val pD = "/tmp/graft_half_layout_f64"
    GraphLayout.write(clH, gH, cents, pH)
    GraphLayout.write(clD, gD, cents, pD)
    val lH = GraphLayout.open(spark, pH)
    val lD = GraphLayout.open(spark, pD)
    // the stored vec column kept half residency and the sidecar-restored
    // format mark (the 1/4-bytes claim)
    assert(HalfVecs.formatOf(lH.clustered.schema, "vec") ===
      Some(HalfVecs.F16))
    val rH = GraphLayout.serve(lH, q, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val rD = GraphLayout.serve(lD, q, 5, 16, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(rH === rD)
    assert(rH.nonEmpty)
  }

  test("KMeans.assign and lloyd on half tables match the widened plan, " +
      "half column untouched") {
    import graft.operators.KMeans
    val dims = emb.select(size(col("vec"))).head.getInt(0)
    val cents = (0 until 4).map(c => (c.toLong, Seq.fill(dims)(c * 0.5 - 1)))
    for (fmt <- Seq(HalfVecs.F16, HalfVecs.BF16)) {
      val a = KMeans.assign(half(fmt), cents)
      assert(HalfVecs.formatOf(a.schema, "vec") === Some(fmt),
        "assign widened the stored column or dropped the mark")
      val b = KMeans.assign(widenedD(fmt), cents)
      assert(a.select("id", "cluster_id").orderBy("id").collect().toSeq ===
        b.select("id", "cluster_id").orderBy("id").collect().toSeq, fmt)
      val trained = KMeans.lloyd(half(fmt), cents, iters = 2, dims = dims)
      val trainedWide =
        KMeans.lloyd(widenedD(fmt), cents, iters = 2, dims = dims)
      assert(trained === trainedWide, s"$fmt lloyd")
    }
  }

  test("half layout upsert keeps residency, refuses format mismatch, " +
      "serves like a from-scratch half store") {
    import graft.operators.{GraphLayout, Vamana}
    import graft.operators.VamanaKernel.BuildParams
    val params = BuildParams(maxDegree = 8, buildWindow = 16)
    val clH = half(HalfVecs.F16).withColumn("cluster_id", col("id") % 4)
      .cache()
    val cents = (0 until 4).map { c =>
      (c.toLong, widenedD(HalfVecs.F16).withColumn("cid", col("id") % 4)
        .filter(col("cid") === c)
        .select(posexplode(col("vec"))).groupBy("pos").agg(avg("col"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq)
    }
    val gH = Vamana.buildSharded(clH, params, Metric.L2)
    val path = "/tmp/graft_half_layout_upsert"
    GraphLayout.write(clH, gH, cents, path)
    // a bf16 add into the f16 store fails loudly
    val bfAdd = HalfVecs.toHalf(
      widenedD(HalfVecs.F16).filter(col("id") < 5)
        .select((col("id") + 9000L).as("id"), col("vec")),
      HalfVecs.BF16).withColumn("cluster_id", lit(1L))
    val e = intercept[Exception] {
      GraphLayout.upsert(spark, path, bfAdd,
        spark.emptyDataFrame.select(lit(0L).as("id")).limit(0), params,
        Metric.L2)
    }
    assert(e.getMessage.contains("bf16"))
    val added = clH.filter(col("id") % 100 === 3).limit(10)
      .select((col("id") + 5000L).as("id"), col("vec"),
        lit(1L).as("cluster_id"))
    val delIds = clH.filter(col("cluster_id") === 2L).limit(4).select("id")
    val up = GraphLayout.upsert(spark, path, added, delIds, params,
      Metric.L2)
    assert(HalfVecs.formatOf(up.clustered.schema, "vec") ===
      Some(HalfVecs.F16),
      s"upsert widened the store: ${up.clustered.schema("vec").dataType}")
    val served = GraphLayout.serve(up, q, 5, 16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val merged = clH.join(delIds, Seq("id"), "left_anti").unionByName(added)
    val gFresh = Vamana.buildSharded(
      HalfVecs.markHalf(merged, HalfVecs.F16), params, Metric.L2)
    val fresh = Vamana.searchSharded(q,
        HalfVecs.markHalf(merged, HalfVecs.F16), gFresh, up.centroids, 5,
        16, 4, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(served === fresh)
    assert(served.nonEmpty)
  }

  test("stored IVF layout serves half frames: sidecar restores the mark, " +
      "search and SQ codec attach equal the widened plan") {
    import graft.operators.{IndexLayout, KMeans, ScalarQuant}
    val dims = emb.select(size(col("vec"))).head.getInt(0)
    val cents = KMeans.lloyd(widenedD(HalfVecs.F16),
      (0 until 4).map(c => (c.toLong, Seq.fill(dims)(c * 0.5 - 1))),
      iters = 2, dims = dims)
    val clH = KMeans.assign(half(HalfVecs.F16), cents)
    val clD = KMeans.assign(widenedD(HalfVecs.F16), cents)
    val pH = "/tmp/graft_half_ivf_f16"
    val pD = "/tmp/graft_half_ivf_f64"
    IndexLayout.write(clH, cents, pH)
    IndexLayout.write(clD, cents, pD)
    val lH = IndexLayout.open(spark, pH)
    assert(HalfVecs.formatOf(lH.clustered.schema, "vec") ===
      Some(HalfVecs.F16))
    val rH = IndexLayout.search(lH, q, 5, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val rD = IndexLayout.search(IndexLayout.open(spark, pD), q, 5, 2,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(rH === rD)
    assert(rH.nonEmpty)
    // codec attachment widens mark-aware: SQ codes from the half store
    // equal codes from the widened store
    val sq = ScalarQuant.train(widenedD(HalfVecs.F16), bits = 8)
    val pHs = "/tmp/graft_half_ivf_sq"
    val pDs = "/tmp/graft_half_ivf_sq_w"
    IndexLayout.write(clH, cents, pHs, IndexLayout.Sq(sq))
    IndexLayout.write(clD, cents, pDs, IndexLayout.Sq(sq))
    val cH = spark.read.parquet(s"$pHs/data")
      .select("id", "codes").orderBy("id").collect().map(_.toSeq).toSeq
    val cD = spark.read.parquet(s"$pDs/data")
      .select("id", "codes").orderBy("id").collect().map(_.toSeq).toSeq
    assert(cH === cD)
  }

  private def freshDir(name: String): String = {
    val root = s"/tmp/graft_test_half_$name"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    root
  }

  private def bitsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Short]] =
    df.orderBy("id").collect().map(_.getSeq[Short](1).toSeq).toSeq

  test("hvecs half-resident round trip: legacy + DSv2 agree, mark " +
      "restored, served identically") {
    val dir = freshDir("hvecs")
    val src = half(HalfVecs.F16).repartitionByRange(2, col("id"))
      .sortWithinPartitions("id")
    sources.VecsIO.writeHalf(src, dir)
    val legacy = sources.VecsIO.readHalfF16(spark, s"$dir/*.hvecs")
    assert(HalfVecs.formatOf(legacy.schema, "vec") === Some(HalfVecs.F16))
    assert(bitsOf(legacy) === bitsOf(half(HalfVecs.F16)))
    // DSv2 read splits the same bits with the same mark
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val ds = spark.read.format("graftvecs").option("half", "true")
        .load(s"$dir/*.hvecs")
      assert(ds.rdd.getNumPartitions > 2)
      assert(HalfVecs.formatOf(ds.schema, "vec") === Some(HalfVecs.F16))
      assert(bitsOf(ds) === bitsOf(legacy))
      val served = operators.FlatKnn.search(q, ds, 10, Metric.L2)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val inMem = operators.FlatKnn.search(q, half(HalfVecs.F16), 10,
          Metric.L2)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(served === inMem)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
    // DSv2 write direction: f16 frame → .hvecs raw bits
    val dir2 = freshDir("hvecsw")
    src.write.format("graftvecs").mode("overwrite").save(dir2)
    assert(bitsOf(sources.VecsIO.readHalfF16(spark, s"$dir2/*.hvecs")) ===
      bitsOf(half(HalfVecs.F16)))
  }

  test("npy f2 half-resident round trip, both paths; loud refusals") {
    val dir = freshDir("npy")
    val src = half(HalfVecs.F16).repartitionByRange(2, col("id"))
      .sortWithinPartitions("id")
    sources.NpyIO.writeHalf(src, dir)
    val legacy = sources.NpyIO.readHalf(spark, s"$dir/*.npy")
    assert(HalfVecs.formatOf(legacy.schema, "vec") === Some(HalfVecs.F16))
    assert(bitsOf(legacy) === bitsOf(half(HalfVecs.F16)))
    val ds = spark.read.format("graftnpy").option("half", "true").load(dir)
    assert(HalfVecs.formatOf(ds.schema, "vec") === Some(HalfVecs.F16))
    assert(bitsOf(ds) === bitsOf(legacy))
    // DSv2 write direction (descr forced to f2 from the short column)
    val dir2 = freshDir("npyw")
    src.write.format("graftnpy").mode("overwrite").save(dir2)
    assert(bitsOf(sources.NpyIO.readHalf(spark, s"$dir2/*.npy")) ===
      bitsOf(half(HalfVecs.F16)))

    // refusals: bf16-marked frames into f16 containers, half over wide
    // shards, bytes+half together, contradicting descr/eltype
    val bf = half(HalfVecs.BF16)
    intercept[Exception] { sources.NpyIO.writeHalf(bf, freshDir("bfn")) }
    intercept[Exception] { sources.VecsIO.writeHalf(bf, freshDir("bfv")) }
    intercept[Exception] {
      bf.write.format("graftnpy").mode("overwrite").save(freshDir("bfn2")) }
    intercept[Exception] {
      bf.write.format("graftvecs").mode("overwrite").save(freshDir("bfv2")) }
    val wideDir = freshDir("wide")
    sources.NpyIO.write(emb.coalesce(1), wideDir, "f4")
    intercept[Exception] {
      spark.read.format("graftnpy").option("half", "true").load(wideDir)
        .count() }
    intercept[Exception] {
      spark.read.format("graftnpy").option("half", "true")
        .option("bytes", "true").load(dir).count() }
    intercept[Exception] {
      src.write.format("graftnpy").option("descr", "f8")
        .mode("overwrite").save(freshDir("npyd")) }
    // an EXPLICIT f4 is refused too — it is not the absent-option default:
    // the caller asked for float32 files and silently writing f2 would
    // hand a non-f16 consumer the wrong width (the vecs eltype lesson)
    intercept[Exception] {
      src.write.format("graftnpy").option("descr", "f4")
        .mode("overwrite").save(freshDir("npyd4")) }
    intercept[Exception] {
      src.write.format("graftvecs").option("eltype", "fvecs")
        .mode("overwrite").save(freshDir("hve")) }
  }
}
