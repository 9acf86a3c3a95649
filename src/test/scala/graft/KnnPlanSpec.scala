package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.FlatKnn
import graft.plans.KnnJoinApi

class KnnPlanSpec extends SparkSpec {

  private def emb = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
  private def q = Tables.embeddingQueries(spark, sfDir)

  test("plan-native kNN join equals FlatKnn for every metric") {
    // both paths run the same tile scan, so distances match by raw bits
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rnk", "neighbor_id", "dist")
        .orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq
    for (m <- Metric.all) {
      val viaPlan = rowsOf(KnnJoinApi.knnJoin(q, emb, 10, m))
      val viaOp = rowsOf(FlatKnn.search(q, emb, 10, m))
      assert(viaPlan.nonEmpty)
      assert(viaPlan === viaOp, s"mismatch for ${m.name}")
    }
  }

  test("plan-native kNN keeps float32 pairs uncast and matches the widened " +
      "plan bit-for-bit") {
    val raw = Tables.table(spark, sfDir, "embeddings")
    val qF = raw.filter(expr(Tables.embQueryPredSql))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val dF = raw.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val viaF32 = KnnJoinApi.knnJoin(qF, dF, 6, Metric.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val viaF64 = KnnJoinApi.knnJoin(
      qF.withColumn("qvec", col("qvec").cast("array<double>")),
      dF.withColumn("vec", col("vec").cast("array<double>")), 6, Metric.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(viaF32 === viaF64)
    assert(viaF32.nonEmpty)
    // the float plan reads the source arrays directly — no cast projection
    val plan = KnnJoinApi.knnJoin(qF, dF, 6, Metric.L2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("KnnPartial"))
    assert(!plan.contains("cast(vec"), plan.take(1200))
  }

  test("the custom exec node appears in the physical plan") {
    val df = KnnJoinApi.knnJoin(q, emb, 5, Metric.L2)
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("KnnPartial"), plan.take(1500))
    // the node merges and ranks itself: no window, no exchange over it
    assert(!plan.contains("Window") && !plan.contains("Exchange"),
      plan.take(800))
  }

  private def sqlKnn(k: Int): org.apache.spark.sql.DataFrame = {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("kp_data")
    q.createOrReplaceTempView("kp_q")
    spark.sql(
      s"""SELECT query_id, rnk, neighbor_id FROM (
         |  SELECT q.query_id, d.id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY l2_distance(q.qvec, d.vec) ASC, d.id ASC) AS rnk
         |  FROM kp_q q CROSS JOIN kp_data d) t
         |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin)
  }

  test("optimizer rule rewrites SQL window-rank kNN onto KnnPartial with " +
      "identical results") {
    // without the rule: plain cross-join plan
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_ == graft.plans.KnnRewriteRule)
    val plain = sqlKnn(10)
    assert(!plain.queryExecution.optimizedPlan.toString.contains("KnnPartial"))
    val plainRows = plain.collect().toSeq

    KnnJoinApi.install(spark)
    val rewritten = sqlKnn(10)
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("KnnPartial"),
      rewritten.queryExecution.optimizedPlan.toString.take(1200))
    assert(rewritten.collect().toSeq === plainRows)
  }

  test("degenerate rnk < 1 bound is left alone (no zero-k crash)") {
    KnnJoinApi.install(spark)
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("kp_data")
    q.createOrReplaceTempView("kp_q")
    val df = spark.sql(
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.query_id, d.id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY l2_distance(q.qvec, d.vec) ASC, d.id ASC) AS rnk
        |  FROM kp_q q CROSS JOIN kp_data d) t
        |WHERE rnk < 1""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("KnnPartial"))
    assert(df.count() === 0)
    intercept[IllegalArgumentException] {
      KnnJoinApi.knnJoin(q, emb, 0, graft.core.Metric.L2) }
  }

  test("rewrite rule leaves non-matching window queries alone") {
    KnnJoinApi.install(spark)
    // rank() instead of row_number(): must not rewrite
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("kp_data")
    q.createOrReplaceTempView("kp_q")
    val df = spark.sql(
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.query_id, d.id AS neighbor_id,
        |    rank() OVER (PARTITION BY q.query_id
        |      ORDER BY l2_distance(q.qvec, d.vec) ASC, d.id ASC) AS rnk
        |  FROM kp_q q CROSS JOIN kp_data d) t
        |WHERE rnk <= 3""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("KnnPartial"))
    assert(df.count() === q.count() * 3)
  }

  test("float32 data works through the plan node (cast in the child plan)") {
    val f32 = emb.select(col("id"), col("vec").cast("array<float>").as("vec"))
    val viaPlan = KnnJoinApi.knnJoin(q, f32, 5, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().toSeq
    val viaOp = FlatKnn.search(q, emb, 5, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().toSeq
    assert(viaPlan === viaOp)
  }

  test("SQL rewrite over ARRAY<FLOAT> vectors returns the exact rows " +
      "(element-type-aware exec, no double-read corruption)") {
    KnnJoinApi.install(spark)
    GraftFunctions.register(spark)
    emb.select(col("id"), col("vec").cast("array<float>").as("vec"))
      .createOrReplaceTempView("kp_data_f32")
    q.select(col("query_id"), col("qvec").cast("array<float>").as("qvec"))
      .createOrReplaceTempView("kp_q_f32")
    val df = spark.sql(
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.query_id, d.id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY l2_distance(q.qvec, d.vec) ASC, d.id ASC) AS rnk
        |  FROM kp_q_f32 q CROSS JOIN kp_data_f32 d) t
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
    assert(df.queryExecution.optimizedPlan.toString.contains("KnnPartial"),
      df.queryExecution.optimizedPlan.toString.take(1200))
    // float32-truncated inputs widen back to the same doubles on both the
    // rewritten and exact paths, so the result must match an unrewritten
    // flat search over the same float32 table
    val f32 = emb.select(col("id"), col("vec").cast("array<float>").as("vec"))
    val qf32 = q.select(col("query_id"),
      col("qvec").cast("array<float>").as("qvec"))
    val exact = FlatKnn.search(qf32, f32, 5, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().toSeq
    assert(df.collect().toSeq === exact)
  }

  private def sqlLimitKnn(dataView: String, qView: String, k: Int) =
    spark.sql(
      s"""SELECT d.id AS neighbor_id,
         |  l2_distance(q.qvec, d.vec) AS dist
         |FROM $qView q CROSS JOIN $dataView d
         |ORDER BY dist ASC, neighbor_id ASC
         |LIMIT $k""".stripMargin)
      .select("neighbor_id")

  test("ORDER BY dist LIMIT k rewrites onto KnnPartial with identical " +
      "rows, double and float") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("kp_data")
    // single-query left side: the literal SURVEY §4 stretch pattern
    q.limit(1).createOrReplaceTempView("kp_q1")
    emb.select(col("id"), col("vec").cast("array<float>").as("vec"))
      .createOrReplaceTempView("kp_data_f32")
    q.limit(1)
      .select(col("query_id"), col("qvec").cast("array<float>").as("qvec"))
      .createOrReplaceTempView("kp_q1_f32")
    for ((d, qv) <- Seq(("kp_data", "kp_q1"), ("kp_data_f32", "kp_q1_f32"))) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.KnnRewriteRule)
      val plain = sqlLimitKnn(d, qv, 7)
      assert(!plain.queryExecution.optimizedPlan.toString
        .contains("KnnPartial"))
      val plainRows = plain.collect().toSeq

      KnnJoinApi.install(spark)
      val rewritten = sqlLimitKnn(d, qv, 7)
      val opt = rewritten.queryExecution.optimizedPlan.toString
      assert(opt.contains("KnnPartial"), s"$d: ${opt.take(1200)}")
      // the merge plans as the bounded TakeOrderedAndProject, not a sort
      assert(rewritten.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"))
      assert(rewritten.collect().toSeq === plainRows, s"$d rows")
    }
  }

  test("ORDER BY LIMIT rewrite fires for multi-query tops and skips " +
      "non-matching sorts") {
    KnnJoinApi.install(spark)
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("kp_data")
    q.createOrReplaceTempView("kp_q")
    // multi-query left: global top-k over all (query, row) pairs
    val multi = spark.sql(
      """SELECT q.query_id, d.id AS neighbor_id,
        |  l2_distance(q.qvec, d.vec) AS dist
        |FROM kp_q q CROSS JOIN kp_data d
        |ORDER BY dist ASC, neighbor_id ASC LIMIT 9""".stripMargin)
      .select("query_id", "neighbor_id")
    assert(multi.queryExecution.optimizedPlan.toString
      .contains("KnnPartial"))
    assert(multi.count() === 9)
    // missing id tie-break: left alone (boundary ties would be ambiguous)
    val noTie = spark.sql(
      """SELECT d.id AS neighbor_id, l2_distance(q.qvec, d.vec) AS dist
        |FROM kp_q q CROSS JOIN kp_data d
        |ORDER BY dist ASC LIMIT 9""".stripMargin)
    assert(!noTie.queryExecution.optimizedPlan.toString
      .contains("KnnPartial"))
  }

  /** The SQL top-k the rule rewrites, with `dist` kept in the output. */
  private def sqlTopK(qView: String, dView: String, k: Int, m: Metric)
      : org.apache.spark.sql.DataFrame = {
    GraftFunctions.register(spark)
    KnnJoinApi.install(spark)
    val (fn, dir) =
      if (m == Metric.L2) ("l2_distance", "ASC") else ("inner_product", "DESC")
    val df = spark.sql(
      s"""SELECT query_id, rnk, id AS neighbor_id, dist FROM (
         |  SELECT query_id, id, dist, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist $dir, id ASC) AS rnk
         |  FROM (SELECT q.query_id, d.id, $fn(q.qvec, d.vec) AS dist
         |        FROM $qView q CROSS JOIN $dView d) s) t
         |WHERE rnk <= $k""".stripMargin)
    assert(df.queryExecution.optimizedPlan.toString.contains("KnnPartial"),
      df.queryExecution.optimizedPlan.toString.take(1200))
    df
  }

  /** (query_id, rnk, neighbor_id, dist bits) sorted; a NaN only has to
    * stay NaN, so every NaN reads as one value. */
  private def bitRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Long, Long)] =
    df.select("query_id", "rnk", "neighbor_id", "dist").collect().map { r =>
      val d = r.getDouble(3)
      (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2),
        if (d.isNaN) Long.MinValue
        else java.lang.Double.doubleToRawLongBits(d))
    }.toSeq.sorted

  /** `emb` collected once: a driver-local frame plans no source job. */
  private def localFrame(df: org.apache.spark.sql.DataFrame) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  test("NaN distances rank as Spark SQL orders them: FlatKnn.search ≡ SQL " +
      "top-k ≡ window reference, L2 and IP") {
    import spark.implicits._
    // id 0 scores NaN against every query; it must not block finite rows
    val data = Seq((0L, Array(Double.NaN, 0.0)), (1L, Array(1.0, 0.0)),
      (2L, Array(2.0, 0.0)), (3L, Array(0.0, 3.0))).toDF("id", "vec")
      .repartition(1)
    val queries = Seq((7L, Array(0.0, 0.0)), (8L, Array(1.0, 1.0)))
      .toDF("query_id", "qvec")
    data.createOrReplaceTempView("kp_nan_data")
    queries.createOrReplaceTempView("kp_nan_q")
    for (m <- Seq(Metric.L2, Metric.IP); k <- Seq(1, 2, 4)) {
      val want = bitRows(FlatKnn.searchViaWindow(queries, data, k, m))
      assert(want.length === 2 * k)
      assert(bitRows(FlatKnn.search(queries, data, k, m)) === want,
        s"${m.name} k=$k FlatKnn.search")
      assert(bitRows(sqlTopK("kp_nan_q", "kp_nan_data", k, m)) === want,
        s"${m.name} k=$k SQL")
    }
    // ascending puts NaN last: with room for 3, the three finite rows win
    assert(FlatKnn.search(queries, data, 3, Metric.L2)
      .filter(col("query_id") === 7L).select("neighbor_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("partition invariance: 1, 3 and 8 partitions, widened and not, " +
      "both flat paths give identical rows (dist by raw bits)") {
    import graft.plans.KnnPartial
    import org.apache.spark.sql.graftbridge.Bridge
    val queries = localFrame(q)
    queries.createOrReplaceTempView("kp_inv_q")
    val corpus = emb.select("id", "vec").collect().toSeq
    val results = for (n <- Seq(1, 3, 8); widen <- Seq(false, true)) yield {
      val data = spark.createDataFrame(
        spark.sparkContext.parallelize(corpus, n), emb.select("id", "vec")
          .schema)
      assert(data.rdd.getNumPartitions === n)
      data.createOrReplaceTempView("kp_inv_data")
      val flat = bitRows(FlatKnn.searchWith(queries, data, 10, Metric.L2,
        widen = Some(widen)))
      // the SQL path with the same gate pinned on its rewritten node
      val sqlPlan = sqlTopK("kp_inv_q", "kp_inv_data", 10, Metric.L2)
        .queryExecution.optimizedPlan.transform {
          case p: KnnPartial => p.copy(widen = Some(widen))
        }
      val sql = bitRows(Bridge.ofRows(spark, sqlPlan))
      assert(sql === flat, s"$n partitions, widen=$widen")
      (n, widen) -> flat
    }
    val ref = results.head._2
    assert(ref.nonEmpty)
    for ((cfg, rows) <- results) assert(rows === ref, s"$cfg")
    assert(ref === bitRows(FlatKnn.searchViaWindow(queries, emb, 10,
      Metric.L2)))
  }

  test("one Spark job per FlatKnn.search collect, nothing shuffled; the SQL " +
      "top-k runs at most 2 jobs; a forced two-level merge returns the " +
      "same rows") {
    val path = "/tmp/graft_knnplan_spec_jobs"
    emb.select("id", "vec").repartition(3).write.mode("overwrite")
      .parquet(path)
    val data = spark.read.parquet(path)
    assert(data.inputFiles.length === 3)
    val queries = localFrame(q)
    queries.createOrReplaceTempView("kp_jobs_q")
    data.createOrReplaceTempView("kp_jobs_data")
    val sql = sqlTopK("kp_jobs_q", "kp_jobs_data", 10, Metric.L2)
    val probe = new graft.ShuffleProbe(spark)
    try {
      def cost[A](run: => A): (A, Long, Long) = {
        val (j0, s0) = (probe.jobs(), probe.readBytes())
        val a = run
        (a, probe.jobs() - j0, probe.readBytes() - s0)
      }
      val (flat, flatJobs, flatBytes) =
        cost(FlatKnn.search(queries, data, 10, Metric.L2).collect())
      assert((flatJobs, flatBytes) === ((1L, 0L)))
      assert(flat.length === 10 * queries.count())
      val (sqlRows, sqlJobs, sqlBytes) = cost(sql.collect())
      assert(sqlJobs === 1L && sqlBytes === 0L, s"jobs $sqlJobs, B $sqlBytes")
      assert(sqlRows.length === flat.length)
    } finally probe.close()
    val depth1 = bitRows(FlatKnn.searchWith(queries, data, 10, Metric.L2,
      depth = 1))
    assert(bitRows(FlatKnn.searchWith(queries, data, 10, Metric.L2,
      depth = 2)) === depth1)
    assert(depth1 === bitRows(FlatKnn.search(queries, data, 10, Metric.L2)))
  }
}
