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
    // merge stays declarative: window machinery over the partials
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
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
}
