package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.{FlatKnn, TopK}

class TopKSpec extends SparkSpec {

  private def randomScored = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (0 until 5000).map { i =>
      (i % 7L, i.toLong, math.floor(rng.nextDouble() * 100) / 10)  // many ties
    }.toDF("q", "id", "dist").repartition(4)
  }

  test("aggregator top-k == window top-k (asc, with ties)") {
    val df = randomScored
    val a = TopK.perKey(df, Seq("q"), col("id"), col("dist"), 10, ascending = true)
      .select("q", "rnk", "neighbor_id").orderBy("q", "rnk").collect()
    val w = TopK.perKeyViaWindow(df, Seq("q"), col("id"), col("dist"), 10,
      ascending = true)
      .select("q", "rnk", "neighbor_id").orderBy("q", "rnk").collect()
    assert(a.toSeq == w.toSeq)
  }

  test("aggregator top-k == window top-k (desc)") {
    val df = randomScored
    val a = TopK.perKey(df, Seq("q"), col("id"), col("dist"), 7, ascending = false)
      .select("q", "rnk", "neighbor_id").orderBy("q", "rnk").collect()
    val w = TopK.perKeyViaWindow(df, Seq("q"), col("id"), col("dist"), 7,
      ascending = false)
      .select("q", "rnk", "neighbor_id").orderBy("q", "rnk").collect()
    assert(a.toSeq == w.toSeq)
  }

  test("k larger than group size returns whole group sorted") {
    import spark.implicits._
    val df = Seq((1L, 10L, 3.0), (1L, 11L, 1.0), (1L, 12L, 2.0))
      .toDF("q", "id", "dist")
    val r = TopK.perKey(df, Seq("q"), col("id"), col("dist"), 10, ascending = true)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    assert(r.toSeq == Seq(11L, 12L, 10L))
  }

  test("driver merge (PerKeyTopK) ≡ window top-k: ties by id, ±0.0, " +
      "NaN, k beyond the candidates, empty batch; both orders") {
    import spark.implicits._
    import graft.operators.PerKeyTopK
    val nan = Double.NaN
    val partials = Seq(
      // equal distances: the id breaks the tie
      (1L, 30L, 2.0), (1L, 10L, 2.0), (1L, 20L, 2.0), (1L, 5L, 3.0),
      (1L, 40L, 1.0), (1L, 41L, 2.0),
      // signed zeros are one value, ties by id; the sign is kept
      (2L, 9L, 0.0), (2L, 3L, -0.0), (2L, 7L, -0.0), (2L, 1L, 0.0),
      (2L, 8L, 0.5), (2L, 11L, -0.5),
      // NaN: after +∞ ascending, before everything descending
      (3L, 4L, nan), (3L, 2L, 1.0), (3L, 6L, nan),
      (3L, 1L, Double.PositiveInfinity), (3L, 9L, nan), (3L, 5L, -1.0),
      (3L, 3L, Double.NegativeInfinity), (3L, 0L, nan),
      // one candidate: any k ≥ 2 is beyond it
      (4L, 99L, 5.0))
    // dist by raw bits (±0.0 distinct; every NaN collapses to one)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val window = partials.toDF("query_id", "id", "dist")
    for (asc <- Seq(true, false); k <- Seq(1, 2, 3, 5, 50);
         order <- Seq(partials, partials.reverse)) {
      val want = TopK.perKeyViaWindow(window, Seq("query_id"), col("id"),
        col("dist"), k, asc)
      val m = new PerKeyTopK(k, asc)
      // partials arrive in pieces, as task results do
      order.grouped(3).foreach(_.foreach { case (q, id, d) =>
        m.add(q, id, d) })
      val got = m.toDF(spark, "query_id")
      assert(got.schema === want.schema)
      assert(rows(got) === rows(want), s"asc=$asc k=$k")
    }
    // an empty batch: no rows, the same columns
    val empty = new PerKeyTopK(10, true).toDF(spark, "query_id")
    val emptyW = TopK.perKeyViaWindow(window.limit(0), Seq("query_id"),
      col("id"), col("dist"), 10, ascending = true)
    assert(empty.schema === emptyW.schema)
    assert(empty.count() === 0 && emptyW.count() === 0)
  }

  test("flat knn: nearest L2 neighbor of a vector is itself") {
    import spark.implicits._
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val top1 = FlatKnn.search(q, data, 1, Metric.L2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (a, b) => a == b })
  }

  test("flat knn fast path == window path on embeddings (all metrics)") {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    for (m <- Metric.all) {
      val a = FlatKnn.search(q, data, 10, m)
        .select("query_id", "rnk", "neighbor_id").orderBy("query_id", "rnk")
        .collect()
      val w = FlatKnn.searchViaWindow(q, data, 10, m)
        .select("query_id", "rnk", "neighbor_id").orderBy("query_id", "rnk")
        .collect()
      assert(a.toSeq == w.toSeq, s"metric ${m.name}")
    }
  }

  test("tombstoned ids never appear in results") {
    import spark.implicits._
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val dead = Seq(0L, 50L, 100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)
    val tomb = dead.toDF("id")
    val r = FlatKnn.searchWithTombstones(q, data, tomb, 5, Metric.L2)
      .select("neighbor_id").as[Long].collect()
    assert(r.nonEmpty && r.toSet.intersect(dead.toSet).isEmpty)
  }
}
