package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** One scored candidate. `id` breaks distance ties (ascending) so results are
  * deterministic regardless of partial-aggregation merge order. */
case class Neighbor(id: Long, dist: Double)

/** Fixed-capacity best-k buffer, kept sorted best-first — the Spark analog of
  * the reference's SearchBuffer / BulkInserter
  * (reference: include/svs/index/vamana/search_buffer.h:104,
  * include/svs/index/flat/inserters.h:116). Arrays are pre-sized to k so the
  * partial-merge serialization shape is stable. */
case class TopKBuffer(var ids: Array[Long], var dists: Array[Double], var n: Int)

/** Bounded top-k as a typed Aggregator with partial (map-side) merge — the one
  * custom aggregate the engine needs (SURVEY §2 A1). Map-side partials mirror
  * the reference's per-tile insert + cleanup pass (flat.h:338-375): each
  * partition reduces its rows to ≤ k candidates before the shuffle, so the
  * exchange moves O(queries·k), not O(queries·N).
  *
  * @param k         neighbors to keep
  * @param ascending true = smaller is better (L2); false = similarity (IP/cos)
  */
class TopKAggregator(k: Int, ascending: Boolean)
    extends Aggregator[Neighbor, TopKBuffer, Seq[Neighbor]] {

  private def better(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    LocalTopK.better(d1, i1, d2, i2, ascending)

  override def zero: TopKBuffer =
    TopKBuffer(new Array[Long](k), new Array[Double](k), 0)

  override def reduce(b: TopKBuffer, in: Neighbor): TopKBuffer = {
    insert(b, in.dist, in.id); b
  }

  private def insert(b: TopKBuffer, d: Double, id: Long): Unit = {
    if (b.n == k && !better(d, id, b.dists(k - 1), b.ids(k - 1))) return
    // find insertion point (buffer sorted best-first); k is small — linear
    var pos = if (b.n == k) k - 1 else b.n
    while (pos > 0 && better(d, id, b.dists(pos - 1), b.ids(pos - 1))) pos -= 1
    val last = math.min(b.n, k - 1)
    var i = last
    while (i > pos) { b.dists(i) = b.dists(i - 1); b.ids(i) = b.ids(i - 1); i -= 1 }
    b.dists(pos) = d; b.ids(pos) = id
    if (b.n < k) b.n += 1
  }

  override def merge(a: TopKBuffer, c: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < c.n) { insert(a, c.dists(i), c.ids(i)); i += 1 }
    a
  }

  override def finish(b: TopKBuffer): Seq[Neighbor] =
    (0 until b.n).map(i => Neighbor(b.ids(i), b.dists(i)))

  override def bufferEncoder: Encoder[TopKBuffer] = Encoders.product[TopKBuffer]
  override def outputEncoder: Encoder[Seq[Neighbor]] =
    ExpressionEncoder[Seq[Neighbor]]()
}

object TopK {

  /** Aggregate `(idCol, distCol)` pairs grouped by `keyCols` down to the k
    * best, returned exploded as `(keyCols..., rnk, neighbor_id, dist)` with
    * rnk = 1..k best-first. Fast path: partial-merge bounded heap. */
  def perKey(df: DataFrame, keyCols: Seq[String], idCol: Column, distCol: Column,
             k: Int, ascending: Boolean): DataFrame = {
    val topk = udaf(new TopKAggregator(k, ascending))
    df.groupBy(keyCols.map(col): _*)
      .agg(topk(idCol, distCol).as("neighbors"))
      .select(keyCols.map(col) :+ posexplode(col("neighbors")): _*)
      .select(keyCols.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"),
        col("col.dist").as("dist")): _*)
  }

  /** Window-rank reference implementation — identical semantics (ties broken
    * by id), O(N log N) per key; used as the oracle-shaped cross-check. */
  def perKeyViaWindow(df: DataFrame, keyCols: Seq[String], idCol: Column,
                      distCol: Column, k: Int, ascending: Boolean): DataFrame = {
    val ord =
      if (ascending) Seq(distCol.asc, idCol.asc) else Seq(distCol.desc, idCol.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(keyCols.map(col) ++ Seq(col("rnk"), idCol.as("neighbor_id"),
        distCol.as("dist")): _*)
  }
}

/** One task's per-key candidates as three parallel arrays: the compact
  * shape a flat-kNN sweep ships to the driver (24 bytes a partial). */
private[graft] final case class KnnPartials(keys: Array[Long],
    ids: Array[Long], dists: Array[Double])

private[graft] object KnnPartials {

  /** `heaps(i)`'s kept candidates under `keys(i)`, in that order. */
  def of(keys: Array[Long], heaps: Array[LocalTopK]): KnnPartials = {
    val n = heaps.iterator.map(_.n).sum
    val out = KnnPartials(new Array[Long](n), new Array[Long](n),
      new Array[Double](n))
    var o = 0
    for (i <- keys.indices) {
      val h = heaps(i)
      java.util.Arrays.fill(out.keys, o, o + h.n, keys(i))
      System.arraycopy(h.ids, 0, out.ids, o, h.n)
      System.arraycopy(h.dists, 0, out.dists, o, h.n)
      o += h.n
    }
    out
  }
}

/** Per-key top-k over partials that arrive in pieces (the flat sweep's
  * and the stored serve's task results, `graft.plans.KnnPartialExec` and
  * `Vamana.zipServe`): the exchange-free twin of
  * [[TopK.perKeyViaWindow]], returning the same rows. One [[LocalTopK]]
  * per key, so memory stays O(keys·k) however many partials arrive. */
private[graft] final class PerKeyTopK(k: Int, ascending: Boolean) {
  private val best = scala.collection.mutable.LongMap.empty[LocalTopK]

  def add(key: Long, id: Long, dist: Double): Unit =
    best.getOrElseUpdate(key, new LocalTopK(k, ascending)).insert(dist, id)

  def addAll(p: KnnPartials): Unit = {
    var i = 0
    while (i < p.keys.length) { add(p.keys(i), p.ids(i), p.dists(i)); i += 1 }
  }

  /** The kept candidates, key-ascending, best-first within a key. */
  def partials: KnnPartials = {
    val ks = best.keys.toArray.sorted
    KnnPartials.of(ks, ks.map(best))
  }

  /** (key, rnk, id, dist) rows, key-ascending, rnk = 1..k best-first. */
  def rows: Seq[(Long, Long, Long, Double)] =
    best.keys.toSeq.sorted.flatMap { key =>
      val t = best(key)
      (0 until t.n).map(i => (key, i + 1L, t.ids(i), t.dists(i)))
    }

  /** [[rows]] as a local relation `(keyCol, rnk, neighbor_id, dist)`,
    * the column names and types of [[TopK.perKeyViaWindow]]'s output. */
  def toDF(spark: SparkSession, keyCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (q, r, id, d) => Row(q, r, id, d) }.asJava,
      StructType(Seq(StructField(keyCol, LongType, nullable = false),
        StructField("rnk", LongType, nullable = false),
        StructField("neighbor_id", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false))))
  }
}

/** The exact-rerank epilogue shared by every two-pass serving path (PQ
  * walk, binary Hamming, stored layouts): the |Q|·kReorder·k shortlist
  * broadcasts, joins ONLY its candidate rows out of `data`, scores the
  * exact metric (vectors cast to double for Catalyst-fold parity), and
  * window-ranks — full-precision reads stay shortlist-sized regardless of
  * corpus size. One implementation so tie-break/cast fixes cannot drift
  * across call sites. */
object Rerank {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.core.Metric

  /** `cand` needs (query_id, neighbor_id); `queries` (query_id, qvec);
    * `data` (idCol, vec). Output (query_id, rnk, neighbor_id, dist). */
  def exact(cand: DataFrame, queries: DataFrame, data: DataFrame, k: Int,
            metric: Metric, idCol: String = "id"): DataFrame = {
    val scored = broadcast(cand.select(col("query_id"), col("neighbor_id")))
      .join(data.select(col(idCol).as("neighbor_id"), col("vec")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id").as("id"),
        metric.column(col("qvec"), col("vec").cast("array<double>"))
          .as("dist"))
    TopK.perKeyViaWindow(scored, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }
}
