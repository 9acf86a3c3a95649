package graft.operators

/** Executor-local fixed-capacity best-k buffer, sorted best-first — the JVM
  * twin of TopKBuffer for mapPartitions kernels (reference semantics:
  * include/svs/index/vamana/search_buffer.h:104). Distances follow Spark
  * SQL's double order ([[LocalTopK.better]]), ties break by smaller id —
  * identical to the TopKAggregator and the window/oracle ordering. */
final class LocalTopK(k: Int, ascending: Boolean) {
  val ids = new Array[Long](k)
  val dists = new Array[Double](k)
  var n: Int = 0

  /** Worst currently-kept distance (only valid when n == k). */
  @inline def worstDist: Double = dists(k - 1)
  @inline def worstId: Long = ids(k - 1)
  @inline def full: Boolean = n == k

  def insert(d: Double, id: Long): Unit = {
    if (n == k && !LocalTopK.better(d, id, dists(k - 1), ids(k - 1),
        ascending)) return
    var pos = if (n == k) k - 1 else n
    while (pos > 0 &&
        LocalTopK.better(d, id, dists(pos - 1), ids(pos - 1), ascending))
      pos -= 1
    val last = math.min(n, k - 1)
    var i = last
    while (i > pos) { dists(i) = dists(i - 1); ids(i) = ids(i - 1); i -= 1 }
    dists(pos) = d; ids(pos) = id
    if (n < k) n += 1
  }

  def clear(): Unit = n = 0
}

object LocalTopK {

  /** (d1, i1) ranks before (d2, i2): Spark SQL's double order
    * (`SQLOrderingUtil.compareDoubles`: ±0.0 equal, NaN after +∞), flipped
    * when descending, then the smaller id. The finite compares come
    * first; only a NaN on either side reaches the SQL compare. */
  @inline def better(d1: Double, i1: Long, d2: Double, i2: Long,
                     ascending: Boolean): Boolean =
    if (d1 < d2) ascending
    else if (d1 > d2) !ascending
    else if (d1 == d2) i1 < i2
    else {
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(d1, d2)
      if (c == 0) i1 < i2 else if (ascending) c < 0 else c > 0
    }
}
