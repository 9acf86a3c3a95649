package graft.perfbench

/** Exact answers computed without the engine: a brute-force L2 scan in
  * plain Scala, and the checks every returned row must pass. */
object Truth {

  /** Squared Euclidean distance in double (the engine's `l2_distance` and
    * `Metric.L2`). Four partial sums break the add chain; the result can
    * differ from an in-order sum by a few ulps, which the checks' relative
    * tolerances absorb. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s0, s1, s2, s3 = 0.0
    var j = 0
    val n4 = a.length & ~3
    while (j < n4) {
      val d0 = a(j).toDouble - b(j)
      val d1 = a(j + 1).toDouble - b(j + 1)
      val d2 = a(j + 2).toDouble - b(j + 2)
      val d3 = a(j + 3).toDouble - b(j + 3)
      s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
      j += 4
    }
    while (j < a.length) {
      val d = a(j).toDouble - b(j)
      s0 += d * d
      j += 1
    }
    (s0 + s1) + (s2 + s3)
  }

  /** Exact top-k by (distance, id) of every query over the given rows,
    * queries scanned in parallel. */
  def topK(queries: Array[Array[Float]], ids: Array[Long],
           vecs: Array[Array[Float]], k: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val kk = math.min(k, ids.length)
      // bounded max-heap by (dist, id) kept as sorted arrays: k is small
      val hd = Array.fill(kk)(Double.PositiveInfinity)
      val hi = Array.fill(kk)(Long.MaxValue)
      var r = 0
      while (r < ids.length) {
        val d = l2(q, vecs(r))
        val id = ids(r)
        if (d < hd(kk - 1) || (d == hd(kk - 1) && id < hi(kk - 1))) {
          var p = kk - 1
          while (p > 0 && (d < hd(p - 1) || (d == hd(p - 1) && id < hi(p - 1)))) {
            hd(p) = hd(p - 1); hi(p) = hi(p - 1); p -= 1
          }
          hd(p) = d; hi(p) = id
        }
        r += 1
      }
      out(qi) = hi.zip(hd)
    }
    out
  }

  /** Outcome of checking one query's answer. */
  final case class Check(ok: Boolean, recall: Double, problem: String)

  /** Checks one query's returned neighbours (in rank order, with the
    * distances the engine reported when it reports them) against the exact
    * answer `truth`. `vecOf` resolves a live id to its current vector.
    * Fails on a wrong row count, a duplicate or unknown id, a reported
    * distance that differs from the recomputed one, or (with `exact`) any
    * neighbour farther than the k-th true distance or out of order. Recall
    * counts returned ids within the k-th true distance, so ties at equal
    * distance count as hits. */
  def check(query: Array[Float], ids: Seq[Long], dists: Option[Seq[Double]],
            truth: Array[(Long, Double)], vecOf: Long => Option[Array[Float]],
            exact: Boolean): Check = {
    val k = truth.length
    if (ids.length != k) return Check(ok = false, 0.0, s"${ids.length} rows, expected $k")
    if (ids.distinct.length != k) return Check(ok = false, 0.0, "duplicate id")
    val d = ids.map(vecOf).zip(ids).map {
      case (Some(v), _) => l2(query, v)
      case (None, id)   => return Check(ok = false, 0.0, s"id $id is not live")
    }
    dists.foreach { ds =>
      ds.zip(d).zip(ids).foreach { case ((got, want), id) =>
        if (math.abs(got - want) > 1e-6 * math.max(1.0, want))
          return Check(ok = false, 0.0, s"id $id distance $got, recomputed $want")
      }
    }
    val kth = truth.last._2
    val tol = 1e-9 * math.max(1.0, kth)
    val hits = d.count(_ <= kth + tol)
    val recall = hits.toDouble / k
    if (exact) {
      if (hits != k) return Check(ok = false, recall, s"recall $recall on an exact search")
      if (d.zip(d.drop(1)).exists { case (a, b) => b < a - tol })
        return Check(ok = false, recall, "neighbours out of distance order")
    }
    Check(ok = true, recall, "")
  }
}

/** Order statistics of latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples beyond); with fewer than eleven samples
    * there is none and the maximum is reported with its percentile. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, 10)
    else (s(n - 1), 100.0, 0)
  }
}
