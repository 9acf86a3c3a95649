package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric

/** Two-level inverted index (SURVEY §2 J4/B6 — reference
  * include/svs/index/inverted/memory_based.h:334-448, clustering.h:47-96):
  * a subset of rows become cluster *leaders*; every row is assigned to its
  * nearest leader; search scores the leaders first, then scans only the
  * clusters whose leader is within `epsilon ×` the k-th best leader distance
  * (ε-expansion, memory_search_params.h:31-40).
  *
  * Spark shape: leaders are broadcast-small (like IVF centroids), assignment
  * is the map-only NearestCentroid projection, and the ε-filter + probe join
  * prune partitions exactly like IVF — the reference's Vamana-over-leaders
  * refinement is an optimization for huge leader sets and can be layered on
  * by routing leader scoring through Vamana.searchSharded.
  */
object Inverted {

  /** Deterministic leader pick (the reference uses PickRandomly,
    * inverted/memory_based.h:522 — a seeded random subset; any fixed subset
    * has the same semantics). */
  def pickLeaders(data: DataFrame, pred: org.apache.spark.sql.Column)
      : Seq[(Long, Seq[Double])] =
    data.filter(pred).select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq.sortBy(_._1)

  /** B6: assign every row to its nearest leader → (id, vec, leader_id). */
  def cluster(data: DataFrame, leaders: Seq[(Long, Seq[Double])]): DataFrame =
    KMeans.assign(data, leaders).withColumnRenamed("cluster_id", "leader_id")

  /** B6 with the reference's REPLICA expansion
    * (`ClusteringParameters.epsilon_` / `max_replicas_`,
    * inverted/clustering.h:49-56): a row is COPIED into every leader whose
    * distance is within `(1+epsilon)·` its nearest-leader distance, capped
    * at the `maxReplicas` closest (ties → smaller leader id). This is the
    * copied-leaves clustered dataset (`DenseClusteredDataset`,
    * memory_based.h:202-236): boundary rows physically live in every
    * nearby cluster, so an ε-probe of one cluster sees them without a
    * second lookup — recall of a wider probe at ≤ maxReplicas× the
    * storage. In Spark the replicated output written
    * `partitionBy(leader_id)` ([[IvfIndex.writeClustered]] shape) IS the
    * dense layout: each cluster partition holds its own (copied) leaf
    * vectors, and the sparse id-list variant is just this table without
    * `vec` plus a join back to the monolithic data — strictly worse under
    * partition pruning, which is why only dense ships.
    *
    * Kernel shape: leaders are flat-packed and broadcast in the closure;
    * the per-row scan is `Metric.computeAt` over the packed table (no
    * per-leader allocation), distances bit-equal to [[cluster]]'s
    * NearestCentroid — so `maxReplicas = 1, epsilon = 0` reproduces
    * [[cluster]] exactly (InvertedSpec pins this). */
  def clusterReplicated(data: DataFrame, leaders: Seq[(Long, Seq[Double])],
                        epsilon: Double, maxReplicas: Int,
                        metric: Metric = Metric.L2): DataFrame = {
    require(maxReplicas >= 1, "maxReplicas must be >= 1")
    val spark = data.sparkSession
    import spark.implicits._
    val lIds = leaders.map(_._1).toArray
    val d = leaders.head._2.length
    val flat = new Array[Double](leaders.length * d)
    leaders.zipWithIndex.foreach { case ((_, v), j) =>
      var i = 0
      while (i < d) { flat(j * d + i) = v(i); i += 1 }
    }
    val asc = metric.ascending
    data.select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, vec) =>
        val top = new LocalTopK(maxReplicas, asc)
        var j = 0
        while (j < lIds.length) {
          top.insert(metric.computeAt(vec, flat, j * d), lIds(j))
          j += 1
        }
        val dBest = top.dists(0)
        val bound = if (asc) (1.0 + epsilon) * dBest
          else dBest / (1.0 + epsilon)
        (0 until top.n).iterator
          .filter(r => if (asc) top.dists(r) <= bound
            else top.dists(r) >= bound)
          .map(r => (id, vec.toSeq, top.ids(r)))
      }
      .toDF("id", "vec", "leader_id")
  }

  /** J4 ε-expansion search over a REPLICATED clustering: identical probe
    * semantics to [[search]], with one extra dedup — a row copied into two
    * probed clusters must rank once, not twice (the reference's search
    * dedups by visited id the same way). Copies carry identical distances,
    * so the dedup is deterministic. */
  def searchReplicated(queries: DataFrame, clustered: DataFrame,
                       leaders: Seq[(Long, Seq[Double])], k: Int,
                       nLeaders: Int, epsilon: Double, metric: Metric)
      : DataFrame =
    search(queries, clustered, leaders, k, nLeaders, epsilon, metric,
      dedupIds = true)

  /** Upper bound on the leader count [[search]] will score on the
    * driver (exhaustive |Q|·|leaders| sweep). Past this, use
    * [[searchWithLeaderIndex]] — the reference's own posture for large
    * leader sets (inverted/memory_based.h:334). */
  val MaxDriverLeaders: Int = 65536

  /** J4 search with ε-expansion. For each query: score all leaders, find the
    * `nLeaders`-th best leader distance `dk`, keep every leader with
    * dist ≤ epsilon·dk (L2; for similarity metrics dist ≥ dk/epsilon), scan
    * exactly those clusters, return the k best rows.
    *
    * Output: (query_id, rnk, neighbor_id, dist) best-first. */
  def search(queries: DataFrame, clustered: DataFrame,
             leaders: Seq[(Long, Seq[Double])], k: Int, nLeaders: Int,
             epsilon: Double, metric: Metric,
             dedupIds: Boolean = false): DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    // driver-side leader scoring is a CONTRACT, not an assumption: past
    // MaxDriverLeaders the exhaustive sweep belongs on executors — fail
    // loudly and point at the distributed path (mirrors the require
    // style of IvfIndex.searchWithReorder)
    require(leaders.length <= MaxDriverLeaders,
      s"Inverted.search scores leaders on the driver; ${leaders.length} " +
        s"leaders exceeds the documented bound $MaxDriverLeaders — use " +
        "searchWithLeaderIndex (graph-routed, fully distributed) instead")
    val qRows = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lArr = leaders.map { case (lid, v) => (lid, v.toArray) }
    val probe = qRows.flatMap { case (qid, qvec) =>
      val scored = lArr.map { case (lid, lv) =>
        (lid, metric.compute(qvec, lv)) }
      val ordered = scored.sortBy { case (lid, d) =>
        (if (metric.ascending) d else -d, lid) }
      val dk = ordered(math.min(nLeaders, ordered.length) - 1)._2
      val keep =
        if (metric.ascending) ordered.takeWhile(_._2 <= epsilon * dk)
        else ordered.takeWhile(_._2 >= dk / epsilon)
      keep.map { case (lid, _) => (qid, lid) }
    }
    val probeDf = probe.toSeq.toDF("query_id", "leader_id")
      .join(queries, Seq("query_id"))
    probeAndRank(probeDf, clustered, k, metric, dedupIds)
  }

  /** Shared probe tail: broadcast the (query, leader) probe list against the
    * clustered table and keep the k best rows per query. `dedupIds` drops
    * replicated-row copies reached via multiple probed clusters (copies
    * carry identical distances, so any survivor is the same row). */
  private def probeAndRank(probeDf: DataFrame, clustered: DataFrame, k: Int,
                           metric: Metric,
                           dedupIds: Boolean = false): DataFrame = {
    val cand0 = broadcast(probeDf).join(clustered, Seq("leader_id"))
      .select(col("query_id"), col("id"),
        metric.column(col("qvec"), col("vec")).as("dist"))
    val cand = if (dedupIds) cand0.dropDuplicates("query_id", "id") else cand0
    TopK.perKeyViaWindow(cand, Seq("query_id"), col("id"), col("dist"), k,
      metric.ascending)
  }

  /** J4 search with the leader scoring routed through a Vamana graph over
    * the leaders — the reference's actual design for large leader sets
    * (inverted/memory_based.h:334 builds the primary index over the
    * leaders; driver-side exhaustive scoring in [[search]] matches the
    * reference's small-leader-set behavior but becomes the bottleneck as
    * leaders grow). ε-expansion semantics are identical: dk is the
    * `nLeaders`-th best *retrieved* leader distance, and every retrieved
    * leader within `epsilon·dk` (L2) is probed. With `leaderWindow` ≥ the
    * leader count the retrieved ranking is exact, making this equal to
    * [[search]]; realistic windows trade leader-ranking exactness for a
    * fully distributed, constant-driver-work probe phase. */
  def searchWithLeaderIndex(queries: DataFrame, clustered: DataFrame,
                            leaders: Seq[(Long, Seq[Double])], k: Int,
                            nLeaders: Int, epsilon: Double, metric: Metric,
                            leaderWindow: Int = 0, fetchLeaders: Int = 0,
                            params: VamanaKernel.BuildParams =
                              VamanaKernel.BuildParams(maxDegree = 16,
                                buildWindow = 32)): DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    val dims = leaders.head._2.length
    val ldf = leaders.toDF("id", "vec")
    val lClustered = ldf.withColumn("cluster_id", lit(0L))
    val graph = Vamana.buildSharded(lClustered, params, metric)
    // over-fetch so the ε-expansion has candidates beyond the k-th leader
    val fetch =
      if (fetchLeaders > 0) math.min(leaders.length, fetchLeaders)
      else math.min(leaders.length, math.max(nLeaders * 4, nLeaders + 8))
    val window =
      if (leaderWindow > 0) leaderWindow else math.max(2 * fetch, 32)
    val scored = Vamana.searchSharded(queries, lClustered, graph,
      Seq(0L -> Seq.fill(dims)(0.0)), fetch, window, nProbes = 1, metric)
    val dk = scored.groupBy("query_id")
      .agg((if (metric.ascending) max(when(col("rnk") <= nLeaders,
          col("dist")))
        else min(when(col("rnk") <= nLeaders, col("dist")))).as("dk"))
    val keep = scored.join(dk, Seq("query_id"))
      .filter(if (metric.ascending) col("dist") <= col("dk") * epsilon
        else col("dist") >= col("dk") / epsilon)
      .select(col("query_id"), col("neighbor_id").as("leader_id"))
    val probeDf = keep.join(queries, Seq("query_id"))
    probeAndRank(probeDf, clustered, k, metric)
  }
}

/** Search-window calibration (SURVEY §2 B7 — reference
  * index/vamana/calibrate.h:91-160): binary-search the smallest beam window
  * whose recall against exact groundtruth reaches `targetRecall`. Pure driver
  * orchestration over distributed searches, like the reference's
  * experimental_calibrate. */
object Calibrate {

  /** Recall of a ranked result against a (cached, broadcast-small) truth
    * pair table: hits / (k·nq) with a broadcast SEMI join — identical to
    * the intersect-count it replaces whenever the result is
    * duplicate-free (the calibrate contract: k ranked rows per query),
    * but one scan + one broadcast instead of two distinct aggregations
    * and a shuffled set-op per dial evaluation. Truth is |Q|·k rows —
    * broadcast-small at any corpus scale (queries are a batch). */
  def recallPairs(result: DataFrame, truthPairs: DataFrame, k: Int,
                  nq: Long): Double =
    result.select("query_id", "neighbor_id")
      .join(broadcast(truthPairs), Seq("query_id", "neighbor_id"),
        "left_semi")
      // the semi-join keeps BOTH copies of a duplicated result pair —
      // dedupe the ≤ k·nq matched rows so a search path with
      // tie-duplicates can't inflate recall and mis-calibrate the dial
      // (intersect's set semantics, restored at post-join cardinality)
      .distinct()
      .count().toDouble / (k * nq)

  /** Driver-side twin of [[recallPairs]] for calibration loops (guide
    * §1.2 fixed cost): truth AND each dial's result are ≤ |Q|·k rows by
    * the calibrate contract (queries are a batch; k is the serving dial),
    * so collect the ranked pairs and count set-intersection hits locally
    * — the SAME value as [[recallPairs]] (both are |distinct matched
    * pairs| / (k·nq)), but one bounded collect job per dial instead of a
    * broadcast + semi-join + distinct + count chain with its 2-3 AQE
    * stage materializations and driver replanning gaps. The collect is
    * calibration-batch-sized at ANY corpus scale — the reference's
    * experimental_calibrate is likewise a driver loop over a query
    * sample. */
  def truthSetOf(truth: DataFrame): Set[(Long, Long)] =
    truth.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long")).collect()
      .iterator.map(r => (r.getLong(0), r.getLong(1))).toSet

  def recallPairsLocal(result: DataFrame, truthSet: Set[(Long, Long)],
                       k: Int, nq: Long): Double = {
    val hits = result
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long")).collect()
      .iterator.map(r => (r.getLong(0), r.getLong(1)))
      .filter(truthSet.contains).toSet.size
    hits.toDouble / (k * nq)
  }

  /** The binary-search core of [[calibrateWindow]] with the recall
    * evaluation exposed as a seam: callers that probe extra dials around
    * the search (a target-setting max-dial eval, a `w−1` minimality
    * probe) pass a MEMOIZED `recallAt` so those dials are never paid
    * twice — each full evaluation is a search + recall job chain, pure
    * fixed cost to repeat. Evaluations are memoized here too, so one
    * trajectory never re-runs a dial. */
  def calibrateWindowWith(recallAt: Int => Double, targetRecall: Double,
                          minWindow: Int, maxWindow: Int): (Int, Double) = {
    val memo = scala.collection.mutable.Map.empty[Int, Double]
    def r(w: Int): Double = memo.getOrElseUpdate(w, recallAt(w))
    var lo = minWindow
    var hi = maxWindow
    var best = (maxWindow, r(maxWindow))
    if (best._2 < targetRecall) return best // unreachable target
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      val rr = r(mid)
      if (rr >= targetRecall) { best = (mid, rr); hi = mid }
      else lo = mid + 1
    }
    best
  }

  /** Returns (window, recall-at-window). `search(window)` must yield
    * (query_id, rnk, neighbor_id, ...) with k DISTINCT ranked rows per
    * query; truth likewise with exactly k rows per query. */
  def calibrateWindow(search: Int => DataFrame, truth: DataFrame, k: Int,
                      targetRecall: Double, minWindow: Int, maxWindow: Int)
      : (Int, Double) = {
    // truth collected ONCE (bounded |Q|·k) — replaces the truth cache +
    // distinct-count job and the per-dial join chain with one collect per
    // dial
    calibrateWindowWith(recallOf(search, truthSetOf(truth), k),
      targetRecall, minWindow, maxWindow)
  }

  /** Dial → recall against a collected truth set; nq = its distinct
    * query ids. */
  private def recallOf(search: Int => DataFrame,
                       truthSet: Set[(Long, Long)], k: Int): Int => Double = {
    val nq = truthSet.iterator.map(_._1).toSet.size.toLong
    w => recallPairsLocal(search(w), truthSet, k, nq)
  }

  /** Split-buffer calibration (the reference's second tuning axis,
    * index/vamana/calibrate.h:40-77 + search_buffer.h:39-77): phase 1 finds
    * the minimal TIED window `w1` reaching `targetRecall`; phase 2 fixes the
    * buffer capacity at `w1` and shrinks the expansion window below it while
    * recall holds — fewer expansions for the same retained set. `search`
    * takes (window, capacity). Returns (window, capacity, recall). */
  def calibrateWindowAndCapacity(search: (Int, Int) => DataFrame,
                                 truth: DataFrame, k: Int,
                                 targetRecall: Double, minWindow: Int,
                                 maxWindow: Int): (Int, Int, Double) = {
    // one truth collect serves both phases
    val truthSet = truthSetOf(truth)
    val (w1, r1) = calibrateWindowWith(recallOf(w => search(w, 0), truthSet,
      k), targetRecall, minWindow, maxWindow)
    if (r1 < targetRecall) return (w1, w1, r1) // unreachable: report max
    val recallAt = recallOf(w => search(w, w1), truthSet, k)
    var lo = math.max(k, minWindow / 2)
    var hi = w1
    var best = (w1, w1, r1)
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      val r = recallAt(mid)
      if (r >= targetRecall) { best = (mid, w1, r); hi = mid }
      else lo = mid + 1
    }
    best
  }

  /** The SERVING-dial calibration — the same B7 binary search applied to
    * the two-pass compressed paths' `kReorder` (PQ walk, binary Hamming,
    * MRL truncation, IVF reorder): find the smallest rerank width whose
    * exact-rerank recall reaches `targetRecall`. Each probe's cost is one
    * coarse scan + a |Q|·kReorder·k-row exact join, so the whole sweep is
    * ~log₂(maxReorder) cheap searches — at 100 TB the coarse pass is the
    * only corpus-sized read per probe. Returns (kReorder, recall); when
    * even `maxReorder` misses the target the caller should widen the
    * coarse dial (window / nProbes / m) instead — rerank can only recover
    * candidates the coarse pass surfaced. */
  def calibrateReorder(search: Int => DataFrame, truth: DataFrame, k: Int,
                       targetRecall: Double, maxReorder: Int)
      : (Int, Double) =
    calibrateWindow(search, truth, k, targetRecall, minWindow = 1,
      maxWindow = maxReorder)
}

/** Row reconstruction + point distance lookup (SURVEY §2 P10/P11 —
  * index/vamana/index.h:630-668, orchestrators/vamana.h:260-266). */
object Reconstruct {

  /** Return the original vectors for an id list: `ids(id) ⋈ data`. */
  def reconstruct(ids: DataFrame, data: DataFrame): DataFrame =
    ids.select("id").join(data, Seq("id"))

  /** Distance between one stored row and a literal query vector. */
  def getDistance(data: DataFrame, id: Long, qvec: Seq[Double],
                  metric: Metric): DataFrame =
    data.filter(col("id") === id)
      .select(col("id"),
        metric.column(typedlit(qvec), col("vec")).as("dist"))

  /** Batch point-distance lookup: `lookups(id, qvec) ⋈ data(id, vec)` →
    * (id, dist) — the vectorized form of [[getDistance]] (the reference's
    * per-call get_distance in a loop; here one broadcast join scans data
    * once for the whole lookup batch). */
  def getDistances(lookups: DataFrame, data: DataFrame, metric: Metric)
      : DataFrame =
    broadcast(lookups.select(col("id"), col("qvec")))
      .join(data.select(col("id"), col("vec")), Seq("id"))
      .select(col("id"), metric.column(col("qvec"), col("vec")).as("dist"))
}
