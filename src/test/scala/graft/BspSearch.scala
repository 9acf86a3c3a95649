package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.TopK

/** PlanSpec's dataflow cross-check for the Vamana walk. */
object BspSearch {

  /** Bulk-synchronous (Pregel-style) greedy search — the pure-dataflow
    * reference semantics from SURVEY §7: all queries advance one hop per
    * round (frontier ⋈ graph → explode neighbors → score → per-query top-W),
    * converging when no query's window improves. Pays one shuffle per hop,
    * so it is the *cross-check* path; `Vamana.searchSharded` is the
    * production path. Single-graph input (one cluster). Output: (query_id,
    * rnk, neighbor_id, dist). */
  def searchBsp(queries: DataFrame, data: DataFrame, graph: DataFrame, k: Int,
                searchWindow: Int, metric: Metric, maxHops: Int = 64)
      : DataFrame = {
    require(searchWindow >= k)
    val entryId = graph.select("entry_id").first().getLong(0)
    val adj = graph.select(col("id"), col("neighbors"))
    val dataV = data.select(col("id"), col("vec"))

    def score(cand: DataFrame): DataFrame =
      cand.join(dataV, Seq("id"))
        .join(queries, Seq("query_id"))
        .select(col("query_id"), col("id"),
          metric.column(col("qvec"), col("vec")).as("dist"))

    // window state: per query the best ≤W scored nodes; frontier: nodes not
    // yet expanded. Seed both with the entry point. Every loop state is an
    // EAGER local checkpoint so the superseded round's blocks can be freed
    // immediately — the lazy-checkpoint version leaked ~3 RDDs per hop into
    // executor storage for the life of the session.
    var window = score(queries.select(col("query_id"))
      .withColumn("id", lit(entryId))).localCheckpoint(eager = true)
    var frontier = window.select("query_id", "id")
      .localCheckpoint(eager = true)
    // same rows as the seed frontier — share the checkpoint (unpersist is
    // idempotent, so the round-1 double-unpersist is harmless)
    var scored = frontier
    var hops = 0
    while (hops < maxHops && frontier.count() > 0) {
      val expanded = frontier.join(adj, Seq("id"))
        .select(col("query_id"), explode(col("neighbors")).as("id"))
        .distinct()
        .join(scored, Seq("query_id", "id"), "left_anti")
      val newScores = score(expanded)
      val scoredNext = scored.union(newScores.select("query_id", "id"))
        .localCheckpoint(eager = true)
      val merged = TopK.perKeyViaWindow(window.union(newScores),
          Seq("query_id"), col("id"), col("dist"), searchWindow,
          metric.ascending)
        .select(col("query_id"), col("neighbor_id").as("id"), col("dist"))
        .localCheckpoint(eager = true)
      // next frontier: window entries newly scored this round (the BSP analog
      // of "best unexpanded" — expanding all unexpanded window nodes per
      // round preserves the convergence property)
      val frontierNext = merged.join(newScores.select("query_id", "id"),
        Seq("query_id", "id")).select("query_id", "id")
        .localCheckpoint(eager = true)
      scored.unpersist(blocking = false)
      window.unpersist(blocking = false)
      frontier.unpersist(blocking = false)
      scored = scoredNext
      window = merged
      frontier = frontierNext
      hops += 1
    }
    // materialize the (|Q|·k)-row result so the loop state can be freed
    // before returning — the caller holds only the small final checkpoint
    val out = TopK.perKeyViaWindow(window, Seq("query_id"), col("id"),
      col("dist"), k, metric.ascending).localCheckpoint(eager = true)
    scored.unpersist(blocking = false)
    window.unpersist(blocking = false)
    frontier.unpersist(blocking = false)
    out
  }
}
