package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.operators.{BinaryQuant, GraphLayout, Rerank, Vamana}
import graft.operators.GraphLayout.Codec

/** The in-memory Vamana walks `GraphLayout.serve` must equal row for row:
  * the cogroup walk over an opened layout's frames, probed with the same
  * routing kernel, for each codec. */
object GraphRefs {

  def walk(layout: GraphLayout.Layout, queries: DataFrame, k: Int,
           searchWindow: Int, nProbes: Int, metric: Metric,
           codec: Codec): DataFrame = codec match {
    case Codec.Full(l1Probes, keep)
        if l1Probes > 0 && layout.routing.isDefined =>
      val (l1, groupOf) = layout.routing.get
      Vamana.searchShardedHierarchical(queries, layout.clustered,
        layout.graph, layout.centroids, l1, groupOf, k, searchWindow,
        l1Probes, nProbes, metric, keep = keep)
    case Codec.Full(_, keep) =>
      Vamana.searchShardedFiltered(queries, layout.clustered, layout.graph,
        layout.centroids, k, searchWindow, nProbes, metric, keep)
    case Codec.Pq(kReorder, keep) if kReorder > 0 =>
      val walkM =
        if (metric == Metric.L2 || metric == Metric.IP) metric else Metric.L2
      Vamana.searchShardedAdcRerank(queries, layout.codes.get, layout.graph,
        layout.centroids, layout.pq.get, layout.clustered, k, kReorder,
        searchWindow, nProbes, walkMetric = walkM, rerankMetric = metric,
        keep = keep)
    case Codec.Pq(_, keep) =>
      Vamana.searchShardedAdc(queries, layout.codes.get, layout.graph,
        layout.centroids, layout.pq.get, k, searchWindow, nProbes, metric,
        keep)
    case Codec.Binary(kReorder) =>
      // v1 word-doubles of the data rows (the packing every bincodes
      // version is bit-identical to), walked by Hamming, then the exact
      // rerank against the whole data frame
      val b = layout.bin.get
      def words(c: String) =
        array(BinaryQuant.codeColumns(col(c), b).map(_.cast("double")): _*)
      val wv = layout.clustered.select(col("cluster_id"), col("id"),
        words("vec").as("vec"))
      val qWords = queries.select(col("query_id"), words("qvec").as("qvec"))
      val wordCents = layout.centroids.map { case (cid, cv) =>
        (cid, BinaryQuant.encodeWords(cv, b)) }
      val cand = Vamana.searchSharded(qWords, wv, layout.graph, wordCents,
        kReorder * k, searchWindow, nProbes, Metric.Hamming)
      Rerank.exact(cand, queries, layout.clustered, k, metric)
  }

  /** (query_id, rnk, neighbor_id) rows in rank order. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
}
