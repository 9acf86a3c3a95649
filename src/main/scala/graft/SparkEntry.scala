package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators._

/** Driver contract — one `queries` entry + matching DuckDB `oracleSql` per
  * implemented operator from SURVEY.md §2. Output columns are integer-typed
  * (ids/ranks/counts) so the driver's hash compare is float-safe. */
object SparkEntry {

  private val K = 10

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_flat_knn_l2")(spark, "/root/testdata/sf0.001")

  private def knnLineitem(metric: Metric)(s: SparkSession, dir: String)
      : DataFrame =
    FlatKnn.search(liQueries(s, dir),
        liVectors(s, dir), K, metric)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** f32-storage twin of q01 (q73/q74): the data side is ARRAY<FLOAT>, so
    * the scan runs the float-resident branch and the mixed computeDF
    * kernel; the oracle rounds its data dims through REAL identically. */
  private def knnLineitemF32(metric: Metric)(s: SparkSession, dir: String)
      : DataFrame =
    FlatKnn.search(liQueries(s, dir),
        memoized[DataFrame]("li_vectors_f32", dir) {
          Tables.lineitemVectors(s, dir)
            .withColumn("vec", col("vec").cast("array<float>")).cache()
        }, K, metric)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** Fully float32-sourced twin of q05 (q75/q76): both the query batch and
    * the data side keep the embeddings parquet's native ARRAY<FLOAT> — no
    * cast projection anywhere in the plan; queries widen once at collect
    * and the scan runs the mixed DF kernel (bit-identical to widening
    * everything, F32BuildSpec). Oracle: same as q05 — DuckDB reads the REAL
    * columns and widens identically. */
  private def knnEmbeddingsF32(metric: Metric)(s: SparkSession, dir: String)
      : DataFrame =
    FlatKnn.search(
      memoized[DataFrame]("emb_queries_f32", dir) {
        Tables.table(s, dir, "embeddings")
          .filter(expr(Tables.embQueryPredSql))
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          .cache()
      },
      memoized[DataFrame]("emb_vectors_f32", dir) {
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .cache()
      }, K, metric)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  private def knnEmbeddings(metric: Metric)(s: SparkSession, dir: String)
      : DataFrame =
    FlatKnn.search(embQueries(s, dir),
        embVectors(s, dir).select("id", "vec"), K, metric)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  private val ByteScale = 64.0

  /** q163: flat kNN over an i8-RESIDENT table (ARRAY<TINYINT>) — the
    * reference's int8 dataset parity (lib/datatype.h:53-66). The scan
    * runs FlatKnn's byte branch + the computeDB widen-at-use kernel;
    * the oracle quantizes identically in SQL and widens back. */
  private def knnEmbI8Q(s: SparkSession, dir: String): DataFrame =
    FlatKnn.search(embQueries(s, dir),
        memoized[DataFrame]("emb_vectors_i8", dir) {
          graft.functions.ByteVecs.markSigned(
            embVectors(s, dir).select(col("id"),
              graft.functions.ByteVecs.quantizeSigned(col("vec"), ByteScale)
                .as("vec"))).cache()
        }, K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q164: u8 twin — raw byte patterns + the ByteVecs schema mark, so the
    * kernel widens with & 0xFF; certified on inner product. */
  private def knnEmbU8Q(s: SparkSession, dir: String): DataFrame =
    FlatKnn.search(embQueries(s, dir),
        memoized[DataFrame]("emb_vectors_u8", dir) {
          graft.functions.ByteVecs.markUnsigned(
            embVectors(s, dir).select(col("id"),
              graft.functions.ByteVecs.quantizeUnsigned(col("vec"), ByteScale)
                .as("vec"))).cache()
        }, K, Metric.IP)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q80: cosine top-k through ingest-time normalization + IP ranking (the
    * reference's fixed-argument cosine optimization) — certified on exact
    * id-ranking agreement with q04's direct-cosine oracle: ordering is
    * mathematically identical (|q| is constant per query, data norms are 1),
    * so only a rounding-induced near-tie flip could diverge, the q67
    * contract. Runs on embeddings, whose ids are unique — the operator's
    * documented requirement (duplicate query_ids would merge heaps whose
    * |q| scale factors differ). The normalized table is built once and
    * cached — the persist-at-ingest shape. */
  private def knnCosNormalizedQ(s: SparkSession, dir: String): DataFrame =
    FlatKnn.search(embQueries(s, dir),
      memoized[DataFrame]("emb_vectors_cosnorm", dir) {
        FlatKnn.normalizeData(embVectors(s, dir).select("id", "vec")).cache()
      }, K, Metric.IP)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  private val NProbes = 3

  /** Build-once caches (index built once, searched many times — the
    * reference's benchmark model). Keyed by sfDir; entries are cached
    * DataFrames shared across queries within one process. */
  /** Fixture-store root: every throwaway store/egress fixture the queries
    * write lives under the JVM's tmpdir, so the scratch-placement dial
    * (Bench redirects java.io.tmpdir to SPARK_GRAFT_SCRATCH, default
    * /dev/shm when writable) covers the fixture writes too — ext4 fsync
    * latency on the sandbox's /tmp dominated the streaming + store
    * fixtures, and production stores live on storage chosen for the
    * deployment, not wherever the harness JVM booted. */
  private val tmpBase: String =
    System.getProperty("java.io.tmpdir", "/tmp").stripSuffix("/")

  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), Any]
  private def memoized[T](kind: String, dir: String)(mk: => T): T =
    memo.getOrElseUpdate((kind, dir), mk).asInstanceOf[T]

  /** Drop every memoized cache (benchmark hygiene: a long single-JVM run
    * over all 104 queries otherwise accumulates every family's cached
    * frames, and storage-pool eviction + GC pressure taxes later queries —
    * the r5 bench regression cluster). Unpersists cached Datasets eagerly;
    * non-Dataset memo values (quantizer params, graphs) are just dropped. */
  def clearMemos(): Unit = {
    memo.values.foreach {
      case d: Dataset[_] => try d.unpersist(blocking = false) catch {
        case _: Throwable => () }
      case _ => ()
    }
    memo.clear()
  }

  private def liDedup(s: SparkSession, dir: String): DataFrame =
    memoized("li_dedup", dir) {
      Tables.lineitemVectorsDedup(s, dir).cache() }

  private def liVectors(s: SparkSession, dir: String): DataFrame =
    memoized("li_vectors", dir) {
      Tables.lineitemVectors(s, dir).cache() }

  // query batches are collected by every search; cache them so each of the
  // ~20 kNN-shaped queries doesn't pay a full base-table parquet scan just
  // to gather its (tiny) query set
  private def liQueries(s: SparkSession, dir: String): DataFrame =
    memoized("li_queries", dir) { Tables.lineitemQueries(s, dir).cache() }

  private def liQueriesDedup(s: SparkSession, dir: String): DataFrame =
    memoized("li_queries_dedup", dir) {
      Tables.lineitemQueriesDedup(s, dir).cache() }

  private def embQueries(s: SparkSession, dir: String): DataFrame =
    memoized("emb_queries", dir) { Tables.embeddingQueries(s, dir).cache() }

  private def embVectors(s: SparkSession, dir: String): DataFrame =
    memoized("emb_vectors", dir) {
      Tables.embeddingVectors(s, dir).cache() }

  private def liClustered(s: SparkSession, dir: String): DataFrame =
    memoized("li_clustered", dir) {
      KMeans.assign(liDedup(s, dir),
        Tables.lineitemCentroids(s, dir)).cache()
    }

  private def kmeansAssignQ(s: SparkSession, dir: String): DataFrame =
    liClustered(s, dir).select("id", "cluster_id").orderBy("id")

  private def clusterSizesQ(s: SparkSession, dir: String): DataFrame =
    liClustered(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cnt"))
      .orderBy("cluster_id")

  private def ivfSearchQ(s: SparkSession, dir: String): DataFrame =
    IvfIndex.search(liQueriesDedup(s, dir), liClustered(s, dir),
        Tables.lineitemCentroids(s, dir), K, NProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  private def medioidQ(s: SparkSession, dir: String): DataFrame =
    Medioid.find(liDedup(s, dir), Tables.liDims)

  private def sqCodesQ(s: SparkSession, dir: String): DataFrame = {
    val data = liDedup(s, dir)
    val p = ScalarQuant.train(data)
    ScalarQuant.encodeExploded(data, p).orderBy("id", "pos")
  }

  private def recallQ(s: SparkSession, dir: String): DataFrame = {
    val data = liDedup(s, dir)
    val q = liQueriesDedup(s, dir)
    val cents = Tables.lineitemCentroids(s, dir)
    val ivf = IvfIndex.search(q, liClustered(s, dir), cents,
      K, NProbes, Metric.L2)
    val truth = FlatKnn.search(q, data, K, Metric.L2)
    Recall.matchesPerQueryComplete(ivf, truth).orderBy("query_id")
  }

  private val LloydIters = 3

  /** Lloyd training with 6-decimal-rounded means: rounding makes the
    * centroids engine-portable (summation order differs between Spark's
    * partial-merge aggregate and DuckDB's avg), so the full iterative
    * training loop is oracle-checkable — DuckDB replays the same three
    * unrolled assign/recompute rounds bit-for-bit. */
  private def kmeansTrainQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val init = embQueries(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val cents = KMeans.lloyd(data, init, iters = LloydIters,
      dims = Tables.embDims, roundTo = 6)
    KMeans.assign(data, cents)
      .groupBy("cluster_id").agg(count(lit(1)).as("cnt"))
      .orderBy("cluster_id")
  }

  // ---- text analysis / dedup (documents + embeddings tables) ------------

  // memoized: ~60 text queries shared a re-read of the documents parquet.
  // ONE cached copy, scan-partitioned as-is: r16's widened `docsWide` twin
  // (repartition-on-cache to defaultParallelism) won on warm reps-3 medians
  // but REGRESSED the cold reps-1 contract — the memo build (shuffle + a
  // second cached copy of the corpus) lands inside the first timed query,
  // and every downstream stage schedules defaultParallelism tasks on row
  // counts where per-task fixed cost dominates (r16 verdict: q125 0.12×,
  // 8-core full run beat 32-core). At real scale the scan carries enough
  // splits on its own; local parallelism is not worth two corpus copies.
  private def docs(s: SparkSession, dir: String): DataFrame =
    memoized("docs", dir) { Tables.table(s, dir, "documents").cache() }

  private def tokenStatsQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).as("n_tokens"),
      TextAnalysis.distinctTokenCount(TextAnalysis.tokens(col("text")))
        .as("n_distinct"))
      .orderBy("doc_id")

  private def qualityQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("score")).orderBy("doc_id")

  private def langIdQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang")).orderBy("doc_id")

  private def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp")).orderBy("doc_id")

  /** Per-language sample size for q72 (small enough that every stratum is
    * truncated at sf0.01, so the heap-vs-window agreement is exercised). */
  private val StratumK = 30

  /** Stratified sample (q72): language strata, content-hash ranked, via the
    * bounded top-k partial-merge aggregate — corpus rebalancing that never
    * funnels a whole stratum through one reducer. */
  private def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stratifiedSample(docs(s, dir),
        TextAnalysis.langId(col("text")), StratumK)
      .orderBy("stratum", "rnk")

  private def dedupExactQ(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    Dedup.exactByKey(docs(s, dir),
        concat_ws(" ", element_at(toks, 1), element_at(toks, 2)),
        col("doc_id"))
      .orderBy("key")
  }

  private val JaccardT = 0.5
  private val CosineT = 0.4

  /** Certified on the scale path: the ppjoin-style prefix-filtered join
    * (no driver collect), proven equal to the bitset/naive variants in
    * DedupTextSpec. */
  private def jaccardPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(
      docCodes(s, dir).withColumnRenamed("codes", "grams"), JaccardT)
      .orderBy("doc_a", "doc_b")

  /** Shingle codes are consumed by four dedup queries and multiple branches
    * of the prefix self-join — memoize + cache so the typed-map encoding
    * runs once per process, not once per plan branch. */
  private def docCodes(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("doc_codes", dir) {
      Dedup.shingleCodeTable(docs(s, dir)).cache()
    }

  /** q93: the prefix-filtered Jaccard join on 3-GRAM shingles — the
    * density lever for single-script corpora where the 2-gram shingle
    * space is dense and prefix filtering cannot prune (DedupBench measured
    * 305 s for the 2-gram join on a dense-vocab corpus whose multilingual
    * twin takes ~15 s; the 3-gram order re-sparsifies the space and
    * restores the pruning). Same operator, same verify — only the shingle
    * order changes; certified against the same brute-force DuckDB shape
    * over 3-gram Horner codes. */
  private def jaccardPairs3Q(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(
      Dedup.shingleCodeTable(docs(s, dir), n = 3)
        .withColumnRenamed("codes", "grams"), JaccardT)
      .orderBy("doc_a", "doc_b")

  /** q95: dedup GROUPS — connected components (alternating large-star/
    * small-star, Components.scala) over the certified q18 pair graph, then
    * canonical-member selection: every doc with its component id and a
    * 0/1 keep flag. The step a corpus-dedup pipeline runs between "pairs
    * found" and "rows dropped"; oracle closes the same pair SQL with a
    * recursive CTE. */
  private def dedupGroupsQ(s: SparkSession, dir: String): DataFrame =
    Components.dedupApply(docs(s, dir),
        Dedup.jaccardPairsPrefix(
          docCodes(s, dir).withColumnRenamed("codes", "grams"), JaccardT))
      .orderBy("doc_id")

  /** q124: QUALITY-AWARE dedup resolution — q95's groups, but the kept
    * member per duplicate group is the argmax of the certified quality
    * score (ties → lowest id) instead of the smallest id; what production
    * dedup actually drops. */
  private def dedupBestQ(s: SparkSession, dir: String): DataFrame =
    Components.dedupApplyBest(docs(s, dir),
        Dedup.jaccardPairsPrefix(
          docCodes(s, dir).withColumnRenamed("codes", "grams"), JaccardT),
        TextAnalysis.qualityScore(col("text")))
      .orderBy("doc_id")

  /** q96: benchmark decontamination — the corpus flagged against the
    * 3-gram codes of the deterministic benchmark subset (doc_id % 97 = 0);
    * broadcast semi-join, no shuffle of the corpus side. */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val codes3 = Dedup.shingleCodeTable(docs(s, dir), n = 3)
    Decontaminate.flags(codes3, codes3.filter(col("id") % 97 === 0))
      .orderBy("doc_id")
  }

  /** q103: FUZZY decontamination — q96's scale twin: corpus docs flagged
    * when near-duplicate (MinHash band collision) to a benchmark doc, the
    * fuzzy variant of the GPT-3-appendix recipe. Benchmark band keys
    * broadcast; the corpus side never shuffles raw text. */
  private def decontaminateFuzzyQ(s: SparkSession, dir: String): DataFrame =
    Decontaminate.fuzzyFlags(docCodes(s, dir),
        docCodes(s, dir).filter(col("id") % 97 === 0))
      .orderBy("doc_id")

  /** q114: BLOOM decontamination — q96's very-large-benchmark twin: the
    * benchmark gram set is folded into a fixed-size Bloom bit array (KB–MB
    * regardless of benchmark size) and membership is a pure codegen'd
    * Column next to the corpus scan. One summary row certifies n_docs +
    * n_exact against the SQL oracle and pins the two Bloom invariants
    * (zero false negatives; FP rate within bound) the q25/q50 way. */
  private def bloomDecontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val codes3 = Dedup.shingleCodeTable(docs(s, dir), n = 3)
    Decontaminate.bloomFlags(codes3, codes3.filter(col("id") % 97 === 0))
  }

  // ---- mixture / packing (training-data pipeline shaping) ---------------

  /** Per-domain keep-rates for q109 (sources absent from the map fall back
    * to the default rate). Thresholds are floor(rate · HashMod), computed
    * identically here and in the oracle SQL generator. */
  private[graft] val MixtureRates =
    Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.1)
  private[graft] val MixtureDefaultRate = 0.25
  private[graft] val MixtureSeed = 5L

  /** q109: deterministic domain-mixture downsampling — keep each document
    * iff its Lehmer row-hash clears the per-source rate threshold. Pure
    * shuffle-free scan filter (the 100 TB mixture-shaping default); the
    * oracle replays the identical modular arithmetic. */
  private def mixtureRateQ(s: SparkSession, dir: String): DataFrame =
    Mixture.sampleByRate(docs(s, dir), col("doc_id"),
        Mixture.domainRates(col("source"), MixtureRates, MixtureDefaultRate),
        MixtureSeed)
      .select("doc_id", "source").orderBy("doc_id")

  /** q116: quality-weighted sampling — keep probability proportional to
    * the certified quality score (rate = score/1000): the upweight-good-
    * documents recipe as a composition of two certified operators, still
    * one shuffle-free scan filter. */
  private def qualityWeightedSampleQ(s: SparkSession, dir: String)
      : DataFrame =
    Mixture.sampleByRate(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score")),
        col("doc_id"), col("score") / lit(1000.0), MixtureSeed)
      .select("doc_id", "score").orderBy("doc_id")

  /** Per-source repeat factors for q117: whole repeats (src1), fractional
    * upsampling (src0 2.5×), downsampling-degenerate (src2 0.4×), and the
    * identity default. */
  private[graft] val UpsampleFactors =
    Map("src0" -> 2.5, "src1" -> 3.0, "src2" -> 0.4)

  /** q117: repeat-factor domain upsampling — each doc emitted
    * floor(factor) times plus a hash-deterministic extra copy with
    * probability frac(factor); the up-weighting half of mixture shaping
    * (epoch-repeat recipes), shuffle-free explode next to the scan. */
  private def upsampleQ(s: SparkSession, dir: String): DataFrame =
    Mixture.upsampleByFactor(docs(s, dir), col("doc_id"),
        Mixture.domainRates(col("source"), UpsampleFactors, 1.0),
        MixtureSeed)
      .select("doc_id", "source", "repeat_idx")
      .orderBy("doc_id", "repeat_idx")

  /** Exact per-source targets for q110: includes a target equal to the
    * domain size (src3 = 25 at sf0.01) and one above it (src4) so the
    * clamp paths certify; unlisted sources drop to 0. */
  private[graft] val MixtureTargets =
    Map("src0" -> 10L, "src1" -> 15L, "src2" -> 5L, "src3" -> 25L,
      "src4" -> 40L)

  /** q110: exact per-domain rebalance — deterministic uniform sample
    * without replacement of exactly min(target, |domain|) docs per source,
    * ranked by (row-hash, id). The window runs over the oversampled-
    * threshold survivors only, so its cost is O(target) per domain
    * regardless of corpus size. */
  private def mixtureRebalanceQ(s: SparkSession, dir: String): DataFrame =
    Mixture.rebalanceExact(docs(s, dir), col("doc_id"), col("source"),
        MixtureTargets, MixtureSeed)
      .select(col("doc_id"), col("source"), col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")

  private[graft] val PackCapacity = 128L

  private def docSizes(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(TextAnalysis.tokens(col("text")))
        .as("n_tokens"))

  /** q111: greedy sequence packing — per-source document streams packed
    * into 128-token context bins, first-fit-in-order; one co-locating
    * shuffle then a streaming constant-memory pass. Oracle replays the
    * greedy recurrence as a recursive CTE. */
  private def packGreedyQ(s: SparkSession, dir: String): DataFrame =
    Packing.packGreedy(docSizes(s, dir), "source", "doc_id", "n_tokens",
        PackCapacity)
      .select(col("doc_id"), col("source"), col("shard").cast("int")
        .as("shard"), col("n_tokens"), col("bin"))
      .orderBy("source", "doc_id")

  /** q112: per-bin fill statistics over the q111 packing — doc count,
    * token sum, and floor-permille utilization per bin. */
  private def packBinStatsQ(s: SparkSession, dir: String): DataFrame =
    Packing.binStats(
        Packing.packGreedy(docSizes(s, dir), "source", "doc_id", "n_tokens",
          PackCapacity),
        "source", "n_tokens", PackCapacity)
      .select(col("source"), col("shard").cast("int").as("shard"),
        col("bin"), col("n_docs"), col("bin_sz"), col("util_permille"))
      .orderBy("source", "bin")

  private[graft] val ShardTargetChars = 4000L

  /** q115: size-targeted output sharding — shard = floor(preceding
    * cumulative chars / target) per source in doc_id order; the
    * uniform-output-file recipe as one window cumulative sum. */
  private def shardBySizeQ(s: SparkSession, dir: String): DataFrame =
    Packing.shardByRunningSize(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", "n_chars", ShardTargetChars)
      .select("doc_id", "source", "n_chars", "out_shard")
      .orderBy("source", "doc_id")

  /** q122: dataset-card statistics — per-source doc/token counts, length
    * spread and language mix; one map-side-combined aggregation. */
  private def corpusStatsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusStats(docs(s, dir)).orderBy("domain")

  private[graft] val ChunkMaxTokens = 40
  private[graft] val ChunkOverlap = 8

  /** q121: sliding-window chunking — split long docs into
    * max-40-token chunks with 8-token overlap (the split-before-packing
    * step); chunk text itself is hash-certified. */
  private def chunkQ(s: SparkSession, dir: String): DataFrame =
    Packing.chunkByTokens(docs(s, dir), "doc_id", "text",
        ChunkMaxTokens, ChunkOverlap)
      .orderBy("doc_id", "chunk_idx")

  private[graft] val ShapingLmFloorNano = 33000000L
  private[graft] val ShapingRate = 0.6
  private[graft] val ShapingCapacity = 256L

  /** q123: the corpus-shaping pipeline END-TO-END in one certified plan —
    * C4 heuristic gate ∘ LM-score floor ∘ deterministic rate sampling ∘
    * greedy context packing (q113 ∘ q120 ∘ q109 ∘ q111 composed over the
    * survivor stream); the oracle replays the whole composition. */
  private def shapingPipelineQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val c4ok = TextAnalysis.c4Filters(d).filter(col("kept"))
      .select("doc_id")
    val (bg, ug) = lmModel(s, dir)
    val lm = LmScore.scoreMeanProb(docs(s, dir), bg, ug)
    val kept = d.join(c4ok, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
      .filter(col("lm_score_nano") >= ShapingLmFloorNano)
    val sampled = Mixture.sampleByRate(kept, col("doc_id"),
        lit(ShapingRate), MixtureSeed)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(TextAnalysis.tokens(col("text")))
          .as("n_tokens"))
    Packing.packGreedy(sampled, "source", "doc_id", "n_tokens",
        ShapingCapacity)
      .select("doc_id", "source", "n_tokens", "bin")
      .orderBy("source", "doc_id")
  }

  /** q113: C4-style heuristic quality gate — per-document signal columns
    * (word-count bounds, integer-exact mean-word-length bounds, blocklist
    * word, boilerplate phrase, brace) and the final kept flag; one
    * shuffle-free codegen'd map over the corpus. */
  private def c4FiltersQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.c4Filters(docs(s, dir)).orderBy("doc_id")

  // ---- BPE vocabulary training ------------------------------------------

  private[graft] val BpeMerges = 6

  private def bpeTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    memoized[(DataFrame, DataFrame)](s"bpe_$BpeMerges", dir) {
      val (m, v) = Bpe.train(docs(s, dir), BpeMerges)
      (m, v)
    }

  /** q118: distributed BPE vocabulary training — the learned merge table,
    * certified by a FULL 6-round SQL replay (pair counts → argmax →
    * rewrite per round, the q12 k-means pattern for an iterative text
    * algorithm). */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame =
    bpeTrained(s, dir)._1.orderBy("round")

  /** q119: per-document token counts under the learned BPE merges —
    * corpus explode + broadcast join against the vocabulary-sized symbol
    * table. */
  private def bpeTokenCountsQ(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenCounts(docs(s, dir), bpeTrained(s, dir)._2)
      .orderBy("doc_id")

  /** q140: the actual tokenized corpus — per-doc BPE token sequence as an
    * exact string (what the packing/LM stages ultimately consume), not
    * just q119's count. */
  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame =
    Bpe.encode(docs(s, dir), bpeTrained(s, dir)._2)
      .orderBy("doc_id")

  /** q120: LM quality scoring — per-doc mean conditional bigram
    * probability under a bigram LM trained on the same corpus (the
    * CCNet-recipe signal in its hash-certifiable form: counts, one
    * division per bigram, ordered fold — every op exactly-rounded IEEE). */
  private def lmModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    memoized[(DataFrame, DataFrame)]("lm_model", dir) {
      val (bg, ug) = LmScore.trainBigrams(docs(s, dir))
      (bg.cache(), ug.cache())
    }

  private def lmScoreQ(s: SparkSession, dir: String): DataFrame = {
    val (bg, ug) = lmModel(s, dir)
    LmScore.scoreMeanProb(docs(s, dir), bg, ug).orderBy("doc_id")
  }

  /** q158: CCNet-style head/middle/tail corpus bucketing (Wenzek et al.
    * LREC'20) — exact equal-mass tertiles by the q120-certified LM score,
    * pure integer rank arithmetic; the sampled-cutoff 100 TB twin is
    * LmSpec-certified. */
  private def ccnetBucketsQ(s: SparkSession, dir: String): DataFrame = {
    val (bg, ug) = lmModel(s, dir)
    LmScore.ccnetBuckets(docs(s, dir), bg, ug).orderBy("doc_id")
  }

  private[graft] val MrlDims = 16

  /** q160: Matryoshka (MRL) truncated search — coarse pass folds only
    * the first 16 of 64 dims (training-free prefix truncation, the MRL
    * deployment recipe), exact full-dim rerank on the kReorder·k
    * shortlist. */
  private def mrlSearchQ(s: SparkSession, dir: String): DataFrame =
    LeanVec.searchTruncated(embQueries(s, dir),
        embVectors(s, dir).select("id", "vec"), K, MrlDims, PqWalkReorder)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q161: serving-dial calibration flags (the q50 invariant-flag pattern
    * on `Calibrate.calibrateReorder`): binary-search the smallest binary-
    * Hamming rerank width reaching 80% of the max-dial recall; certify
    * achieved / minimal / bounded as 0/1 flags (the search is
    * deterministic — searches, truth, and dial are all exact). */
  private def calibrateReorderQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val data = embVectors(s, dir).select("id", "vec")
    val q = embQueries(s, dir)
    val p = graft.operators.BinaryQuant.train(data)
    val codes = graft.operators.BinaryQuant.encode(data, p).cache()
    codes.count()
    def searchAt(kr: Int): DataFrame =
      graft.operators.BinaryQuant.searchHammingRerank(q, codes, p, data,
        K, kr)
    // truth collected ONCE to a driver set (bounded |Q|·k, the calibrate
    // contract) — each dial's recall is then one bounded collect instead
    // of a join + distinct + count job chain
    val truthSet = Calibrate.truthSetOf(
      FlatKnn.search(q, data, K, Metric.L2)
        .select("query_id", "neighbor_id"))
    val nq = q.count()
    // ONE memoized recall-per-dial shared between the target-setting
    // max-dial eval, the binary search, and the kr−1 minimality probe —
    // the max dial was previously evaluated twice and the probe's dial
    // once more, each a full search + recall job chain
    val recallMemo = scala.collection.mutable.Map.empty[Int, Double]
    def recallOf(kr: Int): Double = recallMemo.getOrElseUpdate(kr,
      Calibrate.recallPairsLocal(searchAt(kr), truthSet, K, nq))
    val maxDial = 16
    val target = recallOf(maxDial) * 0.8
    val (kr, rec) = Calibrate.calibrateWindowWith(recallOf, target,
      1, maxDial)
    val minimal = if (kr <= 1) 1L
      else if (recallOf(kr - 1) < target) 1L else 0L
    val out = Seq((if (rec >= target) 1L else 0L, minimal,
      if (kr <= maxDial) 1L else 0L)).toDF("achieved", "minimal", "bounded")
    codes.unpersist()
    out
  }

  /** q162 (and q187/q188, which name the same serve): the SERVED binary
    * index — word codes persisted in the graph layout (8 bytes/row of
    * walk state, the smallest serving footprint), `GraphLayout.serve`
    * with the Binary codec: probes once by Hamming over the word-encoded
    * batch, zips each probed shard's bincodes+graph dirs into the walk
    * task, reranks exactly against only the candidate rows of data. All
    * shards probed + full window ⇒ global Hamming top-R + exact rerank
    * ≡ q155 (same oracle); thresholds round-trip the sidecar
    * bit-exactly. */
  private def binaryStoredQ(s: SparkSession, dir: String): DataFrame = {
    val layout = binGraphLayout(s, dir)
    graft.operators.GraphLayout.serve(layout, embQueries(s, dir), K,
        searchWindow = 1 << 14, nProbes = layout.centroids.size, Metric.L2,
        graft.operators.GraphLayout.Codec.Binary(PqWalkReorder))
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q189: SELECTIVE binary serving — the Binary serve with nProbes < |L1|,
    * so probe routing actually prunes shards (q187/q188 certify the
    * exhaustive sweep; this certifies the Hamming PROBE SELECTION
    * itself): each query keeps its 3 Hamming-nearest word-encoded
    * centroids, the full-window walk makes per-shard results exact, and
    * the oracle replays the same selection in SQL. */
  private def binaryProbedQ(s: SparkSession, dir: String)
      : DataFrame = {
    val layout = binGraphLayout(s, dir)
    graft.operators.GraphLayout.serve(layout, embQueries(s, dir), K,
        searchWindow = 1 << 14, nProbes = VamanaProbes, Metric.L2,
        graft.operators.GraphLayout.Codec.Binary(PqWalkReorder))
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** The binary store q162/q187/q188/q189 share — ONE memoized builder. */
  private def binGraphLayout(s: SparkSession, dir: String)
      : graft.operators.GraphLayout.Layout =
    memoized[graft.operators.GraphLayout.Layout]("graph_layout_bin", dir) {
      val path = tmpBase + "/graft_q162_bin_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      graft.operators.GraphLayout.write(embLabelClustered(s, dir),
        embGraph(s, dir), embLabelCentroids(s, dir), path,
        bin = Some(binParams(s, dir)))
      graft.operators.GraphLayout.open(s, path)
    }

  private[graft] val DsirTargetMod = 7L

  /** q159: DSIR importance weights (Xie et al. NeurIPS'23) — how much
    * more likely each doc's bigram bag is under a TARGET-domain LM
    * (doc_id % 7 = 0 here) than the raw-corpus LM; the resampling signal
    * for domain-targeted data selection. Laplace-smoothed log-ratios,
    * position-ordered fold, ln bitwise-portable (q128 precedent). */
  private def dsirWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val (bg, _) = lmModel(s, dir)
    val (tbg, _) = LmScore.trainBigrams(
      docs(s, dir).filter(col("doc_id") % DsirTargetMod === 0))
    LmScore.dsirWeights(docs(s, dir), tbg, bg).orderBy("doc_id")
  }

  private[graft] val LmLambda = 0.75

  /** q125: Jelinek–Mercer interpolated LM score — λ·p(w2|w1) +
    * (1−λ)·p_uni(w2) per transition; the textbook backoff that removes
    * the hard zero on unseen bigrams while staying hash-certifiable. */
  private def lmInterpolatedQ(s: SparkSession, dir: String): DataFrame = {
    val (bg, ug) = lmModel(s, dir)
    LmScore.scoreInterpolated(docs(s, dir), bg, ug,
        LmScore.trainUnigrams(docs(s, dir)), LmLambda)
      .orderBy("doc_id")
  }

  // ---- full-text retrieval (TextIndex) ----------------------------------

  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25K = 10
  private[graft] val RrfKIn = 20
  private[graft] val RrfKOut = 10
  private[graft] val RrfK0 = 60

  /** Literal probe-query batch for BM25/hybrid: query 0 leads with the
    * corpus's one rare term ("dup", df ≈ 1/30th of the rest) so the idf
    * term actually discriminates; the rest exercise 2–4-term queries over
    * the uniform vocabulary (ties broken by doc_id are part of the
    * certified contract). */
  private[graft] val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "batch"),
    1L -> Seq("data", "join", "merge"),
    2L -> Seq("stream", "window", "agg"),
    3L -> Seq("customer", "vector"),
    4L -> Seq("spark", "query", "fast", "the"))
  private[graft] val KeywordTerms = Seq("dup", "data", "join")
  private[graft] val KeywordMinMatch = 2
  private[graft] val PhraseTerms = Seq("batch", "batch")

  /** q126: inverted-index build — (term, df, cf) vocabulary statistics
    * from the (term, doc_id, tf) postings table. */
  private def termStatsIdxQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.termStats(TextIndex.postings(docs(s, dir))).orderBy("term")

  /** q127: minimum-should-match keyword search (2 of 3 terms). */
  private def keywordSearchQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.searchMinMatch(docs(s, dir), KeywordTerms, KeywordMinMatch)
      .orderBy("doc_id")

  /** q128: BM25 top-k over a literal query batch. */
  private def bm25Q(s: SparkSession, dir: String): DataFrame =
    TextIndex.bm25TopK(docs(s, dir), Bm25Queries, Bm25K, Bm25K1, Bm25B)
      .orderBy("query_id", "rnk")

  /** q129: hybrid lexical+vector retrieval — BM25 ranks RRF-fused with
    * the q04-certified flat cosine kNN ranks (vec query vec_id/50 aligns
    * with the literal text query ids; RRF is rank-only, so the two
    * sides' incomparable native scores never meet). */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val text = TextIndex
      .bm25TopK(docs(s, dir), Bm25Queries, RrfKIn, Bm25K1, Bm25B)
      .select(col("query_id"), col("doc_id").as("id"), col("rnk"))
    val vec = FlatKnn.search(embQueries(s, dir), embVectors(s, dir),
        RrfKIn, Metric.Cosine)
      .select(expr("query_id div 50").as("query_id"),
        col("neighbor_id").as("id"), col("rnk"))
      .filter(col("query_id") < Bm25Queries.size)
    TextIndex.rrfFuse(text, vec, RrfKOut, RrfK0)
      .orderBy("query_id", "rnk")
  }

  /** q130: positional phrase search — overlapping occurrences counted
    * ("batch batch" inside "batch batch batch" hits twice). */
  private def phraseSearchQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.phraseSearch(docs(s, dir), PhraseTerms).orderBy("doc_id")

  /** q132: keyword search over the PERSISTED term-bucketed posting store
    * — same semantics (and oracle) as q127, but the probe reads only the
    * query terms' hash-bucket partitions (PartitionFilters at the scan;
    * the text-index analog of the IVF cluster-partitioned layout). */
  private def postingsStoreQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q132_postings_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    TextIndex.writePostings(
      TextIndex.postings(docs(s, dir)), path, nBuckets = 16)
    TextIndex.searchMinMatchStored(TextIndex.readPostings(s, path),
        KeywordTerms, KeywordMinMatch, nBuckets = 16)
      .orderBy("doc_id")
  }

  private[graft] val MaxSimGroup = 4
  private[graft] val MaxSimQMod = 25
  private[graft] val MaxSimK = 5

  /** q131: ColBERT-style late-interaction MaxSim — embeddings grouped
    * into 4-token bags by vec_id division, every 25th bag a query;
    * score = Σ_{qtok} max_{dtok} cosine with a qtok-ordered fold — max +
    * ordered sum of the certified cosine, hash-exact with no
    * transcendental caveat. */
  private def maxSimQ(s: SparkSession, dir: String): DataFrame = {
    val docsV = MaxSim.groupTokens(embVectors(s, dir), MaxSimGroup)
    val queries = docsV.filter(col("doc_id") % MaxSimQMod === 0)
      .select(col("doc_id").as("query_id"), col("dtok").as("qtok"),
        col("dvec").as("qvec"))
    MaxSim.topK(queries, docsV, MaxSimK, Metric.Cosine)
      .orderBy("query_id", "rnk")
  }

  /** q134: dynamic text-index lifecycle — build a store on the even half
    * of the corpus, ingest the odd half (including re-ingesting one even
    * doc unchanged — the doc-level upsert must not double it), compact
    * into a new bucketed store, and emit its term stats; the oracle is
    * q126's full-corpus term stats, so the lifecycle is certified to
    * converge to the from-scratch build. */
  private def postingsCompactQ(s: SparkSession, dir: String): DataFrame = {
    val base = tmpBase + "/graft_q134_postings_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val d = docs(s, dir)
    TextIndex.writePostings(
      TextIndex.postings(d.filter(col("doc_id") % 2 === 0)),
      s"$base/v0", nBuckets = 16)
    val fresh = TextIndex.postings(
      d.filter(col("doc_id") % 2 === 1 || col("doc_id") === 0))
    TextIndex.compactInto(TextIndex.readPostings(s, s"$base/v0"), fresh,
      s"$base/v1", nBuckets = 16)
    TextIndex.termStats(TextIndex.readPostings(s, s"$base/v1")
        .select("term", "doc_id", "tf"))
      .orderBy("term")
  }

  /** q135: DEFLATE compression-ratio quality signal — certified via
    * corpus-level invariant flags (q25/q114 pattern): every ratio
    * positive (and ≤1100 milli once past the fixed-header regime), and
    * doubling a document's text strictly lowers its ratio (the signal's
    * defining property: repetition compresses). The raw zlib bytes stay
    * out of the certified surface by design. */
  private def compressRatioQ(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
    val r = TextAnalysis.compressionRatio(base)
    val doubled = TextAnalysis.compressionRatio(
      base.select(col("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
      .withColumnRenamed("ratio_milli", "ratio2_milli")
    r.join(doubled, "doc_id")
      .join(base.select(col("doc_id"), length(col("text")).as("len")),
        "doc_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        bool_and(col("ratio_milli") > 0 &&
          (col("len") < 100 || col("ratio_milli") <= 1100))
          .as("bounds_ok"),
        bool_and(when(col("len") >= 40,
            col("ratio2_milli") < col("ratio_milli"))
          .otherwise(lit(true))).as("doubling_compresses"))
  }

  /** Shared on-disk text index for q137/q138 (built once per dir). */
  private def textIndexPath(s: SparkSession, dir: String): String =
    memoized[String]("ti_index", dir) {
      val path = tmpBase + "/graft_ti_index_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      TextIndex.buildIndex(docs(s, dir), path, nBuckets = 16)
      path
    }

  /** q137: BM25 served from the on-disk index — only the query terms'
    * bucket partitions are read, the corpus is never rescanned; q128's
    * oracle certifies bit-equality with the corpus-scan path. */
  private def bm25StoredQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.bm25TopKStored(s, textIndexPath(s, dir), Bm25Queries,
        Bm25K, nBuckets = 16, Bm25K1, Bm25B)
      .orderBy("query_id", "rnk")

  /** q138: phrase search served from the positional postings of the same
    * store; q130's oracle certifies it. */
  private def phraseStoredQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.phraseSearchStored(s, textIndexPath(s, dir), PhraseTerms,
        nBuckets = 16)
      .orderBy("doc_id")

  /** q142: the text signals through the SQL-function surface (§2.9 for
    * the text family) — `graft_quality_score` / `graft_lang_id` /
    * `graft_token_count` are the SAME expression trees as the certified
    * q13/q14/q15 operators, registered in the FunctionRegistry. */
  private def sqlTextQ(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    docs(s, dir).createOrReplaceTempView("graft_docs")
    s.sql("""SELECT doc_id, graft_quality_score(text) AS score,
             graft_lang_id(text) AS pred_lang,
             graft_token_count(text) AS n_tokens
             FROM graft_docs ORDER BY doc_id""")
  }

  private[graft] val ProxSlop = 3

  /** q141: proximity (NEAR) search — "dup" within 3 tokens of "batch";
    * the relevance signal between bag-of-words AND and exact phrase. */
  private def proximitySearchQ(s: SparkSession, dir: String): DataFrame =
    TextIndex.proximitySearch(docs(s, dir), "dup", "batch", ProxSlop)
      .orderBy("doc_id")

  private[graft] val ShuffleShards = 8
  private[graft] val ShuffleSeed = 7L

  /** q136: deterministic training-order permutation into shard files —
    * the corpus-shaping epilogue (no crawl/domain order leaks into
    * training; reproducible under restarts). One hash-keyed shuffle,
    * per-shard windows of ~n/nShards rows, no global sort. */
  private def corpusShuffleQ(s: SparkSession, dir: String): DataFrame =
    Mixture.permuteShards(docs(s, dir).select(col("doc_id")),
        col("doc_id"), ShuffleShards, ShuffleSeed)
      .orderBy("doc_id")

  private[graft] val MaxSimCand = 20

  /** q133: two-stage MaxSim — stage 1 cuts candidates by cosine on
    * mean-pooled bag vectors (the single-vector kNN any engine index can
    * serve), stage 2 re-scores only those with exact MaxSim: the 100 TB
    * shape ColBERT prescribes, certified end-to-end. */
  private def maxSimTwoStageQ(s: SparkSession, dir: String): DataFrame = {
    val docsV = MaxSim.groupTokens(embVectors(s, dir), MaxSimGroup)
    val queries = docsV.filter(col("doc_id") % MaxSimQMod === 0)
      .select(col("doc_id").as("query_id"), col("dtok").as("qtok"),
        col("dvec").as("qvec"))
    MaxSim.topKTwoStage(queries, docsV, MaxSimK, MaxSimCand,
        Tables.embDims, Metric.Cosine)
      .orderBy("query_id", "rnk")
  }

  private[graft] val PqM = 4
  private[graft] val PqK = 8

  /** PQ codebooks from id-striped embedding rows (vec_id = 7·c, c < 8) —
    * the q06 sampled-centroid pattern, oracle-rederivable; the TRAINED
    * path (Pq.trainLloyd ∘ certified Lloyd) is spec-certified. */
  private def pqParams(s: SparkSession, dir: String): Pq.Params =
    memoized[Pq.Params]("pq_params", dir) {
      val rows = embVectors(s, dir)
        .filter(col("id") % 7 === 0 && col("id") < 7 * PqK)
        .orderBy("id").collect()
        .map(_.getAs[Seq[Double]]("vec").toArray).toSeq
      Pq.paramsFromRows(rows, PqM, PqK, Tables.embDims)
    }

  /** q143: product-quantization codes — m codegen'd subspace argmins
    * next to the scan, 4 bytes of codes per 64-d vector here. */
  private def pqCodesQ(s: SparkSession, dir: String): DataFrame =
    Pq.encode(embVectors(s, dir), pqParams(s, dir)).orderBy("id")

  /** q144: asymmetric-distance (ADC) top-k over the PQ codes — the
    * query-side LUT is one literal-codebook expression per query; the
    * scan side reads codes only, never full-precision vectors. */
  private def pqAdcQ(s: SparkSession, dir: String): DataFrame =
    Pq.searchAdc(embQueries(s, dir),
        Pq.encode(embVectors(s, dir), pqParams(s, dir)),
        pqParams(s, dir), K)
      .orderBy("query_id", "rnk")

  private[graft] val IvfPqProbes = 3

  /** Coarse IVFADC centroids: id-striped embedding rows (vec_id % 100),
    * cluster_id = row id — oracle-rederivable. */
  private def ivfPqCents(s: SparkSession, dir: String)
      : Seq[(Long, Seq[Double])] =
    memoized[Seq[(Long, Seq[Double])]]("ivfpq_cents", dir) {
      embVectors(s, dir).filter(col("id") % 100 === 0).orderBy("id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    }

  /** q145: IVFADC residual codes — quantize vec − coarse-centroid per
    * cluster (the TPAMI'11 §IV composition); codes keep cluster_id so
    * the table stores cluster-partitioned like the IVF layout. */
  private def ivfPqCodesQ(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfPqCents(s, dir)
    Pq.encodeResiduals(KMeans.assign(embVectors(s, dir), cents), cents,
        pqParams(s, dir))
      .orderBy("id")
  }

  /** q146: IVFADC search — probe 3/5 coarse clusters per query, rank by
    * the residual-LUT sum over probed clusters' codes only. */
  private def ivfPqSearchQ(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfPqCents(s, dir)
    val coded = Pq.encodeResiduals(
      KMeans.assign(embVectors(s, dir), cents), cents, pqParams(s, dir))
    Pq.searchIvfAdc(embQueries(s, dir), coded, cents, pqParams(s, dir),
        K, IvfPqProbes)
      .orderBy("query_id", "rnk")
  }

  /** q149: predicate-filtered Vamana search — the reference's deleted-slot
    * search semantics (dynamic_index.h:617-629) generalized to any boolean
    * predicate: filtered rows are TRAVERSED (connectivity through them is
    * preserved) but never emitted; each shard walk keeps taking beam
    * entries past them until k kept rows emerge. Full window ⇒ exact
    * "kNN over probed shards WHERE id % 3 ≠ 1", which the oracle states
    * directly. */
  private def vamanaFilteredQ(s: SparkSession, dir: String): DataFrame =
    Vamana.searchShardedFiltered(embQueries(s, dir),
        embLabelClustered(s, dir), embGraph(s, dir),
        embLabelCentroids(s, dir), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2, keep = col("id") % 3 =!= 1)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  private[graft] val PqWalkReorder = 4

  /** q147: DiskANN-style PQ-compressed Vamana serving (Subramanya et al.
    * NeurIPS'19) — the walk input is `codes ⋈ graph` only (4 bytes of PQ
    * codes per row instead of the 512-byte vector); candidates are scored
    * by the q144 ADC sum via a per-(query, shard) LUT. Full window over
    * the q24-certified sharded graph ⇒ exact ADC ranking over the probed
    * shards, which the oracle expresses directly. */
  private def pqWalkQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val codes = Pq.encodeClustered(clustered, pqParams(s, dir))
    Vamana.searchShardedAdc(embQueries(s, dir), codes, embGraph(s, dir),
        embLabelCentroids(s, dir), pqParams(s, dir), K,
        searchWindow = 1 << 14, nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q148: the full two-pass DiskANN plan — ADC walk keeps kReorder·k
    * candidates, then ONE broadcast join reads the full-precision vectors
    * for exactly those |Q|·kReorder·k rows and reranks with exact L2.
    * Full-precision reads independent of corpus size — the PQ-in-RAM /
    * vectors-on-disk serving property. */
  private def pqWalkRerankQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val codes = Pq.encodeClustered(clustered, pqParams(s, dir))
    Vamana.searchShardedAdcRerank(embQueries(s, dir), codes,
        embGraph(s, dir), embLabelCentroids(s, dir), pqParams(s, dir),
        clustered, K, PqWalkReorder, searchWindow = 1 << 14,
        nProbes = VamanaProbes)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Persisted sharded-Vamana index shared by q150/q151 (the reference's
    * three-directory Vamana save, index/vamana/index.h:788-802, as a
    * cluster-partitioned parquet layout with PQ codes + codebook sidecar). */
  private def storedGraphLayout(s: SparkSession, dir: String)
      : graft.operators.GraphLayout.Layout =
    memoized[graft.operators.GraphLayout.Layout]("graph_layout", dir) {
      val path = tmpBase + "/graft_q150_graph_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      graft.operators.GraphLayout.write(embLabelClustered(s, dir),
        embGraph(s, dir), embLabelCentroids(s, dir), path,
        pq = Some(pqParams(s, dir)))
      graft.operators.GraphLayout.open(s, path)
    }

  /** q150: the persisted graph index reopened — the in-memory cogroup
    * probe-and-walk over the reopened layout's frames (the probe `isin`
    * prunes the scan to the probed shards' graph+data partitions); must
    * be bit-identical to q24's in-memory search (same oracle). */
  private def vamanaStoredQ(s: SparkSession, dir: String): DataFrame = {
    val layout = storedGraphLayout(s, dir)
    Vamana.searchSharded(embQueries(s, dir), layout.clustered,
        layout.graph, layout.centroids, K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q180 (and q184, which names the same serve): the ZERO-corpus-
    * shuffle stored serve — `GraphLayout.serve` over a ROUTED layout
    * (persisted level-1, `Codec.Full(l1Probes = 5)`), which zips each
    * probed shard's data+graph partition dirs narrowly into the walk
    * task (no corpus exchange at all; only the |Q|·probes·k top-k
    * partials move). At exhaustive l1Probes routing ≡ flat probing and
    * the stored walk ≡ the in-memory walk bit-for-bit (HierRoutingSpec),
    * so this certifies against q24/q150's oracle verbatim. */
  private def vamanaStoredLocalQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphLayout.serve(routedGraphLayout(s, dir),
        embQueries(s, dir), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2,
        graft.operators.GraphLayout.Codec.Full(l1Probes = 5))
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** The routed store q180/q184/q190 share — ONE memoized builder. */
  private def routedGraphLayout(s: SparkSession, dir: String)
      : graft.operators.GraphLayout.Layout =
    memoized[graft.operators.GraphLayout.Layout]("graph_layout_routed",
      dir) {
      val path = tmpBase + "/graft_q180_graph_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      graft.operators.GraphLayout.write(embLabelClustered(s, dir),
        embGraph(s, dir), embLabelCentroids(s, dir), path,
        routingGroups = 5)
      graft.operators.GraphLayout.open(s, path)
    }

  /** q190: STREAMING query serving — the deployment shape of a 100 TB
    * index (store is persisted, queries arrive continuously): embQueries
    * stream in two micro-batches through
    * [[graft.streaming.StreamingServe.attachGraph]] against q180/q184's
    * routed store, each batch answered by `GraphLayout.serve` (probe-once
    * routing, the stored walk) into its own replay-idempotent `batch_id=`
    * partition. Batch ≡ stream (StreamingServeSpec), so q184's oracle —
    * exact within-probed-shards kNN — certifies the streaming recipe
    * end-to-end through DuckDB. */
  private def serveStreamQ(s: SparkSession, dir: String): DataFrame = {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val layout = routedGraphLayout(s, dir)
    val out = tmpBase + "/graft_q190_serve_stream_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    // clean sink: a previous run's batch partitions would otherwise
    // union into this run's results
    val outP = new org.apache.hadoop.fs.Path(out)
    outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(outP, true)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-q190-ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingServe.attachGraph(
      mem.toDF().toDF("query_id", "qvec"), layout, out, ckpt, K,
      searchWindow = 1 << 14, nProbes = VamanaProbes, Metric.L2,
      graft.operators.GraphLayout.Codec.Full(l1Probes = 5))
    val rows = embQueries(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    try {
      val (a, b) = rows.partition(_._1 % 2 == 0)
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq); q.processAllAvailable()
    } finally {
      q.stop()
      // the checkpoint is per-invocation scratch (fresh dir each run) —
      // delete it or repeated bench reps leak offset/commit logs in /tmp
      val ckptP = new org.apache.hadoop.fs.Path(ckpt)
      ckptP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(ckptP, true)
    }
    graft.streaming.StreamingServe.results(s, out)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q191: incremental maintenance of the stored CODEC layout —
    * `IndexLayout.upsert` (the q152 lifecycle applied to the IVF family;
    * reference: dynamic_ivf.h): q51's add/delete batch against a fresh
    * IVFADC store, touched `cluster_id=` partitions rewritten with their
    * residual codes RE-ENCODED against the refreshed coarse centroids
    * (the no-drift invariant), codebooks pinned in the sidecar. The
    * served ADC ranks over the upserted store must equal the oracle's
    * residual-LUT replay over the merged corpus with merged-mean
    * centroids — refresh-touched-only ≡ recompute-all because untouched
    * labels' membership is unchanged. */
  private def indexUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q191_index_upsert_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.operators.IndexLayout.write(embLabelClustered(s, dir),
      embLabelCentroids(s, dir), path,
      graft.operators.IndexLayout.PqResC(pqParams(s, dir)))
    val added = embVectors(s, dir).filter(col("id") % 10 === 4)
      .select((col("id") + UpdOffset).as("id"), col("vec"),
        col("label").cast("long").as("cluster_id"))
    val deleted = embVectors(s, dir).filter(col("id") % 13 === 5)
      .select("id")
    val up = graft.operators.IndexLayout.upsert(s, path, added, deleted)
    graft.operators.IndexLayout.serve(up, embQueries(s, dir), K,
        IvfPqProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q192: q191's STREAMING twin — the same add/delete batch applied
    * through `StreamingIndexLayout.attach` in two micro-batches (adds
    * split, deletes with the second), routed by the PINNED label (the
    * `assign` routing-policy dial; a label-sharded corpus routes
    * deterministically, so the multi-batch centroid refresh sequence
    * converges to the same store as one batch — IndexLayoutSpec pins
    * replay convergence for the nearest-centroid default too). Final
    * store ≡ q191's upserted store, so q191's oracle certifies the
    * streaming codec-store lifecycle end-to-end. */
  private def indexUpsertStreamQ(s: SparkSession, dir: String): DataFrame = {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val path = tmpBase + "/graft_q192_index_upsert_stream_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.operators.IndexLayout.write(embLabelClustered(s, dir),
      embLabelCentroids(s, dir), path,
      graft.operators.IndexLayout.PqResC(pqParams(s, dir)))
    val addRows = embVectors(s, dir).filter(col("id") % 10 === 4)
      .select((col("id") + UpdOffset).as("id"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1),
        null.asInstanceOf[String]))
    val delRows = embVectors(s, dir).filter(col("id") % 13 === 5)
      .select("id").collect()
      .map(r => (r.getLong(0), Seq.empty[Double], "delete"))
    // pinned-label router: adds rejoin their label by original id — a
    // distributed join, no driver map (the routing-policy dial q192
    // exists to exercise)
    val labelOf = embVectors(s, dir)
      .select((col("id") + UpdOffset).as("id"),
        col("label").cast("long").as("cluster_id"))
    val router = (adds: org.apache.spark.sql.DataFrame,
                  _: Seq[(Long, Seq[Double])]) =>
      adds.join(labelOf, Seq("id"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-q192-ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double], String)]
    val q = graft.streaming.StreamingIndexLayout.attach(
      mem.toDF().toDF("id", "vec", "op"), path, ckpt,
      opCol = Some("op"), assign = router)
    try {
      val (a, b) = addRows.partition(_._1 % 2 == 0)
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData((b ++ delRows).toSeq); q.processAllAvailable()
    } finally {
      q.stop()
      val ckptP = new org.apache.hadoop.fs.Path(ckpt)
      ckptP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(ckptP, true)
    }
    val up = graft.operators.IndexLayout.open(s, path)
    graft.operators.IndexLayout.serve(up, embQueries(s, dir), K,
        IvfPqProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q151: DiskANN serving from the reopened store — the in-memory
    * codes-only cogroup walk over the persisted codes+graph frames
    * (probe-pruned to the probed partitions), exact rerank touching only the
    * |Q|·kReorder·k candidate rows of data; ≡ q148 (same oracle), with
    * codebooks round-tripped through the sidecar bit-exactly. */
  private def pqWalkStoredQ(s: SparkSession, dir: String): DataFrame = {
    val layout = storedGraphLayout(s, dir)
    Vamana.searchShardedAdcRerank(embQueries(s, dir), layout.codes.get,
        layout.graph, layout.centroids, layout.pq.get, layout.clustered, K,
        PqWalkReorder, searchWindow = 1 << 14, nProbes = VamanaProbes)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q181 (and q185, which names the same serve): the zero-corpus-
    * shuffle DiskANN serve — q151's codes-only walk + exact rerank
    * through `GraphLayout.serve` with `Codec.Pq(kReorder)`, which zips
    * each probed shard's codes+graph dirs narrowly into the PqStore walk
    * (no corpus exchange; data touched only for the |Q|·kReorder·k
    * rerank candidates). ≡ q151's in-memory walk bit-for-bit
    * (GraphLayoutSpec), so q148's oracle certifies it verbatim. */
  private def pqWalkStoredLocalQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphLayout.serve(storedGraphLayout(s, dir),
        embQueries(s, dir), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2,
        graft.operators.GraphLayout.Codec.Pq(kReorder = PqWalkReorder))
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q182: filtered × compressed × LOCAL serving — q157's traverse-but-
    * filter PQ-ADC walk through `GraphLayout.serve`'s zero-corpus-shuffle
    * path: the keep predicate is analyzer-resolved and bound against the
    * codes FILE schema (Bridge.resolveBoundPredicate) and evaluated per
    * decoded row inside the per-shard walk task. Full window ⇒ exact
    * ADC-over-kept — q157's oracle verbatim. */
  private def pqWalkFilteredLocalQ(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.GraphLayout.serve(storedGraphLayout(s, dir),
        embQueries(s, dir), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2,
        graft.operators.GraphLayout.Codec.Pq(keep = col("id") % 3 =!= 1))
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q152: incremental maintenance of the PERSISTED graph index — q51's
    * add/delete batch applied to a fresh store via `GraphLayout.upsert`:
    * touched shards rebuilt and ONLY their `cluster_id=` partitions
    * rewritten (dynamic partition overwrite), touched centroids
    * re-derived; the served full-window search over the upserted store
    * must equal exact kNN over the merged corpus — q51's oracle. */
  private def graphUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q152_graph_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.operators.GraphLayout.write(embLabelClustered(s, dir),
      embGraph(s, dir), embLabelCentroids(s, dir), path)
    val added = embVectors(s, dir).filter(col("id") % 10 === 4)
      .select((col("id") + UpdOffset).as("id"), col("vec"),
        col("label").cast("long").as("cluster_id"))
    val deleted = embVectors(s, dir).filter(col("id") % 13 === 5).select("id")
    val upserted = graft.operators.GraphLayout.upsert(s, path, added,
      deleted, VamanaParams, Metric.L2)
    Vamana.searchSharded(embQueries(s, dir), upserted.clustered,
        upserted.graph, upserted.centroids, K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Binary-quantization thresholds (per-dim rounded corpus means). */
  private def binParams(s: SparkSession, dir: String)
      : graft.operators.BinaryQuant.Params =
    memoized[graft.operators.BinaryQuant.Params]("bin_params", dir) {
      graft.operators.BinaryQuant.train(embVectors(s, dir))
    }

  /** q153: sign-bit binary codes — one BIT per dimension (64× over f64),
    * packed 32 bits per BIGINT word; the fourth compression axis next to
    * SQ/LVQ/LeanVec/PQ. Exact integers, shuffle-free codegen'd encode. */
  private def binaryCodesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.BinaryQuant.encode(embVectors(s, dir),
      binParams(s, dir)).orderBy("id")

  /** q154: Hamming top-k over the packed words — codegen'd
    * bit_count(xor), the cheapest distance in the engine; ties (frequent,
    * Hamming is integral) break by id identically in both engines. */
  private def binarySearchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.BinaryQuant.searchHamming(embQueries(s, dir),
        graft.operators.BinaryQuant.encode(embVectors(s, dir),
          binParams(s, dir)),
        binParams(s, dir), K)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q155: the two-pass binary plan — Hamming keeps kReorder·k (8-byte
    * coarse scan), exact L2 reranks just those rows. */
  private def binaryRerankQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.BinaryQuant.searchHammingRerank(embQueries(s, dir),
        graft.operators.BinaryQuant.encode(embVectors(s, dir),
          binParams(s, dir)),
        binParams(s, dir), embVectors(s, dir).select("id", "vec"), K,
        PqWalkReorder)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** q156: the SERVED IVFADC index — `IndexLayout.write` with the PqResC
    * codec persists residual-PQ code columns cluster-partitioned (codes
    * and codebooks can never drift: codes are derived at write, codebooks
    * round-trip the sidecar bit-exactly), and the stored search ranks by
    * probe-pruned residual-LUT sums reading codes of probed partitions
    * only — must equal q146's in-memory composition (same oracle). */
  private def ivfPqStoredQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q156_ivfpq_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val cents = ivfPqCents(s, dir)
    graft.operators.IndexLayout.write(
      KMeans.assign(embVectors(s, dir), cents), cents, path,
      graft.operators.IndexLayout.PqResC(pqParams(s, dir)))
    val layout = graft.operators.IndexLayout.open(s, path)
    graft.operators.IndexLayout.search(layout, embQueries(s, dir), K,
        IvfPqProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q169: the ROUTED served IVFADC index — `IndexLayout.write` with
    * `routingGroups` persists a level-1 routing table next to the codes,
    * open() restores it, and `searchRouted` routes probe selection
    * through it (the stored-IVF twin of q167's hierarchical path). At
    * exhaustive level-1 (`l1Probes = |l1|`) routed probe selection is
    * bit-identical to the flat sweep (IndexRoutingSpec), so the query
    * shares q156's oracle while exercising the persisted routing path
    * end-to-end. */
  private def ivfPqRoutedQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q169_ivfpq_routed_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val cents = ivfPqCents(s, dir)
    graft.operators.IndexLayout.write(
      KMeans.assign(embVectors(s, dir), cents), cents, path,
      graft.operators.IndexLayout.PqResC(pqParams(s, dir)),
      routingGroups = 4)
    val layout = graft.operators.IndexLayout.open(s, path)
    val l1Size = layout.routing.map(_._1.size).getOrElse(
      sys.error("q169: routing level not persisted"))
    graft.operators.IndexLayout.searchRouted(layout, embQueries(s, dir), K,
        l1Probes = l1Size, nProbes = IvfPqProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q186: the codec-layout serving entry point end-to-end —
    * `IndexLayout.serve` over q169's routed IVFADC store: one call
    * signature dispatches through the persisted level-1 (l1Probes > 0 and
    * the layout has routing). At exhaustive level-1 routed ≡ flat
    * (IndexRoutingSpec) and serve ≡ searchRouted, so q156/q169's oracle
    * certifies the dispatcher itself. */
  private def indexServeQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q186_index_serve_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val cents = ivfPqCents(s, dir)
    graft.operators.IndexLayout.write(
      KMeans.assign(embVectors(s, dir), cents), cents, path,
      graft.operators.IndexLayout.PqResC(pqParams(s, dir)),
      routingGroups = 4)
    val layout = graft.operators.IndexLayout.open(s, path)
    val l1Size = layout.routing.map(_._1.size).getOrElse(
      sys.error("q186: routing level not persisted"))
    graft.operators.IndexLayout.serve(layout, embQueries(s, dir), K,
        nProbes = IvfPqProbes, Metric.L2, l1Probes = l1Size)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q157: the filtered × compressed serving composition — PQ-ADC walk
    * with the q149 traverse-but-filter predicate: excluded rows keep the
    * graph connected through them, codes-only scan scores them, emission
    * skips them. Full window ⇒ exact ADC-over-kept (q147's oracle with
    * the predicate). */
  private def pqWalkFilteredQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val codes = Pq.encodeClustered(clustered, pqParams(s, dir))
    Vamana.searchShardedAdc(embQueries(s, dir), codes, embGraph(s, dir),
        embLabelCentroids(s, dir), pqParams(s, dir), K,
        searchWindow = 1 << 14, nProbes = VamanaProbes, Metric.L2,
        keep = col("id") % 3 =!= 1)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q97: Gopher-style repetition quality filters — duplicate-token /
    * duplicate-2-gram milli-fractions + top-2-gram count per doc. */
  private def repetitionQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(docs(s, dir)).orderBy("doc_id")

  /** q100: PII scan + redaction over a deterministically PII-enriched
    * corpus (synthetic phone/email/URL spliced onto doc_id % 5/7/11 — the
    * parquet fixtures carry no PII, so the query plants some the oracle
    * replays exactly); counts AND the redacted text are hash-certified,
    * pinning pattern semantics and replacement order across engines. */
  private def piiScanQ(s: SparkSession, dir: String): DataFrame = {
    val mixed = docs(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" call "),
          (lit(10) + col("doc_id") % 90).cast("string"), lit("-"),
          (lit(100) + col("doc_id") % 900).cast("string"), lit("-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" mail u"),
          col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" see https://ex.com/d/"),
          col("doc_id").cast("string"))).otherwise(lit("")))
        .as("text"))
    TextAnalysis.piiScan(mixed).orderBy("doc_id")
  }

  /** q101: exact-substring dedup (Lee et al. ACL'22, rolling-window
    * relaxation) — maximal token spans duplicated anywhere in the corpus.
    * The span-level pass document-level dedup misses: boilerplate and
    * quoted passages shared between docs that are not near-duplicates. */
  private def dupSpansQ(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.duplicateSpans(docs(s, dir))
      .orderBy("doc_id", "span_start")

  /** q106: the hashed-key substring-dedup path (`hashKeys = true`) — the
    * declared 100 TB shuffle-width lever: windows shuffle an 8-byte
    * xxhash64 fingerprint instead of the w-token gram string. Any key
    * function that is injective on the corpus's grams yields identical
    * duplicated-window sets, so the STRING-key oracle (q101's) certifies
    * it bit-for-bit — an xxhash64 collision would surface as a span
    * mismatch here. */
  private def dupSpansHashedQ(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.duplicateSpans(docs(s, dir), hashKeys = true)
      .orderBy("doc_id", "span_start")

  /** q102: span REMOVAL — the corpus rewritten with duplicated runs
    * deleted; clean text, removed and total token counts all
    * hash-certified (pins tokenization, span boundaries, and
    * reconstruction order across engines). */
  private def dupSpanRemovalQ(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.removeSpans(docs(s, dir)).orderBy("doc_id")

  private def minhashSigsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(docCodes(s, dir)).orderBy("doc_id", "i")

  private def minhashLshQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docCodes(s, dir)).orderBy("doc_a", "doc_b")

  /** q98: multi-probe MinHash-LSH — leave-one-out band keys over the q19
    * signature table; strict superset of q20's pairs (DedupTextSpec). */
  private def minhashLshMpQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsMultiProbe(docCodes(s, dir))
      .orderBy("doc_a", "doc_b")

  private def simhashQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"))).orderBy("doc_id")

  /** q81/q82: the 60-bit wide SimHash — the 16-bit variant's scale twin
    * (DedupBench measures the 16-bit hamming-ball saturation past ~20k
    * docs; 2^60 hash space removes it). q81 hash-checks the values, q82
    * the banded pigeonhole pairs against a brute-force hamming oracle. */
  private def simhashWideQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashWide(docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"))).orderBy("doc_id")

  private def simhashWidePairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashWidePairs(docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks")),
      SimhashMaxHamming, nBands = 4).orderBy("doc_a", "doc_b")

  private def embNearDupExactQ(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupExact(
        embVectors(s, dir).select("id", "vec"), CosineT)
      .orderBy("id_a", "id_b")

  private def lshPlanes(s: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    embVectors(s, dir).filter(col("id") % 125 === 0 && col("id") < 500)
      .select("id", "vec").collect()
      .map(r => (1L << (r.getLong(0) / 125).toInt) ->
        r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq.sortBy(_._1)

  private def embNearDupLshQ(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(
        embVectors(s, dir).select("id", "vec"),
        lshPlanes(s, dir), CosineT)
      .orderBy("id_a", "id_b")

  /** q83: multi-probe LSH — each row also probes every single-plane flip of
    * its bucket, recovering the near-dups that straddle one hyperplane (the
    * single-bucket join's common miss) while staying a bucket equi-join.
    * Oracle brute-forces hamming(bucket_a, bucket_b) ≤ 1. */
  private def embNearDupLshMpQ(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLshMultiProbe(
        embVectors(s, dir).select("id", "vec"),
        lshPlanes(s, dir), CosineT)
      .orderBy("id_a", "id_b")

  /** q104 centroids: 8 deterministic seed rows (every 37th embedding below
    * 296), cid = id/37 — oracle-replayable like [[lshPlanes]]. */
  private val SemEvery = 37
  private val SemK = 8
  private def semanticCentroids(s: SparkSession,
                                dir: String): Seq[(Long, Seq[Double])] =
    embVectors(s, dir)
      .filter(col("id") % SemEvery === 0 && col("id") < SemEvery * SemK)
      .select("id", "vec").collect()
      .map(r => (r.getLong(0) / SemEvery, r.getSeq[Double](1).toIndexedSeq))
      .toIndexedSeq.sortBy(_._1)

  /** q104: SemDeDup — semantic dedup with k-means blocking: the cosine
    * comparison runs only within a cluster, the scale path for embedding
    * dedup (vs q22's all-pairs). Assignment is the certified
    * NearestCentroid codegen map; keep-first semantics per cluster. */
  private def semanticDedupQ(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(embVectors(s, dir).select("id", "vec"),
        semanticCentroids(s, dir), CosineT)
      .orderBy("id")

  /** q105: SemDeDup on TRAINED centroids — q104 blocks on seed rows; the
    * operator's production contract is blocking on a k-means model
    * (reference: clustering reuse, ivf/kmeans.h:29-130). Composes the
    * certified Lloyd loop (q12: 6-decimal-rounded means, engine-portable)
    * with the blocked dedup, certifying train → assign → dedup
    * end-to-end. */
  private def semanticDedupTrainedQ(s: SparkSession, dir: String)
      : DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val init = embQueries(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val cents = KMeans.lloyd(data, init, iters = LloydIters,
      dims = Tables.embDims, roundTo = 6)
    Dedup.semanticDedup(data, cents, CosineT).orderBy("id")
  }

  // ---- Vamana graph index (J2/B1-B4) over label-sharded embeddings --------

  private val VamanaProbes = 3
  private val VamanaParams = graft.operators.VamanaKernel.BuildParams(
    maxDegree = 24, buildWindow = 48)

  /** Embeddings with cluster_id = label: a deterministic 10-way sharding. */
  private def embLabelClustered(s: SparkSession, dir: String): DataFrame =
    embVectors(s, dir)
      .select(col("id"), col("vec"), col("label").cast("long").as("cluster_id"))

  /** Per-cluster centroids, rounded to 6 decimals so Spark and DuckDB agree
    * despite different summation orders (same trick as q08_medioid) — the
    * one shared fold, [[graft.operators.KMeans.roundedMeans]]. */
  private def labelCentroidsOf(clustered: DataFrame): Seq[(Long, Seq[Double])] =
    KMeans.roundedMeans(clustered)

  private def embLabelCentroids(s: SparkSession, dir: String)
      : Seq[(Long, Seq[Double])] =
    labelCentroidsOf(embLabelClustered(s, dir))

  /** Exhaustive-window sharded Vamana search: with the beam window covering
    * the whole shard the walk visits the entry's full connected component, so
    * the result equals exact top-k over the probed shards — which the DuckDB
    * oracle expresses directly. Verifies build connectivity + walk + probe
    * routing end-to-end. */
  private def embGraph(s: SparkSession, dir: String): DataFrame =
    memoized("emb_graph", dir) {
      Vamana.buildSharded(embLabelClustered(s, dir), VamanaParams,
        Metric.L2).cache()
    }

  private def vamanaSearchQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val graph = embGraph(s, dir)
    Vamana.searchSharded(embQueries(s, dir), clustered, graph,
        embLabelCentroids(s, dir), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q167: the HIERARCHICAL routing path (two-level probe selection over
    * the shard centroids, then the identical walk) certified end-to-end:
    * at `l1Probes = |L1|` level-1 routing is bit-equal to the flat sweep
    * (HierRoutingSpec pins the kernel), so the full search shares q24's
    * exhaustive-window oracle. Realistic l1Probes is the 10⁵-shard dial
    * (SCALE.md hier_routing: 4.3× routing at 10⁵ shards). */
  private def hierSearchQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val graph = embGraph(s, dir)
    val cents = embLabelCentroids(s, dir)
    val (l1, groupOf) = memoized[(Seq[(Long, Seq[Double])],
        Map[Long, Long])]("hier_routing_l1", dir) {
      Vamana.trainRoutingLevel(cents, nGroups = 3)
    }
    Vamana.searchShardedHierarchical(embQueries(s, dir), clustered, graph,
        cents, l1, groupOf, K, searchWindow = 1 << 14,
        l1Probes = l1.length, nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Per-query match floors for q25 (goldens/q25_floors.json): measured from
    * the deterministic sharded build with −2 slack, the same
    * invariant-flag-oracle pattern as q50/the reference's pinned recall
    * goldens (data/test_dataset/reference/vamana_reference.toml:44-59,
    * asserted ±ε in tests/integration/vamana/index_search.cpp:136-200).
    *
    * Loading fails loudly (like GoldenSpec): a missing/empty/unparseable
    * floors file throws rather than silently degrading every floor to 0 and
    * making the certification vacuous. `SPARK_GRAFT_Q25_REGEN=1` is the
    * explicit regeneration escape hatch (all floors 0; run q25, re-apply the
    * −2 slack to the measured matches, rewrite the file). */
  private def q25RegenMode: Boolean =
    sys.env.get("SPARK_GRAFT_Q25_REGEN").exists(_.nonEmpty)

  private lazy val q25Floors: Map[(String, Long), Long] = {
    val p = java.nio.file.Paths.get("goldens/q25_floors.json")
    // Files.readAllBytes throws NoSuchFileException on a missing file —
    // same loud failure as GoldenSpec's golden-grid load.
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    import org.json4s._
    val floors = org.json4s.jackson.JsonMethods.parse(s) \ "floors" match {
      case JArray(entries) =>
        entries.map { e =>
          (e \ "sf", e \ "query_id", e \ "floor") match {
            case (JString(sf), JInt(qid), JInt(f)) =>
              (sf, qid.toLong) -> f.toLong
            case other =>
              throw new IllegalStateException(
                s"$p: malformed floors entry $other")
          }
        }.toMap
      case other =>
        throw new IllegalStateException(s"$p: expected a 'floors' array, " +
          s"got ${other.getClass.getSimpleName}")
    }
    if (floors.isEmpty)
      throw new IllegalStateException(s"$p parsed to zero floors entries")
    floors
  }

  /** Realistic-window recall vs exact flat groundtruth, certified via
    * invariant flags: per-query `matches ≥ floor` as 0/1, floors pinned in
    * goldens/q25_floors.json (deterministic build ⇒ deterministic matches;
    * an sf dir with no pinned floors throws unless SPARK_GRAFT_Q25_REGEN is
    * set). VamanaSpec additionally asserts the aggregate recall floor;
    * GoldenSpec pins the recall grid ±0.01. */
  private def vamanaRecallQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clustered = embLabelClustered(s, dir)
    val data = embVectors(s, dir).select("id", "vec")
    val q = embQueries(s, dir)
    val graph = embGraph(s, dir)
    val approx = Vamana.searchSharded(q, clustered, graph,
      embLabelCentroids(s, dir), K, searchWindow = 40,
      nProbes = VamanaProbes, Metric.L2)
    val truth = FlatKnn.search(q, data, K, Metric.L2)
    val matches = Recall.matchesPerQueryComplete(approx, truth)
    val sfName = new java.io.File(dir).getName
    val floors =
      if (q25RegenMode) Seq.empty[(Long, Long)]
      else q25Floors.collect {
        case ((sf, qid), f) if sf == sfName => (qid, f)
      }.toSeq
    if (floors.isEmpty && !q25RegenMode)
      throw new IllegalStateException(
        s"goldens/q25_floors.json has no entries for sf dir '$sfName'; " +
          "set SPARK_GRAFT_Q25_REGEN=1 to run floor-less for regeneration")
    val fdf =
      if (floors.isEmpty) matches.select(col("query_id"), lit(0L).as("floor"))
      else floors.toDF("query_id", "floor")
    matches.join(fdf, Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("matches") >= coalesce(col("floor"), lit(0L)), 1L)
          .otherwise(0L).as("ge_floor"))
      .orderBy("query_id")
  }

  // ---- dynamic / mutation surface (M1-M4), multi-vector labels -------------

  private val LabelK = 5

  /** Per-query top-5 labels by min distance over each label's vectors. */
  private def multiLabelQ(s: SparkSession, dir: String): DataFrame =
    MultiVector.searchByLabel(embQueries(s, dir),
        embVectors(s, dir)
          .select(col("id"), col("vec"), col("label").cast("long").as("label")),
        LabelK, Metric.L2)
      .orderBy("query_id", "rnk")

  /** Flat kNN with a soft-deleted (tombstoned) id set excluded (P8/M2). */
  private def tombstoneKnnQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    FlatKnn.searchWithTombstones(embQueries(s, dir), data,
        data.filter(col("id") % 7 === 0).select("id"), K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Dynamic-table lifecycle round trip: two segment appends, a soft-delete
    * batch, consolidate (physical rewrite), then read back (M1-M4). */
  private def dynConsolidateQ(s: SparkSession, dir: String): DataFrame = {
    val root = tmpBase + "/graft_dyn_q28"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val emb = embVectors(s, dir)
      .select(col("id"), col("vec"), col("label").cast("long").as("label"))
    tbl.addPoints(emb.filter(col("id") < 250))
    tbl.addPoints(emb.filter(col("id") >= 250))
    tbl.deleteIds(emb.filter(col("id") % 9 === 0).select("id"))
    tbl.consolidate()
    tbl.current.select("id", "label").orderBy("id")
  }

  /** q166: LABEL-level mutation (the reference's MultiMutableVamanaIndex
    * delete-label surface, multi.h:155): build the dynamic multi-vector
    * table, delete whole labels via the label→ids expansion, and search
    * by label — deleted labels must vanish from both the per-label minima
    * and the ranking. Oracle: the q26 per-label SQL with the labels
    * filtered out. */
  private def labelDeleteQ(s: SparkSession, dir: String): DataFrame = {
    val root = tmpBase + "/graft_dyn_q166"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val emb = embVectors(s, dir)
      .select(col("id"), col("vec"), col("label").cast("long").as("label"))
    MultiVector.addLabels(tbl, emb)
    MultiVector.deleteLabels(tbl,
      emb.select("label").distinct().filter(col("label") % 5 === 2))
    MultiVector.searchByLabel(embQueries(s, dir), tbl.current, LabelK,
        Metric.L2)
      .orderBy("query_id", "rnk")
  }

  /** q168: the dynamic lifecycle on BYTE storage — the i8 twin of q78:
    * segments hold ARRAY<TINYINT> rows through append, soft delete, and
    * consolidate (an eighth of the f64 segment bytes), and the
    * post-consolidate search runs FlatKnn's byte branch. Oracle: exact
    * kNN over the i8-quantized dims excluding the deleted ids. */
  private def dynI8Q(s: SparkSession, dir: String): DataFrame = {
    val root = tmpBase + "/graft_dyn_q168"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val emb = graft.functions.ByteVecs.markSigned(
      embVectors(s, dir).select(col("id"),
        graft.functions.ByteVecs.quantizeSigned(col("vec"), ByteScale)
          .as("vec")))
    tbl.addPoints(emb.filter(col("id") < 250))
    tbl.addPoints(emb.filter(col("id") >= 250))
    tbl.deleteIds(emb.filter(col("id") % 9 === 0).select("id"))
    tbl.consolidate()
    val live = tbl.current
    require(graft.functions.ByteVecs.isByteVec(
      live.schema("vec").dataType),
      s"dynamic table lost byte residency: ${live.schema("vec").dataType}")
    FlatKnn.search(embQueries(s, dir), live.select("id", "vec"), K,
        Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q78: the dynamic lifecycle on float32 storage (M1-M4) — segments keep
    * the embeddings parquet's native ARRAY<FLOAT> through append, soft
    * delete, and consolidate (half the segment bytes of the f64 twin), and
    * the post-consolidate search reads float rows and float queries with no
    * cast projection (bit-identical to the widened fold, F32BuildSpec).
    * Oracle: exact kNN excluding the deleted ids. */
  private def dynF32Q(s: SparkSession, dir: String): DataFrame = {
    val root = tmpBase + "/graft_dyn_q78"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val emb = Tables.table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    tbl.addPoints(emb.filter(col("id") < 250))
    tbl.addPoints(emb.filter(col("id") >= 250))
    tbl.deleteIds(emb.filter(col("id") % 9 === 0).select("id"))
    tbl.consolidate()
    val live = tbl.current
    // fail loudly if any lifecycle step silently widened the storage
    require(live.schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true) ||
      live.schema("vec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false),
      s"dynamic table lost f32 residency: ${live.schema("vec").dataType}")
    FlatKnn.search(
      memoized[DataFrame]("emb_queries_f32", dir) {
        Tables.table(s, dir, "embeddings")
          .filter(expr(Tables.embQueryPredSql))
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          .cache()
      }, live.select("id", "vec"), K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- IO surface (S1-S8) --------------------------------------------------

  /** fvecs write→read round trip: embeddings are float32 at the source, so
    * the trip is bit-exact; `matches` compares the read-back vector to the
    * original element-wise. Read-back ids are dense (path, row)-ordered,
    * which equals vec_id because embeddings ids are dense and the write is
    * range-partitioned by id. */
  private def fvecsRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_fvecs_q29"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.VecsIO.write(
      orig.repartitionByRange(4, col("id")), out, graft.sources.VecsIO.F32)
    val back = graft.sources.VecsIO.read(s, s"$out/*.fvecs")
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q139: the DataSource V2 vecs path (`spark.read.format("graftvecs")`)
    * — intra-file record-aligned splitting + pushed column pruning —
    * certified against q29's roundtrip oracle (both readers must produce
    * the identical frame). */
  private def dsv2VecsQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_fvecs_q139"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.VecsIO.write(
      orig.repartitionByRange(4, col("id")), out, graft.sources.VecsIO.F32)
    val back = s.read.format("graftvecs").load(s"$out/*.fvecs")
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q165: `.hvecs` (IEEE binary16) write→read round trip through the
    * DSv2 source. The trip is NOT bit-exact vs the double source — it is
    * exactly the certified f16 codec (q45): `matches` asserts the
    * read-back vector equals `float16_decode(float16_encode(vec))`
    * element-wise, tying the FILE codec to the expression codec. */
  private def hvecsRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HalfFloat._
    val out = tmpBase + "/graft_hvecs_q165"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.VecsIO.write(
      orig.repartitionByRange(4, col("id")), out, graft.sources.VecsIO.F16)
    val back = s.read.format("graftvecs").load(s"$out/*.hvecs")
      .withColumnRenamed("vec", "vec_back")
    val expect =
      float16Decode(float16Encode(col("vec"))).cast("array<double>")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec_back") === expect, 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q170: `.npy` write→read round trip (reference read_npy surface,
    * bindings/python/src/svs/common.py:62): one standalone npy shard per
    * partition out, dense (path, row)-ordered ids back. Embeddings are
    * float32 at the source, so the `<f4` trip is bit-exact — same
    * identity claim as q29's fvecs trip. */
  private def npyRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_npy_q170"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.NpyIO.write(
      orig.repartitionByRange(4, col("id")), out, "f4")
    val back = graft.sources.NpyIO.read(s, s"$out/*.npy")
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q171: the DSv2 npy path — `df.write.format("graftnpy")` shards out,
    * `spark.read.format("graftnpy")` reassembles with intra-file
    * row-aligned splitting (the 100 GB-file posture, q139's npy twin).
    * Embeddings are float32 at the source, so the default `<f4` trip is
    * bit-exact — same identity claim as q29/q170. */
  private def dsv2NpyQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_npy_q171"
    val orig = embVectors(s, dir).select("id", "vec")
    orig.repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graftnpy").mode("overwrite").save(out)
    val back = s.read.format("graftnpy").load(s"$out/*.npy")
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q172: STREAMING `.npy` shard ingest (`StreamingShards`) — embeddings
    * land as id-named shards in two waves (wave 1 before the stream
    * starts, wave 2 mid-stream), each micro-batch decodes only its new
    * files, and `base-<startId>.npy` names restore exact original ids.
    * Identity vs the source: f32 at origin, so the `<f4` trip is
    * bit-exact (q29/q170's claim), making the stream ≡ batch ≡ source. */
  private def npyStreamQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmpBase + "/graft_npy_q172"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-npy-q172-ckpt").toString
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val orig = embVectors(s, dir).select("id", "vec")
    val half = orig.count() / 2
    graft.sources.NpyIO.write(
      orig.filter(col("id") < half).repartitionByRange(2, col("id")),
      out, "f4", idShardNames = true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val q = graft.streaming.StreamTuning.withStatePartitions(s) {
      graft.streaming.StreamingShards.npyShardsWithIds(s, out)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
    }
    try {
      q.processAllAvailable()
      graft.sources.NpyIO.write(
        orig.filter(col("id") >= half).repartitionByRange(2, col("id")),
        out, "f4", idShardNames = true, append = true)
      q.processAllAvailable()
    } finally q.stop()
    val back = buf.toSeq.toDF("id", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q173: kNN SERVED off a byte-resident DSv2 npy ingest — u8-quantized
    * embeddings persist as u1 shards (id-ordered dense, so the source's
    * (path, row) ids reproduce the originals), reopen as ARRAY<TINYINT>
    * + the unsigned mark via `option("bytes")` (the >2 GB-capable
    * Deep1B ingest shape), and FlatKnn's byte branch ranks them —
    * certified against q164's oracle: the file round trip must feed the
    * kernel the exact same value space. */
  private def knnNpyBytesQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_npy_q173"
    val u8 = graft.functions.ByteVecs.markUnsigned(
      embVectors(s, dir).select(col("id"),
        graft.functions.ByteVecs.quantizeUnsigned(col("vec"), ByteScale)
          .as("vec")))
    graft.sources.NpyIO.writeBytes(
      u8.repartitionByRange(4, col("id")).sortWithinPartitions("id"), out)
    val data = s.read.format("graftnpy").option("bytes", "true")
      .load(s"$out/*.npy")
    FlatKnn.search(embQueries(s, dir), data, K, Metric.IP)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q174: the bvecs twin of q173 — u8-quantized embeddings write
    * BYTE-RESIDENT through the graftvecs DSv2 (raw bits into the u8
    * container), reopen via `option("bytes")` with the mark and range
    * splitting (the Deep1B 128 GB-single-file shape), and FlatKnn's byte
    * branch serves them against q164's oracle. */
  private def knnBvecsBytesQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_bvecs_q174"
    val u8 = graft.functions.ByteVecs.markUnsigned(
      embVectors(s, dir).select(col("id"),
        graft.functions.ByteVecs.quantizeUnsigned(col("vec"), ByteScale)
          .as("vec")))
    u8.repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graftvecs").mode("overwrite").save(out)
    val data = s.read.format("graftvecs").option("bytes", "true")
      .load(s"$out/*.bvecs")
    FlatKnn.search(embQueries(s, dir), data, K, Metric.IP)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q175: kNN SERVED off an f16-RESIDENT hvecs DSv2 round trip — the
    * last element-type residency rung (reference float16 datasets,
    * lib/float16.h; kernels widen-at-use per
    * include/svs/core/distance/euclidean.h:88-105). i8-quantized
    * embeddings (integers, exactly binary16-representable) encode
    * through the certified f16 codec (q45), persist raw bits as .hvecs,
    * reopen half-resident via `option("half")`, and FlatKnn's half
    * branch ranks them — certified against q163's i8 oracle: neither
    * the codec, the file trip, nor the half kernel may move a value.
    * General (non-integer) values are pinned separately by HalfKnnSpec's
    * bit-equality against decoded-float serving. */
  private def knnHalfF16Q(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_hvecs_q175"
    val i8wide = embVectors(s, dir).select(col("id"),
      graft.functions.ByteVecs.quantizeSigned(col("vec"), ByteScale)
        .cast("array<double>").as("vec"))
    val h = graft.functions.HalfVecs.toHalf(i8wide,
      graft.functions.HalfVecs.F16)
    h.repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graftvecs").mode("overwrite").save(out)
    val data = s.read.format("graftvecs").option("half", "true")
      .load(s"$out/*.hvecs")
    FlatKnn.search(embQueries(s, dir), data, K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q176: the bfloat16 twin — u8-quantized embeddings (integers 0..255,
    * exactly bf16-representable: 8 significant bits) encode via the
    * certified bf16 truncation codec and serve IN-MEMORY bf16-resident
    * (bf16 has no vecs/npy container — reference lib/bfloat16.h datasets
    * live in .svs) against q164's u8 oracle. */
  private def knnHalfBf16Q(s: SparkSession, dir: String): DataFrame = {
    val u8wide = embVectors(s, dir).select(col("id"),
      graft.functions.ByteVecs.widen(
        graft.functions.ByteVecs.quantizeUnsigned(col("vec"), ByteScale),
        unsigned = true).as("vec"))
    val data = memoized[DataFrame]("emb_vectors_bf16", dir) {
      graft.functions.HalfVecs.toHalf(u8wide,
        graft.functions.HalfVecs.BF16).cache()
    }
    FlatKnn.search(embQueries(s, dir), data, K, Metric.IP)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q177: the stored f16 graph layout END-TO-END — i8-quantized
    * embeddings (integers, exactly binary16-representable) encode
    * half-resident, build the sharded Vamana graph HALF-RESIDENT
    * (VamanaKernel.HalfStore, 1/4 the f64 task bytes), persist through
    * GraphLayout (f16 data on disk + the half_format sidecar), reopen,
    * and serve the exhaustive-window probe-and-walk — ≡ the q24-style
    * exact-within-probed-shards oracle on the quantized values. Pins the
    * whole stored-half lifecycle, not just the flat scan (q175). */
  private def vamanaStoredHalfQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q177_graph_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val layout =
      memoized[graft.operators.GraphLayout.Layout]("graph_layout_f16", dir) {
        val clH = graft.functions.HalfVecs.toHalf(
          embVectors(s, dir).select(col("id"),
            graft.functions.ByteVecs.quantizeSigned(col("vec"), ByteScale)
              .cast("array<double>").as("vec"),
            col("label").cast("long").as("cluster_id")),
          graft.functions.HalfVecs.F16).cache()
        val cents = labelCentroidsOf(
          graft.functions.HalfVecs.widenedForMath(clH))
        val g = Vamana.buildSharded(clH, VamanaParams, Metric.L2)
        graft.operators.GraphLayout.write(clH, g, cents, path)
        graft.operators.GraphLayout.open(s, path)
      }
    Vamana.searchSharded(embQueries(s, dir), layout.clustered, layout.graph,
        layout.centroids, K, searchWindow = 1 << 14, nProbes = VamanaProbes,
        Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q183: the stored BF16 graph layout END-TO-END — q177's lifecycle
    * with the bfloat16 codec: i8-quantized embeddings (integers |v| ≤
    * 127·scale, exactly bf16-representable — 7 mantissa bits + implicit
    * one cover integers to 256) encode bf16-resident, build the sharded
    * Vamana graph over the bf16 store, persist (bf16 data on disk + the
    * half_format sidecar), reopen, and serve the exhaustive-window
    * probe-and-walk — the bf16 truncation of these integers is exact, so
    * q177's i8 oracle certifies the whole stored-bf16 lifecycle. */
  private def vamanaStoredBf16Q(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_q183_graph_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val layout =
      memoized[graft.operators.GraphLayout.Layout]("graph_layout_bf16",
        dir) {
        val clH = graft.functions.HalfVecs.toHalf(
          embVectors(s, dir).select(col("id"),
            graft.functions.ByteVecs.quantizeSigned(col("vec"), ByteScale)
              .cast("array<double>").as("vec"),
            col("label").cast("long").as("cluster_id")),
          graft.functions.HalfVecs.BF16).cache()
        val cents = labelCentroidsOf(
          graft.functions.HalfVecs.widenedForMath(clH))
        val g = Vamana.buildSharded(clH, VamanaParams, Metric.L2)
        graft.operators.GraphLayout.write(clH, g, cents, path)
        graft.operators.GraphLayout.open(s, path)
      }
    Vamana.searchSharded(embQueries(s, dir), layout.clustered, layout.graph,
        layout.centroids, K, searchWindow = 1 << 14, nProbes = VamanaProbes,
        Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q178: the TWO-PASS single-file npy egress — a multi-partition frame
    * lands as ONE `np.load`-able array (segments streamed per partition,
    * header + concat after the dense-id audit), and the DSv2 source
    * range-splits that single file back. f32 at origin, so the `<f4`
    * trip is bit-exact — q170's identity claim through the
    * single-file writer instead of the shard writer. */
  private def npySingleFileQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_npy_q178/all.npy"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.NpyIO.writeSingleFile(
      orig.repartition(4), out, "f4")
    val back = s.read.format("graftnpy").load(out)
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** q179: MANIFEST-driven streaming shard ingest — q172's landing-zone
    * shape when directory listing is the bottleneck (10⁶ shards on an
    * object store): producers append manifest files naming their landed
    * shards, the stream lists only manifests, and a shard REPLAYED by a
    * later manifest (at-least-once delivery) decodes exactly once.
    * Wave 2's manifest deliberately re-lists wave 1. Identity vs the
    * source: the same stream ≡ batch ≡ source claim as q172. */
  private def npyManifestStreamQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmpBase + "/graft_npy_q179"
    val mani = s"$out/manifests"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-npy-q179-ckpt").toString
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(mani))
    def writeManifest(name: String, lines: Seq[String]): Unit = {
      val os = fs.create(new org.apache.hadoop.fs.Path(mani, name), true)
      os.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      os.close()
    }
    def shardPaths: Seq[String] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$out/shards"))
      .toSeq.map(_.getPath.toString).filter(_.endsWith(".npy")).sorted
    val orig = embVectors(s, dir).select("id", "vec")
    val half = orig.count() / 2
    graft.sources.NpyIO.write(
      orig.filter(col("id") < half).repartitionByRange(2, col("id")),
      s"$out/shards", "f4", idShardNames = true)
    val wave1 = shardPaths
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val q = graft.streaming.StreamTuning.withStatePartitions(s) {
      graft.streaming.StreamingShards
        .npyShardsFromManifestsWithIds(s, mani)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
    }
    try {
      writeManifest("manifest-000.txt", Seq("# wave 1") ++ wave1)
      q.processAllAvailable()
      graft.sources.NpyIO.write(
        orig.filter(col("id") >= half).repartitionByRange(2, col("id")),
        s"$out/shards", "f4", idShardNames = true, append = true)
      // at-least-once producer: wave 2's manifest re-lists wave 1
      writeManifest("manifest-001.txt", shardPaths)
      q.processAllAvailable()
    } finally q.stop()
    val back = buf.toSeq.toDF("id", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  private val SynN = 10000L
  private val SynDims = 16
  private val SynStride = 500L

  /** Synthetic-generator kNN (S8): deterministic LCG dataset + exact flat
    * groundtruth; DuckDB reproduces the generator formula bit-for-bit. */
  private def syntheticKnnQ(s: SparkSession, dir: String): DataFrame = {
    val data = graft.sources.SyntheticData.generate(s, SynN, SynDims)
    val q = graft.sources.SyntheticData.generateQueries(s, SynN, SynDims,
      SynStride)
    FlatKnn.search(q, data, K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- inverted two-level (J4/B6) + hierarchical k-means (A3) -------------

  private val InvLeaderMod = 25L
  private val InvLeaderRes = 7L
  private val InvNLeaders = 3
  private val InvEps = 1.2

  private def invLeaders(s: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    Inverted.pickLeaders(embVectors(s, dir).select("id", "vec"),
      col("id") % InvLeaderMod === InvLeaderRes)

  private def invertedSearchQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val leaders = invLeaders(s, dir)
    val clustered = Inverted.cluster(data, leaders)
    Inverted.search(embQueries(s, dir), clustered, leaders,
        K, InvNLeaders, InvEps, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** J4 on its scale path (q62): leader scoring routed through a Vamana
    * graph over the leaders — the reference's own large-leader-set design
    * (inverted/memory_based.h:334 builds the primary index over leaders).
    * With an exhaustive leader window + full fetch the retrieved leader
    * ranking is exact, so the result provably equals [[invertedSearchQ]]
    * (InvertedSpec) and shares q31's oracle — but the plan has NO
    * driver-side leader scoring: routing is a distributed graph walk. */
  private def invertedLeaderIdxQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val leaders = invLeaders(s, dir)
    val clustered = Inverted.cluster(data, leaders)
    Inverted.searchWithLeaderIndex(embQueries(s, dir), clustered, leaders,
        K, InvNLeaders, InvEps, Metric.L2, leaderWindow = 1 << 14,
        fetchLeaders = leaders.length)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q108: J4 over the REPLICATED (copied-leaves) clustering — the
    * reference's epsilon/max_replicas assignment expansion
    * (inverted/clustering.h:49-56) + DenseClusteredDataset storage
    * (memory_based.h:202-236): boundary rows are copied into every leader
    * within (1+ε_rep)· their nearest-leader distance, search dedups
    * replicated hits by id. */
  private val InvRepEps = 0.25
  private val InvRepMax = 3

  private def invertedReplicatedQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val leaders = invLeaders(s, dir)
    val clustered = Inverted.clusterReplicated(data, leaders, InvRepEps,
      InvRepMax)
    Inverted.searchReplicated(embQueries(s, dir), clustered, leaders,
        K, InvNLeaders, InvEps, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  private def hierKmeansQ(s: SparkSession, dir: String): DataFrame =
    KMeans.hierarchicalAssign(liDedup(s, dir),
        Tables.lineitemCentroids(s, dir), Tables.lineitemL2Seeds(s, dir))
      .orderBy("id")

  // ---- multimodal binary columns (stub codec, real plumbing) --------------

  /** Decode stats over the packed media table (batch-wise mapPartitions
    * kernel; checksum fold reproducible in SQL for ASCII payloads). */
  private def mediaDecodeQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStats(Multimodal.pack(docs(s, dir)))
      .orderBy("doc_id")

  /** SQ code table with the per-row sums that unlock decode-free IP/cosine
    * (q55/q56). */
  private def sqEncSums(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("sq_enc_sums", dir) {
      val p = memoized[ScalarQuant.Params]("emb_sq_params", dir) {
        ScalarQuant.train(embVectors(s, dir).select("id", "vec"))
      }
      ScalarQuant.encodeWithSums(embVectors(s, dir).select("id", "vec"), p)
        .cache()
    }

  private def sqCodeSearchQ(metric: Metric)(s: SparkSession, dir: String)
      : DataFrame = {
    val p = memoized[ScalarQuant.Params]("emb_sq_params", dir) {
      ScalarQuant.train(embVectors(s, dir).select("id", "vec"))
    }
    ScalarQuant.searchOnCodes(embQueries(s, dir), sqEncSums(s, dir), p, K,
        metric)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Real-container media decode (q54): actual WAV/PPM bytes through the
    * pure-JVM parsers, position-weighted sample sums checked by the
    * oracle's replay of the generator formula. */
  private def mediaRealQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeSums(Multimodal.packReal(docs(s, dir)))
      .orderBy("doc_id")

  /** q79: the q54 decode through the mapInPandas-shaped columnar batch API
    * (BatchApi.mapInBatches — declared output schema, bounded columnar
    * batches) with the same RawCodec kernel; must be row-identical to the
    * mapPartitions form, so it shares q54's oracle. */
  private def mediaBatchApiQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeSumsBatchApi(Multimodal.packReal(docs(s, dir)))
      .orderBy("doc_id")

  /** Compressed-container decode (q63): real PNG bytes through the JDK
    * ImageIO decoder; lossless, so the oracle replays exact sample sums. */
  private def mediaPngQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeSums(Multimodal.packPng(docs(s, dir)),
        Multimodal.ImageIoCodec)
      .orderBy("doc_id")

  /** Video-container decode (q70): real YUV4MPEG2 bytes through RawCodec's
    * Y4M parser; the per-frame weighted sum certifies the parser segmented
    * frames at the container's actual FRAME markers. */
  private def mediaY4mQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.y4mStats(Multimodal.packY4m(docs(s, dir)))
      .orderBy("doc_id")

  /** Streaming multimodal ingest (q71, stream twin of q70): the same real
    * Y4M containers fed through [[graft.streaming.StreamingMedia]] in two
    * micro-batches (odd split: ~1/3 then the rest). Media decode is
    * per-document independent, so the union of micro-batch stats equals
    * the batch operator's output and the query shares q70's oracle. */
  private def streamY4mQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Multimodal.MediaRow]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-y4m").toString
    val q = graft.streaming.StreamingMedia.attachY4mStats(mem.toDF(), ckpt) {
      res =>
        val rows = res.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        buf.synchronized { buf ++= rows }
    }
    val media = Multimodal.packY4m(docs(s, dir)).collect()
    try {
      val (a, b) = media.splitAt(media.length / 3)
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    buf.toSeq
      .toDF("doc_id", "n_frames", "n_samples", "sum1", "sum_frame")
      .orderBy("doc_id")
  }

  /** Tolerated per-sample error for q64's JPEG invariants: gray gradients
    * at quality 1.0 measure maxErr ≤ 2 locally; 8 leaves decoder headroom
    * while still certifying a real lossy decode. */
  private val JpegTol = 8

  /** Lossy-compressed decode invariants (q64): real JPEG bytes through
    * ImageIO, certified via the q50/q25 invariant-flag pattern. */
  private def mediaJpegQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.jpegDecodeFlags(Multimodal.packJpeg(docs(s, dir)), JpegTol)
      .orderBy("doc_id")

  /** Compressed-VIDEO decode invariants (q107): real MJPEG AVI containers
    * (RIFF walk + per-frame ImageIO JPEG) — frame count, geometry, and
    * sample count from the PARSED container, per-sample error ≤ JpegTol
    * against the generator formula. Closes the last media stub. */
  private def mediaAviQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.mjpegDecodeFlags(Multimodal.packAvi(docs(s, dir)), JpegTol)
      .orderBy("doc_id")

  /** Whitespace + BPE-ish-regex token counts side by side. */
  private def bpeTokensQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).as("n_ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
      .orderBy("doc_id")

  private val KReorder = 3

  /** IVF probe + SQ-compressed scan + full-precision reorder (k_reorder)
    * over the label-sharded embeddings. The codes are RESIDENT (attached
    * once, cached) — the coarse pass scans smallint codes only, mirroring
    * the reference keeping SQ codes as the dataset it scans. */
  private def ivfReorderQ(s: SparkSession, dir: String): DataFrame = {
    val p = memoized[ScalarQuant.Params]("emb_sq_params", dir) {
      ScalarQuant.train(embVectors(s, dir).select("id", "vec"))
    }
    val clustered = memoized[DataFrame]("emb_clustered_codes", dir) {
      IvfIndex.withResidentCodes(embLabelClustered(s, dir), p).cache()
    }
    IvfIndex.searchWithReorder(embQueries(s, dir), clustered,
        embLabelCentroids(s, dir), p, K, VamanaProbes, KReorder)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- events table: time-dimension pipeline ops --------------------------

  private val SimhashMaxHamming = 1
  private val SimhashBands = 2
  private val SessionGapMin = 30
  private val PathLen = 8

  private def simhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks")),
      SimhashMaxHamming, SimhashBands).orderBy("doc_a", "doc_b")

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  private def eventWindowsQ(s: SparkSession, dir: String): DataFrame =
    EventOps.tumblingCounts(events(s, dir))
      .orderBy("window_start", "event_type")

  private def sessionsQ(s: SparkSession, dir: String): DataFrame =
    EventOps.sessionize(events(s, dir), SessionGapMin)
      .orderBy("user_id", "session_id")

  private def userPathsQ(s: SparkSession, dir: String): DataFrame =
    EventOps.userPaths(events(s, dir), PathLen).orderBy("user_id")

  /** Event-time interval self-join (batch twin of the stream-stream join;
    * EventOpsSpec proves streaming ≡ batch pair-for-pair). */
  private def recentContextQ(s: SparkSession, dir: String): DataFrame =
    EventOps.recentContext(events(s, dir), SessionGapMin)
      .orderBy("event_id", "user_id")

  private val ValPct = 10
  private val TestPct = 10

  /** Content-hashed train/val/test split (leakage-safe: duplicate texts
    * share a split). */
  private def datasetSplitQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextAnalysis.datasetSplit(col("text"), ValPct, TestPct).as("split"))
      .orderBy("doc_id")

  // ---- round-2: oracle certification of the spec-only operators -----------

  /** .svs native-file write→read round trip (S3): float32 payload is
    * bit-exact for the float32-sourced embeddings; .svs row ids are dense in
    * id order, which equals vec_id (dense ids). */
  private def svsRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_svs_q42/emb.svs"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.SvsNative.write(orig, out, graft.sources.VecsIO.F32)
    val back = graft.sources.SvsNative.read(s, out)
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** Headerless raw-binary write→read round trip (S4). */
  private def rawBinRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_rawbin_q43"
    val orig = embVectors(s, dir).select("id", "vec")
    graft.sources.VecsIO.writeRawBinary(
      orig.repartitionByRange(4, col("id")), out, Tables.embDims,
      graft.sources.VecsIO.F32)
    val back = graft.sources.VecsIO.readRawBinary(s, s"$out/*.bin",
        Tables.embDims, graft.sources.VecsIO.F32)
      .withColumnRenamed("vec", "vec_back")
    orig.join(back, Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        when(col("vec") === col("vec_back"), 1L).otherwise(0L).as("matches"))
      .orderBy("id")
  }

  /** Directory save/load with sidecar schema check + S6 auto-dispatch
    * (open() routes a non-vecs path through the sidecar-checked load). */
  private def tableSaveLoadQ(s: SparkSession, dir: String): DataFrame = {
    val out = tmpBase + "/graft_vtable_q44"
    val orig = embVectors(s, dir).select("id", "vec")
    val meta = graft.sources.VectorTable.save(orig, out, eltype = "float64")
    val metaOk = meta.dims == Tables.embDims && meta.count == orig.count() &&
      meta.schema == graft.sources.VectorTable.SchemaName
    val back = graft.sources.VectorTable.open(s, out)
      .withColumnRenamed("vec", "vec_back")
    orig.join(back.select("id", "vec_back"), Seq("id"))
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        (when(col("vec") === col("vec_back"), 1L).otherwise(0L) *
          lit(if (metaOk) 1L else 0L)).as("matches"))
      .orderBy("id")
  }

  /** f16/bf16 codec certification (S7/P5): per row, counts of positions where
    * (a) re-encoding the decoded value reproduces the identical bit pattern
    * (idempotency — exact integer compare) and (b) the decode error is within
    * the IEEE half-ULP bound (f16 round-to-nearest: |v|·2⁻¹¹ or the 2⁻²⁴
    * subnormal floor; bf16 truncation: |v|·2⁻⁷). All counts must equal dims,
    * which the oracle asserts. */
  private def halfRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HalfFloat._
    val v = col("vec")
    val enc16 = float16Encode(v)
    val dec16 = float16Decode(enc16).cast("array<double>")
    val idem16 = float16Encode(float16Decode(enc16))
    val enc8 = bfloat16Encode(v)
    val dec8 = bfloat16Decode(enc8).cast("array<double>")
    val idem8 = bfloat16Encode(bfloat16Decode(enc8))
    def cnt(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      size(filter(b, x => x)).cast("long")
    embVectors(s, dir).select(col("id"),
        size(v).cast("long").as("dims"),
        cnt(zip_with(enc16, idem16, (a, b) => a === b)).as("f16_idem"),
        cnt(zip_with(v, dec16, (a, b) => abs(a - b) <=
          greatest(abs(a) * lit(4.8828125e-4), lit(5.9604645e-8))))
          .as("f16_close"),
        cnt(zip_with(enc8, idem8, (a, b) => a === b)).as("bf16_idem"),
        cnt(zip_with(v, dec8, (a, b) => abs(a - b) <=
          greatest(abs(a) * lit(7.8125e-3), lit(1e-38)))).as("bf16_close"))
      .orderBy("id")
  }

  /** Row reconstruction (P10): fetch stored vectors for an id subset; the
    * left-fold element sum (micro-rounded) is the content witness DuckDB
    * recomputes with the same fold order. */
  private def reconstructQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val ids = data.filter(col("id") % 11 === 3).select("id")
    val vsum = (1 until Tables.embDims)
      .foldLeft(col("vec").getItem(0))((acc, i) => acc + col("vec").getItem(i))
    Reconstruct.reconstruct(ids, data)
      .select(col("id"), size(col("vec")).cast("long").as("dims"),
        floor(vsum * lit(1000000.0) + lit(0.5)).cast("long").as("vsum_micro"))
      .orderBy("id")
  }

  /** Batch point-distance lookup (P11): distance between each query vector
    * and the stored row with id = query_id + 1. */
  private def pointDistanceQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val lookups = embQueries(s, dir)
      .select((col("query_id") + 1).as("id"), col("qvec"))
    Reconstruct.getDistances(lookups, data, Metric.L2)
      .select(col("id"),
        floor(col("dist") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("dist_micro"))
      .orderBy("id")
  }

  /** Graph degree stats (A8) over the built Vamana shards: per-shard node
    * counts are exact (= label counts); degree bounds are the build
    * invariants (≤ maxDegree, ≥ 1 whenever the shard has ≥ 2 nodes). */
  private def degreeStatsQ(s: SparkSession, dir: String): DataFrame =
    Vamana.degreeStats(embGraph(s, dir))
      .select(col("cluster_id"), col("nodes"),
        when(col("max_degree") <= VamanaParams.maxDegree, 1L).otherwise(0L)
          .as("deg_le_cap"),
        when(col("min_degree") >= 1 || col("nodes") <= 1, 1L).otherwise(0L)
          .as("min_ge_one"))
      .orderBy("cluster_id")

  private val Pages = 3

  /** Batch iterator (M5): three successive pages never repeat ids and their
    * union equals the exact top-(3·k) — which is precisely what the oracle's
    * paged ranking expresses. */
  private def batchPagesQ(s: SparkSession, dir: String): DataFrame = {
    val it = new BatchIterator(embQueries(s, dir),
      embVectors(s, dir).select("id", "vec"), Metric.L2)
    (0 until Pages).map { p =>
      it.next(K).select(col("query_id"), lit(p.toLong).as("page"),
        col("rnk"), col("neighbor_id"))
    }.reduce(_ unionByName _).orderBy("query_id", "page", "rnk")
  }

  /** IVF batch iterator pages (q65): with every cluster probed the probe
    * scan is the exact ranking, so successive no-repeat pages equal the
    * exact top-k·pages split into pages — q49's oracle shape on the IVF
    * iterator (reference index/ivf/iterator.h). */
  private def ivfPagesQ(s: SparkSession, dir: String): DataFrame = {
    val cents = embLabelCentroids(s, dir)
    val it = new IvfBatchIterator(embQueries(s, dir),
      embLabelClustered(s, dir), cents, Metric.L2, baseProbes = cents.size)
    (0 until Pages).map { p =>
      it.next(K).select(col("query_id"), lit(p.toLong).as("page"),
        col("rnk"), col("neighbor_id"))
    }.reduce(_ unionByName _).orderBy("query_id", "page", "rnk")
  }

  /** Paged multi-label search with cross-batch label dedupe (q66): pages of
    * the exact per-label ranking, labels never repeating across pages
    * (reference index/vamana/multi.h:60-123). */
  private def multiLabelPagesQ(s: SparkSession, dir: String): DataFrame = {
    val it = new MultiLabelBatchIterator(embQueries(s, dir),
      embVectors(s, dir)
        .select(col("id"), col("vec"), col("label").cast("long").as("label")),
      Metric.L2)
    (0 until 2).map { p =>
      it.next(LabelK).select(col("query_id"), lit(p.toLong).as("page"),
        col("rnk"), col("label"), col("best_id"))
    }.reduce(_ unionByName _).orderBy("query_id", "page", "rnk")
  }

  private val CalTarget = 0.95
  private val CalMaxWindow = 64

  /** Search-window calibration (B7): binary-search the smallest window with
    * recall ≥ target against the probed-shard-exact groundtruth; the output
    * flags (achieved / minimal / bounded) are invariants of a correct
    * calibration, asserted by the oracle. */
  private def calibrateQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = embLabelCentroids(s, dir)
    val q = embQueries(s, dir)
    // calibration runs ~log2(maxWindow) searches over the SAME shards: pay
    // the clustered ⋈ graph co-location shuffle once, walk per window
    val pre = Vamana.prepareShards(embLabelClustered(s, dir), embGraph(s, dir))
    def searchAt(w: Int): DataFrame =
      Vamana.searchPrepared(q, pre, cents, K, w, VamanaProbes, Metric.L2)
    // truth collected ONCE to a driver set (bounded |Q|·k, the calibrate
    // contract); each dial's recall is one bounded collect, not a join +
    // distinct + count chain
    val truthSet = Calibrate.truthSetOf(
      searchAt(1 << 14).select("query_id", "neighbor_id"))
    // ONE memoized recall-per-dial shared between the binary search and
    // the w−1 minimality probe — each evaluation is a full search + recall
    // job chain (pure fixed cost to repeat), and the probe's dial is
    // usually one the search already paid for
    val nq = truthSet.iterator.map(_._1).toSet.size.toLong
    val recallMemo = scala.collection.mutable.Map.empty[Int, Double]
    def recallOf(w: Int): Double = recallMemo.getOrElseUpdate(w,
      Calibrate.recallPairsLocal(searchAt(w), truthSet, K, nq))
    val (w, rec) = Calibrate.calibrateWindowWith(recallOf, CalTarget,
      K, CalMaxWindow)
    val minimal =
      if (w <= K) 1L
      else if (recallOf(w - 1) < CalTarget) 1L else 0L
    val out = Seq((if (rec >= CalTarget) 1L else 0L, minimal,
      if (w <= CalMaxWindow) 1L else 0L))
      .toDF("achieved", "minimal", "bounded")
    pre.unpersist()
    out
  }

  private val UpdOffset = 1000000L

  /** Dynamic sharded-index mutation (M6): add a batch (duplicates under new
    * ids), soft-delete a batch, rebuild only the touched shards, then search
    * with an exhaustive window — equal to exact top-k over the probed shards
    * of the updated universe, which the oracle expresses directly. */
  private def updateShardsQ(s: SparkSession, dir: String): DataFrame = {
    val clustered = embLabelClustered(s, dir)
    val graph = embGraph(s, dir)
    val added = embVectors(s, dir).filter(col("id") % 10 === 4)
      .select((col("id") + UpdOffset).as("id"), col("vec"),
        col("label").cast("long").as("cluster_id"))
    val deleted = embVectors(s, dir).filter(col("id") % 13 === 5).select("id")
    val (nc, ng) = Vamana.updateShards(clustered, graph, added, deleted,
      VamanaParams, Metric.L2)
    Vamana.searchSharded(embQueries(s, dir), nc, ng,
        labelCentroidsOf(nc), K, searchWindow = 1 << 14,
        nProbes = VamanaProbes, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Memoized LVQ codec (mean + encoded table) over the embeddings. */
  private def lvqParams(s: SparkSession, dir: String): Lvq.Params =
    memoized[Lvq.Params]("lvq_params", dir) {
      Lvq.Params(Lvq.trainMean(embVectors(s, dir).select("id", "vec")))
    }

  private def lvqEncoded(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("lvq_encoded", dir) {
      Lvq.encode(embVectors(s, dir).select("id", "vec"),
        lvqParams(s, dir)).cache()
    }

  /** LVQ two-level residual codes (the public-paper codec): bit-exact
    * integer codes replayed by the oracle's identical affine chain. */
  private def lvqCodesQ(s: SparkSession, dir: String): DataFrame =
    Lvq.encodeExploded(embVectors(s, dir).select("id", "vec"),
      lvqParams(s, dir)).orderBy("id", "pos")

  /** LVQ compressed search: coarse level-1 scan + two-level re-rank — full
    * precision never read. */
  private def lvqSearchQ(s: SparkSession, dir: String): DataFrame =
    Lvq.search(embQueries(s, dir), lvqEncoded(s, dir),
        lvqParams(s, dir), K, KReorder)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")

  /** IVF probe + LVQ coarse scan + two-level re-rank (q58): cluster
    * partition pruning composed with the residual codec as the resident
    * representation — the coarse pass ranks with the codegen'd
    * Lvq1Distance over (c1, lo1, s1) only; `vec` is never read. */
  private def ivfLvqReorderQ(s: SparkSession, dir: String): DataFrame = {
    val p = lvqParams(s, dir)
    val clustered = memoized[DataFrame]("emb_clustered_lvq", dir) {
      IvfIndex.withResidentLvq(embLabelClustered(s, dir), p).cache()
    }
    IvfIndex.searchWithLvqReorder(embQueries(s, dir), clustered,
        embLabelCentroids(s, dir), p, K, VamanaProbes, KReorder)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Streaming kNN (q59): the q01 query set fed as two MemoryStream
    * micro-batches against the static lineitem vector table
    * ([[graft.streaming.StreamingKnn.attachFlat]]). kNN against a static
    * index is per-query independent, so the union of micro-batch results
    * is pair-for-pair equal to the one-shot batch search and the query
    * shares q01's oracle. Micro-batches split on query_id boundaries
    * (lineitem query ids repeat; a straddling id would top-k twice). */
  private def streamKnnQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("query_id", "qvec")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-knn").toString
    val data = liVectors(s, dir)
    val q = graft.streaming.StreamingKnn.attachFlat(stream, data, K,
      Metric.L2, ckpt) { res =>
      val rows = res.select("query_id", "rnk", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      buf.synchronized { buf ++= rows }
    }
    val groups = liQueries(s, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.toSeq)
    try {
      val (a, b) = groups.splitAt(groups.length / 2)
      mem.addData(a.flatten)
      q.processAllAvailable()
      mem.addData(b.flatten)
      q.processAllAvailable()
    } finally q.stop()
    buf.toSeq.toDF("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Streaming exact dedup (stream twin of q17): the same docs fed through
    * [[graft.streaming.StreamingDedup]] in two micro-batches split so most
    * keys span both and higher ids arrive first — the commutative (min, sum)
    * state merge must still converge to the batch groupBy result. */
  private def streamDedupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val toks = TextAnalysis.tokens(col("text"))
    val rows = docs(s, dir)
      .select(concat_ws(" ", element_at(toks, 1), element_at(toks, 2))
        .as("key"), col("doc_id").as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("key", "id")
    val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-dedup").toString
    val q = graft.streaming.StreamingDedup.attachExact(stream, ckpt) { b =>
      val ups = b.select("key", "keep_id", "cnt").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      acc.synchronized { ups.foreach { case (k, v) => acc(k) = v } }
    }
    try {
      val (odd, even) = rows.partition(_._2 % 2 == 1)
      mem.addData(odd.toSeq)
      q.processAllAvailable()
      mem.addData(even.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    acc.toSeq.map { case (k, (kid, c)) => (k, kid, c) }
      .toDF("key", "keep_id", "cnt").orderBy("key")
  }

  /** q84: streaming wide-SimHash near-dup pairs over two micro-batches
    * (odd doc_ids arrive first), set-accumulated across bands — must equal
    * the batch [[Dedup.simhashWidePairs]] result, so it shares q82's
    * brute-force hamming oracle. Arrival-order-proof: a pair is emitted
    * when its later doc arrives, and the accumulated SET is order- and
    * batch-boundary-invariant. */
  private def streamSimhashQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val acc = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-simhash").toString
    val q = graft.streaming.StreamingSimhash.attachWidePairs(stream,
      SimhashMaxHamming, nBands = 4, ckpt) { b =>
      val ps = b.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      acc.synchronized { ps.foreach(acc += _) }
    }
    try {
      val (odd, even) = rows.partition(_._1 % 2 == 1)
      mem.addData(odd.toSeq)
      q.processAllAvailable()
      mem.addData(even.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    acc.toSeq.toDF("doc_a", "doc_b").orderBy("doc_a", "doc_b")
  }

  /** q99: streaming MinHash-LSH near-dup pairs over two micro-batches (odd
    * doc_ids first), set-accumulated across bands — must equal the batch
    * [[graft.operators.Dedup.minhashLshPairs]] result, so it shares q20's
    * signature-replay oracle. Completes the streaming dedup family:
    * exact (q61), SimHash (q84), embedding LSH (q85), MinHash (this). */
  private def streamMinhashQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val acc = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-minhash").toString
    val q = graft.streaming.StreamingMinhash.attachLshPairs(stream, ckpt) {
      b =>
        val ps = b.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        acc.synchronized { ps.foreach(acc += _) }
    }
    try {
      val (odd, even) = rows.partition(_._1 % 2 == 1)
      mem.addData(odd.toSeq)
      q.processAllAvailable()
      mem.addData(even.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    acc.toSeq.toDF("doc_a", "doc_b").orderBy("doc_a", "doc_b")
  }

  /** q85: streaming multi-probe embedding near-dup over two micro-batches
    * (odd ids first), set-accumulated — must equal the batch
    * [[Dedup.embeddingNearDupLshMultiProbe]] pairs, so it shares q83's
    * brute-force hamming oracle. */
  private def streamNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = embVectors(s, dir).select("id", "vec")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("id", "vec")
    val acc = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-neardup").toString
    val q = graft.streaming.StreamingNearDup.attachMultiProbe(stream,
      lshPlanes(s, dir), CosineT, ckpt) { b =>
      val ps = b.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      acc.synchronized { ps.foreach(acc += _) }
    }
    try {
      val (odd, even) = rows.partition(_._1 % 2 == 1)
      mem.addData(odd.toSeq)
      q.processAllAvailable()
      mem.addData(even.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    acc.toSeq.toDF("id_a", "id_b").orderBy("id_a", "id_b")
  }

  private val QMin = 500L

  /** Composite training-data pipeline (q60): quality + language gate (map,
    * duplicate-invariant so it commutes with dedup) → exact dedup by
    * content fingerprint (the single shuffle) → token count +
    * leakage-safe content-hashed split — the end-to-end corpus-build
    * shape, every stage reusing a certified operator. */
  private def pipelineQ(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val gated = docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.qualityScore(col("text")).as("score"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        TextAnalysis.tokenCount(toks).as("n_tokens"),
        TextAnalysis.datasetSplit(col("text"), ValPct, TestPct).as("split"))
      .filter(col("score") >= QMin && col("pred_lang") === "en")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "n_tokens", "score", "split")
      .orderBy("doc_id")
  }

  // ---- LeanVec: learned dim-reduction + two-pass search -------------------

  private val LeanVecDims = 16
  private val LeanVecReorder = 8
  /** Variance captured by 16 of 64 PCA directions — near-isotropic synthetic
    * embeddings put it at ≈ r/d = 0.25; floor leaves margin below that. */
  private val LeanVecVarFloor = 0.15
  private val LeanVecRecallFloor = 0.60

  private def leanVecModel(s: SparkSession, dir: String): LeanVec.Model =
    memoized[LeanVec.Model]("leanvec_model", dir) {
      LeanVec.train(embVectors(s, dir).select("id", "vec"), LeanVecDims)
    }

  private def leanVecReduced(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("leanvec_reduced", dir) {
      LeanVec.transform(embVectors(s, dir).select("id", "vec"),
        leanVecModel(s, dir)).cache()
    }

  private def leanVecQueriesReduced(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("leanvec_queries_reduced", dir) {
      LeanVec.transform(embQueries(s, dir), leanVecModel(s, dir),
        idCol = "query_id", vecCol = "qvec", outCol = "qvec").cache()
    }

  /** q86: LeanVec two-pass search with an EXHAUSTIVE reorder window — the
    * shortlist covers the whole table, so the exact-metric reorder provably
    * returns exact top-k for any projection (q24's exhaustive-window
    * argument), hash-certifying the train→transform→coarse→reorder plumbing
    * against the plain exact-kNN oracle. */
  private def leanVecExhaustiveQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val n = data.count()
    val kr = ((n + K - 1) / K).toInt
    LeanVec.searchPrepared(leanVecQueriesReduced(s, dir),
        leanVecReduced(s, dir), embQueries(s, dir), data, K, kr, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q87: LeanVec model + realistic-window quality invariants as 0/1 flags
    * (the q50 pattern): kept directions orthonormal (‖PPᵀ−I‖∞ < 1e-9),
    * captured variance ≥ floor, and recall@k at the realistic
    * `LeanVecReorder·k` window ≥ floor vs exact groundtruth. */
  private def leanVecFlagsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = leanVecModel(s, dir)
    val data = embVectors(s, dir).select("id", "vec")
    val approx = LeanVec.searchPrepared(leanVecQueriesReduced(s, dir),
      leanVecReduced(s, dir), embQueries(s, dir), data, K, LeanVecReorder,
      Metric.L2)
    val truth = FlatKnn.search(embQueries(s, dir), data, K, Metric.L2)
    val recall = Recall.recallAtK(approx, truth, K)
    Seq((
      if (m.orthoDefect < 1e-9) 1L else 0L,
      if (m.varianceFraction >= LeanVecVarFloor) 1L else 0L,
      if (recall >= LeanVecRecallFloor) 1L else 0L
    )).toDF("ortho_ok", "var_ok", "recall_ok")
  }

  /** q88: the LeanVec∘LVQ composed storage (reference's LeanVec4x8 kind —
    * 4-bit level-1 codes over REDUCED dims drive the coarse scan; full
    * precision only re-ranks), again at the exhaustive window so the result
    * is provably exact and shares q86's oracle. */
  private def leanVecLvqQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val n = data.count()
    val kr = ((n + K - 1) / K).toInt
    val reduced = leanVecReduced(s, dir)
    val lvqP = memoized[Lvq.Params]("leanvec_lvq_params", dir) {
      Lvq.Params(Lvq.trainMean(reduced), bits1 = 4, bits2 = 8)
    }
    val enc = memoized[DataFrame]("leanvec_lvq_codes", dir) {
      Lvq.encode(reduced, lvqP).cache()
    }
    LeanVec.searchLvq(embQueries(s, dir), enc, lvqP, leanVecModel(s, dir),
        data, K, kr, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** Reduced embeddings + label sharding for the graph-over-reduced-vectors
    * composition (cluster_id = label, the q24 sharding). */
  private def leanVecClustered(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("leanvec_clustered", dir) {
      leanVecReduced(s, dir)
        .join(embVectors(s, dir)
          .select(col("id"), col("label").cast("long").as("cluster_id")),
          Seq("id"))
        .cache()
    }

  private def leanVecGraph(s: SparkSession, dir: String): DataFrame =
    memoized[DataFrame]("leanvec_graph", dir) {
      Vamana.buildSharded(leanVecClustered(s, dir), VamanaParams,
        Metric.L2).cache()
    }

  /** q89: the reference's PRIMARY LeanVec deployment — a Vamana graph built
    * over the REDUCED vectors drives the coarse pass, full precision only
    * re-ranks (bindings/cpp/src/dynamic_vamana_index_leanvec_impl.h:34-138:
    * LeanVec storage under a Vamana index). Exhaustive certification: all
    * shards probed with a whole-shard beam window and coarse k = n, so the
    * walk returns every row of each shard's connected component; the
    * exact-metric re-rank of that shortlist equals exact kNN — which also
    * certifies per-shard graph CONNECTIVITY of the reduced-space build (a
    * lost row would break the hash). */
  private def leanVecVamanaQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val n = data.count().toInt
    val clustered = leanVecClustered(s, dir)
    val centroids = labelCentroidsOf(clustered)
    val coarse = Vamana.searchSharded(leanVecQueriesReduced(s, dir),
        clustered, leanVecGraph(s, dir), centroids, n,
        searchWindow = 1 << 14, nProbes = centroids.size, Metric.L2)
      .select(col("query_id"), col("neighbor_id").as("id"))
    LeanVec.rerank(coarse, embQueries(s, dir), data, K, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q90: query-aware (OOD) LeanVec — separate data/query projections from
    * alternating closed-form least squares on the two second-moment
    * matrices (reference training_impl.h:104-115
    * `compute_leanvec_matrices_ood`), coarse-scanned via the MIPS-style
    * augmentation under the certified FlatKnn IP heap. Exhaustive reorder
    * window ⇒ provably exact for ANY (A, B), hash-certifying the
    * train→augment→coarse→rerank plumbing. */
  private def leanVecOodModel(s: SparkSession, dir: String): LeanVec.OodModel =
    memoized[LeanVec.OodModel]("leanvec_ood_model", dir) {
      LeanVec.trainOod(embVectors(s, dir).select("id", "vec"),
        embQueries(s, dir), LeanVecDims)
    }

  private def leanVecOodQ(s: SparkSession, dir: String): DataFrame = {
    val data = embVectors(s, dir).select("id", "vec")
    val n = data.count()
    val kr = ((n + K - 1) / K).toInt
    LeanVec.searchOod(embQueries(s, dir), data, leanVecOodModel(s, dir),
        K, kr)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q91: the dynamic LeanVec lifecycle (reference
    * dynamic_vamana_index_leanvec_impl.h — leanvec PRIMARY storage +
    * full-precision secondary inside a mutable index): segments carry
    * (vec, rvec) with the reduction applied AT INGEST per added batch;
    * add→add→delete→consolidate, then coarse-over-rvec + full re-rank at
    * the exhaustive window ≡ exact kNN over the surviving rows. */
  private def leanVecDynQ(s: SparkSession, dir: String): DataFrame = {
    val root = tmpBase + "/graft_dyn_q91"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val m = leanVecModel(s, dir)
    val emb = embVectors(s, dir).select("id", "vec")
    def seg(df: DataFrame): DataFrame =
      df.join(LeanVec.transform(df, m, outCol = "rvec"), Seq("id"))
    tbl.addPoints(seg(emb.filter(col("id") < 250)))
    tbl.addPoints(seg(emb.filter(col("id") >= 250)))
    tbl.deleteIds(emb.filter(col("id") % 9 === 0).select("id"))
    tbl.consolidate()
    val live = tbl.current
    require(live.schema.fieldNames.contains("rvec"),
      "dynamic table lost the reduced column through consolidate")
    val n = live.count()
    val kr = ((n + K - 1) / K).toInt
    LeanVec.searchPrepared(leanVecQueriesReduced(s, dir),
        live.select(col("id"), col("rvec").as("vec")),
        embQueries(s, dir), live.select("id", "vec"), K, kr, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q92: IVF∘LeanVec through the one-call on-disk layout (reference
    * example_ivf_with_compression_leanvec.cpp — clustering on uncompressed
    * data, LeanVec storage within; model persisted like
    * LeanVecTrainingDataImpl.save, training_impl.h:68-79): write the
    * label-clustered embeddings with a resident reduced column + model
    * sidecar, REOPEN from disk, search with every cluster probed and an
    * exhaustive reorder window ⇒ provably exact. Certifies the disk round
    * trip of the model (shortest-round-trip doubles) and the probe→coarse→
    * rerank plumbing in one hash. */
  private def leanVecIvfLayoutQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpBase + "/graft_layout_q92"
    val clustered = embLabelClustered(s, dir)
    val centroids = embLabelCentroids(s, dir)
    IndexLayout.write(clustered, centroids, path,
      IndexLayout.LeanVecC(leanVecModel(s, dir)))
    val layout = IndexLayout.open(s, path)
    val n = clustered.count().toInt
    val kr = (n + K - 1) / K
    IndexLayout.search(layout, embQueries(s, dir), K,
        nProbes = centroids.size, Metric.L2, kReorder = kr)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  /** q94: STREAMING dynamic-LeanVec ingest (stream twin of q91): embeddings
    * arrive in two micro-batches through [[graft.streaming.StreamingIngest]]
    * with `reduce = Some(model)`, so every segment gets its `rvec` column
    * at ingest; the post-stream coarse-over-rvec + full re-rank at the
    * exhaustive window must equal exact kNN — proving the streamed segments
    * carry reductions identical to the batch transform's. */
  private def leanVecStreamIngestQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = tmpBase + "/graft_dyn_q94"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val tbl = new DynamicVectorTable(s, root)
    val m = leanVecModel(s, dir)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-leanvec").toString
    val q = graft.streaming.StreamingIngest.attach(
      mem.toDF().toDF("id", "vec"), tbl, ckpt, reduce = Some(m))
    val rows = embVectors(s, dir).select("id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    try {
      val (a, b) = rows.partition(_._1 < 250)
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val live = tbl.current
    val n = live.count()
    val kr = ((n + K - 1) / K).toInt
    LeanVec.searchPrepared(leanVecQueriesReduced(s, dir),
        live.select(col("id"), col("rvec").as("vec")),
        embQueries(s, dir), live.select("id", "vec"), K, kr, Metric.L2)
      .select("query_id", "rnk", "neighbor_id")
      .orderBy("query_id", "rnk")
  }

  // ---- SQL extension surface (§2.9) ---------------------------------------

  /** kNN expressed as a SQL string over the registered distance function —
    * exercises FunctionRegistry registration + parser + codegen'd kernel,
    * and the KnnRewriteRule turns the window-rank cross join into the
    * KnnPartial heap-scan plan (bit-identical results, KnnPlanSpec). */
  private def sqlKnnQ(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.plans.KnnJoinApi.install(s)
    embVectors(s, dir).select("id", "vec")
      .createOrReplaceTempView("graft_data")
    embQueries(s, dir).createOrReplaceTempView("graft_q")
    s.sql(
      s"""SELECT query_id, rnk, neighbor_id FROM (
         |  SELECT q.query_id, d.id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY l2_distance(q.qvec, d.vec) ASC, d.id ASC) AS rnk
         |  FROM graft_q q CROSS JOIN graft_data d) t
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin)
  }

  /** q77: the SQL surface on the SIMD kernels — same query text as q34 but
    * through `l2_distance_simd`, which the KnnRewriteRule rewrites to the
    * KnnPartial heap scan running the Vector-API lane kernels. Certified on
    * exact id-ranking agreement with the scalar DuckDB oracle (the q67
    * contract: a rank flip needs two DISTINCT vectors within one ulp). */
  private def sqlKnnSimdQ(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    graft.plans.KnnJoinApi.install(s)
    embVectors(s, dir).select("id", "vec")
      .createOrReplaceTempView("graft_data")
    embQueries(s, dir).createOrReplaceTempView("graft_q")
    s.sql(
      s"""SELECT query_id, rnk, neighbor_id FROM (
         |  SELECT q.query_id, d.id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY l2_distance_simd(q.qvec, d.vec) ASC, d.id ASC) AS rnk
         |  FROM graft_q q CROSS JOIN graft_data d) t
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_flat_knn_l2" -> (knnLineitem(Metric.L2) _),
    "q02_flat_knn_ip" -> (knnLineitem(Metric.IP) _),
    "q03_flat_knn_cosine" -> (knnLineitem(Metric.Cosine) _),
    "q04_emb_knn_cosine" -> (knnEmbeddings(Metric.Cosine) _),
    "q05_emb_knn_l2" -> (knnEmbeddings(Metric.L2) _),
    "q06_kmeans_assign" -> (kmeansAssignQ _),
    "q07_ivf_search_l2" -> (ivfSearchQ _),
    "q08_medioid" -> (medioidQ _),
    "q09_sq_codes" -> (sqCodesQ _),
    "q10_recall_ivf_vs_flat" -> (recallQ _),
    "q11_cluster_sizes" -> (clusterSizesQ _),
    "q12_kmeans_train" -> (kmeansTrainQ _),
    "q13_token_stats" -> (tokenStatsQ _),
    "q14_quality_score" -> (qualityQ _),
    "q15_lang_id" -> (langIdQ _),
    "q16_fingerprint" -> (fingerprintQ _),
    "q17_dedup_exact_prefix" -> (dedupExactQ _),
    "q18_ngram_jaccard_pairs" -> (jaccardPairsQ _),
    "q19_minhash_signatures" -> (minhashSigsQ _),
    "q20_minhash_lsh_pairs" -> (minhashLshQ _),
    "q21_simhash" -> (simhashQ _),
    "q22_emb_neardup_exact" -> (embNearDupExactQ _),
    "q23_emb_neardup_lsh" -> (embNearDupLshQ _),
    "q24_vamana_search" -> (vamanaSearchQ _),
    "q25_vamana_recall" -> (vamanaRecallQ _),
    "q26_multilabel_knn" -> (multiLabelQ _),
    "q27_tombstone_knn" -> (tombstoneKnnQ _),
    "q28_dyn_consolidate" -> (dynConsolidateQ _),
    "q29_fvecs_roundtrip" -> (fvecsRoundtripQ _),
    "q30_synthetic_knn" -> (syntheticKnnQ _),
    "q31_inverted_search" -> (invertedSearchQ _),
    "q32_hier_kmeans" -> (hierKmeansQ _),
    "q33_media_decode" -> (mediaDecodeQ _),
    "q34_sql_knn" -> (sqlKnnQ _),
    "q35_bpe_tokens" -> (bpeTokensQ _),
    "q36_ivf_reorder" -> (ivfReorderQ _),
    "q37_simhash_pairs" -> (simhashPairsQ _),
    "q38_event_windows" -> (eventWindowsQ _),
    "q39_sessions" -> (sessionsQ _),
    "q40_user_paths" -> (userPathsQ _),
    "q41_dataset_split" -> (datasetSplitQ _),
    "q42_svs_roundtrip" -> (svsRoundtripQ _),
    "q43_rawbin_roundtrip" -> (rawBinRoundtripQ _),
    "q44_table_saveload" -> (tableSaveLoadQ _),
    "q45_half_roundtrip" -> (halfRoundtripQ _),
    "q46_reconstruct" -> (reconstructQ _),
    "q47_point_distance" -> (pointDistanceQ _),
    "q48_degree_stats" -> (degreeStatsQ _),
    "q49_batch_pages" -> (batchPagesQ _),
    "q50_calibrate" -> (calibrateQ _),
    "q51_update_shards" -> (updateShardsQ _),
    "q52_lvq_codes" -> (lvqCodesQ _),
    "q53_lvq_search" -> (lvqSearchQ _),
    "q54_media_real" -> (mediaRealQ _),
    "q55_sq_ip_codes" -> (sqCodeSearchQ(Metric.IP) _),
    "q56_sq_cos_codes" -> (sqCodeSearchQ(Metric.Cosine) _),
    "q57_event_context" -> (recentContextQ _),
    "q58_ivf_lvq_reorder" -> (ivfLvqReorderQ _),
    "q59_stream_knn" -> (streamKnnQ _),
    "q60_pipeline" -> (pipelineQ _),
    "q61_stream_dedup" -> (streamDedupQ _),
    "q62_inverted_leader_index" -> (invertedLeaderIdxQ _),
    "q63_png_decode" -> (mediaPngQ _),
    "q64_jpeg_flags" -> (mediaJpegQ _),
    "q65_ivf_pages" -> (ivfPagesQ _),
    "q66_multilabel_pages" -> (multiLabelPagesQ _),
    "q67_simd_knn_l2" -> (knnLineitem(Metric.simd(Metric.L2)) _),
    "q68_simd_knn_ip" -> (knnLineitem(Metric.simd(Metric.IP)) _),
    "q69_simd_knn_cos" -> (knnLineitem(Metric.simd(Metric.Cosine)) _),
    "q70_y4m_frames" -> (mediaY4mQ _),
    "q71_stream_y4m" -> (streamY4mQ _),
    "q72_stratified_sample" -> (stratifiedSampleQ _),
    "q73_f32_knn_l2" -> (knnLineitemF32(Metric.L2) _),
    "q74_f32_simd_knn" -> (knnLineitemF32(Metric.simd(Metric.L2)) _),
    "q75_f32_emb_knn" -> (knnEmbeddingsF32(Metric.L2) _),
    "q76_f32_simd_emb_knn" -> (knnEmbeddingsF32(Metric.simd(Metric.L2)) _),
    "q77_sql_knn_simd" -> (sqlKnnSimdQ _),
    "q78_dyn_f32" -> (dynF32Q _),
    "q79_media_batch_api" -> (mediaBatchApiQ _),
    "q80_cos_normalized" -> (knnCosNormalizedQ _),
    "q81_simhash_wide" -> (simhashWideQ _),
    "q82_simhash_wide_pairs" -> (simhashWidePairsQ _),
    "q83_emb_neardup_multiprobe" -> (embNearDupLshMpQ _),
    "q84_stream_simhash" -> (streamSimhashQ _),
    "q85_stream_neardup" -> (streamNearDupQ _),
    "q86_leanvec_exact" -> (leanVecExhaustiveQ _),
    "q87_leanvec_flags" -> (leanVecFlagsQ _),
    "q88_leanvec_lvq" -> (leanVecLvqQ _),
    "q89_leanvec_vamana" -> (leanVecVamanaQ _),
    "q90_leanvec_ood" -> (leanVecOodQ _),
    "q91_leanvec_dynamic" -> (leanVecDynQ _),
    "q92_leanvec_ivf_layout" -> (leanVecIvfLayoutQ _),
    "q93_jaccard_3gram" -> (jaccardPairs3Q _),
    "q94_leanvec_stream_ingest" -> (leanVecStreamIngestQ _),
    "q95_dedup_groups" -> (dedupGroupsQ _),
    "q96_decontaminate" -> (decontaminateQ _),
    "q97_repetition" -> (repetitionQ _),
    "q98_minhash_multiprobe" -> (minhashLshMpQ _),
    "q99_stream_minhash" -> (streamMinhashQ _),
    "q100_pii_scan" -> (piiScanQ _),
    "q101_dup_spans" -> (dupSpansQ _),
    "q102_dup_span_removal" -> (dupSpanRemovalQ _),
    "q103_decontaminate_fuzzy" -> (decontaminateFuzzyQ _),
    "q104_semantic_dedup" -> (semanticDedupQ _),
    "q105_semantic_dedup_trained" -> (semanticDedupTrainedQ _),
    "q106_dup_spans_hashed" -> (dupSpansHashedQ _),
    "q107_mjpeg_flags" -> (mediaAviQ _),
    "q108_inverted_replicated" -> (invertedReplicatedQ _),
    "q109_mixture_rate" -> (mixtureRateQ _),
    "q110_mixture_rebalance" -> (mixtureRebalanceQ _),
    "q111_pack_greedy" -> (packGreedyQ _),
    "q112_pack_binstats" -> (packBinStatsQ _),
    "q113_c4_filters" -> (c4FiltersQ _),
    "q114_bloom_decontaminate" -> (bloomDecontaminateQ _),
    "q115_shard_by_size" -> (shardBySizeQ _),
    "q116_quality_weighted_sample" -> (qualityWeightedSampleQ _),
    "q117_upsample_factors" -> (upsampleQ _),
    "q118_bpe_train" -> (bpeTrainQ _),
    "q119_bpe_tokens" -> (bpeTokenCountsQ _),
    "q120_lm_score" -> (lmScoreQ _),
    "q121_chunking" -> (chunkQ _),
    "q122_corpus_stats" -> (corpusStatsQ _),
    "q123_shaping_pipeline" -> (shapingPipelineQ _),
    "q124_dedup_best" -> (dedupBestQ _),
    "q125_lm_interpolated" -> (lmInterpolatedQ _),
    "q126_term_stats" -> (termStatsIdxQ _),
    "q127_keyword_search" -> (keywordSearchQ _),
    "q128_bm25_topk" -> (bm25Q _),
    "q129_hybrid_rrf" -> (hybridRrfQ _),
    "q130_phrase_search" -> (phraseSearchQ _),
    "q131_maxsim_topk" -> (maxSimQ _),
    "q132_postings_store" -> (postingsStoreQ _),
    "q133_maxsim_twostage" -> (maxSimTwoStageQ _),
    "q134_postings_compact" -> (postingsCompactQ _),
    "q135_compress_ratio" -> (compressRatioQ _),
    "q136_corpus_shuffle" -> (corpusShuffleQ _),
    "q137_bm25_stored" -> (bm25StoredQ _),
    "q138_phrase_stored" -> (phraseStoredQ _),
    "q139_dsv2_vecs" -> (dsv2VecsQ _),
    "q140_bpe_encode" -> (bpeEncodeQ _),
    "q141_proximity_search" -> (proximitySearchQ _),
    "q142_sql_text" -> (sqlTextQ _),
    "q143_pq_codes" -> (pqCodesQ _),
    "q144_pq_adc" -> (pqAdcQ _),
    "q145_ivfpq_codes" -> (ivfPqCodesQ _),
    "q146_ivfpq_search" -> (ivfPqSearchQ _),
    "q147_pq_walk" -> (pqWalkQ _),
    "q148_pq_walk_rerank" -> (pqWalkRerankQ _),
    "q149_vamana_filtered" -> (vamanaFilteredQ _),
    "q150_vamana_stored" -> (vamanaStoredQ _),
    "q151_pq_walk_stored" -> (pqWalkStoredQ _),
    "q152_graph_upsert" -> (graphUpsertQ _),
    "q153_binary_codes" -> (binaryCodesQ _),
    "q154_binary_search" -> (binarySearchQ _),
    "q155_binary_rerank" -> (binaryRerankQ _),
    "q156_ivfpq_stored" -> (ivfPqStoredQ _),
    "q157_pq_walk_filtered" -> (pqWalkFilteredQ _),
    "q158_ccnet_buckets" -> (ccnetBucketsQ _),
    "q159_dsir_weights" -> (dsirWeightsQ _),
    "q160_mrl_search" -> (mrlSearchQ _),
    "q161_calibrate_reorder" -> (calibrateReorderQ _),
    "q162_binary_stored" -> (binaryStoredQ _),
    "q163_i8_flat_knn" -> (knnEmbI8Q _),
    "q164_u8_flat_knn" -> (knnEmbU8Q _),
    "q165_hvecs_roundtrip" -> (hvecsRoundtripQ _),
    "q166_label_delete" -> (labelDeleteQ _),
    "q167_hier_search" -> (hierSearchQ _),
    "q168_dyn_i8" -> (dynI8Q _),
    "q169_ivfpq_routed" -> (ivfPqRoutedQ _),
    "q170_npy_roundtrip" -> (npyRoundtripQ _),
    "q171_dsv2_npy" -> (dsv2NpyQ _),
    "q172_npy_stream" -> (npyStreamQ _),
    "q173_npy_bytes_knn" -> (knnNpyBytesQ _),
    "q174_bvecs_bytes_knn" -> (knnBvecsBytesQ _),
    "q175_f16_flat_knn" -> (knnHalfF16Q _),
    "q176_bf16_flat_knn" -> (knnHalfBf16Q _),
    "q177_f16_vamana_stored" -> (vamanaStoredHalfQ _),
    "q178_npy_single_file" -> (npySingleFileQ _),
    "q179_npy_manifest_stream" -> (npyManifestStreamQ _),
    "q180_vamana_stored_local" -> (vamanaStoredLocalQ _),
    "q181_pq_walk_stored_local" -> (pqWalkStoredLocalQ _),
    "q182_pq_walk_filtered_local" -> (pqWalkFilteredLocalQ _),
    "q183_bf16_vamana_stored" -> (vamanaStoredBf16Q _),
    "q184_serve_auto" -> (vamanaStoredLocalQ _),
    "q185_serve_adc_auto" -> (pqWalkStoredLocalQ _),
    "q186_index_serve" -> (indexServeQ _),
    "q187_binary_stored_local" -> (binaryStoredQ _),
    "q188_serve_hamming_auto" -> (binaryStoredQ _),
    "q189_serve_hamming_probed" -> (binaryProbedQ _),
    "q190_serve_stream" -> (serveStreamQ _),
    "q191_index_upsert" -> (indexUpsertQ _),
    "q192_index_upsert_stream" -> (indexUpsertStreamQ _),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_flat_knn_l2" -> OracleGen.lineitemKnn(Metric.L2, K),
    "q02_flat_knn_ip" -> OracleGen.lineitemKnn(Metric.IP, K),
    "q03_flat_knn_cosine" -> OracleGen.lineitemKnn(Metric.Cosine, K),
    "q04_emb_knn_cosine" -> OracleGen.embeddingKnn(Metric.Cosine, K),
    "q05_emb_knn_l2" -> OracleGen.embeddingKnn(Metric.L2, K),
    "q06_kmeans_assign" -> OracleGen.kmeansAssign,
    "q07_ivf_search_l2" -> OracleGen.ivfSearch(K, NProbes),
    "q08_medioid" -> OracleGen.medioid(3),
    "q09_sq_codes" -> OracleGen.sqCodes(8),
    "q10_recall_ivf_vs_flat" -> OracleGen.recallIvfVsFlat(K, NProbes),
    "q11_cluster_sizes" -> OracleGen.clusterSizes,
    "q12_kmeans_train" -> OracleGen.kmeansTrain(LloydIters),
    "q13_token_stats" -> OracleGenText.tokenStats,
    "q14_quality_score" -> OracleGenText.qualityScore,
    "q15_lang_id" -> OracleGenText.langId,
    "q16_fingerprint" -> OracleGenText.fingerprint,
    "q17_dedup_exact_prefix" -> OracleGenText.dedupExactPrefix,
    "q18_ngram_jaccard_pairs" -> OracleGenText.ngramJaccardPairs(JaccardT),
    "q19_minhash_signatures" -> OracleGenText.minhashSignatures,
    "q20_minhash_lsh_pairs" -> OracleGenText.minhashLshPairs,
    "q21_simhash" -> OracleGenText.simhash,
    "q22_emb_neardup_exact" -> OracleGenText.embNearDupExact(CosineT),
    "q23_emb_neardup_lsh" -> OracleGenText.embNearDupLsh(CosineT),
    "q24_vamana_search" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    "q25_vamana_recall" -> OracleGen.vamanaRecallFlags,
    "q26_multilabel_knn" -> OracleGen.multiLabelKnn(LabelK),
    "q27_tombstone_knn" -> OracleGen.embeddingKnnExcluding(Metric.L2, K,
      "vec_id % 7 = 0"),
    "q28_dyn_consolidate" -> OracleGen.dynConsolidated("vec_id % 9 = 0"),
    "q29_fvecs_roundtrip" -> OracleGen.fvecsRoundtrip,
    "q30_synthetic_knn" -> OracleGen.syntheticKnn(SynN, SynDims, SynStride, K),
    "q31_inverted_search" -> OracleGen.invertedSearch(K, InvNLeaders, InvEps,
      s"id % $InvLeaderMod = $InvLeaderRes"),
    "q32_hier_kmeans" -> OracleGen.hierKmeans,
    "q33_media_decode" -> OracleGenText.mediaDecode,
    "q34_sql_knn" -> OracleGen.embeddingKnn(Metric.L2, K),
    "q35_bpe_tokens" -> OracleGenText.bpeTokens,
    "q36_ivf_reorder" -> OracleGen.ivfReorder(K, VamanaProbes, KReorder),
    "q37_simhash_pairs" -> OracleGenText.simhashPairs(SimhashMaxHamming),
    "q38_event_windows" -> OracleGenText.eventWindows,
    "q39_sessions" -> OracleGenText.sessions(SessionGapMin),
    "q40_user_paths" -> OracleGenText.userPaths(PathLen),
    "q41_dataset_split" -> OracleGenText.datasetSplit(ValPct, TestPct),
    "q42_svs_roundtrip" -> OracleGen.fvecsRoundtrip,
    "q43_rawbin_roundtrip" -> OracleGen.fvecsRoundtrip,
    "q44_table_saveload" -> OracleGen.fvecsRoundtrip,
    "q45_half_roundtrip" -> OracleGen.halfRoundtrip,
    "q46_reconstruct" -> OracleGen.reconstructSum("vec_id % 11 = 3"),
    "q47_point_distance" -> OracleGen.pointDistance,
    "q48_degree_stats" -> OracleGen.degreeStats,
    "q49_batch_pages" -> OracleGen.batchPages(K, Pages),
    "q50_calibrate" -> OracleGen.calibrateFlags,
    "q51_update_shards" -> OracleGen.updateShardsKnn(K, VamanaProbes,
      UpdOffset, "vec_id % 10 = 4", "vec_id % 13 = 5"),
    "q52_lvq_codes" -> OracleGen.lvqCodes,
    "q53_lvq_search" -> OracleGen.lvqSearch(K, KReorder),
    "q54_media_real" -> OracleGenText.mediaReal,
    "q55_sq_ip_codes" -> OracleGen.sqCodeSearch(Metric.IP, K),
    "q56_sq_cos_codes" -> OracleGen.sqCodeSearch(Metric.Cosine, K),
    "q57_event_context" -> OracleGenText.recentContext(SessionGapMin),
    "q58_ivf_lvq_reorder" -> OracleGen.lvqIvfReorder(K, VamanaProbes,
      KReorder),
    "q59_stream_knn" -> OracleGen.lineitemKnn(Metric.L2, K),
    "q60_pipeline" -> OracleGenText.pipeline(QMin, ValPct, TestPct),
    "q61_stream_dedup" -> OracleGenText.dedupExactPrefix,
    "q62_inverted_leader_index" -> OracleGen.invertedSearch(K, InvNLeaders,
      InvEps, s"id % $InvLeaderMod = $InvLeaderRes"),
    "q63_png_decode" -> OracleGenText.mediaPng,
    "q64_jpeg_flags" -> OracleGenText.mediaJpegFlags,
    "q65_ivf_pages" -> OracleGen.batchPages(K, Pages),
    "q66_multilabel_pages" -> OracleGen.multiLabelPages(LabelK, 2),
    // q67-q69 run the JDK-Vector-API kernels (graft.simd.SimdKernels, the
    // analog of the reference's AVX dispatch, core/distance/euclidean.h:216)
    // against the SAME scalar DuckDB oracle as q01-q03: the output drops
    // distances and compares (query_id, rnk, neighbor_id) only, so the
    // certification is exact-id-ranking agreement. Ties (duplicate vectors)
    // stay exact ties under the lane-reordered fold — identical inputs give
    // identical doubles in either kernel — so the id ASC tiebreak is stable;
    // a rank flip would need two DISTINCT vectors within one ulp of the same
    // distance. On a JVM without the Vector API module, Metric.simd falls
    // back to the scalar kernel and the queries degrade to q01-q03 twins.
    "q67_simd_knn_l2" -> OracleGen.lineitemKnn(Metric.L2, K),
    "q68_simd_knn_ip" -> OracleGen.lineitemKnn(Metric.IP, K),
    "q69_simd_knn_cos" -> OracleGen.lineitemKnn(Metric.Cosine, K),
    "q70_y4m_frames" -> OracleGenText.mediaY4m,
    "q71_stream_y4m" -> OracleGenText.mediaY4m,
    "q72_stratified_sample" -> OracleGenText.stratifiedSample(StratumK),
    // q73: float32 data storage against a REAL-rounded DuckDB replay —
    // hash-exact (the mixed kernel widens per element into the same double
    // fold). q74: the SIMD mixed kernel against the same oracle (exact
    // id-ranking agreement, the q67 contract).
    "q73_f32_knn_l2" -> OracleGen.lineitemKnnF32(Metric.L2, K),
    "q74_f32_simd_knn" -> OracleGen.lineitemKnnF32(Metric.L2, K),
    // q75/q76: the fully f32-resident embeddings scan (float queries AND
    // float data → computeFF) against the SAME oracle as q05 — DuckDB widens
    // the parquet REAL columns to double exactly as the FF fold does, so the
    // scalar path is hash-exact and the SIMD path is certified on exact
    // id-ranking agreement (the q67 contract).
    "q75_f32_emb_knn" -> OracleGen.embeddingKnn(Metric.L2, K),
    "q76_f32_simd_emb_knn" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q77: SQL through l2_distance_simd (rewritten to the KnnPartial scan on
    // the lane kernels) against the scalar q34 oracle — id-ranking contract.
    "q77_sql_knn_simd" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q78: M1-M4 on f32 segments + f32-resident post-consolidate search —
    // hash-exact against the exact kNN over the non-deleted rows (FF fold ≡
    // widened fold; DuckDB widens the same REAL values).
    "q78_dyn_f32" -> OracleGen.embeddingKnnExcluding(Metric.L2, K,
      "vec_id % 9 = 0"),
    // q79: q54's decode kernel through the mapInPandas-shaped BatchApi —
    // same oracle, certifying the columnar-batch contract end to end.
    "q79_media_batch_api" -> OracleGenText.mediaReal,
    // q80: normalized-IP cosine against the direct-cosine q04 oracle —
    // id-ranking contract (ordering identical up to rounding of the
    // normalization).
    "q80_cos_normalized" -> OracleGen.embeddingKnn(Metric.Cosine, K),
    // q81/q82: wide (60-bit) SimHash — hash-exact values and pairs; the
    // Spark side runs the banded pigeonhole join, the oracle brute-forces
    // the hamming filter, so a match proves banding losslessness too.
    "q81_simhash_wide" -> OracleGenText.simhashWide,
    "q82_simhash_wide_pairs" -> OracleGenText.simhashWidePairs(
      SimhashMaxHamming),
    // q83: multi-probe LSH pairs, hash-exact against the brute-force
    // hamming<=1 bucket-pair oracle.
    "q83_emb_neardup_multiprobe" -> OracleGenText.embNearDupLshMultiProbe(
      CosineT),
    // q84: the streaming wide-SimHash pair stream ≡ the batch operator,
    // certified against the same brute-force hamming oracle as q82.
    "q84_stream_simhash" -> OracleGenText.simhashWidePairs(SimhashMaxHamming),
    // q85: streaming multi-probe near-dup ≡ the batch operator, certified
    // against q83's brute-force hamming<=1 oracle.
    "q85_stream_neardup" -> OracleGenText.embNearDupLshMultiProbe(CosineT),
    // q86: LeanVec with exhaustive reorder window ≡ exact kNN (any
    // projection), so it shares the plain exact-kNN oracle.
    "q86_leanvec_exact" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q87: invariant flags (q50 pattern) — Spark computes orthonormality /
    // variance-capture / realistic-window recall, oracle asserts all 1.
    "q87_leanvec_flags" ->
      ("SELECT CAST(1 AS BIGINT) AS ortho_ok, CAST(1 AS BIGINT) AS var_ok, " +
        "CAST(1 AS BIGINT) AS recall_ok"),
    // q88: LeanVec∘LVQ composition at the exhaustive window — provably
    // exact, same oracle as q86.
    "q88_leanvec_lvq" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q89: Vamana graph over reduced vectors, all shards probed at a
    // whole-shard window + exhaustive coarse k ⇒ the full-precision rerank
    // is provably exact (and certifies reduced-space graph connectivity).
    "q89_leanvec_vamana" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q90: OOD-trained two-matrix LeanVec at the exhaustive window —
    // exact for any (A, B) pair, same oracle.
    "q90_leanvec_ood" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q91: dynamic lifecycle with transform-at-ingest reduced segments —
    // exhaustive-window search over the post-consolidate table ≡ exact kNN
    // over the non-deleted rows.
    "q91_leanvec_dynamic" -> OracleGen.embeddingKnnExcluding(Metric.L2, K,
      "vec_id % 9 = 0"),
    // q92: IVF∘LeanVec disk layout, all clusters probed at the exhaustive
    // reorder window ⇒ exact; certifies the model sidecar round trip too.
    "q92_leanvec_ivf_layout" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q93: 3-gram prefix Jaccard join vs the brute-force DuckDB join over
    // the same Horner-fold 3-gram codes.
    "q93_jaccard_3gram" -> OracleGenText.ngramJaccardPairs3(JaccardT),
    // q94: streamed reduce-at-ingest segments searched at the exhaustive
    // window ≡ exact kNN (no deletes in this twin — full table live).
    "q94_leanvec_stream_ingest" -> OracleGen.embeddingKnn(Metric.L2, K),
    // q95: components of the q18 pair graph via recursive-CTE closure +
    // per-doc keep flags — certifies star-contraction grouping and
    // canonical selection in one hash.
    "q95_dedup_groups" -> OracleGenText.dedupGroups(JaccardT),
    // q96: per-doc distinct-3-gram overlap with the benchmark subset —
    // identical Horner-code arithmetic to q93's oracle.
    "q96_decontaminate" -> OracleGenText.decontaminationFlags,
    // q97: duplicate-token/-2-gram milli-fractions + top-gram count,
    // identical floor(1000.0 * a / b) double arithmetic.
    "q97_repetition" -> OracleGenText.repetitionMetrics,
    // q98: leave-one-out band-key minhash probes, same sig arithmetic.
    "q98_minhash_multiprobe" -> OracleGenText.minhashLshPairsMultiProbe,
    // q99: the streaming MinHash-LSH pair stream ≡ the batch operator,
    // certified against the same signature-replay SQL as q20.
    "q99_stream_minhash" -> OracleGenText.minhashLshPairs,
    // q100: PII counts + redacted text, same patterns and replace order.
    "q100_pii_scan" -> OracleGenText.piiScan,
    // q101/q102: ExactSubstr span dedup — window keys are literal w-token
    // substrings, so the oracle replays them with list slicing; the
    // gaps-and-islands merge uses identical window-function semantics.
    "q101_dup_spans" -> OracleGenText.dupSpans(SubstringDedup.DefaultW),
    "q102_dup_span_removal" ->
      OracleGenText.dupSpanRemoval(SubstringDedup.DefaultW),
    // q103: fuzzy decontamination — band-collision flags vs the q96
    // benchmark subset, replaying q20's minhash band arithmetic.
    "q103_decontaminate_fuzzy" -> OracleGenText.decontaminationFuzzyFlags,
    // q104: SemDeDup — cluster-blocked semantic dedup, q06's assignment
    // contract + q22's cosine arithmetic.
    "q104_semantic_dedup" ->
      OracleGenText.semanticDedup(CosineT, SemEvery, SemK),
    // q105: SemDeDup on Lloyd-trained centroids — q12's unrolled training
    // CTEs feeding q104's blocked-dedup arithmetic.
    "q105_semantic_dedup_trained" ->
      OracleGenText.semanticDedupTrained(CosineT, LloydIters),
    // q106: hashed-key spans must equal string-key spans (q101's oracle) —
    // the hash is an internal shuffle key, not an output.
    "q106_dup_spans_hashed" ->
      OracleGenText.dupSpans(graft.operators.SubstringDedup.DefaultW),
    // q107: MJPEG AVI decode — container-derived frame/geometry/sample
    // invariants, q64's lossy-decode certification pattern.
    "q107_mjpeg_flags" -> OracleGenText.mediaAviFlags,
    // q108: copied-leaves (replicated) inverted clustering + dedup'd
    // ε-expansion search.
    "q108_inverted_replicated" -> OracleGen.invertedSearchReplicated(K,
      InvNLeaders, InvEps, s"id % $InvLeaderMod = $InvLeaderRes",
      InvRepEps, InvRepMax),
    // q109/q110: domain-mixture shaping — Lehmer row-hash rate filter and
    // exact per-domain rebalance, identical modular arithmetic in SQL.
    "q109_mixture_rate" -> OracleGenText.mixtureRate(MixtureRates,
      MixtureDefaultRate, MixtureSeed),
    "q110_mixture_rebalance" -> OracleGenText.mixtureRebalance(
      MixtureTargets, MixtureSeed),
    // q111/q112: greedy sequence packing — the first-fit recurrence
    // replayed as a recursive CTE, per-doc bins and per-bin fill stats.
    "q111_pack_greedy" -> OracleGenText.packGreedy(PackCapacity),
    "q112_pack_binstats" -> OracleGenText.packBinStats(PackCapacity),
    // q113: C4-style heuristic quality gate, integer-exact signals.
    "q113_c4_filters" -> OracleGenText.c4Filters,
    // q114: Bloom decontamination — counts replayed, Bloom invariants
    // pinned true (q25/q50 pattern).
    "q114_bloom_decontaminate" -> OracleGenText.bloomDecontamination,
    // q115: size-targeted output sharding via window cumulative sum.
    "q115_shard_by_size" -> OracleGenText.shardByRunningSize(
      ShardTargetChars),
    // q116: quality-weighted sampling — rate = certified score / 1000.
    "q116_quality_weighted_sample" ->
      OracleGenText.qualityWeightedSample(MixtureSeed),
    // q117: repeat-factor upsampling — floor(factor) copies + one
    // hash-deterministic fractional copy, replayed via generate_series.
    "q117_upsample_factors" -> OracleGenText.upsampleFactors(
      UpsampleFactors, 1.0, MixtureSeed),
    // q118/q119: BPE training replayed round-by-round in SQL; token
    // counts via the final vocab table.
    "q118_bpe_train" -> OracleGenText.bpeTrain(BpeMerges),
    "q119_bpe_tokens" -> OracleGenText.bpeTokenCounts(BpeMerges),
    // q120: bigram-LM mean-probability score — counts, division, ordered
    // fold; all exactly-rounded IEEE so the doubles hash-match.
    "q120_lm_score" -> OracleGenText.lmScore,
    // q121: sliding-window chunking — integer chunk-count arithmetic +
    // list slicing, chunk text hash-certified.
    "q121_chunking" -> OracleGenText.chunking(ChunkMaxTokens, ChunkOverlap),
    // q122: dataset-card per-domain statistics.
    "q122_corpus_stats" -> OracleGenText.corpusStats,
    // q123: gate ∘ LM floor ∘ sample ∘ pack — one composed replay.
    "q123_shaping_pipeline" -> OracleGenText.shapingPipeline(
      ShapingLmFloorNano, ShapingRate, MixtureSeed, ShapingCapacity),
    // q124: quality-aware dedup — components + per-group score argmax.
    "q124_dedup_best" -> OracleGenText.dedupBest(JaccardT),
    // q125: Jelinek–Mercer interpolation — two multiplies + one add per
    // transition, still exactly-rounded IEEE.
    "q125_lm_interpolated" -> OracleGenText.lmInterpolated(LmLambda),
    // q126–q130: full-text retrieval — postings stats, keyword search,
    // BM25 (ln bitwise-verified HotSpot ≡ DuckDB libm on this stack),
    // RRF hybrid fusion (pure rational arithmetic), phrase positions.
    "q126_term_stats" -> OracleGenText.termStats,
    "q127_keyword_search" ->
      OracleGenText.keywordSearch(KeywordTerms, KeywordMinMatch),
    "q128_bm25_topk" ->
      OracleGenText.bm25TopK(Bm25Queries, Bm25K, Bm25K1, Bm25B),
    "q129_hybrid_rrf" -> OracleGenText.hybridRrf(Bm25Queries, RrfKIn,
      RrfKOut, RrfK0, Bm25K1, Bm25B),
    "q130_phrase_search" -> OracleGenText.phraseSearch(PhraseTerms),
    // q131: late-interaction MaxSim — max + qtok-ordered sum of the
    // certified cosine; fully exactly-rounded.
    "q131_maxsim_topk" ->
      OracleGen.maxSimTopK(MaxSimK, MaxSimGroup, MaxSimQMod),
    // q132: stored-postings probe ≡ the q127 in-memory search.
    "q132_postings_store" ->
      OracleGenText.keywordSearch(KeywordTerms, KeywordMinMatch),
    // q133: pooled-prefilter + exact MaxSim rerank, composed replay.
    "q133_maxsim_twostage" -> OracleGen.maxSimTwoStage(MaxSimK,
      MaxSimGroup, MaxSimQMod, MaxSimCand),
    // q134: incremental build + compaction converges to the from-scratch
    // index — q126's full-corpus oracle certifies the lifecycle.
    "q134_postings_compact" -> OracleGenText.termStats,
    // q135: zlib signal certified by invariant flags — the count is
    // replayed, the flags assert the signal's defining properties.
    "q135_compress_ratio" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS bounds_ok, " +
        "true AS doubling_compresses FROM documents"),
    // q136: Lehmer-hash permutation replayed row-for-row.
    "q136_corpus_shuffle" ->
      OracleGenText.corpusShuffle(ShuffleShards, ShuffleSeed),
    // q137/q138: the on-disk index serves BM25 and phrase queries with
    // rows bit-identical to the corpus-scan paths — same oracles.
    "q137_bm25_stored" ->
      OracleGenText.bm25TopK(Bm25Queries, Bm25K, Bm25K1, Bm25B),
    "q138_phrase_stored" -> OracleGenText.phraseSearch(PhraseTerms),
    // q139: DSv2 vecs reader ≡ q29's roundtrip contract.
    "q139_dsv2_vecs" -> OracleGen.fvecsRoundtrip,
    // q140: token sequences are exact strings — the vocab replay joined
    // back over the corpus in word order.
    "q140_bpe_encode" -> OracleGenText.bpeEncode(BpeMerges),
    // q141: NEAR co-occurrence pairs, exact integer replay.
    "q141_proximity_search" ->
      OracleGenText.proximitySearch("dup", "batch", ProxSlop),
    // q142: SQL surface ≡ the q13/q14/q15 arithmetic in one relation.
    "q142_sql_text" -> OracleGenText.sqlTextCombo,
    // q143/q144: product quantization — exact integer codes, then ADC
    // ranks from j-ordered exact subspace-L2 sums.
    "q143_pq_codes" -> OracleGen.pqCodes(PqM, PqK),
    "q144_pq_adc" -> OracleGen.pqAdc(PqM, PqK, K),
    // q145/q146: IVFADC — residual codes per coarse cluster, probe-
    // pruned residual-LUT ranking; exact integer codes + exact sums.
    "q145_ivfpq_codes" -> OracleGen.ivfPqCodes(PqM, PqK),
    "q146_ivfpq_search" -> OracleGen.ivfPqSearch(PqM, PqK, K, IvfPqProbes),
    "q147_pq_walk" -> OracleGen.pqWalk(PqM, PqK, K, VamanaProbes),
    "q148_pq_walk_rerank" ->
      OracleGen.pqWalkRerank(PqM, PqK, K, VamanaProbes, PqWalkReorder),
    "q149_vamana_filtered" ->
      OracleGen.vamanaShardedKnn(K, VamanaProbes, "(dt.id % 3) <> 1"),
    // served paths: bit-identical to their scan twins ⇒ same oracles
    "q150_vamana_stored" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    "q151_pq_walk_stored" ->
      OracleGen.pqWalkRerank(PqM, PqK, K, VamanaProbes, PqWalkReorder),
    "q152_graph_upsert" -> OracleGen.updateShardsKnn(K, VamanaProbes,
      UpdOffset, "vec_id % 10 = 4", "vec_id % 13 = 5"),
    "q153_binary_codes" -> OracleGen.binaryCodes,
    "q154_binary_search" -> OracleGen.binarySearch(K),
    "q155_binary_rerank" -> OracleGen.binaryRerank(K, PqWalkReorder),
    "q156_ivfpq_stored" ->
      OracleGen.ivfPqSearch(PqM, PqK, K, IvfPqProbes),
    "q157_pq_walk_filtered" ->
      OracleGen.pqWalk(PqM, PqK, K, VamanaProbes, "(codes.id % 3) <> 1"),
    "q158_ccnet_buckets" -> OracleGenText.ccnetBuckets(3),
    "q159_dsir_weights" -> OracleGenText.dsirWeights(DsirTargetMod),
    "q160_mrl_search" -> OracleGen.mrlSearch(MrlDims, K, PqWalkReorder),
    // q161: invariant-flag oracle (the q50 pattern) — the calibration's
    // searches/truth/dial are all exact and deterministic
    "q161_calibrate_reorder" -> OracleGen.calibrateFlags,
    // q162: served binary rerank, all shards probed at full window ⇒
    // global Hamming top-R + exact rerank — q155's oracle verbatim
    "q162_binary_stored" -> OracleGen.binaryRerank(K, PqWalkReorder),
    "q163_i8_flat_knn" -> OracleGen.embeddingKnnI8(Metric.L2, K, ByteScale),
    "q164_u8_flat_knn" -> OracleGen.embeddingKnnU8(Metric.IP, K, ByteScale),
    // q165: identity claim — Spark-side `matches` ties the hvecs file
    // codec to the certified f16 expression codec (q45's bit surgery has
    // no DuckDB twin, same posture as halfRoundtrip).
    "q165_hvecs_roundtrip" -> OracleGen.fvecsRoundtrip,
    "q166_label_delete" -> OracleGen.multiLabelKnnExcludingLabels(LabelK,
      "CAST(label AS BIGINT) % 5 = 2"),
    // q167: exhaustive level-1 routing ≡ flat routing (HierRoutingSpec),
    // so the hierarchical search shares q24's probed-shard-exact oracle.
    "q167_hier_search" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    // q169: exhaustive level-1 routed probes ≡ the flat sweep
    // (IndexRoutingSpec pins it), so the stored-routed IVFADC search
    // certifies against q156's oracle verbatim
    "q169_ivfpq_routed" ->
      OracleGen.ivfPqSearch(PqM, PqK, K, IvfPqProbes),
    "q168_dyn_i8" -> OracleGen.embeddingKnnI8Excluding(Metric.L2, K,
      ByteScale, "vec_id % 9 = 0"),
    // q170: embeddings are float32 at the source, so the `<f4` npy trip
    // is bit-exact — identity oracle, same claim as q29's fvecs trip.
    "q170_npy_roundtrip" -> OracleGen.fvecsRoundtrip,
    // q171: DSv2 npy reader/writer ≡ q29's roundtrip contract.
    "q171_dsv2_npy" -> OracleGen.fvecsRoundtrip,
    // q172: streaming shard ingest with exact-id restoration ≡ the same
    // identity contract — stream ≡ batch ≡ source.
    "q172_npy_stream" -> OracleGen.fvecsRoundtrip,
    // q173: byte-resident DSv2 ingest serves kNN ≡ q164's u8 oracle (the
    // file trip may not change the value space).
    "q173_npy_bytes_knn" ->
      OracleGen.embeddingKnnU8(Metric.IP, K, ByteScale),
    // q174: the bvecs twin — byte-resident DSv2 bvecs round trip serves
    // the same oracle.
    "q174_bvecs_bytes_knn" ->
      OracleGen.embeddingKnnU8(Metric.IP, K, ByteScale),
    // q175: f16-resident hvecs round trip serves kNN ≡ q163's i8 oracle
    // (integer values are exactly binary16-representable, so neither the
    // codec, the container, nor the half kernel may move one).
    "q175_f16_flat_knn" ->
      OracleGen.embeddingKnnI8(Metric.L2, K, ByteScale),
    // q176: the bf16 twin ≡ q164's u8 oracle (0..255 are exactly
    // bf16-representable under the truncation encode).
    "q176_bf16_flat_knn" ->
      OracleGen.embeddingKnnU8(Metric.IP, K, ByteScale),
    // q177: stored f16 graph layout (half-resident build + walk + sidecar
    // round trip) ≡ exact kNN within probed shards on quantized values.
    "q177_f16_vamana_stored" ->
      OracleGen.vamanaShardedKnnI8(K, VamanaProbes, ByteScale),
    // q178: the two-pass single-file writer keeps q170's bit-exact `<f4`
    // identity — one np.load-able file instead of shards.
    "q178_npy_single_file" -> OracleGen.fvecsRoundtrip,
    // q179: manifest-driven stream ≡ batch ≡ source, and a double decode
    // of a replayed shard would duplicate join rows and fail the count.
    "q179_npy_manifest_stream" -> OracleGen.fvecsRoundtrip,
    // q180: zero-shuffle local serve at exhaustive l1Probes ≡ flat
    // probing ≡ the cogroup walk (HierRoutingSpec pins both identities),
    // so q24/q150's oracle certifies it verbatim.
    "q180_vamana_stored_local" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    // q181: the stored ADC serve ≡ q151's in-memory walk (GraphLayoutSpec), so
    // q148/q151's oracle certifies the zero-shuffle DiskANN path too.
    "q181_pq_walk_stored_local" ->
      OracleGen.pqWalkRerank(PqM, PqK, K, VamanaProbes, PqWalkReorder),
    // q182: filtered compressed serving through the LOCAL path — the
    // keep predicate binds against the codes file schema and the walk
    // ≡ searchShardedAdc(keep) (GraphLayoutSpec), so q157's filtered
    // ADC oracle certifies it verbatim.
    "q182_pq_walk_filtered_local" ->
      OracleGen.pqWalk(PqM, PqK, K, VamanaProbes, "(codes.id % 3) <> 1"),
    // q183: the stored bf16 lifecycle — i8-quantized integers are
    // exactly bf16-representable (7+1 mantissa bits cover |v| ≤ 256),
    // so the walk's widened floats equal the i8 values and q177's
    // oracle applies unchanged.
    "q183_bf16_vamana_stored" ->
      OracleGen.vamanaShardedKnnI8(K, VamanaProbes, ByteScale),
    // q184: the same serve as q180 (the name predates the one serve
    // path); at exhaustive l1Probes routing ≡ flat, so q24/q150/q180's
    // oracle applies.
    "q184_serve_auto" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    // q185: the same Pq serve as q181 — q148/q151/q181's reranked-ADC
    // oracle.
    "q185_serve_adc_auto" ->
      OracleGen.pqWalkRerank(PqM, PqK, K, VamanaProbes, PqWalkReorder),
    // q186: IndexLayout.serve over the routed IVFADC store — serve ≡
    // searchRouted ≡ flat at exhaustive level-1 (IndexRoutingSpec), so
    // q156/q169's oracle certifies the codec-layout dispatcher.
    "q186_index_serve" ->
      OracleGen.ivfPqSearch(PqM, PqK, K, IvfPqProbes),
    // q187: the same Binary serve as q162 — all shards probed at full
    // window ⇒ global Hamming top-R + exact rerank, q155/q162's oracle.
    "q187_binary_stored_local" -> OracleGen.binaryRerank(K, PqWalkReorder),
    // q188: the same Binary serve as q162 — the same oracle.
    "q188_serve_hamming_auto" -> OracleGen.binaryRerank(K, PqWalkReorder),
    // q189: SELECTIVE binary serving — Hamming probe selection over
    // word-encoded label centroids (ties by cid), Hamming ranks within
    // the probed union (full window ⇒ exact per shard), exact-L2 rerank.
    "q189_serve_hamming_probed" ->
      OracleGen.binaryRerankProbed(K, PqWalkReorder, VamanaProbes),
    // q190: STREAMING serving — micro-batched queries through serve()
    // against q184's routed store; batch ≡ stream (StreamingServeSpec)
    // and per-query top-k is batch-boundary-independent, so q184's exact
    // within-probed-shards oracle certifies the streaming recipe.
    "q190_serve_stream" -> OracleGen.vamanaShardedKnn(K, VamanaProbes),
    // q191: the upserted codec store's ADC ranks ≡ residual-LUT replay
    // over the merged corpus with merged-mean centroids (refresh-touched
    // -only ≡ recompute-all; codebooks pinned — vec_id % 7 of the
    // ORIGINAL table).
    "q191_index_upsert" -> OracleGen.ivfPqUpsert(PqM, PqK, K, IvfPqProbes,
      UpdOffset, "vec_id % 10 = 4", "vec_id % 13 = 5"),
    // q192: the streaming twin converges to q191's exact store (pinned
    // label routing makes the multi-batch refresh order-independent), so
    // the same oracle certifies the streaming codec-store lifecycle.
    "q192_index_upsert_stream" -> OracleGen.ivfPqUpsert(PqM, PqK, K,
      IvfPqProbes, UpdOffset, "vec_id % 10 = 4", "vec_id % 13 = 5"),
  )
}
