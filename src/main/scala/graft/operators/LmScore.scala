package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Language-model quality scoring for training corpora — the CCNet/Dolma
  * recipe family (score every document against an n-gram LM trained on a
  * trusted corpus; filter or bucket by score), as two distributed pieces:
  *
  *  1. [[trainBigrams]] — bigram + unigram count tables from a reference
  *     corpus: two map-side-combined aggregations, vocabulary²-bounded
  *     (Zipf: in practice ≈ corpus-distinct-bigram-bounded), never
  *     corpus-bounded.
  *  2. [[scoreMeanProb]] — per-document MEAN conditional bigram
  *     probability mean(p(w_i | w_{i−1})), joined from the count tables
  *     and folded in token order.
  *
  * Why mean probability and not perplexity: the scores ship through the
  * hash-exact oracle gate, and every arithmetic op here — integer counts,
  * one division per bigram, an ORDERED left fold of doubles, one final
  * floor — is exactly-rounded IEEE, bit-identical in any engine. True
  * perplexity needs ln/exp, which are NOT correctly-rounded-portable
  * across libm implementations (a 1-ulp difference flips a floor), so
  * [[perplexity]] exists as the conventional variant but certifies via
  * spec (monotone agreement with the mean-prob ranking on the same
  * model), not via the hash gate. The mean-prob score is itself a
  * monotone-per-document LM signal: high ⇔ the document's transitions are
  * typical of the reference corpus.
  *
  * Scale shape: scoring is one equi-join of the exploded corpus bigrams
  * against the (broadcast-able) count tables + a per-doc sort-free
  * aggregation — `sort_array` runs INSIDE each doc's collected pair list,
  * no window, no cross-doc shuffle beyond the doc_id groupBy. Within a
  * document the work is linear in tokens: every pass takes its pairs from
  * one extractor that splits each text once into a column and zips the
  * pairs from it, never a `split` inside a per-element lambda (that
  * re-splits the whole text per pair, quadratic per document). */
object LmScore {

  /** Milli-scale for the certified integer score. */
  val ScoreScale = 1000000000L // 1e9: mean prob in [0,1] → long

  /** See [[Width.widen]]: every pass below multiplies rows ~tokens-per-doc ×
    * in the explode, so widen the corpus BEFORE it (no-op at real scale).
    * Results are invariant to partition count: every consumer is a key
    * aggregation or an order-pinned fold. */
  private def widened(df: DataFrame): DataFrame = Width.widen(df)

  private val PairsType = "array<struct<w1:string,w2:string>>"

  /** The one pair extractor (see Scale shape): (doc_id, pos, w1, w2),
    * `pos` the 0-based pair index that orders the score folds, or (w1, w2)
    * when `idCol` is None. Texts with < 2 tokens or null yield no pair. */
  private def bigramRows(docs: DataFrame, textCol: String,
      idCol: Option[String]): DataFrame = {
    val toks = col("toks")
    val n = size(toks)
    val prs = when(n < 2, array().cast(PairsType)).otherwise(
      arrays_zip(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1))
        .cast(PairsType))
    val id = idCol.toSeq.map(c => col(c).cast("long").as("doc_id"))
    val tokenized = widened(docs)
      .select(id :+ split(col(textCol), " ").as("toks"): _*)
    idCol match {
      case None => tokenized.select(explode(prs).as("pr"))
        .select(col("pr.w1"), col("pr.w2"))
      case Some(_) => tokenized.select(col("doc_id"), posexplode(prs))
        .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
    }
  }

  /** (w1, w2, c2) bigram and (w1, c1) unigram count tables. */
  def trainBigrams(docs: DataFrame, textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val prs = bigramRows(docs, textCol, None)
    val bigrams = prs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val unigrams = bigrams.groupBy("w1").agg(sum("c2").as("c1"))
    (bigrams, unigrams)
  }

  /** The 100 TB shuffle-width lever (SubstringDedup's `hashKeys`
    * precedent): count tables and joins keyed on 8-byte xxhash64
    * fingerprints — (k1 = h(w1), k2 = h(w1, w2)) — instead of string
    * pairs. Scores are identical to the string path unless two DISTINCT
    * bigrams sharing k2 collide (2⁻⁶⁴ per co-occurring pair; a collision
    * would only merge two counts, never drop one) — LmSpec pins the
    * equality on the test corpora. Measured 2.6×/3.6× (train/score) on a
    * worst-case non-Zipf 77M-bigram corpus at 1M docs. */
  def trainBigramsHashed(docs: DataFrame, textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val keyed = bigramRows(docs, textCol, None)
      .select(xxhash64(col("w1")).as("k1"),
        xxhash64(col("w1"), col("w2")).as("k2"))
    val bigrams = keyed.groupBy("k1", "k2").agg(count(lit(1)).as("c2"))
    val unigrams = bigrams.groupBy("k1").agg(sum("c2").as("c1"))
    (bigrams, unigrams)
  }

  /** Per-document certified LM score:
    * floor(ScoreScale · mean_i p(w_{i+1} | w_i)) with p = c2/c1 from the
    * trained tables; documents with < 2 tokens (no bigram) emit no row.
    * Unseen bigrams (scoring a corpus the model wasn't trained on) get
    * add-zero probability 0. Fold order is token order — deterministic
    * and oracle-replayable. */
  def scoreMeanProb(docs: DataFrame, bigrams: DataFrame,
      unigrams: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashKeys: Boolean = false): DataFrame = {
    val pairs = bigramRows(docs, textCol, Some(idCol))
    val joined =
      if (hashKeys)
        pairs.select(col("doc_id"), col("pos"),
            xxhash64(col("w1")).as("k1"),
            xxhash64(col("w1"), col("w2")).as("k2"))
          .join(bigrams, Seq("k1", "k2"), "left")
          .join(unigrams, Seq("k1"), "left")
      else pairs
        .join(bigrams, Seq("w1", "w2"), "left")
        .join(unigrams, Seq("w1"), "left")
    val probs = joined
      .select(col("doc_id"), col("pos"),
        coalesce(col("c2").cast("double") / col("c1"), lit(0.0)).as("p"))
    probs.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("p"))).as("ps"))
      .select(col("doc_id"),
        floor(lit(ScoreScale.toDouble) *
          aggregate(sort_array(col("ps")), lit(0.0),
            (acc, x) => acc + x.getField("p")) / size(col("ps")))
          .cast("long").as("lm_score_nano"))
  }

  /** Token unigram distribution table (w, cu, total): every token counted
    * (not just bigram heads), plus the corpus total as a column so the
    * probability cu/total needs no driver round-trip. */
  def trainUnigrams(docs: DataFrame, textCol: String = "text")
      : DataFrame = {
    val counts = widened(docs)
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cu"))
    counts.crossJoin(broadcast(counts.agg(sum("cu").as("total"))))
  }

  /** Jelinek–Mercer interpolated score: per-bigram probability
    * λ·p(w2|w1) + (1−λ)·p_uni(w2), folded and floored exactly like
    * [[scoreMeanProb]]. Fixes the hard-zero weakness of the pure bigram
    * score on out-of-model corpora — an unseen transition backs off to the
    * target word's unigram mass instead of flattening the document to 0 —
    * while staying inside exactly-rounded IEEE ops (two multiplies + one
    * add per bigram), so the result still hash-certifies. A word unseen
    * even as a unigram contributes (1−λ)·0. */
  def scoreInterpolated(docs: DataFrame, bigrams: DataFrame,
      unigrams: DataFrame, tokenUnigrams: DataFrame, lambda: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda in [0, 1]")
    val pairs = bigramRows(docs, textCol, Some(idCol))
    val probs = pairs
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      .join(tokenUnigrams.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .select(col("doc_id"), col("pos"),
        (lit(lambda) *
          coalesce(col("c2").cast("double") / col("c1"), lit(0.0)) +
         lit(1.0 - lambda) *
          coalesce(col("cu").cast("double") / col("total"), lit(0.0)))
          .as("p"))
    probs.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("p"))).as("ps"))
      .select(col("doc_id"),
        floor(lit(ScoreScale.toDouble) *
          aggregate(sort_array(col("ps")), lit(0.0),
            (acc, x) => acc + x.getField("p")) / size(col("ps")))
          .cast("long").as("lm_interp_nano"))
  }

  /** CCNet-style corpus bucketing (Wenzek et al. LREC'20 §4.3: split the
    * corpus into head/middle/tail by LM quality): rank every scored doc
    * by (lm_score_nano DESC, doc_id) and cut into `nBuckets` equal-mass
    * buckets — bucket = (nBuckets·(rank−1)) div count, pure integer
    * arithmetic, so DuckDB replays it exactly. Bucket 0 is the most
    * fluent (CCNet's "head"). Docs with < 2 tokens have no bigram score
    * and are absent, matching [[scoreMeanProb]].
    *
    * The exact global rank is one single-partition window over
    * (doc_id, score) rows ONLY — fine into the billions of docs; at the
    * very top end CCNet itself learns percentile CUTOFFS on a sample and
    * applies them as a map, which is [[bucketsByCutoffs]] (shuffle-free
    * codegen'd when-chain). */
  def ccnetBuckets(docs: DataFrame, bigrams: DataFrame, unigrams: DataFrame,
      nBuckets: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bucketsByRank(scoreMeanProb(docs, bigrams, unigrams, idCol, textCol),
      nBuckets)

  /** The exact-rank bucketing alone, over an already-scored frame —
    * reuse a cached score table across rank- and cutoff-bucketing (the
    * scoring pass dominates; the rank window itself is one
    * single-partition pass over (doc_id, score) rows). */
  def bucketsByRank(scored: DataFrame, nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("lm_score_nano").desc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy()).cast("long"))
      .select(col("doc_id"), col("lm_score_nano"),
        expr(s"CAST(($nBuckets * (rn - 1)) DIV n AS BIGINT)").as("bucket"))
  }

  /** Sampled-cutoff bucketing — the 100 TB shape: `cutoffs` are
    * descending score thresholds (bucket b = first b with score ≥
    * cutoffs(b), else cutoffs.length); learned once on a sample, applied
    * as a shuffle-free codegen'd map next to the scan. */
  def bucketsByCutoffs(scored: DataFrame, cutoffs: Seq[Long],
      scoreCol: String = "lm_score_nano"): DataFrame = {
    val bucket = cutoffs.zipWithIndex.reverse
      .foldLeft(lit(cutoffs.length.toLong)) { case (acc, (c, b)) =>
        when(col(scoreCol) >= c, b.toLong).otherwise(acc)
      }
    scored.withColumn("bucket", bucket.cast("long"))
  }

  /** DSIR importance weights (Xie et al. NeurIPS'23, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc by
    * how much more likely its n-gram bag is under a TARGET-domain LM than
    * under the raw-corpus LM — log w(doc) = Σ_grams ln p_t(g) − ln p_r(g)
    * — then resample ∝ w. Features here are the engine's certified bigram
    * tables (the hashed-bucket variant DSIR §2.2 uses at scale is the
    * [[trainBigramsHashed]] lever, spec-pinned equal); both distributions
    * are Laplace-smoothed over the raw vocabulary, so unseen grams
    * contribute a finite negative ratio. Arithmetic contract: each term
    * is ln((c+1)/(N+V)) with integer c/N/V — ln is bitwise-verified
    * HotSpot ≡ DuckDB on this stack (the q128 BM25 precedent) — summed in
    * document position order and floored to nano.
    *
    * Scale shape: two vocabulary-bounded count tables (one for the small
    * target domain, one for the corpus — the same single-shuffle
    * aggregations as [[trainBigrams]]), joined to the corpus gram stream.
    * Join strategy is left to Catalyst/AQE: the target table is usually
    * broadcast-small, but the RAW table grows with the corpus vocabulary
    * (tens of millions of bigram types at 1M docs), so forcing a
    * broadcast would be a scale bug — the sort-merge join on (w1, w2) is
    * the honest cost, and [[trainBigramsHashed]]'s 8-byte keys are the
    * shuffle-width lever. */
  def dsirWeights(docs: DataFrame, targetBigrams: DataFrame,
      rawBigrams: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def totals(bg: DataFrame): (Long, Long) = {
      val r = bg.agg(sum("c2").cast("long"), count(lit(1))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
    val (nt, _) = totals(targetBigrams)
    val (nr, v) = totals(rawBigrams) // smoothing vocab = RAW bigram types
    val pairs = bigramRows(docs, textCol, Some(idCol))
    val terms = pairs
      .join(targetBigrams.select(col("w1"), col("w2"),
        col("c2").as("ct")), Seq("w1", "w2"), "left")
      .join(rawBigrams.select(col("w1"), col("w2"),
        col("c2").as("cr")), Seq("w1", "w2"), "left")
      .select(col("doc_id"), col("pos"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) /
            lit((nt + v).toDouble)) -
          log((coalesce(col("cr"), lit(0L)).cast("double") + 1.0) /
            lit((nr + v).toDouble))).as("t"))
    terms.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("t"))).as("ts"))
      .select(col("doc_id"),
        floor(lit(ScoreScale.toDouble) *
          aggregate(sort_array(col("ts")), lit(0.0),
            (acc, x) => acc + x.getField("t")))
          .cast("long").as("dsir_nano"))
  }

  /** Conventional bigram perplexity exp(−mean ln p) with floor-epsilon for
    * unseen bigrams — the standard report form; transcendental, so
    * certified by LmSpec (strictly anti-monotone with the mean-LOG-prob,
    * computed on the same joined probabilities), not by the hash gate. */
  def perplexity(docs: DataFrame, bigrams: DataFrame, unigrams: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      eps: Double = 1e-9): DataFrame = {
    val pairs = bigramRows(docs, textCol, Some(idCol))
    pairs
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      .select(col("doc_id"),
        log(greatest(coalesce(col("c2").cast("double") / col("c1"),
          lit(0.0)), lit(eps))).as("lp"))
      .groupBy("doc_id")
      .agg(exp(-avg(col("lp"))).as("ppl"))
  }
}
