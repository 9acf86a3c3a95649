package graft.operators

import graft.core.Metric
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (sign-bit) quantization — the fourth compression axis next to
  * SQ/LVQ/LeanVec/PQ, and the most aggressive: one BIT per dimension
  * (64-d float64 → 8 bytes, 64×). Each dimension contributes bit
  * `v_i > t_i` where `t_i` is the per-dim corpus mean (rounded like every
  * trained constant so DuckDB replays the training exactly); candidate
  * ranking is HAMMING distance — codegen'd `bit_count(xor)` words, the
  * cheapest distance the engine has — and the standard two-pass shape
  * reranks the Hamming top kReorder·k with exact full-precision distances
  * (the same serving property as the PQ paths: full-precision reads stay
  * |Q|·kReorder·k regardless of corpus size).
  *
  * Bits pack 32 per 64-bit word (w0 = dims 0..31, w1 = 32..63, …): word
  * values stay < 2³², so Spark and DuckDB agree on plain signed BIGINT
  * arithmetic with no sign-bit edge cases. Certification is exact
  * end-to-end: codes are integers, Hamming sums are integers, ties break
  * by id.
  */
object BinaryQuant {

  /** Per-dim thresholds (rounded corpus means — [[Lvq.trainMean]]). */
  case class Params(thresholds: Seq[Double]) {
    def dims: Int = thresholds.length
    def words: Int = (dims + 31) / 32
    /** Stored word count at FULL 64-bit density (layout v2). */
    def words64: Int = (dims + 63) / 64
    /** Stored word count for a bincodes layout version. */
    def wordsFor(version: Int): Int =
      if (version >= 2) words64 else words
  }

  def train(data: DataFrame, vecCol: String = "vec"): Params =
    Params(Lvq.trainMean(data, vecCol))

  /** One Column per 32-bit word: OR of `(v_i > t_i) << (i mod 32)`. */
  def codeColumns(vec: Column, p: Params): Seq[Column] =
    (0 until p.words).map { w =>
      (w * 32 until math.min((w + 1) * 32, p.dims)).map { i =>
        when(element_at(vec, i + 1) > lit(p.thresholds(i)),
          lit(1L << (i - w * 32))).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }

  /** `(idCol, w0..w{words−1})` — shuffle-free codegen'd encode. */
  def encode(data: DataFrame, p: Params, idCol: String = "id",
             vecCol: String = "vec"): DataFrame =
    data.select(col(idCol) +:
      codeColumns(col(vecCol), p).zipWithIndex.map {
        case (c, w) => c.as(s"w$w") }: _*)

  /** Driver-side word encoding of one vector (words as doubles) — probe
    * routing and spec references. Same bit rule as [[codeColumns]]. */
  def encodeWords(v: Seq[Double], p: Params): Seq[Double] = {
    val out = new Array[Long](p.words)
    var i = 0
    while (i < p.dims) {
      if (v(i) > p.thresholds(i)) out(i / 32) |= 1L << (i % 32)
      i += 1
    }
    out.map(_.toDouble).toSeq
  }

  /** FULL-DENSITY (64 bits per BIGINT word) encode columns — the
    * bincodes LAYOUT v2 on-disk form: a true 1-bit-per-dimension packing
    * (a 64-d store is 8 B/row, half of v1's two half-full words and
    * smaller than m=8 PQ above ~64 dims).
    * Bit rule is identical to [[codeColumns]] per DIMENSION; only the
    * word grouping changes, so v2 word j is exactly
    * `v1(2j) | (v1(2j+1) << 32)` (missing odd half = 0) and every
    * Hamming SUM is equal under either packing — which is why the query
    * / probe-routing space can stay in v1 word-doubles (< 2⁵³, exact in
    * a double) while the STORE and the walk state halve
    * (BinaryQuantSpec pins the identity; GraphLayoutSpec pins
    * v2-layout ≡ v1-layout serving bit-for-bit). Bit 63 makes a
    * negative BIGINT — Spark and parquet treat it as a plain two's-
    * complement pattern, and the walk XOR/popcount is bit-pattern
    * arithmetic, so signedness never leaks into a distance. */
  def codeColumns64(vec: Column, p: Params): Seq[Column] =
    (0 until p.words64).map { w =>
      (w * 64 until math.min((w + 1) * 64, p.dims)).map { i =>
        when(element_at(vec, i + 1) > lit(p.thresholds(i)),
          lit(1L << (i - w * 64))).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }

  /** Driver-side full-density encode ([[codeColumns64]]'s row form). */
  def encodeWords64(v: Seq[Double], p: Params): Seq[Long] = {
    val out = new Array[Long](p.words64)
    var i = 0
    while (i < p.dims) {
      if (v(i) > p.thresholds(i)) out(i / 64) |= 1L << (i % 64)
      i += 1
    }
    out.toSeq
  }

  /** Hamming top-k riding [[FlatKnn.search]]'s broadcast + partition-
    * local-heap kernel: code words (integral, < 2³²) pack into an
    * `ARRAY<DOUBLE>` "vector" and [[graft.core.Metric.Hamming]] scores
    * popcount(xor) per word — the same tuned scan path as every other
    * metric instead of a generic cross-join aggregate (SCALE.md records
    * the 1M measurement). Ties (frequent — Hamming is integral) break by
    * id in both engines. Output (query_id, rnk, neighbor_id, dist). */
  def searchHamming(queries: DataFrame, codes: DataFrame, p: Params,
                    k: Int): DataFrame = {
    val d = codes.select(col("id"),
      array((0 until p.words).map(w => col(s"w$w").cast("double")): _*)
        .as("vec"))
    val q = queries.select(col("query_id"),
      array(codeColumns(col("qvec"), p).map(_.cast("double")): _*)
        .as("qvec"))
    FlatKnn.search(q, d, k, Metric.Hamming)
  }

  /** Two-pass: Hamming keeps kReorder·k candidates (codes-only scan),
    * exact `metric` reranks just those rows — 8 bytes/row in the coarse
    * pass, full precision only for the |Q|·kReorder·k shortlist. */
  def searchHammingRerank(queries: DataFrame, codes: DataFrame, p: Params,
                          data: DataFrame, k: Int, kReorder: Int,
                          metric: Metric = Metric.L2): DataFrame = {
    val cand = searchHamming(queries, codes, p, kReorder * k)
    Rerank.exact(cand, queries, data, k, metric)
  }
}
