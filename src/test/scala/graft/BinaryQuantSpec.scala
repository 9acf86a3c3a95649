package graft

import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.BinaryQuant

/** Binary (sign-bit) quantization: word packing vs a driver reference,
  * Hamming ranks vs a naive popcount sweep, and the two-pass rerank's
  * recall dominance over Hamming-only. */
class BinaryQuantSpec extends SparkSpec {

  private def vecs() = Tables.embeddingVectors(spark, sfDir)
    .select("id", "vec")

  private def refCodes(v: Array[Double], t: Seq[Double]): Array[Long] = {
    val words = (t.length + 31) / 32
    val out = new Array[Long](words)
    for (i <- t.indices if v(i) > t(i))
      out(i / 32) |= 1L << (i % 32)
    out
  }

  test("encode packs sign bits 32-per-word exactly") {
    val p = BinaryQuant.train(vecs())
    assert(p.dims === Tables.embDims && p.words === (Tables.embDims + 31) / 32)
    val data = vecs().collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    BinaryQuant.encode(vecs(), p).collect().foreach { r =>
      val id = r.getLong(0)
      val got = (1 to p.words).map(r.getLong).toArray
      assert(got.toSeq === refCodes(data(id), p.thresholds).toSeq, s"id $id")
    }
  }

  test("full-density v2 packing: word j = v1(2j) | (v1(2j+1) << 32), " +
      "bit 63 included; Hamming sums are invariant to the word grouping") {
    import org.apache.spark.sql.Row
    val p = BinaryQuant.train(vecs())
    assert(p.words === 2 && p.words64 === 1,
      "64-d embeddings are the 16 B → 8 B case")
    // driver-side identity on the real corpus (dim 63 above threshold
    // sets bit 63 → negative BIGINT; assert the corpus exercises it)
    val rows = vecs().collect().map(r => r.getSeq[Double](1))
    var sawBit63 = false
    rows.foreach { v =>
      val v1 = BinaryQuant.encodeWords(v, p).map(_.toLong)
      val v2 = BinaryQuant.encodeWords64(v, p)
      val combined = (0 until p.words64).map { j =>
        val lo = if (2 * j < v1.length) v1(2 * j) else 0L
        val hi = if (2 * j + 1 < v1.length) v1(2 * j + 1) else 0L
        lo | (hi << 32)
      }
      assert(v2 === combined)
      if (v2.head < 0) sawBit63 = true
    }
    assert(sawBit63, "no corpus row set bit 63 — the sign-bit edge is " +
      "untested; pick a corpus whose dim 63 crosses its threshold")
    // DataFrame encode ≡ driver encode
    val df = vecs()
    val enc64 = df.select(col("id") +:
      BinaryQuant.codeColumns64(col("vec"), p).zipWithIndex.map {
        case (c, w) => c.as(s"w$w") }: _*)
    val data = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    enc64.collect().foreach { r =>
      assert((1 to p.words64).map(r.getLong).toSeq ===
        BinaryQuant.encodeWords64(data(r.getLong(0)), p), s"id ${r.get(0)}")
    }
    // grouping invariance of the Hamming SUM (the property the whole v2
    // design rests on), via the driver kernels
    val qs = Tables.embeddingQueries(spark, sfDir).collect()
      .map(_.getSeq[Double](1))
    for (q <- qs.take(4); v <- rows.take(50)) {
      val d1 = BinaryQuant.encodeWords(q, p).map(_.toLong)
        .zip(BinaryQuant.encodeWords(v, p).map(_.toLong))
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      val d2 = BinaryQuant.encodeWords64(q, p)
        .zip(BinaryQuant.encodeWords64(v, p))
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      assert(d1 === d2)
    }
    // odd-word-count shape (dims where the last 64-bit word is half
    // padding): 96-d synthetic, words=3, words64=2
    val p96 = BinaryQuant.Params(Seq.tabulate(96)(i => (i % 7) * 0.1))
    assert(p96.words === 3 && p96.words64 === 2)
    val v96 = Seq.tabulate(96)(i => ((i * 37) % 13) * 0.1 - 0.3)
    val v1 = BinaryQuant.encodeWords(v96, p96).map(_.toLong)
    val v2 = BinaryQuant.encodeWords64(v96, p96)
    assert(v2(0) === (v1(0) | (v1(1) << 32)))
    assert(v2(1) === v1(2), "missing odd half must be zero padding")
    assert(p96.wordsFor(1) === 3 && p96.wordsFor(2) === 2)
  }

  test("Hamming ranks equal a naive popcount sweep; rerank recall ≥ " +
      "Hamming-only recall vs exact") {
    val p = BinaryQuant.train(vecs())
    val data = vecs().collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val queries = Tables.embeddingQueries(spark, sfDir)
    val qs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val codes = BinaryQuant.encode(vecs(), p)
    val k = 10
    val got = BinaryQuant.searchHamming(queries, codes, p, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    var hamHits = 0; var rrHits = 0
    val rr = BinaryQuant.searchHammingRerank(queries, codes, p, vecs(), k,
        kReorder = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    qs.foreach { case (qid, q) =>
      val qc = refCodes(q, p.thresholds)
      val ref = data.toSeq.map { case (id, v) =>
        val dc = refCodes(v, p.thresholds)
        val d = qc.zip(dc).map { case (a, b) =>
          java.lang.Long.bitCount(a ^ b) }.sum.toLong
        (id, d)
      }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      assert(got(qid).sortBy(_._2).map(_._3).toSeq === ref, s"q$qid")
      val exact = data.toSeq.map { case (id, v) =>
        (id, Metric.L2.compute(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      hamHits += ref.count(exact)
      rrHits += rr(qid).map(_._2).count(exact)
    }
    assert(rrHits >= hamHits, s"rerank $rrHits < hamming-only $hamHits")
  }
}
