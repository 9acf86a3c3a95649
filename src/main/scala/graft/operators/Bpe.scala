package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary training — the subword
  * tokenizer-learning step of a training-data pipeline (Sennrich et al.
  * ACL 2016), as Spark aggregations with a FULL per-round SQL-replay
  * oracle (the q12 k-means certification pattern applied to an iterative
  * text algorithm).
  *
  * Representation: each distinct word becomes a canonical symbol string —
  * one leading/trailing space, TWO spaces between symbols, a `</w>`
  * end-of-word marker (` a  b  c  </w> `). The double gap makes a merge a
  * plain substring `replace(s, " x  y ", " xy ")`: each match consumes one
  * boundary space from either side, so adjacent matches never overlap and
  * the rewritten string is again canonical — replace-all left-to-right IS
  * the BPE merge semantics, with no regex and no escaping, identical in
  * the JVM and the DuckDB oracle.
  *
  * Scale shape: training runs on the DISTINCT-WORD table (Zipf-bounded —
  * vocabulary, not corpus, sized) weighted by word frequency. Each round
  * is one map-side-combined pair-count aggregation over the vocab plus a
  * driver argmax of ONE row; the corpus itself is touched once to build
  * the frequency table and once to encode. The per-round rewrite is a
  * shuffle-free map over the vocab. */
object Bpe {

  /** Pair-separator for the (left, right) key — a control char that can
    * never appear in corpus tokens. */
  val Sep = "\u0001"

  val EndMark = "</w>"

  /** Distinct-word frequency table of a corpus: (w, freq). */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Canonical initial symbol string of a word column. */
  def initSymbols(w: Column): Column =
    concat(lit(" "), array_join(split(w, ""), "  "),
      lit("  " + EndMark + " "))

  /** One round's pair counts (pr, cnt) over a (freq, s) vocab, `pr` =
    * `left SEP right`; each symbol string is split once into a column the
    * pair lambda reads. Guarded for fully-merged single-symbol words:
    * sequence(1, 0) would DESCEND to [1, 0] and element_at(0) throws
    * under ANSI. */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = col("syms")
    val pairs = when(size(syms) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => concat(element_at(syms, i), lit(Sep), element_at(syms, i + 1))))
    vocab.select(col("freq"), split(trim(col("s")), "  ").as("syms"))
      .select(col("freq"), explode(pairs).as("pr"))
      .groupBy("pr").agg(sum("freq").as("cnt"))
  }

  /** One merge rewrite: ` x  y ` → ` xy ` (plain replace-all). */
  private def applyMerge(s: Column, left: String, right: String): Column =
    call_function("replace", s,
      lit(" " + left + "  " + right + " "),
      lit(" " + left + right + " "))

  /** Train `m` merges. Returns (merges, vocab):
    *  - merges: (round, left, right, cnt) — the learned merge table,
    *    round 1-based in learning order;
    *  - vocab: (w, freq, s) — the word table with final symbol strings.
    * Tie-break: (count DESC, pair-string ASC, binary UTF-8) — total order,
    * so training is deterministic and engine-portable. */
  def train(docs: DataFrame, m: Int, textCol: String = "text")
      : (DataFrame, DataFrame) = {
    require(m >= 1 && m <= 64, "m in [1, 64]")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = wordFreq(docs, textCol)
      .select(col("w"), col("freq"), initSymbols(col("w")).as("s"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= m && !exhausted) {
      val best = pairCounts(vocab)
        .orderBy(desc("cnt"), asc("pr"))
        .limit(1)
        .as[(String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (pr, cnt) = best.head
        val Array(l, rt) = pr.split(Sep, 2)
        merges += ((r, l, rt, cnt))
        // localCheckpoint per round: keeps the m-deep replace lineage from
        // re-running every prior round's rewrite on each evaluation
        vocab = vocab.withColumn("s", applyMerge(col("s"), l, rt))
          .localCheckpoint(true)
        r += 1
      }
    }
    // lhs/rhs, not left/right: SQL keywords complicate the oracle side
    (merges.result().toDF("round", "lhs", "rhs", "cnt"), vocab)
  }

  /** Per-document BPE token counts against a trained vocab: explode words,
    * join the (broadcast-able, vocabulary-sized) symbol table, sum symbol
    * counts. Words are guaranteed present when `docs` is the training
    * corpus; unseen words fall back to character count + 1 (the untrained
    * tokenization). */
  def tokenCounts(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perWord = vocab.select(col("w"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_syms"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(perWord), Seq("w"), "left")
      .withColumn("n_syms", coalesce(col("n_syms"),
        length(col("w")).cast("long") + 1L))
      .groupBy("doc_id").agg(sum("n_syms").as("n_bpe_tokens"))
  }

  /** Per-document BPE TOKEN SEQUENCE (not just the count): each word in
    * order is replaced by its trained symbol tokens (the canonical
    * double-gap string collapsed to single spaces), unseen words fall
    * back to character tokens + [[EndMark]] (the untrained tokenization,
    * consistent with [[tokenCounts]]'s length+1), and the document's
    * tokens are reassembled in word order. Output: (doc_id, bpe_tokens —
    * one space-joined string, exact-string certifiable — and
    * n_bpe_tokens ≡ q119's count). Scale shape: one posexplode + one
    * broadcast vocab join + one per-doc ordered assembly — the same plan
    * as scoring, nothing vocabulary-unbounded shuffles. */
  def encode(docs: DataFrame, vocab: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perWord = vocab.select(col("w"),
      regexp_replace(trim(col("s")), "  ", " ").as("tokstr"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")))
      .filter(col("col") =!= "")
      .withColumnRenamed("col", "w")
      .join(broadcast(perWord), Seq("w"), "left")
      .withColumn("tokstr", coalesce(col("tokstr"),
        concat(regexp_replace(col("w"), "(.)", "$1 "), lit(EndMark))))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("tokstr"))).as("ps"))
      .select(col("doc_id"),
        concat_ws(" ",
          transform(sort_array(col("ps")), x => x.getField("tokstr")))
          .as("bpe_tokens"))
      .withColumn("n_bpe_tokens",
        size(split(col("bpe_tokens"), " ")).cast("long"))
  }

  /** JVM reference greedy encoder (specs): apply the merge list in order
    * to one word's symbol sequence. */
  def encodeWordRef(word: String, merges: Seq[(String, String)])
      : Seq[String] = {
    var syms: Seq[String] = word.map(_.toString) :+ EndMark
    merges.foreach { case (l, rt) =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rt) {
          out += (l + rt); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }
}
