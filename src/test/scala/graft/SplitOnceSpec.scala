package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction,
  StringSplit, StringTrim}
import graft.operators.{Bpe, LmScore, TextAnalysis}

/** The text passes split each document once: no lambda in their optimized
  * plans evaluates a `split` (nor, for Bpe, a `trim`). A higher-order
  * function evaluates its lambda once per element, so a split inside one
  * re-splits the whole text for every element — quadratic per document.
  * Plans only (dsirWeights collects two count totals when called); the
  * rows are pinned by LmSpec, DedupTextSpec and BpeSpec. */
class SplitOnceSpec extends SparkSpec {
  import spark.implicits._

  // RDD-backed, not local: the optimizer would evaluate a projection
  // over a local relation at planning time and leave no split to check
  private def corpus = spark.sparkContext.parallelize(Seq(
      "the cat sat on the mat", "the cat ran", "a dog sat on a log", "solo",
      "x y ").zipWithIndex.map { case (t, i) => (i.toLong, t) })
    .toDF("doc_id", "text")

  /** `df`'s optimized plan evaluates `p` somewhere (so the check is not
    * vacuous) but inside no lambda body. */
  private def assertSplitOnce(name: String, df: DataFrame,
      p: Expression => Boolean = _.isInstanceOf[StringSplit]): Unit = {
    val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
    assert(exprs.exists(_.find(p).isDefined),
      s"$name: the plan splits no text (a vacuous check)")
    val inLambda = exprs.flatMap(_.collect {
      case l: LambdaFunction if l.function.find(p).isDefined => l.sql })
    assert(inLambda.isEmpty, s"$name re-splits per element: $inLambda")
  }

  test("every LmScore pass and trainBigramsHashed split each document " +
      "once: no split inside a lambda") {
    val docs = corpus
    val (bg, ug) = LmScore.trainBigrams(docs)
    val (bgH, ugH) = LmScore.trainBigramsHashed(docs)
    val tu = LmScore.trainUnigrams(docs)
    Seq(
      "trainBigrams" -> bg,
      "trainBigramsHashed" -> bgH,
      "trainUnigrams" -> tu,
      "scoreMeanProb" -> LmScore.scoreMeanProb(docs, bg, ug),
      "scoreMeanProb(hashKeys)" ->
        LmScore.scoreMeanProb(docs, bgH, ugH, hashKeys = true),
      "scoreInterpolated" ->
        LmScore.scoreInterpolated(docs, bg, ug, tu, 0.5),
      "dsirWeights" -> LmScore.dsirWeights(docs, bg, bg),
      "perplexity" -> LmScore.perplexity(docs, bg, ug)
    ).foreach { case (name, df) => assertSplitOnce(name, df) }
  }

  test("repetitionMetrics builds its grams from the token column") {
    assertSplitOnce("repetitionMetrics",
      TextAnalysis.repetitionMetrics(corpus))
  }

  test("Bpe's pair pass splits each symbol string once") {
    val vocab = spark.sparkContext.parallelize(Seq((3L, " a  b  c  </w> "),
      (1L, " ab  </w> "), (2L, " c  </w> "))).toDF("freq", "s")
    assertSplitOnce("Bpe.pairCounts", Bpe.pairCounts(vocab), e =>
      e.isInstanceOf[StringSplit] || e.isInstanceOf[StringTrim])
  }
}
