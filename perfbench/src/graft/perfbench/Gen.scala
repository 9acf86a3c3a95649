package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the driver (for truth) and the executors (for
  * the tables the engine reads) produce identical vectors without shipping
  * them, and one seed always yields the same inputs. */
object Gen {

  /** Stable 64-bit mix of a seed and up to two indices (SplitMix64). */
  def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, a: Long, b: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(seed, a, b))

  /** Anisotropic Gaussian mixture: `components` means spread at scale
    * `spread`; each component has its own per-dimension standard
    * deviations, a decaying spectrum (most variance in few directions, as
    * in learned embeddings) jittered per component. Cluster structure is
    * what lets the graph and IVF paths reach useful recall at all: on
    * isotropic data every query is equidistant from most of the corpus. */
  final class Mixture(val seed: Long, val dims: Int, val components: Int,
                      spread: Double = 4.0) extends Serializable {
    private val means: Array[Array[Double]] = Array.tabulate(components) { c =>
      val r = rng(seed, 1L, c)
      Array.fill(dims)(r.nextGaussian() * spread)
    }
    private val scales: Array[Array[Double]] = Array.tabulate(components) { c =>
      val r = rng(seed, 2L, c)
      Array.tabulate(dims)(j =>
        math.pow(j + 1.0, -0.5) * math.exp(0.3 * r.nextGaussian()))
    }

    /** Component of corpus row `id` (uniform over components). */
    def componentOf(id: Long): Int =
      java.lang.Math.floorMod(mix(seed, 3L, id), components.toLong).toInt

    /** Vector of stream `stream`, index `i`, drawn from component `c`. */
    def draw(stream: Long, i: Long, c: Int): Array[Float] = {
      val r = rng(seed, stream, i)
      val m = means(c)
      val s = scales(c)
      Array.tabulate(dims)(j => (m(j) + s(j) * r.nextGaussian()).toFloat)
    }

    /** Corpus row `id`. */
    def row(id: Long): Array[Float] = draw(Streams.Corpus, id, componentOf(id))
  }

  /** Disjoint random streams of one seed. */
  object Streams {
    val Corpus = 10L
    val Queries = 11L
    val Upserts = 12L
    val Docs = 13L
  }

  /** A query batch: `size` queries, all drawn near `locality` components
    * chosen per batch (locality = 0 draws every query from a uniformly
    * random component). Query ids are `batch * size + i`. */
  def queryBatch(m: Mixture, batch: Int, size: Int, locality: Int)
      : Array[(Long, Array[Float])] = {
    val r = rng(m.seed, 20L, batch)
    val comps = Array.fill(math.max(locality, 1))(r.nextInt(m.components))
    Array.tabulate(size) { i =>
      val c = if (locality == 0) r.nextInt(m.components) else comps(i % comps.length)
      val qid = batch.toLong * size + i
      (qid, m.draw(Streams.Queries, qid, c))
    }
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Corpus rows [0, n) generated on the executors. */
  def corpus(spark: SparkSession, m: Mixture, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.range(0L, n, 1L, parts).map(id => (id, m.row(id)))
      .toDF("id", "vec")
  }

  // ---- documents ---------------------------------------------------------

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Zipf-vocabulary document corpus with the schema of the engine's
    * `documents` table. Word ranks follow Zipf(1.1) over `vocab` words, so
    * the bigram tables have a realistic long tail. A fixed share of docs
    * trips the C4 gate: too short, a blocklisted word, a boilerplate
    * phrase or a brace. */
  final class Docs(val seed: Long, val n: Long, vocab: Int = 4000,
                   sources: Int = 20) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(r => math.pow(r + 1.0, -1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail
    }
    private def word(rank: Int): String = {
      // short pronounceable tokens; rank 0 is the most frequent
      val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da")
      var x = rank
      val sb = new StringBuilder
      do { sb.append(syl(x % 10)); x /= 10 } while (x > 0)
      sb.toString
    }
    private val words: Array[String] = Array.tabulate(vocab)(word)

    def doc(id: Long): Row = {
      val r = rng(seed, Streams.Docs, id)
      val u = r.nextDouble()
      val len =
        if (u < 0.08) 5 + r.nextInt(10) // below C4MinWords
        else 20 + r.nextInt(180)
      val toks = Array.fill(len) {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        words(math.min(if (i >= 0) i else -i - 1, vocab - 1))
      }
      val trip = r.nextDouble()
      if (trip < 0.03) toks(r.nextInt(len)) = "blockme"
      else if (trip < 0.05) toks(r.nextInt(len)) = "javascript"
      else if (trip < 0.06) toks(r.nextInt(len)) = "{x}"
      val text = toks.mkString(" ")
      Row(id, text, "en", s"src${r.nextInt(sources)}", text.length.toLong)
    }
  }

  def documents(spark: SparkSession, d: Docs, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(0L, d.n, 1L, parts).map(d.doc)
    spark.createDataFrame(rdd, DocSchema)
  }
}
