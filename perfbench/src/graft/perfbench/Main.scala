package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, the clock, the inputs' seed and the
  * run's scratch directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: String, val cores: Int) {
  val out = new Outcome
  def path(name: String): String = new File(work, name).getPath
}

/** Operations attempted and failed, end-to-end metrics, and facts for the
  * artifact. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val derived = mutable.LinkedHashMap.empty[String, Double]

  /** Count one operation; `problem` is empty when every check passed. */
  def op(problem: String): Unit = {
    attempted += 1
    if (problem.nonEmpty) {
      failed += 1
      if (problems.size < 20) problems += problem
    }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** Entry point of one benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes the run's artifact (metrics, checks, per-layer figures when
  * traced, run facts) as JSON to FILE. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "exact-scan" -> ExactScan.run,
    "ann-serve" -> AnnServe.run,
    "ingest-upsert" -> IngestUpsert.run,
    "corpus-shaping" -> CorpusShaping.run)

  /** Spans the traced run reports, one per layer the benchmark calls. */
  val Layers: Seq[String] = Seq("FlatKnn.search", "KnnJoinPlan.sql",
    "KMeans.lloyd", "KMeans.assign", "Vamana.buildSharded",
    "GraphLayout.write", "GraphLayout.open", "GraphLayout.serve",
    "GraphLayout.upsert", "LmScore.trainBigrams", "shaping.pipeline")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // `all` runs every workload in one JVM, each in its own directory: the
    // build uses it to record the class-data archive every run starts from
    val names = opt("workload") match {
      case "all" => Workloads.keys.toSeq.sorted
      case w if Workloads.contains(w) => Seq(w)
      case w => sys.error(s"unknown workload $w (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    }
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    for (name <- names) {
      val dir = if (names.size == 1) work else new File(work, name).getPath
      val out = if (names.size == 1) opt("out") else s"${opt("out")}.$name"
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace),
        opt("seed").toLong, opt("seconds").toDouble, dir, cores)
      ctx.out.info("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
      runOne(name, ctx, trace, out)
    }
    spark.stop()
  }

  private def runOne(workload: String, ctx: Ctx, trace: Boolean, out: String): Unit = {
    val spark = ctx.spark
    try Workloads(workload)(ctx)
    catch {
      case e: Throwable =>
        ctx.out.attempted += 1
        ctx.out.failed += 1
        ctx.out.problems += s"run aborted: $e"
        e.printStackTrace()
    }
    val layers =
      if (trace) ctx.tracer.layerMetrics(Layers, ctx.cores) ++ ctx.out.derived ++ Map(
        "spark.tasks_failed" -> ctx.tracer.tasksFailed.toDouble,
        "jvm.heap_peak_mb" -> heapPeakMb)
      else Map.empty[String, Double]
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> trace,
      "correct" -> (ctx.out.failed == 0 && ctx.out.attempted > 0),
      "attempted" -> ctx.out.attempted, "failed" -> ctx.out.failed,
      "problems" -> ctx.out.problems.toSeq,
      "metrics" -> ctx.out.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "info" -> ctx.out.info,
      "layers" -> layers.toSeq.sortBy(_._1).toMap,
      "spans" -> (if (trace) ctx.tracer.spans.map(s => Map("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6))
        else Nil),
      "facts" -> facts(spark, ctx.work, ctx.cores))
    val pw = new PrintWriter(out, "UTF-8")
    try pw.write(Json(artifact)) finally pw.close()
  }

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Facts that decide how comparable two runs are. */
  private def facts(spark: SparkSession, work: String, cores: Int): Map[String, Any] = Map(
    "nproc" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
    "simd_available" -> graft.core.SimdSupport.available,
    "scratch_path" -> work,
    "scratch_fs" -> fsType(work),
    "spark_version" -> spark.version,
    "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)

  /** File-system type of the mount holding `path` (tmpfs or a disk file
    * system: store flushes cost differently on each). */
  private def fsType(path: String): String =
    try {
      val src = scala.io.Source.fromFile("/proc/mounts")
      val mounts = try src.getLines().toList finally src.close()
      mounts.map(_.split(" ")).filter(m => m.length > 2 &&
          (path == m(1) || path.startsWith(m(1).stripSuffix("/") + "/")))
        .sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
    } catch { case _: java.io.IOException => "unknown" }
}

/** Minimal JSON writer for the artifact's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
