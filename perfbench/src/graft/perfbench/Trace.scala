package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are wall clock (ms, comparable with
  * Spark's event times) plus a nanosecond duration for the call itself. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startMs: Long, endMs: Long, durNs: Long)

/** Times the benchmark's calls into the engine. With tracing on it also
  * keeps every call as a [[Span]] in memory and tags the Spark jobs the
  * call submits with a local property, so [[SpanListener]] can attribute
  * their stages and tasks to it. With tracing off it only reads the clock:
  * end-to-end metrics are measured that way. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Key

  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      sc.addSparkListener(l)
      Some(l)
    } else None
  private var nextId = 1L
  private var open: List[Long] = Nil
  private var muted = false

  /** Runs `body` (warm-up calls) without recording spans: its calls are
    * timed but left out of the per-layer metrics, and the jobs they submit
    * belong to no span. */
  def untraced[A](body: => A): A = {
    muted = true
    try body finally muted = false
  }

  /** Run `body` as one call of layer `name`; returns its result and its
    * duration in milliseconds. */
  def call[A](name: String, request: Long = 0L)(body: => A): (A, Double) = {
    if (!enabled || muted) {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    } else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id :: open
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val a = body
        val d = System.nanoTime() - t0
        spans += Span(id, name, parent, request, s, System.currentTimeMillis(), d)
        (a, d / 1e6)
      } finally {
        open = open.tail
        sc.setLocalProperty(Key, prev)
      }
    }
  }

  /** Per-layer metrics of every layer in `layers`, aggregated over the
    * calls of that name (see [[SpanListener.layerMetrics]]). Waits for the
    * listener bus to deliver every event first. */
  def layerMetrics(layers: Seq[String], cores: Int): Map[String, Double] =
    listener match {
      case None => Map.empty
      case Some(l) =>
        org.apache.spark.PerfbenchBus.drain(sc)
        l.layerMetrics(spans.toSeq, layers, cores)
    }

  def tasksFailed: Long = listener.map(_.failedTasks).getOrElse(0L)
}

object Tracer {
  val Key = "perfbench.span"
}

/** Collects Spark's job, stage and task events and attributes them to
  * spans: a job belongs to the span named by its local property, or, for
  * jobs submitted from threads that did not inherit the property, to the
  * innermost span open when the job started (the client is closed-loop and
  * single-threaded, so at most one call is in flight). Stages and tasks
  * follow their job. Events are only stored here; attribution runs once
  * at the end of the run. */
final class SpanListener extends SparkListener {
  private final case class Task(stage: Int, launch: Long, finish: Long,
                                runMs: Long, cpuNs: Long, gcMs: Long,
                                shuffleBytes: Long, shuffleRecords: Long,
                                inputBytes: Long, outputBytes: Long)

  private val jobProp = mutable.Map.empty[Int, Option[Long]]
  private val jobTime = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagesRun = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private var failed = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Key)))
    jobProp(e.jobId) = p.map(_.toLong)
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stagesRun += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failed += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks += Task(e.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  def failedTasks: Long = synchronized(failed)

  /** For each layer name, metrics per call (mean over its calls):
    * `wall_ms`, `task_cpu_ms`, `driver_only_ms` (wall time during which
    * no task of the call ran), `jobs`, `stages`, `tasks`, `shuffle_bytes`
    * (shuffle write), `input_bytes`, `output_bytes`, `gc_ms`; and `util`,
    * task run time over wall time times cores, over all its calls. Also
    * `shuffle_records` and `task_run_ms` for the derived ratios. */
  def layerMetrics(spans: Seq[Span], layers: Seq[String], cores: Int)
      : Map[String, Double] = synchronized {
    val byStart = spans.sortBy(_.startMs)
    def spanAt(t: Long): Option[Long] =
      byStart.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id)
    val jobSpan: Map[Int, Option[Long]] = jobProp.map { case (j, p) =>
      j -> p.orElse(spanAt(jobTime(j))) }.toMap
    def stageSpan(s: Int, t: Long): Option[Long] =
      stageJob.get(s).flatMap(jobSpan.get).flatten.orElse(spanAt(t))
    val tasksOf = tasks.groupBy(t => stageSpan(t.stage, t.launch))
    val stagesOf = stagesRun.groupBy(s => stageSpan(s, 0L)).map {
      case (k, v) => k -> v.size }
    val jobsOf = jobSpan.groupBy(_._2).map { case (k, v) => k -> v.size }
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- layers) {
      val calls = spans.filter(_.name == layer)
      val n = calls.size.toDouble
      def per(x: Double): Double = if (n == 0) 0.0 else x / n
      var wall, cpu, run, gc, sh, shr, in, outB, driverOnly = 0.0
      var nTasks, nJobs, nStages = 0.0
      for (c <- calls) {
        val ts = tasksOf.getOrElse(Some(c.id), Nil)
        wall += c.durNs / 1e6
        nTasks += ts.size
        nJobs += jobsOf.getOrElse(Some(c.id), 0)
        nStages += stagesOf.getOrElse(Some(c.id), 0)
        ts.foreach { t =>
          cpu += t.cpuNs / 1e6; run += t.runMs; gc += t.gcMs
          sh += t.shuffleBytes; shr += t.shuffleRecords
          in += t.inputBytes; outB += t.outputBytes
        }
        driverOnly += math.max(0.0, (c.endMs - c.startMs) -
          covered(ts.map(t => (t.launch, t.finish)).toSeq, c.startMs, c.endMs))
      }
      out(s"$layer.wall_ms") = per(wall)
      out(s"$layer.task_cpu_ms") = per(cpu)
      out(s"$layer.task_run_ms") = per(run)
      out(s"$layer.util") = if (wall == 0) 0.0 else run / (wall * cores)
      out(s"$layer.driver_only_ms") = per(driverOnly)
      out(s"$layer.jobs") = per(nJobs)
      out(s"$layer.stages") = per(nStages)
      out(s"$layer.tasks") = per(nTasks)
      out(s"$layer.shuffle_bytes") = per(sh)
      out(s"$layer.shuffle_records") = per(shr)
      out(s"$layer.input_bytes") = per(in)
      out(s"$layer.output_bytes") = per(outB)
      out(s"$layer.gc_ms") = per(gc)
      out(s"$layer.calls") = n
    }
    out.toMap
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
