package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative shuffle-read byte and job meter for specs that pin a
  * plan's exchange volume and job count (both are deterministic for a
  * fixed input; wall-clock is not). Listener events are delivered asynchronously, so
  * [[readBytes]] first drains the listener bus (deterministic barrier —
  * a quiescence poll could declare victory between two late events and
  * under-count a leg), then reads the counter. Always [[close]] in a
  * `finally` so a failing spec doesn't leak listeners into later suites. */
final class ShuffleProbe(spark: SparkSession) {
  private val read = new java.util.concurrent.atomic.AtomicLong
  private val started = new java.util.concurrent.atomic.AtomicLong
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      started.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Cumulative shuffle-read bytes observed since construction. */
  def readBytes(): Long = {
    org.apache.spark.graft.ListenerBusGate.waitUntilEmpty(
      spark.sparkContext, 30000L)
    read.get()
  }

  /** Spark jobs started since construction. */
  def jobs(): Long = {
    org.apache.spark.graft.ListenerBusGate.waitUntilEmpty(
      spark.sparkContext, 30000L)
    started.get()
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
