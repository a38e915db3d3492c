package graft.metrics

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Executor-side I/O accounting via a `SparkListener`: sums task input
  * bytes/records while a body runs and records them under the reference's
  * metric names. Complements the deterministic dir-size gauge with what
  * the cluster actually read (post column-pruning / pushdown — on a scan
  * that prunes to 2 of 40 columns these numbers are the proof).
  *
  * Listener events are delivered asynchronously; totals are read once the
  * listener bus has delivered every event posted while the body ran, so
  * a slow listener earlier on the shared queue delays the reading instead
  * of truncating it.
  */
object SparkIoMetrics {

  def measure[T](spark: SparkSession, metrics: EtlMetrics,
                 operation: String)(body: => T): T = {
    val bytes = new AtomicLong()
    val records = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.inputMetrics.bytesRead)
          records.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      if (!ListenerDrain.drain(spark.sparkContext))
        System.err.println(
          s"SparkIoMetrics: listener bus not drained, ${operation}_input may be partial")
      spark.sparkContext.removeSparkListener(listener)
      metrics.bytesProcessed(s"${operation}_input", bytes.get())
      metrics.incCounter("brewery_etl_records_processed_total",
        Map("operation" -> s"${operation}_input"), records.get().toDouble)
    }
  }
}
