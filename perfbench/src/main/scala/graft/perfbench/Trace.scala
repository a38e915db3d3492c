package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Engine-level counters of a traced run, fed by a SparkListener the
  * benchmark registers itself. Nothing inside the program is
  * instrumented: jobs, stages and task metrics are what Spark reports
  * for the work the program submits.
  */
final class Trace extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Trace.Snap = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Trace.Snap(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      inputBytes.get, shuffleReadBytes.get, shuffleWriteBytes.get,
      spillBytes.get, outputBytes.get, graft.Bench.gcTotalMs())
  }
}

object Trace {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                        cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        outputBytes: Long, gcMs: Long) {
    private def zip(o: Snap, f: (Long, Long) => Long): Snap =
      Snap(f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
        f(runMs, o.runMs), f(cpuNs, o.cpuNs), f(inputBytes, o.inputBytes),
        f(shuffleReadBytes, o.shuffleReadBytes),
        f(shuffleWriteBytes, o.shuffleWriteBytes), f(spillBytes, o.spillBytes),
        f(outputBytes, o.outputBytes), f(gcMs, o.gcMs))
    def -(o: Snap): Snap = zip(o, _ - _)
    def +(o: Snap): Snap = zip(o, _ + _)
  }

  private def mb(b: Long): Double = b / 1048576.0

  /** The `spark.*` and `jvm.*` per-layer metrics of a traced window of
    * `wallS` seconds on `cores` cores, divided per unit.
    */
  def engineMetrics(d: Snap, wallS: Double, cores: Int, units: Int): Seq[(String, Double, String)] = {
    val u = math.max(1, units).toDouble
    Seq(
      ("spark.jobs", d.jobs / u, "count"),
      ("spark.stages", d.stages / u, "count"),
      ("spark.tasks", d.tasks / u, "count"),
      ("spark.executor_run_s", d.runMs / 1000.0 / u, "s"),
      ("spark.executor_cpu_s", d.cpuNs / 1e9 / u, "s"),
      ("spark.cpu_util", if (wallS > 0) d.cpuNs / 1e9 / (wallS * cores) else 0.0, "ratio"),
      ("spark.input_mb", mb(d.inputBytes) / u, "MiB"),
      ("spark.shuffle_read_mb", mb(d.shuffleReadBytes) / u, "MiB"),
      ("spark.shuffle_write_mb", mb(d.shuffleWriteBytes) / u, "MiB"),
      ("spark.spill_mb", mb(d.spillBytes) / u, "MiB"),
      ("spark.output_mb", mb(d.outputBytes) / u, "MiB"),
      ("jvm.gc_s", d.gcMs / 1000.0 / u, "s"))
  }
}
