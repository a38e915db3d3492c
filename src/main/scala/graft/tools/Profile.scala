package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Session, SparkEntry}

/** Job/stage profiler for a named query: runs it once warm, then once
  * measured under a listener, and prints per-job wall time plus stage
  * counts. The point is to see where a multi-job operator (eager
  * materializations, iterative label propagation) spends scheduling
  * overhead vs real work — `Explain` shows the plan shape, this shows the
  * job shape.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query...]
  */
object Profile {

  private final class Tally extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)]()
    @volatile var stages = 0
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val completed = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      starts.put(js.jobId, (System.nanoTime(), js.stageInfos.size))
      js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      Option(starts.get(je.jobId)).foreach { case (t0, ns) =>
        jobs.put(je.jobId, (t0, System.nanoTime() - t0, ns))
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages += 1
      // With AQE, stages submitted after job start are registered here too;
      // the planned count at job start is only a lower bound.
      Option(stageToJob.get(sc.stageInfo.stageId)).foreach { jobId =>
        completed.computeIfAbsent(jobId, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      }
    }
    def completedStages(jobId: Int): Int =
      Option(completed.get(jobId)).map(_.get()).getOrElse(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Session.local()

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(
            s"unknown query '$name'; valid names:\n  " +
              SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
        case Some(fn) =>
          // warmup (loads parquet footers, JIT)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          val tally = new Tally
          spark.sparkContext.addSparkListener(tally)
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val total = (System.nanoTime() - t0) / 1e9
          // deliver every queued event BEFORE detaching, or tail events are dropped
          org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(tally)
          val rows = tally.jobs.entrySet().toArray
            .map(_.asInstanceOf[java.util.Map.Entry[Int, (Long, Long, Int)]])
            .sortBy(_.getValue._1)
          println(f"== $name%-28s total=$total%7.3f s  jobs=${rows.length}  stages=${tally.stages}")
          val base = rows.headOption.map(_.getValue._1).getOrElse(0L)
          rows.foreach { e =>
            val (t0j, dur, planned) = e.getValue
            val done = tally.completedStages(e.getKey)
            println(f"   job ${e.getKey}%3d  +${(t0j - base) / 1e9}%7.3f s  dur=${dur / 1e9}%7.3f s  stages done=$done%2d planned=$planned%2d")
          }
      }
    }
    spark.stop()
  }
}
