package graft.tools

import graft.{Session, SparkEntry}

/** Dev tool: print the formatted physical plan (and exchange-reuse stats)
  * for one or more declared queries.
  *
  * Usage: runMain graft.tools.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Session.local()
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"======== $name (static plan) ========")
      df.explain("formatted")
      // Execute THIS QueryExecution so AQE finalizes in place (a .write
      // would re-plan on a fresh QueryExecution and leave this one initial)
      df.queryExecution.toRdd.count()
      // AQE's toString appends the pre-adaptive plan under "Initial Plan";
      // audit only the finalized section
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      println(s"-------- $name (final adaptive plan) --------")
      println(finalPlan)
      val reused = "ReusedExchange".r.findAllIn(finalPlan).length
      val exch = "Exchange".r.findAllIn(finalPlan).length
      // whole-stage codegen shows as "*(n)" markers in adaptive plan strings
      val codegen = "\\*\\(\\d+\\)".r.findAllIn(finalPlan).toSet.size
      println(s"[explain] $name: exchanges=$exch reused=$reused wholeStageCodegenSpans=$codegen")
    }
    spark.stop()
  }
}
