package graft.tools

import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan for named queries
  * (or a pushdown/broadcast/codegen summary for all).
  * Usage: runMain graft.tools.Explain <sfDir> [q1,q2,...|summary]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = if (args.length > 1) args(1) else "summary"
    val spark = graft.core.GraftSession.build("graft-explain",
      graft.core.GraftSession.envCores)
    if (mode == "summary") {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // materialize THIS QueryExecution (count() would build its own)
          // so AQE's final plan with codegen markers is what gets printed
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          def n(s: String) = s.r.findAllIn(plan).length
          println(f"PLAN $name%-28s wsc=${n("\\*\\(\\d+\\)")}%2d " +
            f"xchg=${n("Exchange")}%2d bhj=${n("BroadcastHashJoin")}%2d " +
            f"smj=${n("SortMergeJoin")}%2d pushed=${n("PushedFilters: \\[[^\\]]")}%2d " +
            f"bnlj=${n("BroadcastNestedLoop")}%2d cart=${n("Cartesian")}%2d")
        } catch { case e: Throwable => println(s"PLAN $name ERROR ${e.getMessage}") }
      }
    } else {
      mode.split(",").foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
