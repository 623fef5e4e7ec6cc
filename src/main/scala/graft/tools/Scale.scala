package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}

import graft.SparkEntry

/** Scaling measurement harness: drive the same registry queries over
  * SEVERAL data directories in ONE session (same JVM, same JIT/codegen
  * state — the only way timings across scale factors are comparable on
  * this VM; see SCALE.md "Bench-noise discipline") and report the
  * steady-state minimum per (dir, query) plus the connected-components
  * round count where the query runs CC internally.
  *
  * Usage: runMain graft.tools.Scale <reps> <q1,q2,...> <dir1> <dir2> ...
  * Prints one PROFILE line per (dir, query) and a final JSON line
  * keyed "dir|query" -> {"min":s, "ccRounds":n}.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val names = args(1).split(",").toSeq
    val dirs = args.drop(2).toSeq
    // machine-speed witness FIRST (shared [[graft.Bench.calibrate]]):
    // this VM's same-commit walls have measured 3x apart hours apart,
    // so a sweep without its calib anchor cannot be compared against
    // any other sweep — including this repo's own earlier sections
    println(f"SCALE_CALIB ${graft.Bench.calibrate()}%.3f s")
    val spark = graft.core.GraftSession.build("graft-scale",
      graft.core.GraftSession.envCores)
    // evaluate EVERY output column, not just count: for
    // projection-only queries (lang-ID, quality, per-row rewrites)
    // plain count() lets Catalyst prune the computed columns to a scan
    // count — the timing then measures the scan, not the operator.
    // The hash-of-all-columns aggregate defeats the pruning while
    // staying codegen'd and collect-free.
    def run(df: DataFrame): Long =
      df.select(count(lit(1)).as("n"),
          sum(hash(df.columns.map(col): _*).cast("long")))
        .head.getLong(0)
    // warmup on the FIRST (smallest) dir so no measured cell pays JIT
    names.foreach { n =>
      try run(SparkEntry.queries(n)(spark, dirs.head))
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val cells = for (dir <- dirs; name <- names) yield {
      val fn = SparkEntry.queries(name)
      graft.operators.Dedup.lastCcRounds = -1
      var rows = 0L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = run(fn(spark, dir))
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      val rounds = graft.operators.Dedup.lastCcRounds
      println(f"SCALE $dir $name%-24s min=${times.min}%.2f " +
        f"reps=${times.map(t => f"$t%.2f").mkString(",")} rows=$rows ccRounds=$rounds")
      s""""$dir|$name":{"min":${times.min},"rows":$rows,"ccRounds":$rounds}"""
    }
    println(cells.mkString("{", ",", "}"))
    spark.stop()
  }
}
