package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one registered query and dump it under `outDir/name`. A crash
    * must appear as a FAILURE in the correctness record, never as a
    * silent gap: the output dir is emptied and an `_ERROR.txt` marker
    * written (and no parquet), so any checker that iterates produced
    * dirs reads it as "cannot read spark output" with err populated
    * instead of skipping the query entirely. Returns true on success.
    * (Unit-tested by HonestySpec — the invariant is load-bearing for
    * the round gate.) */
  def dumpOne(spark: SparkSession, outDir: String, name: String,
              fn: (SparkSession, String) => DataFrame,
              sfDir: String): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val d = Paths.get(s"$outDir/$name")
      try {
        if (Files.isDirectory(d)) {
          val ls = Files.list(d)
          try ls.forEach(p => { try Files.delete(p) catch { case _: Throwable => () } })
          finally ls.close()
        }
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR.txt"),
          s"$name failed: ${e.toString}\n")
      } catch { case _: Throwable => () }
      false
    }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** oracle_sql.json restricted to what actually ran: with an `only`
    * subset the checker's missing-output loop must not report every
    * skipped query as FAIL during local iteration. */
  def oracleJson(oracles: Map[String, String], only: Set[String]): String =
    oracles
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names (local iteration).
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = graft.core.GraftSession.build("graft-verify", graft.core.GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        dumpOne(spark, outDir, name, fn, sfDir)
        // release operator-internal caches (caller-must-unpersist
        // contract; see Bench.scala) so 91 dumps in one JVM don't
        // accumulate storage blocks against execution memory
        spark.catalog.clearCache()
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql, only))
    try spark.stop() catch { case _: Throwable => () }
  }
}
