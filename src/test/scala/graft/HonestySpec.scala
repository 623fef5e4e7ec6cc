package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The measurement-honesty invariants, pinned (VERDICT r7 ask #8):
  * a crashing registered query must surface as (a) an `_ERROR`
  * correctness FAILURE in the Verify dump — never a silent gap — and
  * (b) an explicit n_failed/failed[] exclusion in the Bench total —
  * never a fake speedup. These specs fail if either the Verify error
  * marker (Verify.dumpOne) or the Bench passing-only summarization
  * (Bench.minOk/summarize/timeOnce) is reverted.
  */
class HonestySpec extends SparkTestBase {

  private def crashing: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("deliberate crash")

  private def passing: (SparkSession, String) => DataFrame =
    (s, _) => { import s.implicits._; Seq((1, "a")).toDF("id", "v") }

  test("Verify: a crashing query leaves an _ERROR marker, never a silent gap") {
    val out = java.nio.file.Files.createTempDirectory("graft-honesty").toString
    // a prior successful dump must not mask a later crash: pre-seed the
    // query dir with a parquet result, then crash over it
    assert(Verify.dumpOne(spark, out, "qx", passing, sfDir))
    val dir = java.nio.file.Paths.get(out, "qx")
    assert(java.nio.file.Files.list(dir).anyMatch(p => p.toString.endsWith(".parquet")))
    assert(!Verify.dumpOne(spark, out, "qx", crashing, sfDir))
    val files = {
      val ls = java.nio.file.Files.list(dir)
      try { val it = ls.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString; b.result() }
      finally ls.close()
    }
    assert(files.contains("_ERROR.txt"), s"expected _ERROR marker, got $files")
    assert(!files.exists(_.endsWith(".parquet")),
      "stale parquet must be deleted or the checker reads the OLD result as current")
  }

  test("Verify: oracle_sql.json is restricted to the queries that ran") {
    val all = Map("q1" -> "SELECT 1", "q2" -> "SELECT 2")
    assert(Verify.oracleJson(all, Set("q1")) == "{\"q1\": \"SELECT 1\"}")
    val full = Verify.oracleJson(all, Set.empty)
    assert(full.contains("\"q1\"") && full.contains("\"q2\""))
    // control chars must be escaped or the driver's json.load dies
    assert(Verify.oracleJson(Map("q" -> "a\tb\nc"), Set.empty)
      == "{\"q\": \"a\\tb\\nc\"}")
  }

  test("Bench: a crashed pass reads -1.0 and never wins the min") {
    assert(Bench.timeOnce(spark, sfDir, crashing) == -1.0)
    assert(Bench.timeOnce(spark, sfDir, passing) >= 0.0)
    assert(Bench.minOk(Seq(-1.0, 0.5, 0.7)) == 0.5)
    assert(Bench.minOk(Seq(-1.0, -1.0)) == -1.0)
  }

  test("Bench: calib normalization scales passes, passes failures through") {
    assert(Bench.normCell(0.6, 0.3) == 2.0)
    assert(Bench.normCell(0.0, 0.3) == 0.0)
    // the -1.0 sentinel must NOT be divided (it would read as a
    // plausible normalized time, hiding the breakage)
    assert(Bench.normCell(-1.0, 0.3) == -1.0)
    // 4-decimal rounding keeps the JSON compact and stable
    assert(Bench.normCell(1.0, 3.0) == 0.3333)
  }

  test("Bench: the total sums passing queries only; failures are named") {
    val (total, failed) = Bench.summarize(
      Seq("a" -> 1.5, "b" -> -1.0, "c" -> 0.5))
    assert(total == 2.0, "a -1.0 sentinel must never subtract from the total")
    assert(failed == Seq("b"))
    val (t2, f2) = Bench.summarize(Seq("a" -> 1.0))
    assert(t2 == 1.0 && f2.isEmpty)
  }

  test("registry: no oracle string is null or empty") {
    // a forward reference between object vals yields a SILENT null in
    // Scala (declaration-order init) — round 11 hit it live: the
    // oracles map captured a val declared below it, and Verify's
    // final oracle_sql.json write NPE'd after all 157 dumps had
    // succeeded. This guard turns that class into a red test.
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(v != null, s"$k: oracle SQL is NULL (object-init forward reference?)")
      assert(v.trim.nonEmpty, s"$k: oracle SQL is empty")
    }
  }

  test("registry: every query has an oracle and every oracle has a query") {
    // a queries-entry without an oracleSql twin silently downgrades
    // the driver's gate to a rows-only check; an orphaned oracle is a
    // stale key the comparer would report as missing. Exact set
    // equality keeps the strongest gate on all 100% of the registry.
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((qs -- os).isEmpty, s"queries without oracles: ${qs -- os}")
    assert((os -- qs).isEmpty, s"oracles without queries: ${os -- qs}")
  }

  test("registry: no registered query emits a top-level array/map/struct column") {
    // The driver's comparer row-sorts with pandas, which cannot hash
    // array cells — round 8 shipped four queries with top-level array
    // outputs and the LOCAL gate (which stringifies lists before
    // sorting) stayed green while the driver's went red (VERDICT r8
    // ask #2). Walking the FULL registry here keeps that local-vs-
    // driver gap from ever reopening: arrays stay the operators'
    // production surface, but a registered compare query must project
    // them to scalars (posexplode like q72/q121, a canonical
    // concat_ws string like q124/q126/q127, or a checksum like q88).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val schema =
          try build(spark, sfDir).schema
          catch { case e: Exception =>
            fail(s"$name failed to construct at $sfDir: ${e.getMessage}")
          }
        schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
            || f.dataType.isInstanceOf[MapType]
            || f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"driver-comparer-unsafe output columns: ${offenders.mkString(", ")}")
  }

  test("config: env/property reads under src/main are exactly the allowlist") {
    // Deployment settings belong in Spark's own conf; a new
    // environment or system-property switch must be added here,
    // visibly, rather than slip into library code. A name read through
    // a constant is resolved against that file's `val NAME = "…"`; one
    // that does not resolve is reported as unlisted.
    val allow = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_OUT", "graft.hash.backend", "java.io.tmpdir")
    val read = ("""(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)""" +
      """(?:\s*\.\s*(?:get|getOrElse|apply|contains))?\s*\(\s*""" +
      """(?:"([^"]+)"|([A-Za-z_][\w.]*))""").r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val walk = java.nio.file.Files.walk(root)
    val names = try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          def constant(ref: String): String = {
            val id = ref.split('.').last
            ("""\bval\s+""" + id + """\s*(?::\s*String\s*)?=\s*"([^"]+)"""").r
              .findFirstMatchIn(src).map(_.group(1))
              .getOrElse(s"<unresolved $ref in ${f.getFileName}>")
          }
          read.findAllMatchIn(src).map(m =>
            Option(m.group(1)).getOrElse(constant(m.group(2))))
        }.toSet
      finally walk.close()
    assert(names == allow,
      s"unlisted: ${names -- allow}; listed but unread: ${allow -- names}")
  }

  /** `file:line: text` of every line under src/main/scala that
    * `pattern` matches, outside the file `except`. */
  private def mainLinesMatching(pattern: scala.util.matching.Regex,
      except: Option[java.nio.file.Path] = None): List[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") && !except.contains(f))
        .flatMap { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala
          lines.zipWithIndex.collect {
            case (l, i) if pattern.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
          }
        }.toList
      finally walk.close()
  }

  test("checkpoint policy: only GraftCheckpoint calls checkpoint/localCheckpoint") {
    // every lineage barrier goes through GraftCheckpoint.barrier (or
    // partitionedBarrier), so `spark.checkpoint.dir` decides the mode
    // of all of them; a direct call elsewhere would pick its own
    val call = """\.(?:localCheckpoint|checkpoint)\s*\(""".r
    val owner = java.nio.file.Paths.get("src/main/scala/graft/operators/GraftCheckpoint.scala")
    assert(call.findFirstIn(new String(java.nio.file.Files.readAllBytes(owner),
      "UTF-8")).isDefined, s"the pattern must match $owner's own calls")
    val offenders = mainLinesMatching(call, except = Some(owner))
    assert(offenders.isEmpty, s"direct checkpoint calls:\n${offenders.mkString("\n")}")
  }

  test("session conf: nothing under src/main sets a conf at run time") {
    // a session conf changed around one operator is seen by every query
    // planned on the session meanwhile; GraftSession.build sets them once
    val set = """\bconf\.set\s*\(""".r
    assert(set.findFirstIn("""spark.conf.set("k", "v")""").isDefined)
    val offenders = mainLinesMatching(set)
    assert(offenders.isEmpty, s"run-time conf sets:\n${offenders.mkString("\n")}")
  }
}
