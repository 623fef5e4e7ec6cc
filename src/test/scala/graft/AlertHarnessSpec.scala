package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SchemaConform
import graft.harness.{Alert, AlertHarness, RunClock}

/** End-to-end lifecycle: conform → temp append → final overwrite →
  * month-partitioned history merge (reference jobs.py:258-320 flow). */
class AlertHarnessSpec extends SparkTestBase {

  private def mkAlert(rows: Seq[(Int, Int)], siglaV: String = "TST") = new Alert {
    val sigla = siglaV
    val family = SchemaConform.Mgp
    val keyCols = Seq("alrt_docu_dk")
    def build(s: SparkSession): DataFrame = {
      import s.implicits._
      rows.toDF("alrt_docu_dk", "alrt_orgi_orga_dk")
    }
  }

  test("conform pads family columns, builds composite key, orders columns") {
    val h = new AlertHarness(spark, "t_conform",
      RunClock(LocalDateTime.of(2026, 8, 12, 10, 0)))
    val out = h.conformAlert(mkAlert(Seq((7, 400))))
    assert(out.columns.toSeq == SchemaConform.Mgp.fieldNames.toSeq)
    val r = out.head
    // sha1("7") = 902ba3cda1883801594b6e1b452790cc53948fda
    assert(r.getString(0) == "TST.902ba3cda1883801594b6e1b452790cc53948fda.400")
    assert(r.getString(1) == "TST")
    assert(r.isNullAt(out.columns.indexOf("alrt_info_adicional")))
  }

  test("quirk pin: NULL orgao NULLs the composite key, like the reference") {
    // the reference's outer key concat (jobs.py:266-270) is a bare
    // concat — NULL alrt_orgi_orga_dk makes the whole alrt_key NULL,
    // and dismissal keyed on alrt_key inherits that. This pins the
    // faithful behavior so a well-meaning coalesce can't sneak in.
    val h = new AlertHarness(spark, "t_nullkey",
      RunClock(LocalDateTime.of(2026, 8, 12, 10, 0)))
    val alert = new Alert {
      val sigla = "TST"
      val family = SchemaConform.Mgp
      val keyCols = Seq("alrt_docu_dk")
      def build(s: SparkSession): DataFrame = {
        import s.implicits._
        Seq((7, Some(400)), (8, None))
          .toDF("alrt_docu_dk", "alrt_orgi_orga_dk")
      }
    }
    val keys = h.conformAlert(alert)
      .select("alrt_docu_dk", "alrt_key").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(keys(7).exists(_.startsWith("TST.")))
    assert(keys(8).isEmpty, "NULL orgao must NULL the key (reference behavior)")
  }

  test("full lifecycle: final overwrite, hist month-merge, same-day replace") {
    // fresh physical location every run: leftover managed-table dirs
    // from a previous JVM would otherwise fail saveAsTable
    spark.sql("DROP DATABASE IF EXISTS t_life CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("graft_t_life")
    spark.sql(s"CREATE DATABASE t_life LOCATION '$loc'")
    val day1 = new AlertHarness(spark, "t_life",
      RunClock(LocalDateTime.of(2026, 8, 11, 9, 0)))
    day1.dropTemps(Seq("alerts"))
    day1.appendTemp(mkAlert(Seq((1, 10), (2, 20))), "alerts")
    day1.finalize("alerts")
    assert(spark.table("t_life.alerts").count() == 2)
    assert(spark.table("t_life.hist_alerts").count() == 2)

    // day 2 same month: history accumulates both days
    val day2 = new AlertHarness(spark, "t_life",
      RunClock(LocalDateTime.of(2026, 8, 12, 9, 0)))
    day2.appendTemp(mkAlert(Seq((3, 30))), "alerts")
    day2.finalize("alerts")
    assert(spark.table("t_life.alerts").count() == 1)
    val hist = spark.table("t_life.hist_alerts")
    assert(hist.count() == 3)
    assert(hist.select("dt_calculo").distinct().count() == 2)

    // re-run day 2: that day's rows replaced, day 1 untouched
    val day2b = new AlertHarness(spark, "t_life",
      RunClock(LocalDateTime.of(2026, 8, 12, 18, 0)))
    day2b.appendTemp(mkAlert(Seq((4, 40), (5, 50))), "alerts")
    day2b.finalize("alerts")
    val hist2 = spark.table("t_life.hist_alerts")
    assert(hist2.count() == 4) // 2 (day1) + 2 (day2 re-run)
    assert(hist2.filter(col("dt_calculo") === "20260811").count() == 2)
    assert(hist2.filter(col("dt_calculo") === "20260812").count() == 2)
  }

  test("hist overwrite replaces only this month: a new month keeps the " +
      "old month's partition under a STATIC session conf") {
    // the lifecycle test above stays inside one month, where a static
    // overwrite of the history table would go unnoticed
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      spark.sql("DROP DATABASE IF EXISTS t_months CASCADE")
      val loc = java.nio.file.Files.createTempDirectory("graft_t_months")
      spark.sql(s"CREATE DATABASE t_months LOCATION '$loc'")
      def finalizeDay(clock: RunClock, rows: Seq[(Int, Int)]): Unit = {
        val h = new AlertHarness(spark, "t_months", clock)
        h.dropTemps(Seq("alerts"))
        h.appendTemp(mkAlert(rows), "alerts")
        h.finalize("alerts")
      }
      finalizeDay(RunClock(LocalDateTime.of(2026, 8, 31, 9, 0)),
        Seq((1, 10), (2, 20)))
      finalizeDay(RunClock(LocalDateTime.of(2026, 9, 1, 9, 0)),
        Seq((3, 30)))
      val byMonth = spark.table("t_months.hist_alerts")
        .groupBy("dt_partition").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byMonth == Map("202608" -> 2L, "202609" -> 1L))
      assert(spark.conf.get(key) == "static",
        "the harness must not change the session's overwrite mode")
    } finally spark.conf.set(key, old)
  }

  test("failure injection: a crash at ANY finalize checkpoint never loses " +
      "or half-writes a history partition; re-running the day recovers") {
    // the reference's _temp staging table (jobs.py:311-316) exists so a
    // crash mid-overwrite is recoverable — this kills the driver at
    // each intermediate catalog state and checks the invariant
    val db = "t_crash"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("graft_t_crash")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")

    def histRows(): Set[(Int, String)] =
      spark.table(s"$db.hist_alerts")
        .select("alrt_docu_dk", "dt_calculo").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet

    def run(clock: RunClock, rows: Seq[(Int, Int)],
            killAt: Option[String] = None): Unit = {
      val h = new AlertHarness(spark, db, clock,
        faultInjector = p => killAt.filter(_ == p).foreach(pt =>
          throw new RuntimeException(s"injected crash at $pt")))
      h.dropTemps(Seq("alerts"))
      h.appendTemp(mkAlert(rows), "alerts")
      h.finalize("alerts")
    }
    def crash(clock: RunClock, rows: Seq[(Int, Int)], at: String): Unit = {
      val e = intercept[RuntimeException](run(clock, rows, Some(at)))
      assert(e.getMessage.contains(at))
    }

    // day 1 completes; the month partition's closed form:
    val day1 = RunClock(LocalDateTime.of(2026, 8, 11, 9, 0))
    run(day1, Seq((1, 10), (2, 20)))
    val afterDay1 = histRows()
    assert(afterDay1.map(_._1) == Set(1, 2))

    // crash 1: day 2 dies right after the FINAL table overwrite —
    // history untouched, bit-for-bit
    val day2 = RunClock(LocalDateTime.of(2026, 8, 12, 9, 0))
    crash(day2, Seq((3, 30)), "final-overwritten")
    assert(histRows() == afterDay1, "hist must be untouched after a final-write crash")

    // crash 2: day 2 dies AFTER the staging write, BEFORE the history
    // insertInto — history still untouched; the staging table holds
    // the full merged month, ready to be replayed or discarded
    crash(day2, Seq((3, 30)), "staged")
    assert(histRows() == afterDay1, "hist must be untouched after a staging crash")
    assert(spark.catalog.tableExists(s"$db.hist_alerts_temp"))
    assert(spark.table(s"$db.hist_alerts_temp").count() == 3,
      "staging table holds day1's other-days rows + day2's rows")

    // plain re-run of day 2 recovers from BOTH crash states (leftover
    // staging table is overwritten, temp table re-created): exact
    // closed form, no duplicates, no lost day
    run(day2, Seq((3, 30)))
    val afterDay2 = histRows()
    assert(afterDay2 == afterDay1 + ((3, "20260812")), s"$afterDay2")
    assert(!spark.catalog.tableExists(s"$db.hist_alerts_temp"))

    // crash 3: a SAME-DAY re-run (day-2 evening, replacing day-2
    // morning rows) dies after the history insert but before staging
    // cleanup — history is already the new closed form; the next run
    // only has to clear the orphan
    val day2b = RunClock(LocalDateTime.of(2026, 8, 12, 18, 0))
    crash(day2b, Seq((4, 40), (5, 50)), "hist-inserted")
    assert(histRows() == afterDay1 ++ Set((4, "20260812"), (5, "20260812")),
      "same-day replace landed atomically via the partition overwrite")
    assert(spark.catalog.tableExists(s"$db.hist_alerts_temp"), "orphaned staging")

    // and the following completed run clears the orphan and holds the form
    run(RunClock(LocalDateTime.of(2026, 8, 13, 9, 0)), Seq((6, 60)))
    assert(histRows() ==
      afterDay1 ++ Set((4, "20260812"), (5, "20260812"), (6, "20260813")))
    assert(!spark.catalog.tableExists(s"$db.hist_alerts_temp"))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("metadata hook fires per rewritten table; hist reads prune by month") {
    val db = "t_hook"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("graft_t_hook")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    val hook = new graft.sources.MetadataHook.Recording
    def run(clock: RunClock): Unit = {
      val h = new AlertHarness(spark, db, clock, metadataHook = hook)
      h.dropTemps(Seq("alerts"))
      h.appendTemp(mkAlert(Seq((1, 10))), "alerts")
      h.finalize("alerts")
    }
    run(RunClock(LocalDateTime.of(2026, 7, 15, 10, 0)))
    run(RunClock(LocalDateTime.of(2026, 8, 12, 10, 0)))
    assert(hook.written.toSeq ==
      Seq(s"$db.alerts", s"$db.hist_alerts", s"$db.alerts", s"$db.hist_alerts"))

    // the month filter must reach the scan as a partition filter (at
    // 100 TB this is what keeps hist reads from touching all history)
    val plan = spark.table(s"$db.hist_alerts")
      .filter(col("dt_partition") === "202608")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt_partition"),
      s"month filter did not prune partitions:\n$plan")
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("Jdbc metadata hook: per-table connect/execute/close, identifier validated") {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    def proxy[T](iface: Class[T])(handle: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
      Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
        new InvocationHandler {
          def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
            handle.applyOrElse((m.getName, args),
              (_: (String, Array[AnyRef])) => null)
        }).asInstanceOf[T]
    def fakeConn(): java.sql.Connection = {
      events += "connect"
      proxy(classOf[java.sql.Connection]) {
        case ("createStatement", _) =>
          proxy(classOf[java.sql.Statement]) {
            case ("execute", args) =>
              events += s"execute:${args(0)}"; java.lang.Boolean.TRUE
            case ("close", _) => events += "st.close"; null
          }
        case ("close", _) => events += "conn.close"; null
      }
    }
    val hook = new graft.sources.MetadataHook.Jdbc(() => fakeConn())
    hook.tableWritten("db.alerts")
    hook.tableWritten("db.hist_alerts")
    assert(events.toSeq == Seq(
      "connect", "execute:INVALIDATE METADATA db.alerts", "st.close", "conn.close",
      "connect", "execute:INVALIDATE METADATA db.hist_alerts", "st.close", "conn.close"))
    // unchecked interpolation is the reference's behavior, not ours
    intercept[IllegalArgumentException] {
      hook.tableWritten("db.alerts; DROP TABLE x")
    }
    assert(events.size == 8) // the rejected call never touched JDBC
  }

  test("per-phase timer fires for every alert append and table write") {
    val db = "t_timed"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("graft_t_timed")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val h = new AlertHarness(spark, db,
      RunClock(LocalDateTime.of(2026, 8, 12, 10, 0)),
      timerSink = (n, s) => phases.synchronized { phases += (n -> s) })
    h.dropTemps(Seq("alerts"))
    h.appendTemp(mkAlert(Seq((1, 10)), "AAA"), "alerts")
    h.appendTemp(mkAlert(Seq((2, 20)), "BBB"), "alerts")
    h.finalize("alerts")
    assert(phases.map(_._1).toSeq == Seq("alert AAA", "alert BBB", "write alerts"))
    assert(phases.forall(_._2 >= 0.0))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("per-row sigla override is preserved (PRCR1-4 pattern)") {
    val h = new AlertHarness(spark, "t_sigla",
      RunClock(LocalDateTime.of(2026, 8, 12, 10, 0)))
    val alert = new Alert {
      val sigla = "PRCR"
      val family = SchemaConform.Mgp
      val keyCols = Seq("alrt_docu_dk")
      def build(s: SparkSession): DataFrame = {
        import s.implicits._
        Seq((1, 10, "PRCR1"), (2, 20, "PRCR4"))
          .toDF("alrt_docu_dk", "alrt_orgi_orga_dk", "alrt_sigla")
      }
    }
    val keys = h.conformAlert(alert).select("alrt_key", "alrt_sigla")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(keys.values.toSet == Set("PRCR1", "PRCR4"))
    assert(keys.keys.forall(k => k.startsWith("PRCR1.") || k.startsWith("PRCR4.")))
  }
}
