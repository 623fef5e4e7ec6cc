package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.core.SchemaConform
import graft.harness._

/** `AlertRegistry.runAll` runs its detectors, and then its table
  * writes, side by side. These specs pin what that must keep: every
  * phase's timer line and job attribution, the caller's caches, the
  * failure contract of the sequential run, and every staged row. */
class ConcurrentAlertsSpec extends SparkTestBase {

  private val day = RunClock(LocalDateTime.of(2026, 8, 12, 12, 0))
  private val families = Seq(AlertRegistry.MgpTable, AlertRegistry.RoTable,
    AlertRegistry.Abr1Table, AlertRegistry.CompTable, AlertRegistry.IspsTable)

  private def freshDb(db: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val loc = java.nio.file.Files.createTempDirectory(s"graft_$db")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
  }

  private def mkAlert(siglaV: String, docs: Seq[Int],
                      before: () => Unit = () => ()) = new Alert {
    val sigla = siglaV
    val family = SchemaConform.Mgp
    val keyCols = Seq("alrt_docu_dk")
    def build(s: SparkSession): DataFrame = {
      before()
      import s.implicits._
      docs.map(d => (d, 10)).toDF("alrt_docu_dk", "alrt_orgi_orga_dk")
    }
  }

  private val goldenSchemas =
    Seq("cc_exadata", "cc_exadata_aux", "cc_opengeo", "cc_compras", "cc_alertas")

  override def afterAll(): Unit =
    try goldenSchemas.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    finally super.afterAll()

  private def poolThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(n => n.startsWith("graft-alert-") || n.startsWith("graft-write-")).toSet

  /** One `RunAlerts.run` over the golden world staged as catalog tables,
    * with stdout captured, job descriptions recorded and a frame of the
    * caller's cached beforehand. */
  private lazy val goldenRun: ConcurrentAlertsSpec.GoldenRun = {
    DomainFixtures.registerAll(spark)
    val schemaOf = Map("cc_exadata" -> EntityViews.exadata,
      "cc_exadata_aux" -> EntityViews.exadataAux, "cc_opengeo" -> EntityViews.openGeo,
      "cc_compras" -> EntityViews.compras)
    goldenSchemas.foreach(freshDb)
    schemaOf.foreach { case (db, views) =>
      views.foreach { case (view, table) =>
        spark.table(view).write.format("parquet").saveAsTable(s"$db.$table")
      }
    }
    val options = RunAlerts.Options(schemaExadata = "cc_exadata",
      schemaExadataAux = "cc_exadata_aux", schemaOpenGeo = "cc_opengeo",
      schemaAlertas = "cc_alertas", schemaCompras = "cc_compras", clock = day)

    val callerFrame = spark.range(100).filter("id % 7 = 0").cache()
    callerFrame.count()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = descriptions.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    // listeners see jobs in the order they were posted, so the jobs
    // between two marker jobs are exactly the run's
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(1 to 1, 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    val buffer = new ByteArrayOutputStream()
    try {
      marker("begin")
      Console.withOut(new PrintStream(buffer, true, "UTF-8"))(RunAlerts.run(spark, options))
      marker("end")
      val deadline = System.nanoTime() + 60e9.toLong
      while (!descriptions.contains("end") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val run = ConcurrentAlertsSpec.GoldenRun(buffer.toString("UTF-8"),
      descriptions.asScala.toSeq.dropWhile(_ != "begin").drop(1).takeWhile(_ != "end"),
      callerFrame.storageLevel != StorageLevel.NONE,
      sc.getPersistentRDDs.keySet.toSet -- persistedBefore)
    callerFrame.unpersist()
    run
  }

  test("RunAlerts.run prints one whole [timed] line per detector and per family write") {
    val timed = goldenRun.out.split("\n").filter(_.contains("[timed]")).toSeq
    val Line = """\[timed\] ((?:alert [A-Z0-9]+)|(?:write [a-z0-9_]+)): \d+\.\d{3} s""".r
    val names = timed.map {
      case Line(name) => name
      case bad => fail(s"malformed or interleaved timer line: '$bad'")
    }
    val expected = AlertRegistry.enabled(day, "cc_alertas").map(a => s"alert ${a._1.sigla}") ++
      families.map(t => s"write $t")
    assert(names.sorted == expected.sorted)
  }

  test("every Spark job of RunAlerts.run names its phase in its description") {
    val descriptions = goldenRun.jobDescriptions
    assert(descriptions.nonEmpty)
    assert(descriptions.forall(_.startsWith("graft:")),
      descriptions.filterNot(_.startsWith("graft:")).distinct)
    val expected = Set("graft:spine") ++
      AlertRegistry.enabled(day, "cc_alertas").map(a => s"graft:alert ${a._1.sigla}") ++
      (families :+ AlertRegistry.TypesTable).map(t => s"graft:write $t")
    assert(descriptions.toSet == expected)
  }

  test("RunAlerts.run keeps the caller's cached frames and releases its own") {
    assert(goldenRun.callerStillCached, "the caller's cached frame was dropped")
    assert(goldenRun.persistedByRun.isEmpty,
      s"the run left persisted RDDs ${goldenRun.persistedByRun} (spine or a detector's cache)")
  }

  test("a throwing detector fails the run with its own exception, after every " +
      "other detector finished, with final and history tables untouched") {
    // starts from the golden run's complete day (its entity views stay
    // registered)
    goldenRun
    val db = "cc_alertas"
    def snapshot(): Map[String, Seq[String]] =
      (families.flatMap(t => Seq(t, s"hist_$t")) :+ AlertRegistry.TypesTable).map { t =>
        t -> spark.table(s"$db.$t").collect().map(_.toString).toSeq.sorted
      }.toMap
    val closedForm = snapshot()

    val boom = new IllegalStateException("boom")
    val phases = new ConcurrentLinkedQueue[String]()
    val harness = new AlertHarness(spark, db, day, timerSink = (n, _) => phases.add(n))
    val alerts = AlertRegistry.enabled(day, db) :+
      (mkAlert("BOOM", Seq(1), () => throw boom) -> AlertRegistry.MgpTable)
    val thrown = intercept[IllegalStateException](AlertRegistry.runDetectors(harness, alerts))
    assert(thrown eq boom)
    // each phase reports when it ends, failing or not
    assert(phases.asScala.toSeq.sorted == alerts.map(a => s"alert ${a._1.sigla}").sorted)
    assert(poolThreads().isEmpty, poolThreads())
    assert(snapshot() == closedForm)
    assert(harness.stagedTables(AlertRegistry.MgpTable).nonEmpty)

    // the next run of the day clears what the failed one staged
    AlertRegistry.runAll(spark, db, day)
    assert(snapshot() == closedForm)
    assert(families.forall(t => harness.stagedTables(t).isEmpty))
  }

  test("two detectors of one family staged at once both land every row, 20 times") {
    val db = "t_ccstage"
    freshDb(db)
    val harness = new AlertHarness(spark, db, day, timerSink = (_, _) => ())
    val a = mkAlert("AAA", 1 to 50)
    val b = mkAlert("BBB", 51 to 100)
    (1 to 20).foreach { round =>
      AlertRegistry.allAtOnce("graft-alert",
        Seq(() => harness.appendTemp(a, "alerts"), () => harness.appendTemp(b, "alerts")))
      harness.finalize("alerts")
      val docs = spark.table(s"$db.alerts").select("alrt_docu_dk").collect().map(_.getInt(0))
      assert(docs.sorted.toSeq == (1 to 100), s"round $round")
    }
    spark.sql(s"DROP DATABASE $db CASCADE")
  }
}

object ConcurrentAlertsSpec {
  final case class GoldenRun(out: String, jobDescriptions: Seq[String],
                             callerStillCached: Boolean, persistedByRun: Set[Int])
}
