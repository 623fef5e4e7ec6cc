package graftbench

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.harness.{AlertRegistry, EntityViews, RunAlerts, RunClock}
import graft.tools.HarnessScale

/** `alerts`: one operation is the production call `RunAlerts.run` with
  * a pinned date, over an MPRJ world written as parquet catalog
  * tables: `Copies` copies of the DomainFixtures golden world, each
  * copy's document-graph keys (HarnessScale.factKeys) shifted by a
  * seed-chosen multiple of `Stride`. Set-up runs an earlier day of the
  * same month, so every timed run takes the daily path: final
  * overwrite, history staging and dynamic-partition overwrite.
  *
  * Check: the alert row count is the linear closed form in the copy
  * count, and every document key in the alert tables maps back to a
  * golden-world key once its copy's shift is removed, with the same
  * number of alerts in every copy. */
final class Alerts(spark: SparkSession, spans: Spans, seed: Long) extends Workload {
  import Alerts._

  /** Copy c's key shift is shifts(c) * Stride; distinct per copy. */
  private val shifts: Seq[Long] =
    new scala.util.Random(seed).shuffle((0L until MaxShift).toList).take(Copies)
  private val options = RunAlerts.Options(clock = RunClock(Day))
  private var phases = Seq.empty[(String, Double, Double)]
  private var opStart = 0.0
  private var opEnd = 0.0
  private var baseDocs = Set.empty[Long]

  def prepare(): Unit = {
    graft.DomainFixtures.registerAll(spark)
    baseDocs = spark.table("documento").select(col("docu_dk").cast("long"))
      .collect().map(_.getLong(0)).toSet
    HarnessScale.factKeys.foreach { case (view, keys) =>
      val base = spark.table(view)
      shifts.map { s =>
        keys.foldLeft(base)((df, k) =>
          df.withColumn(k, (col(k) + lit(s * Stride)).cast(base.schema(k).dataType)))
      }.reduce(_ unionByName _).createOrReplaceTempView(view)
    }
    val o = options
    val tables = Seq(o.schemaExadata -> EntityViews.exadata,
        o.schemaExadataAux -> EntityViews.exadataAux, o.schemaOpenGeo -> EntityViews.openGeo,
        o.schemaCompras -> EntityViews.compras)
      .flatMap { case (schema, views) =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
        views.map { case (view, table) => view -> s"$schema.$table" }
      }
    // the tables are small and independent: write them four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      tables.map { case (view, table) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.table(view).write.mode("overwrite").format("parquet")
            .saveAsTable(table)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def warehouse(db: String): java.nio.file.Path = java.nio.file.Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db")

  lazy val inputBytes: Double = {
    val o = options
    Seq(o.schemaExadata, o.schemaExadataAux, o.schemaOpenGeo, o.schemaCompras)
      .map(db => Main.dirBytes(warehouse(db))).sum
  }

  /** An earlier day of the month: JIT warm-up and the history tables
    * the timed runs merge into. */
  def warmup(): Unit =
    RunAlerts.run(spark, options.copy(clock = RunClock(EarlierDay)))

  def round(): Seq[Op] = Seq(Op("RunAlerts.run", "harness", () => runOnce(), () => check()))

  private def runOnce(): Unit = {
    opStart = spans.now
    val log = new PhaseLog(spans)
    try Console.withOut(log)(RunAlerts.run(spark, options))
    finally {
      opEnd = spans.now
      log.flush()
      phases = log.phases.toSeq
    }
  }

  private def check(): Boolean = {
    val tables = FamilyTables.map(t => spark.table(s"${options.schemaAlertas}.$t"))
    val rows = tables.map(_.count()).sum
    val docKeys = tables.filter(_.columns.contains("alrt_docu_dk"))
      .map(_.select(col("alrt_docu_dk").cast("long").as("dk")).filter(col("dk").isNotNull))
      .reduce(_ union _).collect().map(_.getLong(0)).toSeq
    val perCopy = docKeys.groupBy(_ / Stride).map { case (k, v) => k -> v.size }
    val mapsBack = docKeys.forall(dk => shifts.contains(dk / Stride) && baseDocs(dk % Stride))
    val ok = rows == RowsPerCopy * Copies + RowsFixed && mapsBack &&
      perCopy.size == Copies && perCopy.values.toSet.size == 1
    if (!ok) System.err.println(s"[perfbench] alerts check: rows=$rows " +
      s"(want ${RowsPerCopy * Copies + RowsFixed}), keys map back=$mapsBack, per copy=$perCopy")
    ok
  }

  /** harness.spine_s runs from the call to the first detector (view
    * registration, temp hygiene, the cached active-documents spine);
    * harness.types_s from the last table write to the call's end. */
  override def opLayers(): Map[String, Double] = {
    val starts = phases.map(p => p._2 - p._3 * 1e3)
    val named = phases.map { case (name, _, secs) =>
      val key = name.split(" ") match {
        case Array("alert", sigla) => s"harness.alert.${sigla}_s"
        case Array("write", table) => s"harness.write.${table}_s"
        case _ => s"harness.${name.replace(' ', '_')}_s"
      }
      key -> secs
    }
    val stored = Main.dirBytes(warehouse(options.schemaAlertas))
    named.toMap ++ Map(
      "harness.spine_s" -> (if (starts.isEmpty) 0.0 else (starts.min - opStart) / 1e3),
      "harness.types_s" -> (if (phases.isEmpty) 0.0 else (opEnd - phases.map(_._2).max) / 1e3),
      "harness.stored_mb" -> stored / 1048576.0)
  }

  override def afterOp(): Unit = spark.catalog.clearCache()

  override def layers(records: Seq[Record], rounds: Int): Map[String, Double] = {
    val out = records.map(_.layers.getOrElse("spark.output_bytes", 0.0)).sum
    val stored = records.map(_.layers.getOrElse("harness.stored_mb", 0.0) * 1048576.0).sum
    Map("harness.write_amp" -> (if (stored > 0) out / stored else 0.0))
  }
}

object Alerts {
  val Copies = 8
  val Stride = 1000000L
  val MaxShift = 1000L
  val Day: LocalDateTime = LocalDateTime.of(2026, 8, 12, 12, 0)
  val EarlierDay: LocalDateTime = LocalDateTime.of(2026, 8, 5, 12, 0)
  /** Alert rows per golden-world copy and the copy-independent rest
    * (the org-level ISPS/COMP alerts), measured on 1 and 2 copies. */
  val RowsPerCopy = 15L
  val RowsFixed = 5L
  val FamilyTables: Seq[String] = Seq(AlertRegistry.MgpTable, AlertRegistry.RoTable,
    AlertRegistry.CompTable, AlertRegistry.IspsTable, AlertRegistry.Abr1Table)
}

/** Captures the harness's per-phase timer lines (`[timed] alert GATE:
  * 0.412 s`, printed at each phase's end) and timestamps them on
  * arrival, so each phase becomes a span without touching the harness.
  * Other output passes through. */
final class PhaseLog(spans: Spans) extends java.io.PrintStream(new java.io.ByteArrayOutputStream(), true) {
  private val buf = new StringBuilder
  private val passThrough = System.out
  val phases = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
  private val Line = """\[timed\] (.+): ([0-9.]+) s""".r

  override def write(b: Int): Unit = {
    if (b == '\n') line() else buf.append(b.toChar)
  }
  override def write(bytes: Array[Byte], off: Int, len: Int): Unit =
    (off until off + len).foreach(i => write(bytes(i).toInt))
  override def flush(): Unit = if (buf.nonEmpty) line()

  private def line(): Unit = {
    val s = buf.toString; buf.clear()
    s match {
      case Line(name, secs) =>
        val end = spans.now
        phases += ((name, end, secs.toDouble))
        spans.add(name, end - secs.toDouble * 1e3, end)
      case other => passThrough.println(other)
    }
  }
}
