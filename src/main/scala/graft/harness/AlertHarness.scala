package graft.harness

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.SchemaConform

/** Injectable clock (SURVEY.md §7.3 risk: `current_date` drift across a
  * long run; a pinned run-timestamp also makes tests deterministic). */
final case class RunClock(now: LocalDateTime) {
  def ts: Timestamp = Timestamp.valueOf(now)
  def dtCalculo: String = now.format(DateTimeFormatter.ofPattern("yyyyMMdd"))
  def dtPartition: String = now.format(DateTimeFormatter.ofPattern("yyyyMM"))
}

/** One alert detector: a pure `build` from registered views to a result
  * frame (reference alert functions are `options -> DataFrame`,
  * src/alertas/jobs.py:98-119). `sigla` may be overridden per-row by
  * the frame itself (the PRCR1-4 pattern, src/alertas/alerta_prcr.py). */
trait Alert {
  def sigla: String
  def family: StructType
  def keyCols: Seq[String]
  def build(spark: SparkSession): DataFrame

  private val cachedFrames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df` for reuse within `build` (one frame feeding both an aux
    * side-table and the alert rows); [[release]] unpersists it. */
  protected def cachedForBuild(df: DataFrame): DataFrame = {
    cachedFrames.add(df)
    df.cache()
  }

  /** Unpersist what `build` cached. The harness calls it once the
    * detector's rows are staged, so a run leaves the session's cache as
    * it found it. */
  def release(): Unit =
    Iterator.continually(cachedFrames.poll()).takeWhile(_ != null).foreach(_.unpersist())
}

/** Pure conform step: sigla injection, composite `alrt_key`
  * (sigla.rowkey.orgao, reference jobs.py:262-271), family null-pad +
  * column ordering. Catalog-free so it's usable as a standalone query. */
object AlertConform {
  def apply(built: DataFrame, sigla: String, family: StructType,
            keyCols: Seq[String],
            keyHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
  : DataFrame = {
    val withSigla =
      if (built.columns.contains("alrt_sigla")) built
      else built.withColumn("alrt_sigla", lit(sigla).cast("string"))
    val rowKey =
      if (keyCols.nonEmpty)
        keyHash(concat(keyCols.map(c => graft.core.AlertKey.render(col(c))): _*))
      else lit("KEYUNDEFINED")
    // bare concat ON PURPOSE (not AlertKey.render): the reference's
    // outer key concat (jobs.py:266-270) NULLs out when
    // alrt_orgi_orga_dk is NULL, and dismissal keyed on alrt_key
    // inherits that behavior — coalescing here would diverge from it
    val keyed = withSigla.withColumn("alrt_key",
      concat(col("alrt_sigla"), lit("."), rowKey, lit("."), col("alrt_orgi_orga_dk")))
    SchemaConform.conform(keyed, family)
  }
}

/** Alert lifecycle harness: each detector's conformed rows are staged
  * in a table of their own (`temp_<table>__<sigla>`), then a family's
  * staged tables are read together for the final-table overwrite and
  * the month-partitioned history merge.
  *
  * Re-expresses the reference's `AlertaSession` lifecycle
  * (src/alertas/jobs.py:258-320) Spark-first:
  *  - the reference appends every alert of a family to one temp table;
  *    here each detector overwrites its own staging table, so detectors
  *    can stage side by side ([[AlertRegistry.runAll]]): concurrent
  *    appends to one table path share the file committer's
  *    `_temporary/0` directory, which the first job to commit deletes
  *    under the others;
  *  - sigla injection + composite `alrt_key` (jobs.py:262-271) are
  *    codegen'd column expressions, not a Python UDF round-trip;
  *  - the history merge keeps the reference's read-modify-write month
  *    semantics (union current month's other days, stage, overwrite
  *    of the month partition — jobs.py:295-318) which at scale only
  *    rewrites the current month partition, never the whole history;
  *  - writes repartition to a small fixed file count like the
  *    reference (20 temp / 3 final+hist, jobs.py:277,293,315) — at
  *    100 TB these become per-partition targets sized by AQE instead.
  */
class AlertHarness(val spark: SparkSession, val schema: String, clock: RunClock,
                   keyHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                     graft.core.AlertKey.limpaSha1,
                   metadataHook: graft.sources.MetadataHook =
                     graft.sources.MetadataHook.Noop,
                   timerSink: Timed.Sink = Timed.logSink,
                   /** Failure-injection seam: called with a named
                     * checkpoint at each point of [[finalize]] where a
                     * driver crash leaves the catalog in an
                     * intermediate state. The STAGING discipline
                     * (materialize the merged month in `_temp`, THEN
                     * dynamic-overwrite the history partition —
                     * reference jobs.py:311-316) exists so every one
                     * of these states is recoverable by simply
                     * re-running the day: AlertHarnessSpec kills at
                     * each point and proves the history partition is
                     * never lost or half-written. Production leaves
                     * the default no-op. */
                   faultInjector: String => Unit = _ => ()) {

  /** The one temp table per family that runs used before per-detector
    * staging; [[dropTemps]] still clears it. */
  def tempName(table: String) = s"$schema.temp_$table"
  def histName(table: String) = s"$schema.hist_$table"
  def finalName(table: String) = s"$schema.$table"

  private def stagePrefix(table: String) = s"temp_${table}__".toLowerCase
  private def stagedName(table: String, sigla: String) =
    s"$schema.${stagePrefix(table)}${sigla.toLowerCase}"

  /** Every staging table of `table`'s family in the schema, found by
    * name, so a re-run or another harness instance finds what an
    * earlier one left. */
  def stagedTables(table: String): Seq[String] =
    spark.sql(s"SHOW TABLES IN $schema LIKE '${stagePrefix(table)}*'").collect()
      .filterNot(_.getAs[Boolean]("isTemporary"))
      .map(r => s"$schema.${r.getAs[String]("tableName")}").toSeq.sorted

  spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")

  /** A [[Timed]] phase whose Spark jobs carry its name. */
  private def phase[T](name: String)(body: => T): T =
    Timed.phase(name, timerSink)(Timed.described(spark, name)(body))

  /** Conform one alert result (reference generateAlerta,
    * jobs.py:258-277). Returns the conformed frame (also the unit-test
    * surface). */
  def conformAlert(alert: Alert): DataFrame =
    AlertConform(alert.build(spark), alert.sigla, alert.family,
      alert.keyCols, keyHash)

  /** Stage one detector's conformed rows in its own table of `table`'s
    * family, replacing what an earlier run staged there. */
  def appendTemp(alert: Alert, table: String): Unit =
    // per-alert wall-clock, the reference's `with Timer():` around each
    // alert build (jobs.py:189,260)
    phase(s"alert ${alert.sigla}") {
      try conformAlert(alert).coalesce(4).write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(stagedName(table, alert.sigla))
      finally alert.release()
    }

  /** Final + history writer (reference write_dataframe, jobs.py:284-320),
    * timed like the reference's write stage (jobs.py:286). Reads every
    * table staged for the family and drops them once history is
    * written. */
  def finalize(table: String): Unit = phase(s"write $table") {
    val staged = stagedTables(table)
    require(staged.nonEmpty, s"no alerts staged for $table in $schema")
    val temp = staged.map(spark.table).reduce(_ unionByName _)

    temp.repartition(3).write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(finalName(table))
    faultInjector("final-overwritten")

    val todays = spark.table(finalName(table))
      .withColumn("dt_calculo", lit(clock.dtCalculo))
      .withColumn("dt_partition", lit(clock.dtPartition))

    val hist = histName(table)
    if (spark.catalog.tableExists(hist)) {
      // merge with the current month's OTHER days (re-runs on the same
      // day replace that day's rows), stage, then overwrite just this
      // month
      val otherDays = spark.table(hist)
        .filter(col("dt_partition") === clock.dtPartition &&
          col("dt_calculo") =!= clock.dtCalculo)
      val merged = otherDays.unionByName(todays)
      merged.write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(hist + "_temp")
      faultInjector("staged")
      // a STATIC partition spec replaces exactly this month under any
      // session partitionOverwriteMode (Spark 4.1's insertInto ignores
      // the writer's partitionOverwriteMode option)
      val cols = spark.table(hist).columns.filter(_ != "dt_partition")
      spark.sql(s"INSERT OVERWRITE TABLE $hist PARTITION (dt_partition = " +
        s"'${clock.dtPartition}') SELECT /*+ COALESCE(3) */ " +
        cols.mkString("`", "`, `", "`") + s" FROM ${hist}_temp")
      faultInjector("hist-inserted")
      spark.sql(s"DROP TABLE ${hist}_temp")
    } else {
      todays.coalesce(3).write.partitionBy("dt_partition")
        .format("parquet").saveAsTable(hist)
    }
    staged.foreach(t => spark.sql(s"DROP TABLE $t"))
    // external metadata caches (S12): tell downstream engines both
    // rewritten tables exist anew (reference utils.py:8-24 seam)
    metadataHook.tableWritten(finalName(table))
    metadataHook.tableWritten(hist)
  }

  /** Drop leftover staging tables of the listed families, and their
    * old single temp tables (reference jobs.py:140-141 hygiene). */
  def dropTemps(tables: Seq[String]): Unit =
    tables.flatMap(t => stagedTables(t) :+ tempName(t))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}
