package graft.harness

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The full detector registry — the reference's `alerta_list`
  * (src/alertas/jobs.py:98-119) plus the four detectors it ships but
  * keeps disabled there (DCTJ, DNTJ, DORD, OFFP), and a complete-run
  * driver mirroring `generateAlertas` (jobs.py:187-256).
  */
object AlertRegistry {

  /** Family table names (jobs.py:48-56). */
  val MgpTable = "mmps_alertas_mgp"
  val RoTable = "mmps_alertas_ro"
  val Abr1Table = "mmps_alertas_abr1"
  val CompTable = "mmps_alertas_comp"
  val IspsTable = "mmps_alertas_isps"
  val TypesTable = "mmps_alertas_tipos"

  /** Enabled detectors with their family tables (jobs.py:98-119).
    * PRCR's detail table and ABR1/ISPS aux tables are wired by
    * [[runAll]] into the target schema like the reference's options
    * injection (jobs.py:128-130). */
  def enabled(clock: RunClock, schema: String,
              prescricaoLimiar: Int = 90): Seq[(Alert, String)] = Seq(
    new GateAlert(clock) -> MgpTable,
    new BdpaAlert(clock) -> MgpTable,
    new Ic1aAlert(clock) -> MgpTable,
    new MvvdAlert(clock) -> MgpTable,
    new OuviAlert -> MgpTable,
    new Pa1aAlert(clock) -> MgpTable,
    new PpfpAlert(clock) -> MgpTable,
    new PrcrAlert(clock, limiar = prescricaoLimiar,
      auxTable = Some(s"$schema.mmps_alerta_detalhe_prcr")) -> MgpTable,
    VadfAlert -> MgpTable,
    new Nf30Alert(clock) -> MgpTable,
    new Dt2iAlert(clock) -> MgpTable,
    new RoAlert(clock) -> RoTable,
    new Abr1Alert(clock, auxTable = Some(s"$schema.mmps_alerta_abr1_aux")) -> Abr1Table,
    new IspsAlert(auxTable = Some(s"$schema.mmps_alerta_isps_aux")) -> IspsTable,
    new CompAlert -> CompTable,
    new FebtAlert(clock) -> RoTable)

  /** Detectors present in the reference but commented out of its
    * registry (jobs.py:99-101,106); implemented for completeness. */
  def disabled(clock: RunClock): Seq[(Alert, String)] = Seq(
    new CourtReturnAlert(clock, criminal = true) -> MgpTable,
    new CourtReturnAlert(clock, criminal = false) -> MgpTable,
    new DordAlert -> MgpTable,
    new OffpAlert(clock) -> MgpTable)

  /** The alert-type dimension (S3 literal relation, jobs.py:148-185). */
  val alertTypes: Seq[(String, String)] = Seq(
    "DCTJ" -> "Documentos criminais sem retorno do TJ a mais de 60 dias",
    "DNTJ" -> "Documentos não criminais sem retorno do TJ a mais de 120 dias",
    "DORD" -> "Documentos com Órgão Responsável possivelmente desatualizado",
    "GATE" -> "Documentos com novas ITs do GATE",
    "BDPA" -> "Baixas a DP em atraso",
    "IC1A" -> "ICs sem prorrogação por mais de um ano",
    "MVVD" -> "Documentos com vitimas recorrentes recebidos nos ultimos 30 dias",
    "OFFP" -> "Ofício fora do prazo",
    "OUVI" -> "Expedientes de Ouvidoria (EO) pendentes de recebimento",
    "PA1A" -> "PAs sem prorrogação por mais de um ano",
    "PPFP" -> "Procedimento Preparatório fora do prazo",
    "PPPV" -> "Procedimento Preparatório próximo de vencer",
    "PRCR" -> "Processo possivelmente prescrito",
    "PRCR1" -> "Todos os crimes prescritos",
    "PRCR2" -> "Todos os crimes próximos de prescrever",
    "PRCR3" -> "Algum crime prescrito",
    "PRCR4" -> "Algum crime próximo de prescrever",
    "VADF" -> "Vistas abertas em documentos já fechados",
    "NF30" -> "Notícia de Fato a mais de 120 dias",
    "DT2I" -> "Movimento em processo de segunda instância",
    "RO" -> "ROs não entregues pelas delegacias",
    "ABR1" -> "Procedimentos que têm mais de 1 ano para comunicar ao CSMP",
    "ISPS" -> "Indicadores de Saneamento em Vermelho",
    "COMP" -> "Compras fora do padrão",
    "FEBT" -> "Mais de 30 dias sem novo RO")

  def writeTypesTable(spark: SparkSession, schema: String): Unit = {
    val st = StructType(Seq(
      StructField("alrt_sigla", StringType, nullable = false),
      StructField("alrt_descricao", StringType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      alertTypes.map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava, st)
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"$schema.$TypesTable")
  }

  /** Full run over registered entity views — the reference's
    * generateAlertas lifecycle (jobs.py:187-256): temp hygiene, the
    * cached documentos_ativos spine, per-alert conform+stage, then the
    * final/hist writer per family table. The reference runs its
    * detectors one after another; they share no state, so here they
    * all run at once, and then so do the family writes: over small
    * inputs a run is mostly per-job latency and planning time, which
    * overlap. */
  def runAll(spark: SparkSession, schema: String, clock: RunClock,
             includeDisabled: Boolean = false,
             prescricaoLimiar: Int = 90): Unit =
    runDetectors(new AlertHarness(spark, schema, clock),
      enabled(clock, schema, prescricaoLimiar) ++
        (if (includeDisabled) disabled(clock) else Seq.empty))

  /** [[runAll]]'s lifecycle over any detector list. A detector that
    * throws fails the run once every other detector has finished, with
    * its own exception and before any final or history table is
    * touched; the next run's temp hygiene clears what was staged. */
  private[graft] def runDetectors(harness: AlertHarness,
                                  alerts: Seq[(Alert, String)]): Unit = {
    val spark = harness.spark
    val tables = alerts.map(_._2).distinct
    harness.dropTemps(tables)
    val spine = Timed.described(spark, "spine")(ActiveDocs.registerCached(spark))
    try allAtOnce("graft-alert",
      alerts.map { case (alert, table) => () => harness.appendTemp(alert, table) })
    finally spine.unpersist()
    allAtOnce("graft-write", tables.map(t => () => harness.finalize(t)) :+
      (() => Timed.described(spark, s"write $TypesTable")(
        writeTypesTable(spark, harness.schema))))
  }

  /** Run every task at once, each on a daemon thread made for this call,
    * and return once all have ended; then rethrow the first failure (in
    * task order), with any others suppressed on it. Threads made here
    * inherit the caller's `Console.out`, Spark local properties and
    * active session; a pool that outlived the call would keep whatever
    * its threads saw first. */
  private[graft] def allAtOnce(name: String, tasks: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.indices.map { i =>
      val t = new Thread(() =>
        try tasks(i)() catch { case e: Throwable => failures(i) = e }, s"$name-$i")
      t.setDaemon(true)
      t
    }
    // join publishes each thread's failure slot to this one
    try threads.foreach(_.start())
    finally threads.foreach(_.join())
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
