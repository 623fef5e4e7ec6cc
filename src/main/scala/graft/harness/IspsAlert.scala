package graft.harness

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SchemaConform

/** ISPS — sanitation indicators "in the red": municipalities whose
  * SNIS water / sewage / drainage indicators are worse than the state
  * aggregate (reference src/alertas/alerta_isps.py:37-197).
  *
  * Pattern content (SURVEY.md §2 J8/U2): each dataset compares every
  * municipality row against ONE reference row (the state, cod_mun=33 —
  * here a broadcast single-row cross join, the Spark-native scalar-
  * subquery shape), derives four NULL-able indicator columns, and
  * unpivots them (the reference's 4-branch UNION ALL; here a single
  * explode-over-array pass — one scan instead of four).
  *
  * Sanitation data is yearly, so results are memoized in an aux table
  * keyed by ano_referencia (isps.py:44-60): if rows for the latest
  * year already exist there, they are returned without recomputation.
  */
class IspsAlert(auxTable: Option[String] = None) extends Alert {
  val sigla = "ISPS"
  val family = SchemaConform.Isps
  val keyCols = Seq("isps_indicador", "isps_municipio", "isps_ano_referencia")

  /** Environmental organ packages (isps.py:196). */
  val packages: Seq[Int] = Seq(20, 21, 22, 24, 28, 183)

  /** Compare municipality rows against the single state reference row
    * and unpivot the four indicator verdicts. `worse` maps indicator
    * label -> predicate(muni value, state value). */
  private def indicadores(rows: DataFrame, state: DataFrame,
                          cols: Seq[String], labels: Seq[String],
                          worse: Seq[(Column, Column) => Column]): DataFrame = {
    val stateRenamed = state.select(cols.map(c => col(c).as(s"ref_$c")): _*)
    val flagged = rows.crossJoin(broadcast(stateRenamed))
    val verdicts = cols.zip(labels).zip(worse).map { case ((c, label), pred) =>
      when(pred(col(c), col(s"ref_$c")), lit(label)).otherwise(lit(null))
    }
    // single-scan unpivot of the 4 verdicts (vs the reference's
    // 4-branch UNION ALL re-reading the CTE per branch)
    flagged
      .select(col("municipio"),
        explode(array(verdicts: _*)).as("indicador"))
      .filter(col("indicador").isNotNull)
  }

  private def lt: (Column, Column) => Column = (a, b) => a < b
  private def gt: (Column, Column) => Column = (a, b) => a > b

  def build(spark: SparkSession): DataFrame = {
    // driver-side scalar: latest reference year (S11, isps.py:38-42)
    val anoReferencia = spark.table("plataforma_amb_saneamento_snis_info_indic_agua")
      .agg(max(col("ano_referencia")).as("max_ano"))
      .first().getAs[Int]("max_ano")

    // yearly memoization (isps.py:44-60)
    val memoized = auxTable
      .filter(spark.catalog.tableExists)
      .map(t => spark.table(t)
        .filter(col("isps_ano_referencia") === anoReferencia)
        .select(col("alrt_orgi_orga_dk"), col("isps_indicador"),
          col("isps_municipio"), col("alrt_key"), col("isps_ano_referencia")))
      .filter(_.limit(1).count() > 0)
    memoized.getOrElse(compute(spark, anoReferencia))
  }

  private def compute(spark: SparkSession, anoReferencia: Int): DataFrame = {
    val agua = {
      val rows = spark.table("plataforma_amb_saneamento_snis_info_indic_agua")
        .filter(col("ano_referencia") === anoReferencia && col("cod_prest").isNull)
      indicadores(
        rows.filter(col("cod_mun") =!= 33), rows.filter(col("cod_mun") === 33),
        Seq("in009", "in013", "in023", "in049"),
        Seq("Índice de Hidrometação", "Índice de Perdas de Faturamento",
          "Índice de Atendimento Urbano de Água", "Índice de Perdas na Distribuição"),
        Seq(lt, gt, lt, gt))
    }

    val esgoto = {
      val rows = spark.table("plataforma_amb_saneamento_snis_info_indic_esgoto")
        .filter(col("ano_referencia") === anoReferencia && col("cod_prest").isNull)
      indicadores(
        rows.filter(col("cod_mun") =!= 33), rows.filter(col("cod_mun") === 33),
        Seq("in015", "in016", "in024", "in046"),
        Seq("Índice de Coleta de Esgoto", "Índice de Tratamento de Esgoto",
          "Índice de Atendimento Urbano de Esgoto Referido",
          "Índice de Esgoto Tratado Referido à Água Consumida"),
        Seq(lt, lt, lt, lt))
    }

    // drainage: the state aggregate is computed from the base table
    // (isps.py:140-148), not stored
    val drenagem = {
      val stateAgg = spark
        .table("meio_ambiente_amb_saneamento_snis_drenagem_info_indic_2018")
        .agg(
          (sum(col("ri013")) / sum(col("ge008"))).as("in040"),
          ((sum(col("ri029")) + sum(col("ri067"))) / sum(col("ge006"))).as("in041"),
          (sum(col("ie024")) / sum(col("ie017"))).as("in021"),
          (sum(col("ie019")) / sum(col("ie017"))).as("in020"))
      val rows = spark.table("plataforma_amb_saneamento_snis_info_indic_drenagem")
        .filter(col("ano_referencia") === anoReferencia)
      indicadores(rows, stateAgg,
        Seq("in020", "in021", "in040", "in041"),
        Seq("Taxa de Cobertura de Pavimentação e Meio-Fio na Área Urbana do Município",
          "Taxa de Cobertura de Vias Públicas com Redes ou Canais Pluviais Subterrâneos na Área Urbana",
          "Parcela de Domicílios em Situação de Risco de Inundação",
          "Parcela da População Impactada por Eventos Hidrológicos"),
        Seq(lt, gt, gt, gt))
    }

    val todos = agua.union(esgoto).union(drenagem)
    val resultados = cachedForBuild(spark.table("atualizacao_pj_pacote")
      .filter(col("cod_pct").isin(packages: _*))
      .join(spark.table("institucional_orgaos_meio_ambiente"),
        col("cod_orgao") === col("id_orgao"))
      .join(todos, col("municipio") === col("comarca"))
      .select(
        col("id_orgao").cast("int").as("alrt_orgi_orga_dk"),
        col("indicador").as("isps_indicador"),
        col("municipio").as("isps_municipio"),
        lit(anoReferencia).cast("int").as("isps_ano_referencia"))
      .withColumn("alrt_key",
        graft.core.AlertKey.uuidsha(col("isps_indicador"), col("isps_municipio"),
          col("isps_ano_referencia"))))

    auxTable.foreach(t => resultados.write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(t))
    resultados
  }
}
