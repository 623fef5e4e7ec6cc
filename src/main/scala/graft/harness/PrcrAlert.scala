package graft.harness

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SchemaConform

/** PRCR — possibly-prescribed criminal cases (statute of limitation),
  * the reference's deepest pipeline (src/alertas/alerta_prcr.py:27-241;
  * SURVEY.md §3.3). Six stages, re-expressed as DataFrame chains:
  *
  *  1. penalties: active PIP-package docs × open subjects × penalty
  *     table (docu_dt_fato := min(fato, cadastro));
  *  2. prescription years: per-doc penalty-factor product via
  *     EXP(SUM(LN(max_pena))) over multiplier rows (A6), a sorted
  *     collect_list of their names (A7 — sorted for determinism, the
  *     documented divergence of SURVEY.md §7.3 risk 2), then the
  *     banded CASE mapping factored penalty → years;
  *  3. age-based halving: suspects under 21 at the fact date or over
  *     70 now halve the prescription time;
  *  4. ANPP rescissions (andamento 7920 since 201901 — the partition-
  *     pruning predicate kept on year_month);
  *  5. initial date priority: minor-abuse victims' 18th birthday >
  *     ANPP rescission date > fact date;
  *  6. data_prescricao = initial + years; elapsed vs the run clock;
  *     per-doc min/max status folds into subtype siglas PRCR1-4
  *     (order-sensitive CASE ladder, prcr.py:219-236).
  *
  * The detail table (stage 6 metadata per doc×investigado×crime) is a
  * declared secondary output (auxTable), as in the reference
  * (prcr.py:170-198).
  *
  * Scale notes: every dimension here (penalty table, class hierarchy,
  * organ packages) broadcasts; the per-doc aggregates shuffle on
  * docu_dk only; the multi-stage reuse point (TEMPO_PARA_PRESCRICAO,
  * used by the detail write AND the alert fold) is cached exactly like
  * the reference's materialization barrier (prcr.py:167).
  */
class PrcrAlert(clock: RunClock, limiar: Int = 90,
                auxTable: Option[String] = None) extends Alert {
  val sigla = "PRCR" // per-row subtypes PRCR1-4 override via alrt_sigla
  val family = SchemaConform.Mgp
  val keyCols = Seq("alrt_docu_dk")

  /** Suspect person-type codes (prcr.py:96). */
  val suspectTypes: Seq[Int] = Seq(290, 7, 21, 317, 20, 14, 32, 345, 40, 5, 24)
  /** Victim person-type codes for the minor-abuse rule (prcr.py:141). */
  val victimTypes: Seq[Int] = Seq(3, 13, 18, 6, 248, 290)
  /** PIP organ packages (prcr.py:44). */
  val pipPackages: Seq[Int] = 200 to 209

  private def now = lit(clock.ts)
  private def today = now.cast("date")

  def build(spark: SparkSession): DataFrame = {
    // 1. DOC_PENA (prcr.py:32-48)
    val docPena = spark.table("documentos_ativos")
      .join(broadcast(spark.table("mmps_classe_hierarquia")),
        col("cldc_dk") === col("docu_cldc_dk"), "left")
      .join(spark.table("mcpr_assunto_documento"),
        col("docu_dk") === col("asdo_docu_dk"))
      .join(broadcast(spark.table("tb_penas_assuntos")),
        col("id") === col("asdo_assu_dk"))
      .join(broadcast(spark.table("atualizacao_pj_pacote")),
        col("docu_orgi_orga_dk_responsavel") === col("id_orgao"))
      .filter(col("docu_dt_cadastro") >= "2010-01-01")
      .filter(col("max_pena").isNotNull)
      .filter(col("cod_pct").isin(pipPackages: _*))
      .filter(col("asdo_dt_fim").isNull) // subjects still open
      .select(col("docu_dk"), col("docu_nr_mp"), col("docu_nr_externo"),
        col("docu_tx_etiqueta"), col("docu_dt_fato").as("docu_dt_fato_original"),
        when(col("docu_dt_fato") < col("docu_dt_cadastro"), col("docu_dt_fato"))
          .otherwise(col("docu_dt_cadastro")).as("docu_dt_fato"),
        col("docu_dt_cadastro"), col("docu_orgi_orga_dk_responsavel"),
        col("cldc_dk"), col("cldc_ds_classe"), col("cldc_ds_hierarquia"),
        col("id"), col("artigo_lei"), col("max_pena"), col("nome_delito"),
        col("multiplicador"), col("abuso_menor"))

    // 2. DOC_PRESCRICAO (prcr.py:52-78): factor product + year bands
    val fatores = docPena.filter(col("multiplicador") === 1)
      .groupBy(col("docu_dk").as("f_docu_dk"))
      .agg(
        exp(sum(log(col("max_pena")))).as("fator_pena"),
        concat_ws(", ", sort_array(collect_list(col("nome_delito"))))
          .as("delitos_multiplicadores"))
    val prescricao = docPena.filter(col("multiplicador") === 0)
      .join(fatores, col("f_docu_dk") === col("docu_dk"), "left")
      .drop("f_docu_dk")
      .withColumn("max_pena_fatorado",
        when(col("fator_pena").isNotNull, col("max_pena") * col("fator_pena"))
          .otherwise(col("max_pena")))
      .withColumn("tempo_prescricao",
        when(col("max_pena_fatorado") < 1, 3)
          .when(col("max_pena_fatorado") < 2, 4)
          .when(col("max_pena_fatorado") < 4, 8)
          .when(col("max_pena_fatorado") < 8, 12)
          .when(col("max_pena_fatorado") < 12, 16)
          .otherwise(20))

    // 3. age-based halving (prcr.py:81-108)
    val suspeitos = prescricao.select(col("docu_dk"), col("docu_dt_fato"))
      .join(spark.table("mcpr_personagem")
        .filter(col("pers_tppe_dk").isin(suspectTypes: _*)),
        col("pers_docu_dk") === col("docu_dk"))
      .join(spark.table("mcpr_pessoa_fisica"),
        col("pers_pesf_dk") === col("pesf_pess_dk"))
      .filter(col("pesf_nm_pessoa_fisica") =!= "MP")
      .select(col("docu_dk"), col("pesf_pess_dk").as("investigado_pess_dk"),
        col("pesf_nm_pessoa_fisica").as("investigado_nm"),
        add_months(col("pesf_dt_nasc"), 21 * 12).as("dt_21"),
        add_months(col("pesf_dt_nasc"), 70 * 12).as("dt_70"),
        col("docu_dt_fato").as("dt_compare"))
      .distinct()
      .withColumn("fator_prescricao",
        when(!(col("dt_compare") >= col("dt_21") && now < col("dt_70")), 0.5))
      .select(col("docu_dk").as("s_docu_dk"), col("investigado_pess_dk"),
        col("investigado_nm"), col("fator_prescricao"))
    val fatorado = prescricao
      .join(suspeitos, col("s_docu_dk") === col("docu_dk"), "left")
      .drop("s_docu_dk")
      .withColumn("tempo_prescricao_fatorado",
        when(col("fator_prescricao").isNotNull,
          col("tempo_prescricao") * col("fator_prescricao"))
          .otherwise(col("tempo_prescricao")))
      .withColumn("investigado_maior_70_menor_21", col("fator_prescricao").isNotNull)

    // 4. ANPP rescissions (prcr.py:113-121). Deliberately NOT
    // aggregated per doc: the reference's DOCS_ANPP view joins back
    // unaggregated (prcr.py:154), so a doc with multiple 7920
    // rescissions fans out one row per rescission date — that fan-out
    // is reference behavior and the detail table inherits it
    val anpp = spark.table("vista")
      .join(spark.table("mcpr_andamento"), col("vist_dk") === col("pcao_vist_dk"))
      .join(spark.table("mcpr_sub_andamento"), col("stao_pcao_dk") === col("pcao_dk"))
      .filter(col("stao_tppr_dk") === 7920)
      .filter(col("year_month") >= 201901)
      .select(col("vist_docu_dk"), col("pcao_dt_andamento"))

    // 5. initial-date priority (prcr.py:127-156)
    val abusoMenor = fatorado
      .filter(col("abuso_menor") === 1)
      .select(col("docu_dk"), col("docu_dt_fato"))
      .join(spark.table("mcpr_personagem")
        .filter(col("pers_tppe_dk").isin(victimTypes: _*)),
        col("pers_docu_dk") === col("docu_dk"))
      .join(spark.table("mcpr_pessoa_fisica"),
        col("pers_pesf_dk") === col("pesf_pess_dk"))
      .withColumn("dt_18_anos_raw",
        add_months(col("pesf_dt_nasc"), 18 * 12).cast("timestamp"))
      .withColumn("dt_18_anos",
        when(col("dt_18_anos_raw") > col("docu_dt_fato"), col("dt_18_anos_raw")))
      .groupBy(col("docu_dk").as("m_docu_dk"))
      .agg(max(col("dt_18_anos")).as("dt_18_anos"))
    val dtInicial = fatorado
      .join(anpp, col("vist_docu_dk") === col("docu_dk"), "left")
      .drop("vist_docu_dk")
      .join(abusoMenor, col("m_docu_dk") === col("docu_dk"), "left")
      .drop("m_docu_dk")
      .withColumn("dt_inicial_prescricao",
        when(col("dt_18_anos").isNotNull && col("abuso_menor") === 1, col("dt_18_anos"))
          .when(col("pcao_dt_andamento").isNotNull, col("pcao_dt_andamento"))
          .otherwise(col("docu_dt_fato")))
      .withColumn("vitima_menor_mais_jovem_dt_18_anos", col("dt_18_anos"))
      .withColumn("dt_acordo_npp", col("pcao_dt_andamento"))

    // 6. prescription date + elapsed; cached reuse point (prcr.py:159-167)
    val tempo = cachedForBuild(dtInicial
      .withColumn("data_prescricao",
        add_months(col("dt_inicial_prescricao"),
          (col("tempo_prescricao_fatorado") * 12).cast("int")).cast("timestamp"))
      .withColumn("elapsed",
        datediff(today, col("data_prescricao")).cast("int")))

    // detail side-table (prcr.py:170-198)
    auxTable.foreach { t =>
      tempo.select(
        col("docu_dk").as("adpr_docu_dk"),
        col("investigado_pess_dk").as("adpr_investigado_pess_dk"),
        col("investigado_nm").as("adpr_investigado_nm"),
        col("nome_delito").as("adpr_nome_delito"),
        col("id").as("adpr_id_assunto"),
        col("artigo_lei").as("adpr_artigo_lei"),
        col("abuso_menor").as("adpr_abuso_menor"),
        col("max_pena").as("adpr_max_pena"),
        col("delitos_multiplicadores").as("adpr_delitos_multiplicadores"),
        col("fator_pena").as("adpr_fator_pena"),
        col("max_pena_fatorado").as("adpr_max_pena_fatorado"),
        col("tempo_prescricao").as("adpr_tempo_prescricao"),
        col("investigado_maior_70_menor_21").as("adpr_investigado_prescricao_reduzida"),
        col("tempo_prescricao_fatorado").as("adpr_tempo_prescricao_fatorado"),
        col("vitima_menor_mais_jovem_dt_18_anos").as("adpr_dt_18_anos_menor_vitima"),
        col("dt_acordo_npp").as("adpr_dt_acordo_npp"),
        col("docu_dt_fato_original").as("adpr_docu_dt_fato"),
        col("docu_dt_cadastro").as("adpr_docu_dt_cadastro"),
        col("dt_inicial_prescricao").cast("string").as("adpr_dt_inicial_prescricao"),
        col("data_prescricao").as("adpr_dt_final_prescricao"),
        col("elapsed").as("adpr_dias_prescrito"))
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(t)
    }

    // per-crime status then per-doc fold to subtype sigla (prcr.py:200-239)
    val status = tempo.withColumn("status_prescricao",
      when(col("elapsed") > 0, 2)
        .when(col("elapsed") <= -limiar, 0)
        .otherwise(1))
    val folded = status
      .groupBy(
        col("docu_dk").as("alrt_docu_dk"),
        col("docu_nr_mp").as("alrt_docu_nr_mp"),
        col("docu_orgi_orga_dk_responsavel").as("alrt_orgi_orga_dk"))
      .agg(
        min(col("status_prescricao")).as("min_status"),
        max(col("status_prescricao")).as("max_status"),
        min(col("elapsed")).as("alrt_dias_referencia"))
    folded
      // the CASE order is semantic: PRCR1 > PRCR2 > PRCR3 > PRCR4
      .withColumn("alrt_sigla",
        when(col("min_status") === 2, "PRCR1")   // all prescribed
          .when(col("min_status") === 1, "PRCR2") // all near prescription
          .when(col("max_status") === 2, "PRCR3") // some prescribed
          .when(col("max_status") === 1, "PRCR4")) // some near
      .filter(col("alrt_sigla").isNotNull)
      .drop("min_status", "max_status")
  }
}
