package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Incremental alert detection — the architectural inversion of the
  * reference's nightly full rescan (src/alertas/alertas.sh relaunches
  * the whole job per run): detectors whose logic is stateless
  * (join + filter + project) run unchanged over a CHANGELOG stream,
  * emitting alerts within a micro-batch of the triggering row's
  * arrival instead of at the next nightly window.
  *
  * Contract (the lambda shape, stated honestly): the stream is the
  * fast path — an alert is emitted when its condition holds at row
  * arrival; conditions that become true later through mutation of
  * OTHER tables (e.g. the document closes after its vista arrived)
  * surface at the next batch run, which remains the reconciliation
  * path. Dismissals/replacements are downstream concerns keyed on the
  * same composite alrt_key either way.
  *
  * At scale: the static dimension broadcasts per micro-batch (no
  * state store, no shuffle on the stream side), so throughput is
  * bounded by source ingest, not join state.
  */
object IncrementalAlerts {

  /** Run ANY stateless detector incrementally: the changelog stream is
    * registered under the entity view name the detector already reads,
    * and `build` produces the same plan with a streaming side — no
    * detector code changes. Works for detectors whose plan is
    * join + filter + project (VADF, OUVI); detectors with a
    * max-per-group core need their aggregate maintained as streaming
    * state instead — see [[gateStream]]. The original view is restored
    * after the drain. */
  def detectorStream(spark: SparkSession, alert: graft.harness.Alert,
                     streamView: String, stream: org.apache.spark.sql.DataFrame,
                     queryName: String): DataFrame = {
    val original = spark.table(streamView)
    stream.createOrReplaceTempView(streamView)
    try EventStream.drainToMemory(alert.build(spark), queryName)
    finally original.createOrReplaceTempView(streamView)
  }

  /** Streaming VADF over a vista changelog directory: every arriving
    * open-vista row probes the (broadcast) closed-document dimension;
    * survivors are VADF alerts, drained append-mode to a memory sink.
    * Exactly [[graft.harness.VadfAlert.detect]] — same plan, streaming
    * vista side. */
  def vadfStream(spark: SparkSession, vistaDir: String,
                 documento: DataFrame,
                 queryName: String = "graft_incr_vadf"): DataFrame = {
    val schema = spark.read.parquet(vistaDir).schema
    val vista = spark.readStream.schema(schema).parquet(vistaDir)
    EventStream.drainToMemory(
      graft.harness.VadfAlert.detect(broadcast(documento), vista), queryName)
  }

  /** Incremental maintenance of an ANTI-JOIN detector under a CHANGING
    * exclusion set — the second stateful detector shape after
    * [[gateStream]]'s max-per-group: the documentos_ativos spine and
    * VADF-style detectors are `facts LEFT ANTI exclusion`, and when the
    * exclusion set mutates (a doc archives, a baixa arrives) the nightly
    * rescan recomputes everything. This applies a
    * [[graft.operators.Relational.snapshotDiff]] changelog of the
    * exclusion set to the previously materialized result instead:
    *
    *  - keys the diff INSERTED into the exclusion set retract their
    *    alerts (one anti probe of the previous result against the
    *    inserted keys);
    *  - keys the diff DELETED re-admit their fact rows (semi join of
    *    the facts against the deleted keys), guarded by an anti probe
    *    against the NEW exclusion snapshot so a key deleted in one row
    *    but still excluded via another is not wrongly re-admitted;
    *  - `update` rows don't change membership and are ignored.
    *
    * Per-batch cost is proportional to the diff size, never the table:
    * both diff sides are broadcast (a nightly changelog is tiny next to
    * a 100 TB fact table), and the re-admission scan is the only
    * fact-side work. `exclDiff` is consumed twice (insert and delete
    * branches) — cache it if deriving it is expensive (a snapshotDiff
    * over large snapshots), per the usual fan-out discipline.
    * Equivalence to the full recompute
    * (`facts LEFT ANTI exclusionNext`) is exact — proven both ways
    * (grow and shrink) in IncrementalAlertsSpec, and the registered
    * query carries the plain anti join as its DuckDB oracle.
    */
  def antiJoinIncrement(prev: DataFrame, facts: DataFrame, factKey: String,
                        exclDiff: DataFrame, exclNext: DataFrame,
                        exclKey: String): DataFrame = {
    val added = exclDiff.filter(col("change_type") === "insert")
      .select(col(exclKey).as("__x")).distinct()
    val removed = exclDiff.filter(col("change_type") === "delete")
      .select(col(exclKey).as("__x")).distinct()
    val retained = prev
      .join(broadcast(added), col(factKey) === col("__x"), "left_anti")
    val readmitted = facts
      .join(broadcast(removed), col(factKey) === col("__x"), "left_semi")
      .join(exclNext.select(col(exclKey).as("__x")).distinct(),
        col(factKey) === col("__x"), "left_anti")
    retained.unionByName(readmitted)
  }

  /** Streaming front of the cross-run dedup gate
    * ([[graft.operators.Dedup.incrementalDedup]]'s exact stage): a
    * document stream is probed per micro-batch against the seen-corpus
    * digest table — stream-static left_anti on the 16-byte content
    * hash, so the static side broadcasts and the stream never shuffles
    * its text — after within-stream exact dedup via `dropDuplicates`
    * on the digest (keyed state holds one 16-byte hash per distinct
    * doc; production bounds it with `dropDuplicatesWithinWatermark`
    * once docs carry event time — the drain here is AvailableNow, so
    * state dies with the query). Ingest-time dedup instead of
    * nightly: a duplicate crawl item is dropped the micro-batch it
    * arrives. */
  def dedupStream(spark: SparkSession, docsPath: String,
                  seenDigests: DataFrame,
                  queryName: String = "graft_incr_dedup",
                  basePath: Option[String] = None,
                  maxFilesPerTrigger: Int = 1): DataFrame = {
    // the file source needs a directory or glob; a single-file table is
    // addressed as a glob with its parent as basePath (same pattern as
    // EventStream.source). maxFilesPerTrigger=1 makes each file slice
    // its own micro-batch (like gateStream) so the keyed digest state
    // genuinely carries ACROSS batches rather than one batch draining
    // everything.
    val schema = spark.read.parquet(docsPath).schema
    val reader = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    basePath.foreach(p => reader.option("basePath", p))
    val docs = reader.parquet(docsPath)
    EventStream.drainToMemory(
      docs.withColumn("content_hash", md5(col("text")))
        .dropDuplicates("content_hash")
        .join(broadcast(seenDigests), Seq("content_hash"), "left_anti")
        .drop("content_hash"),
      queryName)
  }

  /** Incremental GATE — a detector with a MAX-PER-GROUP core
    * (latest vista per document, reference alerta_gate.py:29-38) run
    * as incremental view maintenance instead of a nightly rescan:
    *
    *  - the per-document max(vist_dt_abertura_vista) is a streaming
    *    aggregation over the vista changelog — Spark's state store
    *    holds exactly one (docu, max) row per document, and Update
    *    mode emits only the keys whose max changed in a micro-batch;
    *  - the static candidate dim (documento × its GATE technical
    *    reports) is seeded as ALL-firing — with no vista known, every
    *    IT is "newer than the last vista" (the reference's
    *    DT_MAX_VISTA IS NULL branch);
    *  - each micro-batch re-evaluates ONLY the changed documents
    *    (stream-static join against the candidate dim) and upserts:
    *    per-batch cost is proportional to the changed-key count, not
    *    the table size.
    *
    * The upsert here is a staged overwrite of the (small) alert table —
    * the local stand-in for a keyed MERGE sink at scale; the state
    * store, not the sink, is what makes the aggregate incremental. */
  def gateStream(spark: SparkSession, vistaDir: String, resultTable: String,
                 clock: graft.harness.RunClock, checkpointDir: String,
                 maxFilesPerTrigger: Int = 1): DataFrame = {
    val candidates = spark.table("documento")
      .join(broadcast(spark.table("mmps_classe_hierarquia")),
        col("docu_cldc_dk") === col("cldc_dk"), "left")
      .join(broadcast(spark.table("gate_info_tecnica")),
        col("docu_dk") === col("itcn_docu_dk"))
      .select(col("docu_dk"), col("docu_nr_mp"),
        col("docu_orgi_orga_dk_responsavel"), col("itcn_dk"),
        col("itcn_dt_cadastro"))
      .cache()

    def alertRows(df: DataFrame): DataFrame =
      df.withColumn("elapsed",
        datediff(lit(clock.ts).cast("date"), col("itcn_dt_cadastro")).cast("int"))
        .select(
          col("itcn_dk").as("alrt_dk_referencia"),
          col("docu_dk").as("alrt_docu_dk"),
          col("docu_nr_mp").as("alrt_docu_nr_mp"),
          col("itcn_dt_cadastro").as("alrt_date_referencia"),
          col("docu_orgi_orga_dk_responsavel").as("alrt_orgi_orga_dk"),
          col("elapsed").as("alrt_dias_referencia"))

    // seed: no vista known yet -> every technical report fires
    alertRows(candidates).write.mode("overwrite").format("parquet")
      .saveAsTable(resultTable)

    val schema = spark.read.parquet(vistaDir).schema
    val vistaMax = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(vistaDir)
      .groupBy(col("vist_docu_dk"))
      .agg(max(col("vist_dt_abertura_vista")).as("dt_max_vista"))

    EventStream.drain(spark)(vistaMax.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val changed = batch.cache()
        try {
          // re-fire the changed docs' ITs that are still newer than the
          // latest vista (reference's ITCN_DT_CADASTRO > DT_MAX_VISTA)
          val refreshed = alertRows(
            candidates.join(changed, col("docu_dk") === col("vist_docu_dk"))
              .filter(col("itcn_dt_cadastro") > col("dt_max_vista")))
          val untouched = spark.table(resultTable)
            .join(changed.select(col("vist_docu_dk")),
              col("alrt_docu_dk") === col("vist_docu_dk"), "left_anti")
          UpsertSink.stagedOverwrite(untouched.unionByName(refreshed),
            resultTable)
        } finally changed.unpersist()
        ()
      })
    candidates.unpersist()
    spark.table(resultTable)
  }

  /** NF30 as a STREAMING grouped-CASE aggregate — the third stateful
    * detector family after [[gateStream]] (max-per-group) and
    * [[antiJoinIncrement]] (changing exclusion set): the HAVING-gated
    * aggregate (reference src/alertas/alerta_nf30.py:34-73, the A4
    * site). Per document, streaming state maintains THREE conditional
    * maxes over the andamento changelog — latest autuação date,
    * deadline length (120 if any prorrogação else 30), and the
    * conversão flag — and each micro-batch re-evaluates ONLY the
    * changed documents against the static class-393 dim:
    *
    *  - a doc whose first autuação arrives gets its deadline re-based;
    *  - a prorrogação arrival extends 30 → 120 (can UN-fire an alert);
    *  - a conversão arrival flips the HAVING gate and RETRACTS the
    *    live alert — the stateful behavior the batch path expresses as
    *    `HAVING MAX(flag_conversao) = 0`.
    *
    * No watermark ON PURPOSE, documented: the state is one row per
    * OPEN document (bounded by the active-case population, not by
    * time), and a legal deadline must re-fire on an andamento arriving
    * YEARS after the last one — event-time eviction would silently
    * drop exactly the long-silent cases this alert exists to catch.
    * State is bounded by case closure (the doc leaves the active dim),
    * not by event time. IncrementalAlertsSpec asserts the bound
    * directly: the state store holds exactly one row per
    * qualifying-changelog doc across runs, including the retraction.
    *
    * APPEND-ONCE assumption, documented: the changelog is taken as
    * append-only — an andamento row is never RE-emitted with
    * `pcao_dt_cancelamento` later filled in. The cancellation filter
    * runs per arriving row, so a late cancelled re-emission would be
    * dropped here while the original's credit stays in the max state
    * (diverging from a batch recompute, which sees only the final
    * version). This matches the reference's daily-snapshot source
    * (cancelled rows simply stop appearing in the next snapshot). A
    * true updating changelog would need state keyed by andamento id
    * with latest-version-wins BEFORE the per-doc max — a second
    * keyed-state layer, deliberately out of scope for the
    * snapshot-shaped source modeled here.
    *
    * `andamentoDir` holds the exploded andamento changelog in the
    * shape PrazoSkeleton's join produces: (vist_docu_dk, stao_tppr_dk,
    * pcao_dt_andamento, pcao_dt_cancelamento), pre-filtered or not —
    * the stream applies the non-cancelled + code-set filter either
    * way, exactly as PrazoSkeleton.exploded does before its join. */
  def nf30Stream(spark: SparkSession, andamentoDir: String,
                 resultTable: String, clock: graft.harness.RunClock,
                 checkpointDir: String,
                 maxFilesPerTrigger: Int = 1): DataFrame = {
    import graft.harness.{Nf30Alert, PrazoSkeleton}
    val nf = new Nf30Alert(clock)
    // static dim: active uncorrelated fact notices (class 393) — the
    // same doc population PrazoSkeleton.exploded scopes to
    val docs = spark.table("documentos_ativos")
      .filter(col("docu_cldc_dk") === 393)
      .join(spark.table("mcpr_correlacionamento")
          .filter(col("corr_tpco_dk").isin(PrazoSkeleton.corrExcludeTypes: _*))
          .select(col("corr_docu_dk2")),
        col("corr_docu_dk2") === col("docu_dk"), "left_anti")
      .select(PrazoSkeleton.docKeys.map(col): _*)
      .cache()

    // the batch detector's projection over a (doc-dim × per-doc agg)
    // frame — the per-row CASEs become conditional-max state; the
    // HAVING gate and deadline predicate run per micro-batch
    // (alerta_nf30.py:59-73 semantics, same NF120 split)
    def alertRows(withAgg: DataFrame): DataFrame =
      withAgg
        .withColumn("dt_inicio",
          coalesce(col("dt_autuacao_max"), col("docu_dt_cadastro")))
        .withColumn("nr_dias_prazo", coalesce(col("nr_dias_prazo_max"), lit(30)))
        .withColumn("flag_conversao", coalesce(col("flag_conversao_max"), lit(0)))
        .filter(col("flag_conversao") === 0)
        .withColumn("elapsed", datediff(lit(clock.ts), col("dt_inicio")))
        .filter(col("elapsed") > col("nr_dias_prazo"))
        .select(
          col("docu_dk").as("alrt_docu_dk"),
          col("docu_nr_mp").as("alrt_docu_nr_mp"),
          col("dt_inicio").cast("timestamp").as("alrt_date_referencia"),
          col("docu_orgi_orga_dk_responsavel").as("alrt_orgi_orga_dk"),
          col("elapsed").cast("int").as("alrt_dias_referencia"),
          when(col("elapsed") > 120, "NF120").otherwise("NF30").as("alrt_sigla"))

    val nullAgg = Seq("dt_autuacao_max", "nr_dias_prazo_max",
      "flag_conversao_max")
    // seed ONLY on first run: no andamento known yet → every doc runs
    // on the cadastro fallback (the reference's CASE WHEN MAX(..) IS
    // NULL branch). On a RESUME (result table + checkpoint exist) the
    // previous result and the state store carry forward and only new
    // changelog files are processed — re-seeding would erase alerts
    // whose triggering rows were consumed in an earlier run.
    if (!spark.catalog.tableExists(resultTable))
      alertRows(nullAgg.foldLeft(docs)((d, c) =>
          d.withColumn(c, lit(null).cast(if (c == "dt_autuacao_max") "timestamp" else "int"))))
        .write.mode("overwrite").format("parquet").saveAsTable(resultTable)

    val schema = spark.read.parquet(andamentoDir).schema
    val aggStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(andamentoDir)
      .filter(col("pcao_dt_cancelamento").isNull)
      .filter(col("stao_tppr_dk").isin(
        (nf.conversao ++ nf.prorrogacao ++ nf.autuacao): _*))
      .groupBy(col("vist_docu_dk"))
      .agg(
        max(when(col("stao_tppr_dk").isin(nf.autuacao: _*),
          col("pcao_dt_andamento"))).as("dt_autuacao_max"),
        max(when(col("stao_tppr_dk").isin(nf.prorrogacao: _*), 120)
          .otherwise(30)).as("nr_dias_prazo_max"),
        max(when(col("stao_tppr_dk").isin(nf.conversao: _*), 1)
          .otherwise(0)).as("flag_conversao_max"))

    EventStream.drain(spark)(aggStream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val changed = batch.cache()
        try {
          val refreshed = alertRows(
            docs.join(changed, col("docu_dk") === col("vist_docu_dk")))
          val untouched = spark.table(resultTable)
            .join(changed.select(col("vist_docu_dk")),
              col("alrt_docu_dk") === col("vist_docu_dk"), "left_anti")
          // a changed doc that now fails the gate contributes no
          // refreshed row — the overwrite IS the retraction
          UpsertSink.stagedOverwrite(untouched.unionByName(refreshed),
            resultTable)
        } finally changed.unpersist()
        ()
      })
    docs.unpersist()
    spark.table(resultTable)
  }
}
