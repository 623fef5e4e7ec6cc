package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** End-to-end corpus cleaning — the composition a training-data
  * pipeline actually runs, as one operator: language gate + quality
  * gate (narrow, zero-shuffle scalar metrics) → exact dedup (one
  * shuffle on a 16-byte digest) → MinHash-LSH near-dup removal (bucket
  * equi-join, greedy keep-lowest-id). Built from the same primitives
  * as the standalone operators ([[TextAnalysis]], [[Dedup]]) so every
  * stage keeps its individual oracle, and the composition gets its own.
  *
  * Scale shape: two shuffles on doc_id (language scores, signatures),
  * one on content hash, one on LSH bucket — all key-partitioned
  * equi-joins, no all-pairs stage anywhere; the survivor set is cached
  * once where it fans out into the signature and anti-join branches.
  */
object CorpusPipeline {

  final case class Config(
    keepLangs: Seq[String],
    minWords: Int,
    minQualityScore: Double,
    minhashK: Int,
    minhashBands: Int,
    // verify each near-dup drop by minhash-signature agreement (count
    // of matching components out of minhashK; agreement/k estimates
    // Jaccard). None = bucket co-membership alone decides — which on
    // a smoothly-similar corpus lets moderate-J collisions evict real
    // documents (round-8 fix; see Dedup.minhashComponents.minAgree)
    minAgree: Option[Int] = None,
    // the family's quadratic-blowup guard (see
    // Dedup.minhashCandidatePairs.maxBucket): a (band, sig) bucket
    // past this size is excluded from near-dup candidate generation —
    // its agreement-join compute is Σ bucket², which percolation
    // makes corpus-density-quadratic; a true near-dup that loses one
    // over-cap band still collides per remaining band at p = J^r
    maxBucket: Int = 1000,
    // run [[Html.extractText]] as the TRUE stage 0 (before even the
    // substring stage): web corpora arrive as markup, and every gate
    // below must judge visible text, not tag soup — a page that is
    // 95% markup would otherwise fail the quality gate on its HTML,
    // not its prose (C4 §2.1 extracts first for exactly this reason).
    // Zero-shuffle scalar chain; false = input is already plain text
    htmlExtract: Boolean = false,
    // run [[Html.cleanLines]] right after extraction (C4's order,
    // Raffel et al. §2.1): line-level rules the doc-level gates below
    // cannot express — a page keeping zero lines (or tripping the
    // lorem-ipsum / curly-brace page rules) drops HERE. None = skip
    c4LineMinWords: Option[Int] = None,
    // run [[Dedup.exactSubstringDedup]] at this window width as stage
    // 0 (round 9): duplicated >= w-token spans are removed IN PLACE
    // before the gates, so the language/quality/length checks judge
    // the document's RESIDUAL original content — the order real
    // pipelines use (a doc that is 90% lifted boilerplate should be
    // gated on its own 10%). None = skip the stage (the q61 oracle
    // pins the None path; the Some path has its own spec).
    substrWindow: Option[Int] = None)

  /** Clean `df` down to surviving documents, with the metrics that
    * drove the decisions: (id, pred_lang, n_words, quality_score). */
  def clean(dfRaw: DataFrame, idCol: String, textCol: String,
            cfg: Config): DataFrame =
    clean(dfRaw, idCol, textCol, cfg, None)

  /** [[clean]] with the language gate scored against a TRAINED
    * profile frame (lang, gram, wt) — typically loaded from the
    * artifact store (kind lang_profiles): the production cleaning run
    * scores with the published model, not the shipped default. The
    * gate stays one shuffle-free projection — the loaded table rides
    * the scoring expression as a reference object — and the argmax
    * tie-break is the trained convention (lexicographic) instead of
    * the baked langOrder. */
  def clean(dfRaw: DataFrame, idCol: String, textCol: String,
            cfg: Config, langProfiles: Option[DataFrame]): DataFrame = {
    val extracted =
      if (cfg.htmlExtract)
        // line breaks survive extraction exactly when the line-level
        // stage below will consume them (C4's extract→line order)
        dfRaw.withColumn(textCol, Html.extractText(col(textCol),
          keepLineBreaks = cfg.c4LineMinWords.isDefined))
      else dfRaw
    val df0 = cfg.c4LineMinWords match {
      case Some(mw) =>
        Html.cleanLines(extracted, idCol, textCol, mw)
          .select(col(idCol), col("clean_text").as(textCol))
      case None => extracted
    }
    val df = cfg.substrWindow match {
      case Some(w) =>
        Dedup.exactSubstringDedup(df0, idCol, textCol, w)
          .select(col(idCol), col("clean_text").as(textCol))
      case None => df0
    }
    // per-doc metrics AND language scores INLINE: every gate input —
    // n_words, quality, the TrigramScores vector — is a narrow scalar
    // expression, so the whole gate is ONE shuffle-free projection.
    // (Before the TrigramScores expression, language scoring needed an
    // explode + dim join + re-group, which forced a join-back on id
    // here; that join and both its shuffles are gone.)
    val (langs, scoreCol, lexTieBreak) = langProfiles match {
      case Some(p) =>
        val (ls, tbl) = TextAnalysis.profileTable(p)
        (ls, org.apache.spark.sql.graftext.TrigramScoresWith.column(
          lower(coalesce(col(textCol), lit(""))), tbl), true)
      case None =>
        (TextAnalysis.langOrder,
          org.apache.spark.sql.graftext.TrigramScores.column(
            lower(coalesce(col(textCol), lit("")))), false)
    }
    val scored = df.select(col(idCol), col(textCol),
        TextAnalysis.nWordsCol(col(textCol)).as("n_words"),
        TextAnalysis.qualityScoreCol(col(textCol)).as("quality_score"),
        scoreCol.as("__sc"))
    val withScores = scored.select(
      scored.columns.filterNot(_ == "__sc").map(col) ++
        langs.zipWithIndex.map { case (l, i) =>
          col("__sc")(i).as(s"score_$l")
        }: _*)
    val predicted =
      if (lexTieBreak)
        withScores.withColumn("pred_lang", TextAnalysis.lexArgmaxPred(langs))
      else TextAnalysis.languageIdFromScores(withScores)
    val kept = predicted
      .filter(col("pred_lang").isin(cfg.keepLangs: _*) &&
        col("n_words") >= cfg.minWords &&
        col("quality_score") >= cfg.minQualityScore)
      .select(col(idCol), col(textCol), col("n_words"),
        col("quality_score"), col("pred_lang"))

    // exact dedup: canonical row = min id per content digest. A window
    // (one shuffle on the digest, rank by id) — NOT a groupBy+self-join,
    // which would put the whole gate subtree on BOTH sides of the join
    // and double every upstream exchange (the round-4 q61 plan carried
    // 205 exchanges largely from this duplication; ids are unique, so
    // row_number()=1 keeps exactly the min-id row the self-join kept)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col(idCol).asc)
    val exact = kept.withColumn("content_hash", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "content_hash")
      .cache() // fans out: LSH signature branch + final anti-join probe.
                // Escapes into the returned plan → caller releases after
                // its action (see Dedup.minhashCandidatePairs note)
    // materialize BEFORE the fan-out: the banded signature branches and
    // the anti-join probe otherwise race the unmaterialized cache in one
    // job and each recomputes the full gate+dedup subtree (same pitfall
    // as documented at Dedup.connectedComponents' cache sites)
    exact.count()

    // near-dup removal: any candidate partner with a smaller id wins —
    // VERIFIED by signature agreement when cfg.minAgree is set, so a
    // bucket collision alone cannot evict a document. With
    // verification the signatures feed banding AND both agreement-join
    // sides — materialize once (same reasoning as
    // Dedup.minhashComponents) — and only the DROPPED id set is
    // consumed, so the verified path skips the distinct-pair
    // materialization minhashCandidatePairs exists for: banded
    // self-join → agreement filter → distinct id_b is one exchange
    // less, and re-verifying a pair that collides in two bands is
    // cheaper than deduping the full pair set first.
    val sigs0 = Dedup.minhashSignatures(exact, idCol, textCol, cfg.minhashK)
    val sigs = if (cfg.minAgree.isDefined) barrier(sigs0) else sigs0
    val dropped = cfg.minAgree match {
      case None =>
        Dedup.minhashCandidatePairs(
            sigs, idCol, cfg.minhashK, cfg.minhashBands)
          .select(col("id_b").as(idCol)).distinct()
      case Some(th) =>
        val k = cfg.minhashK
        // over-cap bucket exclusion as a window count filter riding
        // the (band, sig) exchange the self-join needs anyway — the
        // zero-drop common case pays no census job and no anti join
        // (same round-9 shape as minhashCandidatePairs). Each side's
        // signature rides its band rows (round-10, the q95 carry
        // medicine), so agreement filters map-side on the self-join's
        // output: the pair stream — quadratic in bucket density —
        // never re-crosses the wire into signature join-backs (the
        // old shape shuffled it twice)
        // materialized ONCE: both self-join sides consume it, and
        // unmaterialized each would re-run the cap window's
        // (band, sig) shuffle over the carry-widened rows — measured
        // round 10: 28.1s vs 19.8s at 100× (SCALE.md)
        val banded = barrier(Dedup.bandSignatures(
            sigs.select(col(idCol) +:
              ((0 until k).map(i => col(s"mh_$i")) ++
               (0 until k).map(i => col(s"mh_$i").as(s"c_mh_$i"))): _*),
            idCol, k, cfg.minhashBands,
            carry = (0 until k).map(i => s"c_mh_$i"))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("sig"))))
          .filter(col("__n") <= cfg.maxBucket)
          .drop("__n"))
        val a = banded.select(Seq(col(idCol).as("id_a"), col("band"),
          col("sig")) ++
          (0 until k).map(i => col(s"c_mh_$i").as(s"a_mh_$i")): _*)
        val b = banded.select(Seq(col(idCol).as("id_b"), col("band"),
          col("sig")) ++
          (0 until k).map(i => col(s"c_mh_$i").as(s"b_mh_$i")): _*)
        val agree = (0 until k).map(i =>
          when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
          .reduce(_ + _)
        a.join(b, Seq("band", "sig"))
          .filter(col("id_a") < col("id_b") && agree >= th)
          .select(col("id_b").as(idCol)).distinct()
    }
    exact
      .join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("pred_lang"), col("n_words"), col("quality_score"))
  }
}
