package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{CorpusPipeline, Dedup, Sampling, TextAnalysis, UrlNormalize}
import graft.operators.GraftCheckpoint.barrier

/** End-to-end composed CRAWL pipeline sweep (verdict r10 ask #4): the
  * full front-end the standalone q137/q146/q152/q138/q136/q141 rungs
  * cover, composed with the round-9 clean/dedup/mix/pack chain as ONE
  * Spark job — crawl → gate → extract → clean → dedup →
  * decontaminate → perplexity-gate → mix → pack:
  *
  *   1. WARC synth + walk (q137): corrupt files die at the framing rung
  *   2. robots verdict + Crawl-delay from ONE robotsPolicy parse (q146
  *      × q152 composed, the single-parse seam) + category gate (q138),
  *      both verdicts as left-semi probes on the record id
  *   3. HTML→text with line breaks + C4 line rules + substring dedup +
  *      lang/len/quality gates + exact dedup + verified LSH near-dup,
  *      all inside CorpusPipeline.clean (q136/q141/q130/q61/q31/q33)
  *   4. n-gram benchmark decontamination (q87; the embedding-level
  *      q145 complement runs on the embeddings table, which the
  *      documents scale-up does not grow — swept standalone)
  *   5. perplexity terciles (q140), dropping the worst tercile
  *   6. temperature-scaled domain mix (q132 shape)
  *   7. chunk to context windows + pack to token budgets (q66/q74)
  *
  * The single action is a pack census over columns derived from every
  * stage, so no stage is optimizer-prunable. One STAGE line per dir +
  * a final JSON line; feed base/10x/100x dirs from tools/DataGen.
  *
  * Usage: runMain graft.tools.CrawlScale <dir1> [dir2 ...]
  */
object CrawlScale {
  /** One composed sweep over `dir`; `polite` routes the fetched frame
    * through the q156 schedule order. Returns
    * (wall_s, packs, chunks, tokens). */
  def sweep(spark: org.apache.spark.sql.SparkSession, dir: String,
            polite: Boolean): (Double, Long, Long, Long) = {
    import spark.implicits._
    import graft.queries.PipelineQueries._
    {
      val t0 = System.nanoTime()
      val d = graft.core.Tables.load(spark, dir, "documents")
      val id = col("doc_id").cast("string")
      // the q149 planted page over the full corpus text
      // the q149 planted page, with the <p> content ending in a
      // period so the C4 line rung has a keepable line per page (the
      // synthetic corpus has no sentence punctuation of its own — the
      // same reason q141 plants its line structure)
      val page = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><script>if (a<b) { track(\"</div>\"); }</script></head>"),
        lit("<body><!-- c --><h1 title=\"a > b\">Heading &amp; "), id,
        lit("</h1>\n<p>"), col("text"),
        lit(".</p><div>tail &lt;"), id, lit("&gt;</div></body></html>"))
      val files = d.select(col("doc_id"), page.as("text"))
      val recs = graft.sources.Warc.records(graft.sources.Warc.synthesizeWarc(files))
        .filter(col("rec_type") === "response")
        .select(col("file_id"), col("target_uri").as("url"), col("payload"))
      // skinny (id, url) barrier: the WARC walk runs once for the
      // payload path, not once per gate (the q149 discipline)
      val urls = barrier(recs.select("file_id", "url"))
      val robots = d.select(pmod(col("doc_id"), lit(7)).as("h")).distinct()
        .select(
          concat(lit("site"), col("h").cast("string"), lit(".example"))
            .as("domain"),
          concat(lit("User-agent: *\nDisallow: /private\n"),
            when(col("h") === 3, lit("Disallow: /page\n")).otherwise(lit("")),
            when(col("h") % 2 === 0, concat(lit("Crawl-delay: "),
              (col("h") + 1).cast("string"), lit("\n")))
              .otherwise(lit(""))).as("robots_txt"))
      val policy = barrier(UrlNormalize
        .robotsPolicy(robots, "domain", "robots_txt", "graftbot"))
      val robotsOk = UrlNormalize
        .robotsGateFromPolicy(urls, "file_id", "url", policy)
        .filter(col("allowed")).select("file_id")
      val blocklist = Seq(("site5.example", "ads")).toDF("domain", "category")
      val catOk = UrlNormalize.categoryGate(urls, "file_id", "url", blocklist)
        .filter(col("keep")).select("file_id")
      val gatedRecs = recs
        .join(robotsOk, Seq("file_id"), "left_semi")
        .join(catOk, Seq("file_id"), "left_semi")
      // `polite` (verdict r11 ask #8): fetch in POLITENESS ORDER — the
      // q156 schedule (slot_idx per host from the same robotsPolicy
      // parse's Crawl-delay) joined onto the gated
      // records, then host-partitioned and slot-sorted, so downstream
      // consumes records exactly as a delay-respecting fetcher would
      // issue them. The census is order-invariant, so the polite and
      // unordered sweeps must agree — the cells measure what the
      // constraint COSTS (one extra window shuffle + the re-sort).
      // barrier the fetched frame ONCE in both variants: it feeds
      // clean() AND the survivors join below, and without a barrier
      // the second reference re-runs the WARC synth+walk+decode —
      // found by the round-12 politeness A/B, where the polite
      // variant's shuffle accidentally created a ReuseExchange point
      // and beat the "cheaper" unordered chain by 1.5x at 100x
      val fetched = barrier(if (polite) {
        val sched = UrlNormalize.politenessSchedule(
          gatedRecs.select("file_id", "url"), "file_id", "url",
          policy.select(col("domain"), col("crawl_delay")),
          "domain", "crawl_delay")
        gatedRecs
          .join(sched.select(col("file_id"), col("host"), col("slot_idx")),
            Seq("file_id"))
          // RANGE partition on (host, slot): hash-partitioning on the
          // host alone caps parallelism at the host count (7 here —
          // measured 3.5x the unordered wall at 10x); ranges keep the
          // global (host, slot) order across partition boundaries, so
          // a fetcher draining partitions in order still honors every
          // host's delay sequence, at full width
          .repartitionByRange(col("host"), col("slot_idx"))
          .sortWithinPartitions(col("host"), col("slot_idx"))
          .select(col("file_id").as("doc_id"),
            decode(col("payload"), "ISO-8859-1").as("text"))
      } else gatedRecs
        .select(col("file_id").as("doc_id"),
          decode(col("payload"), "ISO-8859-1").as("text")))
      // extract + C4 lines + substring dedup + gates + exact dedup +
      // verified LSH near-dup, composed inside clean()
      val survivors = CorpusPipeline.clean(fetched, "doc_id", "text",
        CorpusPipeline.Config(CorpusLangs, CorpusMinWords, CorpusMinQuality,
          MinhashK, MinhashBands, Some(MinhashVerifyAgree), MinhashMaxBucket,
          htmlExtract = true, c4LineMinWords = Some(3),
          substrWindow = Some(ExactSubstrW)))
      // downstream stages consume the EXTRACTED text (one more scalar
      // extract pass on the survivors — rides the scan), never the
      // raw markup
      // barrier: kept fans out into contamination (train AND held-out
      // side), decontamination, perplexity, and the mix — without it
      // each consumer re-evaluates clean()'s whole dedup chain from
      // the fetched checkpoint (round-12 decomposition: the downstream
      // stages dominated the 100x wall and swung 2x run-to-run)
      val kept = barrier(fetched.join(survivors.select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"),
          graft.operators.Html.extractText(col("text")).as("text")))
      // benchmark decontamination: n-gram containment vs the held-out
      // slice; keep docs under 50% overlap
      val contam = Dedup.contamination(
        kept.filter(col("doc_id") % 10 =!= 0),
        kept.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", ContamN)
      val decon = kept.join(
        contam.filter(col("overlap") < 0.5).select("doc_id"), Seq("doc_id"))
      // perplexity terciles: drop the worst ('tail') tercile
      val ppl = Sampling.perplexityBuckets(decon, "doc_id", "text")
      val gated = decon.join(
        ppl.filter(col("bucket") =!= "tail").select("doc_id"), Seq("doc_id"))
      // temperature mix over the derived domain, then chunk + pack
      val mixed = Sampling.mixByTemperature(
        gated.withColumn("domain",
          when(col("doc_id") % 10 < 6, "web")
            .when(col("doc_id") % 10 < 9, "code")
            .otherwise("books")),
        "doc_id", "domain", alpha = 0.5)
      val chunks = TextAnalysis.chunkByTokens(mixed, "doc_id", "text",
        maxTokens = 64, stride = 48)
      val packed = TextAnalysis.packSequences(chunks, "doc_id",
        "chunk_idx", "n_tokens", budget = 256, shards = 32)
      val census = packed.agg(
        countDistinct(col("pack_shard"), col("pack_id")).as("n_packs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("total_tokens")).head
      val wall = (System.nanoTime() - t0) / 1e9
      val mode = if (polite) "polite" else "plain"
      println(f"STAGE $dir%-28s [$mode%-6s] $wall%.2f s -> " +
        f"packs=${census.getLong(0)} chunks=${census.getLong(1)} " +
        f"tokens=${census.getLong(2)}")
      (wall, census.getLong(0), census.getLong(1), census.getLong(2))
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = args.toSeq
    require(dirs.nonEmpty, "at least one data dir")
    val spark = graft.core.GraftSession.build("graft-crawl-scale",
      graft.core.GraftSession.envCores)
    val results = dirs.map { dir =>
      val (w, p, c, t) = sweep(spark, dir, polite = false)
      dir -> s"""{"wall":$w,"packs":$p,"chunks":$c,"tokens":$t}"""
    }
    println(results.map { case (d, j) => s""""$d":$j""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
