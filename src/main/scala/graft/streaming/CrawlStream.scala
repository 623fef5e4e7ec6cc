package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Html, UrlNormalize}
import graft.operators.GraftCheckpoint.barrier
import graft.sources.Warc

/** Streaming crawl ingest — the q149 batch gate composed over a FILE
  * SOURCE: WARC segments arrive in a directory, each micro-batch
  * walks the new files' records, gates them against a STATIC robots
  * policy and category blocklist, and extracts visible text. This is
  * the shape a continuous crawl actually runs — fetchers drop
  * segments, the ingest job tails the directory — and the round-12
  * q157 discipline applies: the stream answers the BATCH oracle
  * verbatim (q161 hashes against q149's closed form).
  *
  * Why it can run in append mode with ZERO state: every rung is
  * either a scalar projection or a stream-static broadcast join —
  *  - the WARC walk is the typed per-record scan ([[Warc.records]],
  *    stateless);
  *  - the robots verdict is the per-row
  *    [[UrlNormalize.robotsVerdictCols]] (array `filter` +
  *    `array_max` over the joined policy's rule array — the batch
  *    gate's explode+max-aggregate reshaped into a projection);
  *  - the category gate is `maxSuffixDepth` broadcast left joins,
  *    one per host-suffix level, against the (pre-deduped) blocklist
  *    — the batch gate's explode+groupBy without the groupBy. A
  *    UT1-scale blocklist (millions of domains) broadcasts in the
  *    tens of MB; suffix levels beyond the host's label count join
  *    on NULL and match nothing.
  * No watermark is needed (no aggregation, no stream-stream join),
  * so nothing is ever buffered: task memory is one micro-batch's
  * records, independent of crawl history — the 100 TB property.
  *
  * The policy/blocklist frames are BATCH frames (parse robots once —
  * [[UrlNormalize.robotsPolicy]], ideally loaded from the artifact
  * store via [[UrlNormalize.robotsPolicyPublished]]); Spark re-reads
  * them per micro-batch, which is exactly the refresh cadence a
  * crawl wants for a policy that updates between batches
  * (checkpointed here so the fixture synthesis isn't re-run). */
object CrawlStream {

  /** The gated-ingest TRANSFORM: works on a streaming OR batch
    * `files` frame (file_id, content) — the spec drains the stream
    * and compares against this very function applied in batch.
    * Output: (file_id, url, clean_text, crawl_delay) — q149's shape. */
  def gatedRecords(files: DataFrame, policy: DataFrame,
                   blocklist: DataFrame,
                   maxSuffixDepth: Int = 6,
                   gz: Boolean = false): DataFrame =
    gatedPages(files, policy, blocklist, maxSuffixDepth, gz)
      .select(col("file_id"), col("url"),
        Html.extractText(col("html")).as("clean_text"),
        col("crawl_delay"))

  /** [[gatedRecords]] stopping BEFORE text extraction: the gated
    * records with their RAW page html — the form the link-extraction
    * rung of the composed cycle loop needs (extractText destroys the
    * anchors). Output: (file_id, url, html, crawl_delay).
    *
    * TRANSPORT-FIDELITY rung (the envelope layer): a response record
    * whose WARC `Content-Type` declares `application/http` — every
    * real Common Crawl segment — is split by [[Warc.httpResponses]]
    * BEFORE any gate: only `200` responses whose HTTP `Content-Type`
    * is an html type (or absent) survive (redirects, errors, and
    * `text/plain`/image/… payloads never reach text extraction — nor
    * the broadcast joins: the status gate is the first filter on the
    * scan), and the surviving entity bytes are decoded under the
    * SNIFFED charset ([[Charsets.sniff]]: HTTP `charset=` param, then
    * the in-document `<meta>` prescan, then UTF-8) — a windows-1251
    * or Shift_JIS page yields real text, not mojibake. Bare-payload
    * records (the synthetic plantings' transport) keep the historical
    * byte-transparent latin-1 decode. */
  def gatedPages(files: DataFrame, policy: DataFrame,
                 blocklist: DataFrame,
                 maxSuffixDepth: Int = 6,
                 gz: Boolean = false): DataFrame = {
    import graft.operators.Charsets
    // gz: the strict per-member walk runs as a typed map per file —
    // stateless, so it composes onto the streaming frame unchanged;
    // one row per member means micro-batch task memory is one
    // decompressed RECORD, not a whole segment (a broken member
    // erases its file from the micro-batch, the batch contract
    // carried onto the stream)
    val env = Warc.httpResponses(
      (if (gz) Warc.gzRecords(files) else Warc.records(files))
        .filter(col("rec_type") === "response"))
    val isHttp = Warc.isHttpPayload(col("content_type"))
    // malformed envelopes carry a NULL http_status, so the === 200
    // comparison kills them with the non-200s (the broken-record
    // contract at the HTTP layer)
    val keepDoc = !isHttp ||
      (col("http_status") === 200 &&
        col("mime").isin("text/html", "application/xhtml+xml", ""))
    val html = when(isHttp,
        Charsets.decodeCharset(col("body"),
          Charsets.sniff(col("http_charset"), col("body"))))
      .otherwise(decode(col("payload"), "ISO-8859-1"))
    val recs = env.filter(keepDoc)
      .select(col("file_id"), col("target_uri").as("url"), html.as("html"))
      .withColumn("__dom", UrlNormalize.hostOf(col("url")))
      .withColumn("__path", UrlNormalize.pathOf(col("url")))
    val pol = broadcast(policy.select(col("domain").as("__dom"),
      col("rules"), col("crawl_delay")))
    val (allowed, _) =
      UrlNormalize.robotsVerdictCols(col("__path"), col("rules"))
    val afterRobots = recs.join(pol, Seq("__dom"), "left").filter(allowed)
    // one row per blocked domain — the gate never reads `category`, so
    // the dedup is a distinct on the join key. Checkpointed ONCE: the
    // per-level broadcast builds scan a materialized block instead of
    // re-running the dedup per build per micro-batch, and because all
    // levels broadcast the IDENTICAL frame (no per-level rename inside
    // the build subtree, unlike the former `__bld_i` projections) the
    // planner reuses ONE BroadcastExchange across the levels
    // (ReusedExchange) — 1 broadcast build per trigger instead of 6
    // (guide §2.4: shared exchange).
    val bl = barrier(blocklist.select(col("domain")).distinct())
    val withSufs = afterRobots
      .withColumn("__sufs", UrlNormalize.hostSuffixes(col("__dom")))
    // try_element_at: suffix levels beyond the host's label count
    // read NULL (ANSI-safe) and the anti condition matches nothing.
    // LEFT ANTI per level ≡ the former left join + all-levels-NULL
    // filter (the build side is deduped, so the left join was
    // fan-out-free), with no per-level null-marker columns widening
    // the stream between the joins.
    val gated = (1 to maxSuffixDepth).foldLeft(withSufs) { (df, i) =>
      df.join(broadcast(bl),
        try_element_at(col("__sufs"), lit(i)) === bl("domain"), "left_anti")
    }
    gated.select(col("file_id"), col("url"), col("html"),
      col("crawl_delay"))
  }

  /** Drain every WARC parquet file currently in `warcDir` through the
    * gate (AvailableNow, `maxFilesPerTrigger` files per micro-batch)
    * into a memory sink and return the accumulated table. With
    * `checkpointDir` set, a LATER call resumes and processes only
    * files that arrived since — the late-segment pickup
    * StreamingSinkSpec pins with a parquet sink. */
  def drainGated(spark: SparkSession, warcDir: String, policy: DataFrame,
                 blocklist: DataFrame,
                 maxFilesPerTrigger: Option[Int] = None,
                 queryName: String = "graft_stream_crawl",
                 gz: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema("file_id BIGINT, content BINARY")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val files = reader.parquet(warcDir)
    EventStream.drainToMemory(
      gatedRecords(files, policy, blocklist, gz = gz), queryName)
  }

  /** STREAMING politeness scheduler — the stateful rung
    * [[UrlNormalize.politenessSchedule]] can't express: a live
    * frontier discovers URLs in micro-batches, and each host's next
    * free fetch slot must SURVIVE across batches (a fetcher may
    * already be executing the slots handed out last batch, so the
    * scheduler can never renumber). Per-host state is ONE counter —
    * `flatMapGroupsWithState` keyed by host assigns each arriving
    * URL `slot_idx = counter + its rank within the batch`, ranked by
    * the same deterministic content-hash order the batch scheduler
    * uses, then advances the counter.
    *
    * Slot order is therefore (arrival batch, hash-bucket, id) — the
    * batch operator's order refined by arrival time, which IS the
    * streaming semantics: the future cannot outrank slots already
    * issued. With a deterministic batch composition (the
    * [[writeArrivalBatches]] fixture contract) the whole schedule has
    * a closed-form batch oracle: one window ranked by
    * (batch, hash, id).
    *
    * Scale shape: state is 8 bytes per host (the counter), NOT the
    * URLs — task residency is one micro-batch's rows for the hosts in
    * it, independent of frontier history (the q157 funnel-kernel
    * property). The delay table rides a stream-static broadcast join
    * BEFORE the stateful op, so the state function is pure counter
    * arithmetic. Input: a streaming frame with `idCol`/`urlCol`.
    * Output: (doc_id, url, host, slot_idx, fetch_at_s).
    *
    * STATE-HORIZON CONTRACT (documented position, round 16): the
    * per-host counter uses `NoTimeout` DELIBERATELY — state grows
    * with DISTINCT HOSTS forever and is never evicted. The trade is
    * sharp: evicting an idle host would reset its counter to 0, and
    * re-issuing slot numbers a fetcher fleet may still be executing
    * breaks the never-renumber contract this operator exists to
    * provide — silently, at the worst possible place (two fetchers
    * scheduled into the same politeness slot of one host). 8 bytes ×
    * even the full hostcount of the web (~1e9 registered domains) is
    * ~tens of GB of distributed state — trivially shardable, cheaper
    * than one day of crawl payloads — so a year-long loop holds ALL
    * hosts rather than guess at idleness. An operator that truly must
    * bound state should RESTART the loop at an epoch boundary (fresh
    * checkpoint, drained fleet), which renumbers every host at a
    * moment the contract is explicitly void; a TTL here is the same
    * thing done implicitly and per-host, with no drained-fleet
    * guarantee. See SCALE.md "Politeness state horizon".
    *
    * `priorityCol` (optional) prepends a sitemap-style priority to
    * the within-batch rank — (priority DESC, hash, id), the
    * [[UrlNormalize.prioritySchedule]] order composed onto the
    * counter semantics (arrival still outranks priority: issued
    * slots never renumber). `payloadCol` (optional) carries one
    * string column INERT through the stateful op and emits it as the
    * last output column — the composed crawl loop schedules its
    * cleaned pages without a post-schedule join (a stream-stream
    * join is the alternative, and needs watermarks the loop doesn't). */
  def politenessStream(urls: DataFrame, idCol: String, urlCol: String,
                       delays: DataFrame, domainCol: String = "domain",
                       delayCol: String = "crawl_delay",
                       defaultDelaySecs: Double = 1.0,
                       priorityCol: Option[String] = None,
                       payloadCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = urls.sparkSession
    import spark.implicits._
    // the id rides as a STRING so ANY key type schedules (a frontier
    // often has only the URL itself as identity — q171); within-batch
    // hash ties therefore break in STRING order, which the oracle
    // replays as CAST(id AS VARCHAR)
    val prio = priorityCol
      .map(c => coalesce(col(c).cast("double"), lit(0.5)))
      .getOrElse(lit(0.5)) // constant -> the rank reduces to (hash, id)
    val keyed = urls.select(
        col(idCol).cast("string").as("id"), col(urlCol).as("url"),
        UrlNormalize.hostOf(col(urlCol)).as("host"),
        pmod(graft.functions.PortableHash.hash60(col(idCol).cast("string")),
          lit(1000000)).as("ord"),
        prio.as("prio"),
        payloadCol.map(col).getOrElse(lit("")).as("pay"))
      .join(broadcast(delays.select(col(domainCol).as("host"),
        col(delayCol).cast("double").as("__d"))), Seq("host"), "left")
      .select(col("id"), col("url"), col("host"), col("ord"), col("prio"),
        col("pay"), coalesce(col("__d"), lit(defaultDelaySecs)).as("delay"))
      .as[(String, String, String, Long, Double, String, Double)]
    val slotted = keyed.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (host: String,
         it: Iterator[(String, String, String, Long, Double, String, Double)],
         st: GroupState[Long]) => {
          val start = st.getOption.getOrElse(0L)
          // batch-group-sized, bounded by one micro-batch's arrivals
          // for this host — never the frontier history
          val batch = it.toArray.sortBy(r => (-r._5, r._4, r._1))
          // slot_idx is surfaced as INT (the batch oracle's type); a
          // host issued more than 2^31 slots would wrap silently, so
          // the issued-slot contract fails LOUDLY here instead
          require(start + batch.length <= Int.MaxValue,
            s"host $host exceeded ${Int.MaxValue} issued slots")
          st.update(start + batch.length)
          batch.iterator.zipWithIndex.map { case (r, k) =>
            (r._1, r._2, host, (start + k).toInt, (start + k) * r._7, r._6)
          }
        })
      .toDF("doc_id", "url", "host", "slot_idx", "__raw", "__pay")
      .withColumn("fetch_at_s", round(col("__raw"), 6)).drop("__raw")
    payloadCol match {
      case Some(c) => slotted.withColumnRenamed("__pay", c)
      case None => slotted.drop("__pay")
    }
  }

  /** Deterministic-arrival fixture writer: split `df` by `bseqCol`
    * (ascending batch sequence), write each batch as ONE parquet file
    * named `batch_<k>.parquet` directly in `dir`, and stamp strictly
    * increasing modification times (60 s apart) so the file stream
    * source's timestamp order — hence the micro-batch composition
    * under `maxFilesPerTrigger = 1` — is pinned. Returns the batch
    * count. Fixture plumbing (driver-side loop over the HANDFUL of
    * batches, not corpus rows). */
  /** Recursive delete with the walk stream closed (Files.walk holds a
    * directory handle until closed). */
  private def deleteTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  def writeArrivalBatches(df: DataFrame, bseqCol: String,
                          dir: String): Int = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(dir)
    if (Files.exists(target)) deleteTree(target) // stale files would replay
    Files.createDirectories(target)
    val bs = df.select(col(bseqCol)).distinct()
      .collect().map(_.getLong(0)).sorted // a handful of batches
    val base = 1700000000000L // fixed epoch: mtimes must be reproducible
    bs.zipWithIndex.foreach { case (b, k) =>
      val staging = Files.createTempDirectory("graft_arrival")
      df.filter(col(bseqCol) === b).drop(bseqCol)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val listing = Files.list(staging)
      val part =
        try listing.toArray.map(_.toString)
          .filter(p => p.contains("part-") && p.endsWith(".parquet")).head
        finally listing.close()
      val dest = target.resolve(f"batch_$k%04d.parquet")
      Files.move(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
      // the pinned mtime IS the arrival order under maxFilesPerTrigger;
      // a filesystem that rejects the update must fail loudly, not
      // degrade into a confusing oracle mismatch downstream
      require(dest.toFile.setLastModified(base + k * 60000L),
        s"cannot pin mtime on $dest — arrival order would be unpinned")
      // staging dir now holds only _SUCCESS/.crc leftovers; remove it
      deleteTree(staging)
    }
    bs.length
  }

  /** The full DISCOVERY LOOP on a stream — sitemap files arriving in
    * a directory, each micro-batch parsed
    * ([[UrlNormalize.sitemapUrls]] is stateless projections, so it
    * runs on a streaming frame as-is), robots-gated against the
    * static policy (stream-static broadcast join, the [[gatedRecords]]
    * rung), survivors slotted by [[politenessStream]] — whose per-host
    * counter SURVIVES across sitemap parts, so a site splitting its
    * inventory over multiple files (the protocol's 50k-URL split)
    * schedules exactly as if it had published one file per batch.
    * Output: (url, host, slot_idx, fetch_at_s). */
  def drainFrontier(spark: SparkSession, sitemapDir: String,
                    policy: DataFrame,
                    defaultDelaySecs: Double = 1.0,
                    queryName: String = "graft_stream_frontier"): DataFrame =
    EventStream.drainToMemory(
      frontierPlan(spark, sitemapDir, policy, defaultDelaySecs, None),
      queryName)

  /** The discovery loop's unsunk plan: sitemap parts read one file per
    * trigger, parsed, robots-gated, anti-probed against the `seen`
    * URL digests when given (the recrawl gate), then slotted by
    * [[politenessStream]]. Output: (url, host, slot_idx, fetch_at_s). */
  private def frontierPlan(spark: SparkSession, sitemapDir: String,
                           policy: DataFrame, defaultDelaySecs: Double,
                           seen: Option[DataFrame]): DataFrame = {
    val in = spark.readStream.schema("domain STRING, xml STRING")
      .option("maxFilesPerTrigger", 1).parquet(sitemapDir)
    val (allowed, _) = UrlNormalize.robotsVerdictCols(
      UrlNormalize.pathOf(col("url")), col("rules"))
    val urls = UrlNormalize.sitemapUrls(in, "domain", "xml")
      .join(broadcast(policy.select(col("domain"), col("rules"))),
        Seq("domain"), "left")
      .filter(allowed)
      .select(col("url"))
    val gated = seen.fold(urls)(seenDigests => urls
      .withColumn("url_digest", md5(col("url")))
      .join(seenDigests, Seq("url_digest"), "left_anti")
      .drop("url_digest"))
    politenessStream(gated.withColumn("uid", col("url")), "uid", "url",
        policy.select(col("domain"), col("crawl_delay")),
        defaultDelaySecs = defaultDelaySecs)
      .select(col("url"), col("host"), col("slot_idx"), col("fetch_at_s"))
  }

  /** [[drainFrontier]] with RECRAWL DISCIPLINE — the q162 dedup-state
    * lifecycle composed into the discovery loop: URLs already drained
    * by ANY earlier run are anti-probed away against the published
    * seen-URL digest state (kind `frontier_seen`) BEFORE the
    * scheduler, so a months-long crawl never reschedules a page it
    * already fetched.
    *
    * DELTA-STATE protocol: the seen state is the UNION of every
    * published version ≤ `loadVersion` (one pruned scan —
    * [[graft.sources.ArtifactStore.loadUpTo]]), and after the drain
    * only THIS run's new digests are published under
    * `publishVersion`. A drain therefore writes O(new URLs), never
    * O(total URLs ever seen) — the full-state rewrite the previous
    * design paid per drain grows linearly with crawl history and
    * would make each publish a months-long crawl's whole frontier.
    * Deltas are disjoint by construction (every emitted URL just
    * passed the anti-join), so the union needs no distinct; a
    * quiescent drain publishes nothing at all. Version growth is
    * bounded by [[graft.sources.ArtifactStore.compact]] on the
    * operator's cadence (weekly, per store root).
    *
    * Scale shape: the gate is a stream-static LEFT ANTI join on a
    * 16-byte md5 digest — state is digests, never URLs-with-payloads,
    * and Spark re-reads the static side per micro-batch (the refresh
    * cadence a live frontier wants). `publishVersion` must sort
    * strictly after `loadVersion`: the new delta partition is then
    * invisible to the ≤-loadVersion seen scan, so the publish never
    * overwrites files under its own reader. */
  def drainFrontierDedup(spark: SparkSession, sitemapDir: String,
                         policy: DataFrame, root: String, corpusKey: String,
                         loadVersion: String, publishVersion: String,
                         defaultDelaySecs: Double = 1.0,
                         queryName: String = "graft_stream_recrawl"): DataFrame = {
    import graft.sources.ArtifactStore
    require(loadVersion < publishVersion,
      s"recrawl state must publish a version sorting after the loaded one " +
        s"(got load=$loadVersion publish=$publishVersion)")
    val seen = ArtifactStore
      .loadUpTo(spark, root, "frontier_seen", corpusKey, loadVersion)
      .map(_.select(col("url_digest")))
      .getOrElse(spark.range(0).select(lit("").as("url_digest")))
    val drained = EventStream.drainToMemory(
      frontierPlan(spark, sitemapDir, policy, defaultDelaySecs, Some(seen)),
      queryName)
    // the DELTA: only this run's digests (distinct within-run — a
    // sitemap may list one URL twice in a single drain). An empty
    // delta writes no partition (dynamic overwrite with zero rows is
    // a no-op), so quiescent drains leave the store untouched.
    val delta = drained.select(md5(col("url")).as("url_digest")).distinct()
    ArtifactStore.save(delta, root, "frontier_seen", corpusKey,
      publishVersion)
    drained
  }

  /** The PRODUCTION CRAWL LOOP composed end-to-end, ONE streaming
    * query — the artifact a crawl team lifts whole: `.warc.gz`
    * segments arrive in `warcDir`, and each micro-batch runs
    *
    *   gz member walk → record fold → robots verdict → category gate
    *   → HTML→text extraction ([[gatedRecords]], gz = true)
    *   → RECRAWL ANTI against the published seen-digest state
    *   → priority-ordered politeness schedule (slots survive
    *     across batches), the cleaned page riding inert through
    *     the scheduler's state
    *
    * with the drain's new digests published back as a DELTA
    * ([[drainFrontierDedup]]'s protocol — per-drain write ∝ new
    * pages). The robots corpus is parsed ONCE: `robots` →
    * [[UrlNormalize.robotsPolicy]], checkpointed, feeding BOTH the
    * per-record verdict and the scheduler's Crawl-delay — the
    * checkpoint cuts the parse out of the streaming plan entirely
    * (no `robots_txt` subtree re-executes per micro-batch; the spec
    * plan-asserts this). `priorities` is a static sitemap-priority
    * frame (url, priority) riding a broadcast join, the
    * [[UrlNormalize.prioritySchedule]] rank composed onto the
    * stateful counter; absent URLs rank at the protocol default 0.5.
    *
    * Output: (url, host, slot_idx, fetch_at_s, clean_text) — wave
    * N's cleaned pages in the exact order a delay-respecting fetcher
    * retires them, with wave-(N-1) repeats never re-emitted. */
  def drainCrawlLoop(spark: SparkSession, warcDir: String,
                     robots: DataFrame, blocklist: DataFrame,
                     priorities: DataFrame,
                     root: String, corpusKey: String,
                     loadVersion: String, publishVersion: String,
                     agent: String = "graftbot",
                     maxFilesPerTrigger: Option[Int] = None,
                     defaultDelaySecs: Double = 1.0,
                     queryName: String = "graft_crawl_loop"): DataFrame = {
    val reader = spark.readStream.schema("file_id BIGINT, content BINARY")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    crawlLoopCore(spark, reader.parquet(warcDir), robots, blocklist,
      priorities, root, corpusKey, loadVersion, publishVersion, agent,
      defaultDelaySecs, queryName)
  }

  /** [[drainCrawlLoop]] over REAL `.warc.gz` FILES — the loop tails a
    * directory a fetcher fleet drops actual segments into, via the
    * binaryFile STREAM source (one compressed segment per row; the
    * decompressed form never materializes — the per-member walk).
    * This is the full production artifact with no synthetic framing
    * anywhere: files on disk in, scheduled clean pages out. */
  def drainCrawlLoopFromFiles(spark: SparkSession, filesDir: String,
                              robots: DataFrame, blocklist: DataFrame,
                              priorities: DataFrame,
                              root: String, corpusKey: String,
                              loadVersion: String, publishVersion: String,
                              agent: String = "graftbot",
                              maxFilesPerTrigger: Option[Int] = None,
                              defaultDelaySecs: Double = 1.0,
                              queryName: String = "graft_crawl_loop_files"): DataFrame = {
    val reader = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .option("pathGlobFilter", "*.warc.gz")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // the gate chain carries file_id only as an opaque passthrough,
    // so the file PATH serves as the identity unchanged
    val files = reader.load(filesDir)
      .select(col("path").as("file_id"), col("content"))
    crawlLoopCore(spark, files, robots, blocklist, priorities, root,
      corpusKey, loadVersion, publishVersion, agent, defaultDelaySecs,
      queryName)
  }

  /** The sink's COMMITTED data files, read from its `_spark_metadata`
    * manifest (the same log `spark.read.parquet(sinkDir)` consults for
    * its exactly-once view) — a driver-side metadata parse, zero data
    * read. Orphan part files from aborted task attempts are absent by
    * construction; empty for a sink that has never committed a batch. */
  private def committedSinkFiles(spark: SparkSession,
                                 sinkDir: String): Set[String] = {
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val metaDir = new org.apache.hadoop.fs.Path(sinkDir, "_spark_metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir)) Set.empty
    else new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      metaDir.toString).allFiles().map(_.path).toSet
  }

  /** Artifact kind recording WHICH sink files each publish covered —
    * the durable watermark the per-call delta diffs against. An
    * in-memory pre-drain snapshot of the manifest is NOT that
    * watermark: a crash in the window between the sink's batch commit
    * and the `ArtifactStore.save` leaves the committed files in the
    * manifest but their digests unpublished, and the retry's snapshot
    * would already contain them — `newFiles` comes back empty and
    * those URLs never reach the seen state under ANY version (only
    * the checkpoint's discovery state masked it; rebuild the
    * checkpoint and the pages re-fetch and re-schedule). Diffing
    * against the files recorded WITH the publishes makes the retry
    * self-healing: unrecorded committed files are re-diffed as new,
    * and the worst case of a crash between the digest save and the
    * file-watermark save is a RE-publish of the same digests —
    * absorbed by the seen state's set semantics (the anti gate, and
    * [[ArtifactStore.save]]'s idempotent same-version overwrite). */
  private val PublishedFilesKind = "published_sink_files"

  /** Sink files already covered by a publish ≤ `upTo` — rows of the
    * [[PublishedFilesKind]] artifact, collected driver-side (path
    * strings, file-count-sized: the same order as the manifest parse
    * in [[committedSinkFiles]]). */
  private def publishedSinkFiles(spark: SparkSession, root: String,
                                 corpusKey: String,
                                 upTo: String): Set[String] = {
    import graft.sources.ArtifactStore
    ArtifactStore.loadUpTo(spark, root, PublishedFilesKind, corpusKey, upTo)
      .map(_.select(col("path")).as[String](
        org.apache.spark.sql.Encoders.STRING).collect().toSet)
      .getOrElse(Set.empty)
  }

  /** Record `files` as covered by the publish at `version` — saved
    * AFTER the digest deltas (see [[PublishedFilesKind]]'s crash
    * ordering argument). */
  private def recordPublishedFiles(spark: SparkSession, files: Seq[String],
                                   root: String, corpusKey: String,
                                   version: String): Unit = {
    import graft.sources.ArtifactStore
    ArtifactStore.save(
      spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING)
        .toDF("path"),
      root, PublishedFilesKind, corpusKey, version)
  }

  /** The publish-coverage delta around one durable drain, with a
    * driver-side FAST PATH for the steady no-new-files resume (the
    * cadence a long crawl spends most calls in): a `_graft_published`
    * marker in the sink dir holds the md5 of the sorted committed
    * file set AS OF the last completed publish sequence. When the
    * post-drain manifest hashes to the marker's value, every
    * committed file is already covered and the call does NO Spark
    * work at all (two driver-side reads — the measured cost of the
    * r17 watermark protocol was one ~1.3 s artifact-read job per
    * resume, a per-call constant this removes). The marker is
    * ADVISORY: it is written LAST (after the digest deltas and the
    * [[PublishedFilesKind]] watermark), so any crash leaves it
    * stale/absent and the next call takes the slow path — load the
    * durable watermark, diff, publish, re-mark; correctness never
    * rests on the marker. */
  private def publishSinkDelta(spark: SparkSession, sinkDir: String,
                               root: String, corpusKey: String,
                               loadVersion: String, publishVersion: String)
                              (publish: DataFrame => Unit): Unit = {
    val after = committedSinkFiles(spark, sinkDir)
    val key = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(after.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val marker = new org.apache.hadoop.fs.Path(sinkDir, "_graft_published")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      }
    if (!current.contains(key)) {
      val before = publishedSinkFiles(spark, root, corpusKey, loadVersion)
      val newFiles = (after -- before).toSeq.sorted
      if (newFiles.nonEmpty) {
        publish(spark.read.parquet(newFiles: _*))
        recordPublishedFiles(spark, newFiles, root, corpusKey,
          publishVersion)
      }
      val out = fs.create(marker, true)
      try out.write(key.getBytes("UTF-8")) finally out.close()
    }
  }

  /** DURABLE form of [[drainCrawlLoop]]: parquet sink + explicit
    * checkpoint, the shape a real crawl RUNS AS (a memory sink cannot
    * recover, so the plain drains start every call from scratch). A
    * later call with the same `checkpointDir` RESUMES: only files
    * that arrived since are processed (exactly-once into the sink),
    * and every host's politeness counter SURVIVES the restart —
    * issued slots never renumber, the contract a fetcher fleet
    * holding last drain's slots depends on.
    *
    * The seen-state delta for THIS call is the manifest's committed
    * files MINUS the files already covered by a recorded publish
    * ([[PublishedFilesKind]] — the durable watermark, loaded at
    * `loadVersion` and re-recorded at `publishVersion` with each
    * publish): per-call publish cost is ∝ new pages, never the
    * accumulated sink, and a crash anywhere between the sink commit
    * and the publishes heals on retry (the in-memory pre-drain
    * snapshot this replaces silently dropped those digests — see the
    * kind's scaladoc; the steady no-new resume skips even the
    * watermark read via [[publishSinkDelta]]'s advisory marker).
    * The original design re-read and
    * distinct-digested the FULL sink every call — the same
    * O(total-ever) per-call shape the delta protocol exists to
    * remove, reintroduced at the sink — and threw outright on a
    * first drain that admitted zero rows (no files yet). A drain
    * that admits nothing publishes nothing and returns the sink's
    * (possibly empty) accumulated contents. */
  def drainCrawlLoopDurable(spark: SparkSession, warcDir: String,
                            robots: DataFrame, blocklist: DataFrame,
                            priorities: DataFrame,
                            root: String, corpusKey: String,
                            loadVersion: String, publishVersion: String,
                            sinkDir: String, checkpointDir: String,
                            agent: String = "graftbot",
                            maxFilesPerTrigger: Option[Int] = None,
                            defaultDelaySecs: Double = 1.0): DataFrame = {
    import graft.sources.ArtifactStore
    val reader = spark.readStream.schema("file_id BIGINT, content BINARY")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val out = crawlLoopPlan(spark, reader.parquet(warcDir), robots,
      blocklist, priorities, root, corpusKey, loadVersion, publishVersion,
      agent, defaultDelaySecs)
    EventStream.drain(out.writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append"))
    // every row in this drain's files passed the anti gate against
    // state ≤ loadVersion, and the caller publishes each drain under
    // a fresh version (the protocol `require` above) — so the
    // uncovered files' distinct digests ARE the delta; no anti-join
    publishSinkDelta(spark, sinkDir, root, corpusKey, loadVersion,
        publishVersion) { newRows =>
      ArtifactStore.save(
        newRows.select(md5(col("url")).as("url_digest")).distinct(),
        root, "frontier_seen", corpusKey, publishVersion)
    }
    if (committedSinkFiles(spark, sinkDir).isEmpty) // zero batches ever
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        out.schema)
    else spark.read.parquet(sinkDir)
  }

  /** The loop's unsunk plan. */
  private def crawlLoopPlan(spark: SparkSession, files: DataFrame,
                            robots: DataFrame, blocklist: DataFrame,
                            priorities: DataFrame,
                            root: String, corpusKey: String,
                            loadVersion: String, publishVersion: String,
                            agent: String, defaultDelaySecs: Double):
      DataFrame = {
    import graft.sources.ArtifactStore
    require(loadVersion < publishVersion,
      s"crawl-loop state must publish a version sorting after the loaded " +
        s"one (got load=$loadVersion publish=$publishVersion)")
    // ONE robots parse for the whole loop: verdict gate + delay table
    val policy = barrier(UrlNormalize
      .robotsPolicy(robots, "domain", "robots_txt", agent))
    val seen = ArtifactStore
      .loadUpTo(spark, root, "frontier_seen", corpusKey, loadVersion)
      .map(_.select(col("url_digest")))
      .getOrElse(spark.range(0).select(lit("").as("url_digest")))
    val gated = gatedRecords(files, policy, blocklist, gz = true)
    // WITHIN-DRAIN dedup: the anti gate above only sees state
    // published BEFORE the drain, so a URL re-shipped in two files of
    // ONE drain (two micro-batches — real crawls re-ship constantly
    // across segments) would pass it twice and be SCHEDULED twice.
    // A stateful streaming dropDuplicates on the 16-byte digest
    // closes the gap: first arrival wins, state is digests only
    // (the frontier_seen size discipline), sharded by digest — not
    // per-host sets. In the durable loop the dedup state lives in the
    // checkpoint and so also spans resumes; that overlap with the
    // published seen state is redundancy, not conflict (both drop
    // repeats), and the state's growth is bounded by the same
    // compaction cadence argument as frontier_seen: 16 bytes/URL.
    val fresh = gated
      .withColumn("url_digest", md5(col("url")))
      .join(seen, Seq("url_digest"), "left_anti") // the recrawl gate
      .dropDuplicates("url_digest")
      .drop("url_digest")
      .join(broadcast(priorities.select(col("url"),
        col("priority").cast("double").as("__prio"))), Seq("url"), "left")
      .withColumn("uid", col("url"))
    politenessStream(fresh, "uid", "url",
        policy.select(col("domain"), col("crawl_delay")),
        defaultDelaySecs = defaultDelaySecs,
        priorityCol = Some("__prio"), payloadCol = Some("clean_text"))
      .select(col("url"), col("host"), col("slot_idx"), col("fetch_at_s"),
        col("clean_text"))
  }

  private def crawlLoopCore(spark: SparkSession, files: DataFrame,
                            robots: DataFrame, blocklist: DataFrame,
                            priorities: DataFrame,
                            root: String, corpusKey: String,
                            loadVersion: String, publishVersion: String,
                            agent: String, defaultDelaySecs: Double,
                            queryName: String): DataFrame = {
    import graft.sources.ArtifactStore
    val drained = EventStream.drainToMemory(
      crawlLoopPlan(spark, files, robots, blocklist, priorities, root,
        corpusKey, loadVersion, publishVersion, agent, defaultDelaySecs),
      queryName)
    val delta = drained.select(md5(col("url")).as("url_digest")).distinct()
    ArtifactStore.save(delta, root, "frontier_seen", corpusKey,
      publishVersion)
    drained
  }

  /** One row per (source page, canonical absolute link target) — the
    * shared front half of the frontier expansion: hyperlink
    * extraction ([[Html.extractLinks]] — script/comment decoys never
    * extract), URL canonicalization ([[UrlNormalize.canonicalize]] —
    * case/port/slash/fragment variants of one target fold to one
    * key BEFORE any counting or state), and the absolute-http(s)
    * filter (relative and non-hierarchical hrefs pass canonicalize
    * unchanged and drop here — a crawler cannot fetch them without a
    * base-resolution step this operator deliberately does not
    * guess at). All stateless scalar work riding the scan. */
  private def linkTargets(pages: DataFrame, urlCol: String,
                          htmlCol: String): DataFrame =
    Html.extractLinks(pages.select(col(urlCol), col(htmlCol)),
        urlCol, htmlCol)
      .select(col(urlCol).as("__src"),
        UrlNormalize.canonicalize(col("href")).as("url"))
      .filter(col("url").rlike("^https?://"))

  /** LINK-DRIVEN FRONTIER EXPANSION — the step that CLOSES the crawl
    * cycle. Every other discovery rung starts from something a site
    * PUBLISHES (sitemaps, robots `Sitemap:` bootstraps); the cycle a
    * real crawler actually lives on is wave N's fetched pages feeding
    * wave N+1's frontier:
    *
    *   fetched pages → extract links → canonicalize → aggregate the
    *   link graph's indegree per target → recrawl LEFT ANTI against
    *   the seen-digest state → per-host politeness schedule ordered
    *   by link-graph priority (indegree DESC, hash, url)
    *
    * Output: (url, host, indegree, slot_idx, fetch_at_s) — wave N+1
    * in the order a delay-respecting fetcher retires it, repeats dead
    * at the anti gate.
    *
    * Plan shape at 100 TB: extraction + canonicalization are scalar
    * projections on the page scan; the ONE corpus-sized exchange is
    * the indegree aggregate (partial map-side combine, 8-byte counts);
    * the anti probes 16-byte digests AFTER aggregation, so the join
    * carries distinct targets, never raw link rows; the schedule
    * window shuffles once by host. Indegree (not PageRank) is the
    * priority by design: it needs no iteration, and for FRONTIER
    * ordering the two are interchangeable signals — a team wanting
    * PageRank composes [[graft.operators.Graph.pageRank]] over the
    * accumulated edge list on its own cadence and feeds it through
    * the same schedule rung ([[UrlNormalize.prioritySchedule]]).
    *
    * `policy` (optional): a [[UrlNormalize.robotsPolicy]] frame — every
    * discovered target whose host HAS a known policy is robots-gated
    * BEFORE it consumes a politeness slot (the per-row verdict
    * projection off a broadcast join, the [[gatedRecords]] rung);
    * hosts with no policy pass, the crawl default — their robots get
    * fetched with the wave. A real crawler re-visits hosts
    * constantly, so most discovered targets hit an already-known
    * policy and a disallowed path should die here, not after a
    * wasted fetch slot. */
  def expandFrontier(pages: DataFrame, urlCol: String, htmlCol: String,
                     seen: DataFrame, delays: DataFrame,
                     domainCol: String = "domain",
                     delayCol: String = "crawl_delay",
                     defaultDelaySecs: Double = 1.0,
                     policy: Option[DataFrame] = None): DataFrame =
    scheduleFrontier(
      linkTargets(pages, urlCol, htmlCol)
        .groupBy(col("url"))
        .agg(countDistinct(col("__src")).as("indegree")),
      seen, delays, domainCol, delayCol, defaultDelaySecs, policy)

  /** [[expandFrontier]] over MEDIA references instead of hyperlinks —
    * the multimodal corpus's discovery wave: fetched pages'
    * `<img>`/`srcset`/`<video>`/`<audio>`/`<source>`/`poster` targets
    * ([[Html.extractMediaLinks]]) are canonicalized, indegree-counted
    * (distinct source pages — a hero image referenced by every page
    * of a site outranks a one-off), anti-gated against the seen-media
    * digest state, optionally robots-gated, and politeness-scheduled
    * per host. Output matches [[expandFrontier]]: (url, host,
    * indegree, slot_idx, fetch_at_s) — the fetch list the
    * [[graft.sources.Multimodal]] decode/dedup family consumes once a
    * fetcher retires it. Same plan shape: scalar extraction on the
    * scan, ONE corpus-sized aggregate exchange, digest-keyed anti,
    * one schedule shuffle by host. */
  def expandMediaFrontier(pages: DataFrame, urlCol: String, htmlCol: String,
                          seen: DataFrame, delays: DataFrame,
                          domainCol: String = "domain",
                          delayCol: String = "crawl_delay",
                          defaultDelaySecs: Double = 1.0,
                          policy: Option[DataFrame] = None): DataFrame =
    scheduleFrontier(
      Html.extractMediaLinks(pages.select(col(urlCol), col(htmlCol)),
          urlCol, htmlCol)
        .select(col(urlCol).as("__src"),
          UrlNormalize.canonicalize(col("src")).as("url"))
        .filter(col("url").rlike("^https?://"))
        .groupBy(col("url"))
        .agg(countDistinct(col("__src")).as("indegree")),
      seen, delays, domainCol, delayCol, defaultDelaySecs, policy)

  /** Shared back half of the frontier expansions — public because it
    * is the composition point for ANY discovery source (hyperlinks,
    * media references, sitemap entries, redirect `Location` targets —
    * the q202 rung): takes `(url, indegree)` discovery candidates and
    * applies recrawl ANTI on the seen digests, the optional robots
    * gate, and the per-host priority schedule (indegree DESC, hash,
    * url). Output: (url, host, indegree, slot_idx, fetch_at_s). */
  def scheduleFrontier(targets: DataFrame, seen: DataFrame,
                       delays: DataFrame, domainCol: String = "domain",
                       delayCol: String = "crawl_delay",
                       defaultDelaySecs: Double = 1.0,
                       policy: Option[DataFrame] = None): DataFrame = {
    val fresh = targets
      .withColumn("url_digest", md5(col("url")))
      .join(seen.select(col("url_digest")), Seq("url_digest"), "left_anti")
      .drop("url_digest")
    val gated = policy match {
      case None => fresh
      case Some(p) =>
        val (allowed, _) = UrlNormalize.robotsVerdictCols(
          UrlNormalize.pathOf(col("url")), col("rules"))
        fresh.withColumn("__h", UrlNormalize.hostOf(col("url")))
          .join(broadcast(p.select(col("domain").as("__h"), col("rules"))),
            Seq("__h"), "left")
          .filter(allowed).drop("__h", "rules")
    }
    UrlNormalize.prioritySchedule(
        gated.withColumn("__lm", lit(null).cast("string")),
        "url", "indegree", "__lm",
        delays, domainCol, delayCol, defaultDelaySecs)
      .select(col("url"), col("host"), col("indegree"), col("slot_idx"),
        col("fetch_at_s"))
  }

  /** [[expandFrontier]] on a STREAM of fetched pages — the live form
    * of the cycle: each micro-batch's pages are link-extracted and
    * canonicalized statelessly, anti-gated against the static seen
    * state (BEFORE any stateful op, so re-discovered old URLs never
    * enter state), then deduplicated-and-counted by a per-URL
    * `flatMapGroupsWithState`: the FIRST batch that discovers a
    * target emits it once with its within-batch distinct-source
    * indegree; later batches re-discovering it emit nothing. That is
    * the honest streaming refinement of the batch semantics — a
    * target is scheduled when first seen, at its discovery-time
    * priority, because issued slots never renumber (the
    * [[politenessStream]] contract, which then assigns the slots).
    * Output matches [[expandFrontier]]: (url, host, indegree,
    * slot_idx, fetch_at_s).
    *
    * State shape: one boolean per discovered target keyed by the
    * canonical URL (a digest-keyed variant would shrink keys to 16
    * bytes at the cost of carrying the URL in the value — same order
    * of state), plus the scheduler's 8-byte per-host counter. Task
    * residency per batch is that batch's link rows only. */
  def expandFrontierStream(pages: DataFrame, urlCol: String,
                           htmlCol: String,
                           seen: DataFrame, delays: DataFrame,
                           domainCol: String = "domain",
                           delayCol: String = "crawl_delay",
                           defaultDelaySecs: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    val freshLinks = linkTargets(pages, urlCol, htmlCol)
      .withColumn("url_digest", md5(col("url")))
      .join(seen.select(col("url_digest")), Seq("url_digest"), "left_anti")
      .select(col("__src"), col("url")).as[(String, String)]
    val discovered = freshLinks
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (url: String, it: Iterator[(String, String)],
         st: GroupState[Boolean]) => {
          if (st.exists) Iterator.empty // discovered in an earlier batch
          else {
            st.update(true)
            // batch-group-sized: one target's sources within one batch
            Iterator.single((url, it.map(_._1).toSet.size.toLong))
          }
        })
      .toDF("url", "indegree")
      .withColumn("__ind", col("indegree").cast("string"))
    politenessStream(discovered, "url", "url", delays, domainCol,
        delayCol, defaultDelaySecs,
        priorityCol = Some("indegree"), payloadCol = Some("__ind"))
      .select(col("url"), col("host"),
        col("__ind").cast("long").as("indegree"),
        col("slot_idx"), col("fetch_at_s"))
  }

  /** THE CYCLE COMPOSED INTO THE LOOP — one streaming query that
    * turns wave N's raw segments into BOTH of a crawl's outputs:
    *
    *   .warc.gz segments → member walk → robots + category gates
    *   (ONE checkpointed policy parse) → recrawl ANTI on the seen
    *   state → the FETCHED pages (kind `fetched`: url + host, the
    *   corpus rows), UNION the same pages' links → canonicalize →
    *   ANTI on the same seen state → per-URL discovery state
    *   (first-seen wins, discovery-time indegree) → politeness
    *   schedule for wave N+1 (kind `frontier`: url, host, indegree,
    *   slot_idx, fetch_at_s — the next fetch list).
    *
    * The drain's DELTA publishes the digests of BOTH kinds: a later
    * drain re-shipping a fetched page kills it at the fetched-branch
    * anti, and re-discovering an already-scheduled link kills it at
    * the frontier-branch anti — the crawl cycle's full state
    * discipline in one versioned artifact. Within one drain, a page
    * fetched AND linked-to by a sibling page still schedules once as
    * `frontier` (the fetched rows join the seen state only at
    * publish); the next drain's anti retires it — the documented
    * one-drain lag, the price of keeping both branches stateless
    * against each other (a stream-stream anti needs watermarks
    * neither branch has).
    *
    * Output: (kind, url, host, indegree, slot_idx, fetch_at_s) —
    * indegree/slot/fetch are NULL on `fetched` rows. */
  def drainCrawlLoopExpand(spark: SparkSession, warcDir: String,
                           robots: DataFrame, blocklist: DataFrame,
                           delays: DataFrame,
                           root: String, corpusKey: String,
                           loadVersion: String, publishVersion: String,
                           agent: String = "graftbot",
                           maxFilesPerTrigger: Option[Int] = None,
                           defaultDelaySecs: Double = 1.0,
                           queryName: String = "graft_cycle_loop"): DataFrame = {
    val drained = EventStream.drainToMemory(
      cycleLoopPlan(spark, warcDir, robots, blocklist, delays, root,
        corpusKey, loadVersion, publishVersion, agent, maxFilesPerTrigger,
        defaultDelaySecs),
      queryName)
    publishCycleDeltas(drained, root, corpusKey, publishVersion)
    drained
  }

  /** The cycle loop's per-drain publishes: fetched digests →
    * `fetched_seen` (the re-ship gate); ALL emitted digests →
    * `frontier_seen` (nothing scheduled twice, nothing fetched ever
    * re-scheduled). */
  private def publishCycleDeltas(drained: DataFrame, root: String,
                                 corpusKey: String,
                                 publishVersion: String): Unit = {
    import graft.sources.ArtifactStore
    ArtifactStore.save(
      drained.filter(col("kind") === "fetched")
        .select(md5(col("url")).as("url_digest")).distinct(),
      root, "fetched_seen", corpusKey, publishVersion)
    ArtifactStore.save(
      drained.select(md5(col("url")).as("url_digest")).distinct(),
      root, "frontier_seen", corpusKey, publishVersion)
  }

  /** The cycle loop's unsunk plan (the [[drainCrawlLoopExpand]]
    * pipeline up to the sink).
    *
    * TWO state kinds, because "scheduled" and "fetched" are different
    * facts (the convergence spec found the conflation: a single
    * shared state dropped the loop's OWN scheduled pages when the
    * fetcher shipped them back):
    *  - `fetched_seen` (fetched pages only) gates the FETCHED branch —
    *    a re-shipped segment is a repeat; a scheduled page arriving
    *    for the first time is the crawl working as designed;
    *  - `frontier_seen` (scheduled OR fetched) gates the FRONTIER
    *    branch — nothing is ever scheduled twice, and nothing already
    *    fetched is re-scheduled. */
  private def cycleLoopPlan(spark: SparkSession, warcDir: String,
                            robots: DataFrame, blocklist: DataFrame,
                            delays: DataFrame,
                            root: String, corpusKey: String,
                            loadVersion: String, publishVersion: String,
                            agent: String,
                            maxFilesPerTrigger: Option[Int],
                            defaultDelaySecs: Double): DataFrame = {
    import graft.sources.ArtifactStore
    require(loadVersion < publishVersion,
      s"cycle-loop state must publish a version sorting after the loaded " +
        s"one (got load=$loadVersion publish=$publishVersion)")
    val policy = barrier(UrlNormalize
      .robotsPolicy(robots, "domain", "robots_txt", agent))
    def loadSeen(kind: String): DataFrame = ArtifactStore
      .loadUpTo(spark, root, kind, corpusKey, loadVersion)
      .map(_.select(col("url_digest")))
      .getOrElse(spark.range(0).select(lit("").as("url_digest")))
    val seenFetched = loadSeen("fetched_seen")
    val seenFrontier = loadSeen("frontier_seen")
    val reader = spark.readStream.schema("file_id BIGINT, content BINARY")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val pages = gatedPages(reader.parquet(warcDir), policy, blocklist,
      gz = true)
    val fetched = pages
      .withColumn("url_digest", md5(col("url")))
      .join(seenFetched, Seq("url_digest"), "left_anti") // re-ship gate
      .dropDuplicates("url_digest")               // within-drain repeats
      .select(lit("fetched").as("kind"), col("url"),
        UrlNormalize.hostOf(col("url")).as("host"),
        lit(null).cast("long").as("indegree"),
        lit(null).cast("int").as("slot_idx"),
        lit(null).cast("double").as("fetch_at_s"))
    val frontier = expandFrontierStream(pages, "url", "html", seenFrontier,
        delays, defaultDelaySecs = defaultDelaySecs)
      .select(lit("frontier").as("kind"), col("url"), col("host"),
        col("indegree"), col("slot_idx"), col("fetch_at_s"))
    fetched.unionByName(frontier)
  }

  /** DURABLE form of [[drainCrawlLoopExpand]] — the COMPLETE
    * production artifact, the last rung of the loop ladder
    * (q184 composed → q186 real files → q189 durable → here the
    * durable CYCLE): parquet sink + explicit checkpoint, so a later
    * call RESUMES — only newly-arrived segments are processed
    * (exactly-once into the sink), every host's politeness counter
    * and the per-URL discovery state SURVIVE the restart (issued
    * slots never renumber; a target discovered last month is never
    * re-scheduled), and the per-call seen-delta is derived from ONLY
    * the committed sink files no recorded publish covers yet (the
    * [[drainCrawlLoopDurable]] watermark-diff discipline, crash-
    * healing per [[PublishedFilesKind]] — publish cost ∝ this drain's
    * rows,
    * zero-admission drains publish nothing and return the sink's
    * accumulated contents, possibly empty). */
  def drainCrawlLoopExpandDurable(spark: SparkSession, warcDir: String,
                                  robots: DataFrame, blocklist: DataFrame,
                                  delays: DataFrame,
                                  root: String, corpusKey: String,
                                  loadVersion: String, publishVersion: String,
                                  sinkDir: String, checkpointDir: String,
                                  agent: String = "graftbot",
                                  maxFilesPerTrigger: Option[Int] = None,
                                  defaultDelaySecs: Double = 1.0): DataFrame = {
    import graft.sources.ArtifactStore
    val out = cycleLoopPlan(spark, warcDir, robots, blocklist, delays,
      root, corpusKey, loadVersion, publishVersion, agent,
      maxFilesPerTrigger, defaultDelaySecs)
    EventStream.drain(out.writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append"))
    publishSinkDelta(spark, sinkDir, root, corpusKey, loadVersion,
        publishVersion) { newRows =>
      publishCycleDeltas(newRows, root, corpusKey, publishVersion)
    }
    if (committedSinkFiles(spark, sinkDir).isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        out.schema)
    else spark.read.parquet(sinkDir)
  }

  /** Drain a [[writeArrivalBatches]] directory of fetched pages
    * (url STRING, html STRING) through [[expandFrontierStream]] one
    * file per trigger into a memory sink; returns the accumulated
    * wave-N+1 schedule. */
  def drainFrontierExpand(spark: SparkSession, pagesDir: String,
                          seen: DataFrame, delays: DataFrame,
                          defaultDelaySecs: Double = 1.0,
                          queryName: String = "graft_stream_expand"): DataFrame = {
    val in = spark.readStream.schema("url STRING, html STRING")
      .option("maxFilesPerTrigger", 1).parquet(pagesDir)
    EventStream.drainToMemory(
      expandFrontierStream(in, "url", "html", seen, delays,
        defaultDelaySecs = defaultDelaySecs),
      queryName)
  }

  /** Drain a [[writeArrivalBatches]] directory through
    * [[politenessStream]] one file per trigger (the pinned arrival
    * order) into a memory sink; returns the accumulated schedule. */
  def drainSchedule(spark: SparkSession, dir: String, delays: DataFrame,
                    defaultDelaySecs: Double = 1.0,
                    queryName: String = "graft_stream_schedule"): DataFrame = {
    val in = spark.readStream.schema("doc_id BIGINT, url STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = politenessStream(in, "doc_id", "url", delays,
        defaultDelaySecs = defaultDelaySecs)
      .withColumn("doc_id", col("doc_id").cast("long")) // numeric ids back
    EventStream.drainToMemory(out, queryName)
  }
}
