package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.GraftCheckpoint.barrier
import graft.sources.Multimodal
import graft.streaming.EventStream

/** Engine-extension queries: multimodal binary plumbing and Structured
  * Streaming, both oracle-checked where the computation is
  * SQL-expressible (the stub decode is deterministic, so even the
  * mapPartitions path has an exact DuckDB oracle).
  */
object ExtensionQueries {

  val FrameEveryMs = 250

  // ---- shared q149/q161 crawl fixture (one planting, two engines:
  // the batch composition and the streaming ingest must answer the
  // same closed-form oracle) ----

  /** The planted page for `doc_id`/`text` rows — q136's shape with
    * the WHATWG numeric-entity segment. */
  private def crawlPageHtml: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><script>if (a<b) { track(\"</div>\"); }</script></head>"),
      lit("<body><!-- c --><h1 title=\"a > b\">Heading &amp; "), id,
      lit("</h1>\n<p>"), col("text"),
      lit("</p><p>don&#146;t&#x2014;ok &amp;#39;</p>"),
      lit("<div>tail &lt;"), id, lit("&gt;</div></body></html>"))
  }

  /** Per-domain robots corpus: site3 disallows /page (kills every
    * planted URL), even sites publish Crawl-delay h+1. */
  private def crawlRobots(d: DataFrame): DataFrame =
    d.select(pmod(col("doc_id"), lit(7)).as("h")).distinct()
      .select(
        concat(lit("site"), col("h").cast("string"), lit(".example"))
          .as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("h") === 3, lit("Disallow: /page\n"))
            .otherwise(lit("")),
          when(col("h") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("h") + 1).cast("string"),
              lit("\n"))).otherwise(lit(""))).as("robots_txt"))

  private def crawlBlocklist(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("site5.example", "ads")).toDF("domain", "category")
  }

  // ---- shared q190/q191 crawl-cycle fixture (one planted two-wave
  // link graph, two engines: the batch expansion and its streaming
  // twin answer the same closed forms) ----

  /** Wave-1 page URL for a `doc_id` row (the q149/q184 form). */
  private def cycleSrcUrl: org.apache.spark.sql.Column =
    concat(lit("http://site"), pmod(col("doc_id"), lit(7)).cast("string"),
      lit(".example/page/"), col("doc_id").cast("string"))

  /** Wave-1 page HTML: five links with closed-form targets —
    * item (clean + canonical-variant dup), hub, a messy backlink to
    * an already-fetched page, a relative href, a script decoy. */
  private def cyclePageHtml: org.apache.spark.sql.Column =
    cyclePageHtmlWith("page")

  /** A previously-crawled /old/ page url (q193's wave-0 plant: the
    * backlink namespace must be distinct from the pages being
    * INGESTED, or the seen plant would kill the fetched branch). */
  private def cycleOldUrl: org.apache.spark.sql.Column = {
    val e = col("doc_id") - pmod(col("doc_id"), lit(2))
    concat(lit("http://site"), pmod(e, lit(7)).cast("string"),
      lit(".example/old/"), e.cast("string"))
  }

  private def cyclePageHtmlWith(backSeg: String): org.apache.spark.sql.Column = {
    val ids = col("doc_id").cast("string")
    val t = (col("doc_id") / 4).cast("long")
    val g = (col("doc_id") / 40).cast("long")
    val e = col("doc_id") - pmod(col("doc_id"), lit(2)) // even neighbor
    val th = pmod(t, lit(5)).cast("string")
    val gh = pmod(g, lit(5)).cast("string")
    val eh = pmod(e, lit(7)).cast("string")
    concat(
      lit("<html><body><p>Doc "), ids, lit("</p>"),
      lit("<a href=\"http://news"), th, lit(".example/item/"),
      t.cast("string"), lit("\">item</a>\n"),
      lit("<a rel=\"x\" href=\"HTTP://NEWS"), th, lit(".EXAMPLE:80/item/"),
      t.cast("string"), lit("/#frag\">dup</a>\n"),
      lit("<a href=\"http://news"), gh, lit(".example/hub/"),
      g.cast("string"), lit("\">hub</a>\n"),
      lit("<a href=\"http://SITE"), eh, lit(s".EXAMPLE:80/$backSeg/"),
      e.cast("string"), lit("\">back</a>\n"),
      lit("<a href=\"/about\">rel</a>"),
      lit("<script>var s = '<a href=\"http://evil.example/\">x</a>';"),
      lit("</script></body></html>"))
  }

  /** All-kinds media planting for q200: one reference per media kind
    * in closed form, plus the decoys the extractor contract must
    * skip — a `data-src` (attribute-name boundary), a single-quoted
    * src (documented skip), a commented-out img, a script-string
    * img. */
  private def mediaAllKindsHtml: org.apache.spark.sql.Column = {
    val ids = col("doc_id").cast("string")
    val h = pmod(col("doc_id"), lit(5)).cast("string")
    concat(
      lit("<html><body>"),
      lit("<img class=\"x\" src=\"http://img"), h, lit(".example/i/"),
      ids, lit(".jpg\">"),
      lit("<img srcset=\"http://img"), h, lit(".example/i/"), ids,
      lit("-1x.jpg 1x,\n  http://img"), h, lit(".example/i/"), ids,
      lit("-2x.jpg 2x\">"),
      lit("<source src=\"http://v.example/s/"), ids,
      lit(".webm\" type=\"video/webm\">"),
      lit("<video controls src=\"http://v.example/v/"), ids,
      lit(".mp4\" poster=\"http://img"), h, lit(".example/p/"), ids,
      lit(".jpg\"></video>"),
      lit("<audio src=\"http://a.example/a/"), ids, lit(".ogg\"></audio>"),
      lit("<img data-src=\"http://lazy.example/l/"), ids, lit(".jpg\">"),
      lit("<img src='http://sq.example/q.jpg'>"),
      lit("<!-- <img src=\"http://c.example/c.jpg\"> -->"),
      lit("<script>var i = '<img src=\"http://evil.example/e.jpg\">';"),
      lit("</script></body></html>"))
  }

  /** Media-frontier planting for q201 (the cycle fixture's shape, on
    * media references): a per-4-doc-run image (clean + a canonical
    * variant that must FOLD), a per-40-doc-run poster (indegree
    * 40 ≫ 4), a relative src (unfetchable, dropped), a script
    * decoy. */
  private def mediaPageHtml: org.apache.spark.sql.Column = {
    val t = (col("doc_id") / 4).cast("long")
    val g = (col("doc_id") / 40).cast("long")
    val th = pmod(t, lit(5)).cast("string")
    val gh = pmod(g, lit(5)).cast("string")
    concat(
      lit("<html><body><img src=\"http://img"), th, lit(".example/i/"),
      t.cast("string"), lit(".jpg\" alt=\"a\">\n"),
      lit("<img src=\"HTTP://IMG"), th, lit(".EXAMPLE:80/i/"),
      t.cast("string"), lit(".jpg#f\">\n"),
      lit("<video poster=\"http://img"), gh, lit(".example/p/"),
      g.cast("string"), lit(".jpg\"></video>\n"),
      lit("<img src=\"/rel/img.png\">"),
      lit("<script>var x = '<img src=\"http://evil.example/x.jpg\">';"),
      lit("</script></body></html>"))
  }

  /** Politeness delays for the q201 media hosts: even-numbered hosts
    * publish k+1 seconds, odd ones ride the 1.0 default. */
  private def mediaDelays(s: SparkSession): DataFrame =
    s.range(5).select(
      concat(lit("img"), col("id").cast("string"), lit(".example"))
        .as("domain"),
      when(col("id") % 2 === 0, (col("id") + 1).cast("double"))
        .as("crawl_delay"))

  /** Politeness delays for the wave-2 news hosts: even-numbered hosts
    * publish k+1 seconds, odd ones ride the 1.0 default. */
  private def cycleDelays(s: SparkSession): DataFrame =
    s.range(5).select(
      concat(lit("news"), col("id").cast("string"), lit(".example"))
        .as("domain"),
      when(col("id") % 2 === 0, (col("id") + 1).cast("double"))
        .as("crawl_delay"))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(

    // WARC length-framed record walk (sources/Warc): one file per doc
    // with REAL ISO 28500 framing — a variable-length warcinfo record
    // then a response record carrying the doc text; every doc_id%50==0
    // file plants a Content-Length lie and must yield NO rows (the
    // broken-file contract). Oracle replays the planting formula.
    // the SAME walk over `.warc.gz` — the form every real Common
    // Crawl artifact ships in: per-record gzip members verified
    // (header walk, raw-deflate inflate, CRC32+ISIZE trailer) and
    // concatenated, then the identical length-framed fold. The
    // corruption plant moves a layer down — doc_id%50==0 files carry
    // a flipped CRC byte in the response member's trailer, so the gz
    // walk (not the framing) must erase them. Same surviving set,
    // same closed form: the q137 oracle carries over verbatim.
    "q172_warc_gz" -> ((s, dir) =>
      graft.sources.Warc.gzRecords(
        graft.sources.Warc.synthesizeWarcGz(Tables.load(s, dir, "documents")))
        .select(col("file_id"), col("rec_idx"), col("rec_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          decode(col("payload"), "ISO-8859-1").as("payload_text"))),

    // the q149 crawl gate composed over the GZ path end-to-end:
    // member-verified gunzip → record fold → robots gate → category
    // gate → text extraction → delay join. Corrupt members die at the
    // gz rung before any gate runs; everything downstream is the q149
    // machinery unchanged, so the q149 oracle carries over verbatim
    "q173_crawl_gate_gz" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val recs = barrier(graft.sources.Warc.gzRecords(
          graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), crawlPageHtml.as("text"))))
        .filter(col("rec_type") === "response")
        .select(col("file_id"), col("target_uri").as("url"),
          col("payload")))
      val urls = recs.select("file_id", "url")
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(crawlRobots(d), "domain", "robots_txt", "graftbot"))
      val robotsOk = graft.operators.UrlNormalize
        .robotsGateFromPolicy(urls, "file_id", "url", policy)
        .filter(col("allowed")).select("file_id")
      val catOk = graft.operators.UrlNormalize
        .categoryGate(urls, "file_id", "url", crawlBlocklist(s))
        .filter(col("keep")).select("file_id")
      recs
        .join(robotsOk, Seq("file_id"), "left_semi")
        .join(catOk, Seq("file_id"), "left_semi")
        .select(col("file_id"), col("url"),
          graft.operators.Html.extractText(
            decode(col("payload"), "ISO-8859-1")).as("clean_text"),
          graft.operators.UrlNormalize.hostOf(col("url")).as("__dom"))
        .join(broadcast(policy.select(col("domain").as("__dom"),
          col("crawl_delay"))), Seq("__dom"), "left")
        .drop("__dom")
    }),

    // SEGMENT-shaped gz walk — the realistic Common Crawl shape: 100
    // records per file, one gzip member each (plus the warcinfo
    // stamp), every 10th file carrying a flipped CRC byte in its
    // MIDDLE member. Exercises what the one-file-per-doc plantings
    // never do: per-member emission at record counts far beyond any
    // fold cap, and the whole-file-erase contract for a codec
    // violation landing mid-file. Oracle replays the grouped planting
    // with one window (rec_idx = 1 + rank of doc_id within its file).
    "q183_warc_segment" -> ((s, dir) =>
      graft.sources.Warc.gzRecords(
        graft.sources.Warc.synthesizeWarcGzSegment(
          Tables.load(s, dir, "documents"),
          recordsPerFile = 100, corruptEvery = 10))
        .select(col("file_id"), col("rec_idx"), col("rec_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          decode(col("payload"), "ISO-8859-1").as("payload_text"))),

    // the SEGMENT shape on the UNCOMPRESSED path: 100 raw
    // length-framed records per plain .warc file, walked by the typed
    // two-pass per-record scan — the transport the round-15 verdict
    // flagged as the last single-cell/O(n²) ceiling (the old SQL fold
    // decoded the whole file to a latin-1 string and array_append-ed
    // records quadratically; a multi-GB plain .warc was unwalkable).
    // The corruption plant is a Content-Length LIE in the MIDDLE
    // record of every 10th file: with no member boundaries to isolate
    // it, the whole file must vanish (never a valid prefix). Same
    // closed forms as q183 — the oracle carries over verbatim.
    "q192_warc_segment_plain" -> ((s, dir) =>
      graft.sources.Warc.records(
        graft.sources.Warc.synthesizeWarcSegmentPlain(
          Tables.load(s, dir, "documents"),
          recordsPerFile = 100, corruptEvery = 10),
        maxRecords = 101)
        .select(col("file_id"), col("rec_idx"), col("rec_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          decode(col("payload"), "ISO-8859-1").as("payload_text"))),

    // HTTP ENVELOPE split (Warc.httpResponses) over segments whose
    // response records carry the payload layer real Common Crawl
    // ships (`application/http; msgtype=response`): status line
    // parsed, the HTTP Content-Type split into media type + charset
    // param, body = the entity bytes after the blank line — WITHOUT
    // this rung the status line and headers enter text extraction as
    // prose and 301/404/503 stubs pass as documents (the round-16
    // verdict's first fidelity gap). Status/mime/charset/body are
    // closed forms of doc_id (synthesizeWarcGzHttpSegment's
    // planting), so the oracle replays the planting.
    "q197_http_envelope" -> ((s, dir) =>
      graft.sources.Warc.httpResponses(
          graft.sources.Warc.gzRecords(
            graft.sources.Warc.synthesizeWarcGzHttpSegment(
              Tables.load(s, dir, "documents"), recordsPerFile = 100)))
        .filter(col("rec_type") === "response")
        .select(col("target_uri").as("url"), col("http_status"),
          col("mime"), col("http_charset").as("charset"),
          decode(col("body"), "ISO-8859-1").as("body_text"))),

    // the q149/q173 crawl gate over ENVELOPED segments end-to-end:
    // member walk → envelope split → status-200 + html-mime gate →
    // robots gate → category gate → charset-decoded text extraction
    // → delay join. The q149 survivor set shrinks by the envelope
    // plants (404/301/503 by doc_id%10; text/plain by doc_id%11) and
    // the clean-text closed form carries over — redirects and error
    // stubs die BEFORE any broadcast join runs.
    "q198_http_gate" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(crawlRobots(d), "domain", "robots_txt", "graftbot"))
      graft.streaming.CrawlStream.gatedRecords(
        graft.sources.Warc.synthesizeWarcGzHttpSegment(
          d.select(col("doc_id"), crawlPageHtml.as("text")),
          recordsPerFile = 100),
        policy, crawlBlocklist(s), gz = true)
    }),

    // CHARSET sniff + per-row decode (operators/Charsets +
    // graftext.CharsetDecode): a fifth of the corpus each in
    // windows-1251 / Shift_JIS / GBK / windows-1252-bytes-labeled-
    // latin1 / UTF-8, declared through the three real channels (HTTP
    // `charset=` param, `<meta charset>`, `<meta http-equiv>`) or not
    // at all — the engine sniffs the label (WHATWG priority:
    // transport, then the 1024-byte meta prescan, then UTF-8) and
    // decodes the BYTES to identical UTF-8 text; the oracle replays
    // the planted phrases as UTF-8 literals. A UTF-8-assuming reader
    // mojibakes 3 of the 5 bands; a true-latin-1 reader gets the
    // windows-1252 band's em dash wrong (the WHATWG remap is pinned
    // in WarcSpec).
    "q199_charset_decode" -> ((s, dir) => {
      import s.implicits._
      val enc = Tables.load(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .map { id =>
          val (cs, httpCs, phrase) = (id % 5) match {
            case 0 => ("windows-1251", "windows-1251", s"Привет мир $id")
            case 1 => ("Shift_JIS", "", s"こんにちは $id")
            case 2 => ("GBK", "", s"你好世界 $id")
            case 3 => ("windows-1252", "iso-8859-1", s"café señor $id")
            case _ => ("UTF-8", "", s"naïve résumé $id")
          }
          val html = (id % 5) match {
            case 1 => "<html><head><meta charset=\"shift_jis\"></head>" +
              s"<body>$phrase</body></html>"
            case 2 => "<html><head><meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=gbk\"></head>" +
              s"<body>$phrase</body></html>"
            case _ => s"<html><body>$phrase</body></html>"
          }
          (id, html.getBytes(java.nio.charset.Charset.forName(cs)), httpCs)
        }.toDF("doc_id", "body", "http_cs")
      val label = graft.operators.Charsets.sniff(col("http_cs"), col("body"))
      enc.select(col("doc_id"), label.as("charset"),
        graft.operators.Html.extractText(
          graft.operators.Charsets.decodeCharset(col("body"), label))
          .as("text"))
    }),

    // MEDIA-link extraction (Html.extractMediaLinks): one row per
    // <img src> / srcset candidate / <source> / <video> / <audio> /
    // poster reference, kind-major media_no, entity-decoded raw
    // targets — the discovery rung the multimodal decode/dedup
    // family consumes (the round-16 verdict's media-link gap). The
    // planting carries every kind plus the contract decoys (data-src,
    // single-quoted, commented-out, script-string), so the oracle is
    // a 7-way union of closed forms.
    "q200_media_links" -> ((s, dir) =>
      graft.operators.Html.extractMediaLinks(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), mediaAllKindsHtml.as("html")),
        "doc_id", "html")),

    // the ENVELOPE composed into the PRODUCTION LOOP (q184 × q198):
    // one streaming drain over enveloped .warc.gz segments — member
    // walk → envelope split (status-200 + html-mime gate, charset
    // decode) → robots gate → category gate → recrawl anti →
    // priority politeness schedule — proving the transport-fidelity
    // rung rides the micro-batch frame unchanged (it is scan-side
    // scalar work, like the member walk). Survivors: the q184 set
    // minus the envelope's status/mime bands.
    "q203_http_loop" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val ids = col("doc_id").cast("string")
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val url = concat(lit("http://site"), dn, lit(".example/page/"), ids)
      val warcDir = Scratch.fixtureDir("graft_http_loop_warc", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGzHttpSegment(
            d.select(col("doc_id"), crawlPageHtml.as("text")),
            recordsPerFile = 100)
          .write.parquet(p))
      val priorities = d.select(url.as("url"),
        when(pmod(col("doc_id"), lit(4)) =!= 1,
          pmod(col("doc_id"), lit(10)).cast("double") / 10.0).as("priority"))
      graft.streaming.CrawlStream.drainCrawlLoop(s, warcDir,
        crawlRobots(d), crawlBlocklist(s), priorities,
        Scratch.artifactRoot, dir + "#httploop", "v0001", "v0002")
    }),

    // REDIRECT-target frontier (the envelope's Location rung
    // composed): 3xx records' Location headers are discoveries, not
    // documents — canonicalized, indegree-counted, anti-gated against
    // the drain's own FETCHED pages (most redirects point at pages
    // the crawl already has: every planted 301 targets the successor
    // page, which is itself fetched unless it sits in the text/plain
    // band — the only survivors), and politeness-scheduled per site
    // host. One record walk feeds both branches (a barrier — the
    // q149 discipline).
    "q202_redirect_frontier" -> ((s, dir) => {
      val recs = barrier(graft.sources.Warc.httpResponses(
          graft.sources.Warc.gzRecords(
            graft.sources.Warc.synthesizeWarcGzHttpSegment(
              Tables.load(s, dir, "documents"), recordsPerFile = 100)))
        .filter(col("rec_type") === "response")
        .select(col("target_uri"), col("http_status"), col("mime"),
          col("http_location")))
      val seen = recs
        .filter(col("http_status") === 200 && col("mime") === "text/html")
        .select(md5(col("target_uri")).as("url_digest"))
      val targets = recs
        .filter(col("http_status").isin(301, 302, 307, 308) &&
          col("http_location") =!= "")
        .select(col("target_uri").as("__src"),
          graft.operators.UrlNormalize.canonicalize(col("http_location"))
            .as("url"))
        .filter(col("url").rlike("^https?://"))
        .groupBy(col("url"))
        .agg(countDistinct(col("__src")).as("indegree"))
      val delays = s.range(7).select(
        concat(lit("site"), col("id").cast("string"), lit(".example"))
          .as("domain"),
        when(col("id") % 2 === 0, (col("id") + 1).cast("double"))
          .as("crawl_delay"))
      graft.streaming.CrawlStream.scheduleFrontier(targets, seen, delays)
    }),

    // the media FRONTIER (q190's shape on media references): fetched
    // pages' image/poster targets canonicalized (the uppercase-host
    // /:80/#fragment variant folds), indegree-counted by distinct
    // source page (posters shared by 40-doc runs outrank per-4-run
    // images), anti-gated against the seen-media digests (every
    // t%7==0 image already fetched), and politeness-scheduled per
    // img host (indegree DESC, hash, url; even hosts publish k+1s).
    "q201_media_frontier" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val seen = d.select((col("doc_id") / 4).cast("long").as("t")).distinct()
        .filter(pmod(col("t"), lit(7)) === 0)
        .select(md5(concat(lit("http://img"),
          pmod(col("t"), lit(5)).cast("string"), lit(".example/i/"),
          col("t").cast("string"), lit(".jpg"))).as("url_digest"))
      graft.streaming.CrawlStream.expandMediaFrontier(
        d.select(cycleSrcUrl.as("url"), mediaPageHtml.as("html")),
        "url", "html", seen, mediaDelays(s))
    }),

    // the REAL-FILE path end-to-end: the q183 segment planting written
    // as ACTUAL .warc.gz files on disk (one file per segment, written
    // from the executors via java.nio — sound ONLY because this
    // harness runs local-mode, where executors and driver share a
    // filesystem; a multi-node deployment would land the files on
    // executor-local disks and the driver's read-back would see a
    // partial directory. A real fetcher fleet writes through the
    // Hadoop FileSystem API against genuinely shared storage; the
    // READ side below is already that shape), then read back through
    // the per-member walk (Warc.gzRecordsFromFiles). file_id is
    // recovered from the file NAME, so the q183 closed-form oracle
    // carries over verbatim — a reader that mis-walks any real file's
    // bytes hash-mismatches.
    "q185_warc_files" -> ((s, dir) => {
      val filesDir = Scratch.fixtureDir("graft_warc_files", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(filesDir))
      import s.implicits._
      graft.sources.Warc.synthesizeWarcGzSegment(
          Tables.load(s, dir, "documents"),
          recordsPerFile = 100, corruptEvery = 10)
        .as[(Long, Array[Byte])]
        .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
          it.foreach { case (id, bytes) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$filesDir/seg-$id%05d.warc.gz"),
              bytes)
          }
        }
      graft.sources.Warc.gzRecordsFromFiles(s, filesDir)
        .select(
          regexp_extract(col("path"), "seg-(\\d+)\\.warc\\.gz$", 1)
            .cast("bigint").as("file_id"),
          col("rec_idx"), col("rec_type"), col("target_uri"),
          col("warc_date"), col("content_length"),
          decode(col("payload"), "ISO-8859-1").as("payload_text"))
    }),

    "q137_warc_records" -> ((s, dir) =>
      graft.sources.Warc.records(
        graft.sources.Warc.synthesizeWarc(Tables.load(s, dir, "documents")))
        .select(col("file_id"), col("rec_idx"), col("rec_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          decode(col("payload"), "ISO-8859-1").as("payload_text"))),

    // crawl front-end composed (q137 × q136): WARC record walk feeds
    // HTML extraction in ONE chain — the synthesizer wraps each doc's
    // q136-style planted page in real WARC framing, the reader
    // length-frames it out, the extractor recovers the closed-form
    // visible text. Corrupt files (doc_id%50==0) vanish at the WARC
    // rung, before the extractor ever runs — the staged-rejection
    // order a real ingest uses
    "q139_crawl_ingest" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val page = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><script>if (a<b) { track(\"</div>\"); }</script></head>"),
        lit("<body><!-- c --><h1 title=\"a > b\">Heading &amp; "), id,
        lit("</h1>\n<p>"), col("text"),
        lit("</p><p>don&#146;t&#x2014;ok &amp;#39;</p>"),
        lit("<div>tail &lt;"), id, lit("&gt;</div></body></html>"))
      val files = graft.sources.Warc.synthesizeWarc(
        d.select(col("doc_id"), page.as("text")))
      graft.sources.Warc.records(files)
        .filter(col("rec_type") === "response")
        .select(col("file_id"),
          graft.operators.Html.extractText(
            decode(col("payload"), "ISO-8859-1")).as("clean_text"))
    }),

    // web-graph construction composed end-to-end (q137 × q142 ×
    // host aggregation): WARC walk → response payloads → hyperlink
    // extraction → (src_host, dst_host) edge aggregation — the chain
    // that turns a crawl batch into [[Graph.pageRank]] input. Each
    // planted page carries two absolute links with closed-form target
    // hosts plus a script-decoy link; corrupt files (doc_id%50==0)
    // vanish at the WARC rung. The only exchange in the whole chain
    // is the final edge GROUP BY — synth, walk, extraction, and host
    // parsing all ride the scan.
    "q143_link_graph" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val h1 = pmod(col("doc_id") * 3 + 1, lit(7)).cast("string")
      val h2 = pmod(col("doc_id") * 5 + 2, lit(7)).cast("string")
      val page = concat(
        lit("<html><body><p>Doc "), id,
        lit("</p><a href=\"http://site"), h1, lit(".example/p/"), id,
        lit("\">fwd</a>\n<a rel=\"x\" href=\"http://site"), h2,
        lit(".example/p/"), id, lit("\">alt</a><script>var s = "),
        lit("'<a href=\"http://evil.example/\">spam</a>';</script>"),
        lit("</body></html>"))
      val recs = graft.sources.Warc.records(
        graft.sources.Warc.synthesizeWarc(
          d.select(col("doc_id"), page.as("text"))))
        .filter(col("rec_type") === "response")
        .select(col("file_id"),
          regexp_extract(col("target_uri"), "^https?://([^/]+)", 1)
            .as("src_host"),
          decode(col("payload"), "ISO-8859-1").as("html"))
      graft.operators.Html.extractLinks(recs, "src_host", "html")
        .select(col("src_host"),
          regexp_extract(col("href"), "^https?://([^/]+)", 1).as("dst_host"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
    }),

    // the FULL crawl front-end composed as one plan (q137 × q136 ×
    // q146 × q152 × q138): WARC walk → response payloads → per-URL
    // robots verdict (site3 publishes Disallow: /page) → category
    // gate (site5 is blocklisted 'ads') → HTML→text extraction of
    // the survivors, each carrying its domain's Crawl-delay (even
    // sites publish one). The robots corpus is parsed ONCE into a
    // checkpointed robotsPolicy frame that feeds BOTH the verdict
    // and the delay — the single-parse composition the standalone
    // q146+q152 pair would pay twice for. Corrupt files
    // (doc_id%50==0) vanish at the framing rung; blocked hosts
    // vanish at their gates; the two gate verdicts come back as
    // left-semi probes on the record id so the payload column never
    // rides through the verdict aggregates. Oracle states the
    // closed-form survivors.
    "q149_crawl_gate" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      // ONE WARC synth+walk: barrier the full record frame — the
      // gates' semi-joins AND the survivor payload path all read the
      // checkpoint (round 11 barriered only the skinny url frame, so
      // the payload path re-ran the walk; this was the bench's
      // slowest cell). On a real crawl the walk is a disk read and
      // the checkpoint is the block cache; here it also pays the
      // fixture synthesis exactly once.
      val recs = barrier(graft.sources.Warc.records(
          graft.sources.Warc.synthesizeWarc(
            d.select(col("doc_id"), crawlPageHtml.as("text"))))
        .filter(col("rec_type") === "response")
        .select(col("file_id"), col("target_uri").as("url"),
          col("payload")))
      // both gates consume only (id, url) off the checkpointed frame
      val urls = recs.select("file_id", "url")
      // ONE robots parse: the checkpointed per-domain policy frame
      // feeds both the verdict gate and the scheduler-delay join
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(crawlRobots(d), "domain", "robots_txt", "graftbot"))
      val robotsOk = graft.operators.UrlNormalize
        .robotsGateFromPolicy(urls, "file_id", "url", policy)
        .filter(col("allowed")).select("file_id")
      val catOk = graft.operators.UrlNormalize
        .categoryGate(urls, "file_id", "url", crawlBlocklist(s))
        .filter(col("keep")).select("file_id")
      recs
        .join(robotsOk, Seq("file_id"), "left_semi")
        .join(catOk, Seq("file_id"), "left_semi")
        .select(col("file_id"), col("url"),
          graft.operators.Html.extractText(
            decode(col("payload"), "ISO-8859-1")).as("clean_text"),
          graft.operators.UrlNormalize.hostOf(col("url")).as("__dom"))
        .join(broadcast(policy.select(col("domain").as("__dom"),
          col("crawl_delay"))), Seq("__dom"), "left")
        .drop("__dom")
    }),

    // q149 AS A STREAM (streaming/CrawlStream): the same planted WARC
    // segments arrive through a file-source stream (8 parquet files,
    // one AvailableNow drain), the robots policy and blocklist ride as
    // static broadcast frames, and every gate rung is a per-row
    // projection or stream-static broadcast join — zero state, no
    // watermark, task memory independent of crawl history. Answers
    // q149's batch oracle VERBATIM (the q157 stream≡batch discipline).
    // Round 18: the fixture is written once per JVM (the q189/q191
    // memoized-fixture pattern — the Scratch root is per-JVM, so no
    // cross-run staleness), and the 2-files-per-trigger split was
    // dropped: the gate is STATELESS, so micro-batch composition can't
    // change a row and the forced 4 triggers only multiplied the fixed
    // per-trigger planning/commit cost (guide §2.2); the multi-batch +
    // late-segment checkpoint behavior stays pinned by
    // StreamingSinkSpec's two-drain case.
    "q161_stream_crawl" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val warcDir = Scratch.fixtureDir("graft_stream_warc", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarc(
            d.select(col("doc_id"), crawlPageHtml.as("text")))
          .repartition(8).write.parquet(p))
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(crawlRobots(d), "domain", "robots_txt", "graftbot"))
      graft.streaming.CrawlStream.drainGated(s, warcDir, policy,
        crawlBlocklist(s))
    }),

    // q161 over REAL-artifact framing: the same planted segments
    // arrive as .warc.gz (per-record gzip members, the q172 walk) on
    // the stream — the member-verify typed map is stateless, so it
    // rides the micro-batch frame unchanged and the corrupt-member
    // plant (here the q172 flipped-CRC, not the q137 framing lie)
    // erases its file before any gate runs. Answers the SAME batch
    // oracle as q149/q161/q173 (the stream≡batch≡gz discipline)
    // (round 18: fixture memoized per JVM + single AvailableNow drain,
    // the q161 rationale — the gz gate chain is stateless too)
    "q179_stream_crawl_gz" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val warcDir = Scratch.fixtureDir("graft_stream_warcgz", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), crawlPageHtml.as("text")))
          .repartition(8).write.parquet(p))
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(crawlRobots(d), "domain", "robots_txt", "graftbot"))
      graft.streaming.CrawlStream.drainGated(s, warcDir, policy,
        crawlBlocklist(s), queryName = "graft_stream_crawl_gz", gz = true)
    }),

    // the PRODUCTION CRAWL LOOP as ONE streaming query (q179 × q178 ×
    // q181 composed): .warc.gz segments stream in, members walk out,
    // robots + category gates run off ONE checkpointed policy parse,
    // the recrawl anti drops the planted already-fetched wave
    // (doc_id%5==2 survivors, published as v0001 digests), and the
    // survivors retire through the priority-ordered stateful
    // politeness scheduler with their cleaned text riding inert
    // through the state op. Single AvailableNow batch -> the schedule
    // has a closed form: one window per host ordered by
    // (priority DESC, hash, url). The drain's digests publish back
    // as the v0002 delta (repeat runs re-load <= v0001, so the
    // emission is stable across bench passes).
    "q184_crawl_loop" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val ids = col("doc_id").cast("string")
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val url = concat(lit("http://site"), dn, lit(".example/page/"), ids)
      val warcDir = Scratch.fixtureDir("graft_crawl_loop_warc", dir)
      // fixture memoized per JVM (the q189/q191 pattern): the drain
      // recomputes from these files every pass; only the input-side
      // synthesis write is once-per-JVM
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), crawlPageHtml.as("text")))
          .repartition(8).write.parquet(p))
      val priorities = d.select(url.as("url"),
        when(pmod(col("doc_id"), lit(4)) =!= 1,
          pmod(col("doc_id"), lit(10)).cast("double") / 10.0).as("priority"))
      val key = dir + "#crawlloop"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")) {
        val seenPlant = d
          .filter(pmod(col("doc_id"), lit(50)) =!= 0 &&
            !pmod(col("doc_id"), lit(7)).isin(3, 5) &&
            pmod(col("doc_id"), lit(5)) === 2)
          .select(md5(url).as("url_digest"))
        ArtifactStore.save(seenPlant, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")
      }
      graft.streaming.CrawlStream.drainCrawlLoop(s, warcDir,
        crawlRobots(d), crawlBlocklist(s), priorities,
        Scratch.artifactRoot, key, "v0001", "v0002")
    }),

    // the q184 loop over REAL FILES ON DISK — at the SEGMENT transport
    // shape (100 records per .warc.gz file, written executor-side),
    // because that is what a fetcher fleet actually ships: the first
    // sweep of a per-PAGE-file variant measured file-COUNT-bound walls
    // (39 s at 10× for 50k files vs 1.1 s for the same bytes in 500
    // segments — the small-files pathology every distributed store
    // documents). The binaryFile STREAM source tails the directory and
    // the whole gate→anti→schedule chain runs keyed by file PATH.
    // Corruption moves to the segment unit: every 10th FILE's middle
    // member is CRC-flipped, erasing its 100 docs whole. Closed form:
    // q184's window with the corrupt-segment condition replacing the
    // per-doc %50 plant; separate seen-state corpus key. The
    // executor-side java.nio fixture write is local-mode-only (the
    // q185 caveat: on a multi-node cluster the segments would land on
    // executor-local disks, invisible to the tailing stream).
    "q186_crawl_loop_files" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val ids = col("doc_id").cast("string")
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val url = concat(lit("http://site"), dn, lit(".example/page/"), ids)
      val filesDir = Scratch.fixtureDir("graft_crawl_loop_files", dir)
      // fixture memoized per JVM (the q189/q191 pattern): the segment
      // files are the drain's INPUT; re-materializing them per pass
      // only re-measured the fixture writer
      Scratch.memo(filesDir) { p =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
        import s.implicits._
        graft.sources.Warc.synthesizeWarcGzSegment(
            d.select(col("doc_id"), crawlPageHtml.as("text")),
            recordsPerFile = 100, corruptEvery = 10)
          .as[(Long, Array[Byte])]
          .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
            it.foreach { case (id, bytes) =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(f"$p/seg-$id%07d.warc.gz"),
                bytes)
            }
          }
      }
      val priorities = d.select(url.as("url"),
        when(pmod(col("doc_id"), lit(4)) =!= 1,
          pmod(col("doc_id"), lit(10)).cast("double") / 10.0).as("priority"))
      val key = dir + "#crawlloopfiles"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")) {
        val seenPlant = d // previously-fetched plant = gate survivors ∩ %5==2
          .filter(pmod((col("doc_id") / 100).cast("long"), lit(10)) =!= 0 &&
            !pmod(col("doc_id"), lit(7)).isin(3, 5) &&
            pmod(col("doc_id"), lit(5)) === 2)
          .select(md5(url).as("url_digest"))
        ArtifactStore.save(seenPlant, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")
      }
      graft.streaming.CrawlStream.drainCrawlLoopFromFiles(s, filesDir,
        crawlRobots(d), crawlBlocklist(s), priorities,
        Scratch.artifactRoot, key, "v0001", "v0002")
    }),

    // the DURABLE loop form (parquet sink + explicit checkpoint — the
    // shape a real crawl runs as, with restart/exactly-once semantics
    // the spec pins): same planting, same closed form as q184.
    // Repeated registry invocations in one JVM RESUME the checkpoint —
    // no new segments, the sink is simply re-read — so bench
    // warmup+timed passes are idempotent by construction.
    "q189_crawl_loop_durable" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val ids = col("doc_id").cast("string")
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val url = concat(lit("http://site"), dn, lit(".example/page/"), ids)
      // the input dir must be STABLE across invocations: an overwrite
      // writes new part files, which a resumed checkpoint reads as
      // new segments and re-appends to the sink (duplicates). Write
      // once per JVM; later calls resume and just re-read the sink.
      val warcDir = Scratch.fixtureDir("graft_dloop_warc", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), crawlPageHtml.as("text")))
          .repartition(8).write.parquet(p))
      val priorities = d.select(url.as("url"),
        when(pmod(col("doc_id"), lit(4)) =!= 1,
          pmod(col("doc_id"), lit(10)).cast("double") / 10.0).as("priority"))
      val key = dir + "#dloop"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")) {
        val seenPlant = d
          .filter(pmod(col("doc_id"), lit(50)) =!= 0 &&
            !pmod(col("doc_id"), lit(7)).isin(3, 5) &&
            pmod(col("doc_id"), lit(5)) === 2)
          .select(md5(url).as("url_digest"))
        ArtifactStore.save(seenPlant, Scratch.artifactRoot, "frontier_seen",
          key, "v0001")
      }
      graft.streaming.CrawlStream.drainCrawlLoopDurable(s, warcDir,
        crawlRobots(d), crawlBlocklist(s), priorities,
        Scratch.artifactRoot, key, "v0001", "v0002",
        Scratch.fixtureDir("graft_dloop_sink", dir),
        Scratch.fixtureDir("graft_dloop_ckpt", dir))
    }),

    // LINK-DRIVEN FRONTIER EXPANSION — the query that CLOSES the crawl
    // cycle: wave-1's fetched pages (every document, at its planted
    // site URL) carry links to wave-2 targets — an /item/ page shared
    // by each run of 4 docs (linked twice: once clean, once as an
    // uppercase-host/:80/trailing-slash/#fragment variant that must
    // FOLD under canonicalization), a /hub/ page shared by each run
    // of 40 (indegree 40 ≫ 4, so hubs outrank items in the schedule),
    // a BACKLINK to an already-fetched wave-1 page in messy form
    // (dead at the anti gate THROUGH canonicalization), a relative
    // href (unfetchable, dropped), and a script decoy (never
    // extracts). Wave-2's schedule: one window per news host ordered
    // (indegree DESC, hash, url), delays from the planted news-host
    // table. Seen state rides the frontier_seen artifact protocol.
    "q190_frontier_expand" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val key = dir + "#cycle"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(d.select(md5(cycleSrcUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      val seen = ArtifactStore.loadUpTo(s, Scratch.artifactRoot,
        "frontier_seen", key, "v0001").get
      graft.streaming.CrawlStream.expandFrontier(
        d.select(cycleSrcUrl.as("url"), cyclePageHtml.as("html")),
        "url", "html", seen, cycleDelays(s))
    }),

    // the cycle's STREAMING twin: the same wave-1 pages arrive as a
    // pinned-order file stream in FOUR blocks at any sf. Blocks are
    // cut on the DENSE RANK of doc_id, not doc_id itself — scaled
    // fixture dirs stride ids ≥1e6 apart per copy, so `doc_id / B`
    // degrades to ~one block per copy (~100 triggers at 100×, the
    // drain-latency-bound shape the sizing exists to cap); rank/B is
    // 4 blocks at ANY id spacing. Block size B = 40·ceil(N/160) — a
    // multiple of both link-group sizes, and copies stride in
    // 40-multiples, so every target's sources still share one batch
    // and the per-URL discovery state emits each target exactly once
    // at its full indegree (a FIXED doc-count block was measured
    // drain-latency-bound at sf0.1 — 25 triggers × ~1.2 s = a 31.7 s
    // bench cell for a 2 s computation); per-host slots CONTINUE
    // across batches, so the closed form is the batch window refined
    // by arrival block: (block, indegree DESC, hash, url), with B and
    // the rank replayed by the oracle as CTEs.
    "q191_frontier_expand_stream" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val pagesDir = Scratch.fixtureDir("graft_cycle_pages", dir)
      // fixture memoized per JVM (the Scratch root is per-JVM, so no
      // cross-run staleness): repeated bench/verify passes re-drain
      // the same pinned arrival blocks instead of re-writing them
      Scratch.memo(pagesDir) { p =>
        val bsz = 40L * math.max(1L, math.ceil(d.count() / 160.0).toLong)
        val rk = row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))) - 1 // fixture-sized single-window write
        graft.streaming.CrawlStream.writeArrivalBatches(
          d.select(cycleSrcUrl.as("url"), cyclePageHtml.as("html"),
            (rk / bsz).cast("long").as("bseq")),
          "bseq", p)
      }
      val key = dir + "#cycles"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(d.select(md5(cycleSrcUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      val seen = ArtifactStore.loadUpTo(s, Scratch.artifactRoot,
        "frontier_seen", key, "v0001").get
      graft.streaming.CrawlStream.drainFrontierExpand(s, pagesDir, seen,
        cycleDelays(s))
    }),

    // ROBOTS-GATED frontier expansion (q190 × q146): the discovered
    // targets whose hosts have KNOWN robots policies are path-gated
    // BEFORE consuming politeness slots — news3 publishes
    // `Disallow: /item`, killing its item pages while its hubs
    // survive; the policy's own Crawl-delay feeds the scheduler (even
    // news hosts publish k+1 — the q188 one-parse discipline: verdict
    // rules and delays off the same checkpointed policy). Slot
    // windows recompute over the gated survivors.
    "q194_frontier_gated" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val key = dir + "#cycleg"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(d.select(md5(cycleSrcUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      val seen = ArtifactStore.loadUpTo(s, Scratch.artifactRoot,
        "frontier_seen", key, "v0001").get
      val ks = col("id").cast("string")
      val newsRobots = s.range(5).select(
        concat(lit("news"), ks, lit(".example")).as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("id") === 3, lit("Disallow: /item\n"))
            .otherwise(lit("")),
          when(col("id") % 2 === 0, concat(lit("Crawl-delay: "),
            (col("id") + 1).cast("string"), lit("\n")))
            .otherwise(lit(""))).as("robots_txt"))
      val policy = barrier(graft.operators.UrlNormalize
        .robotsPolicy(newsRobots, "domain", "robots_txt", "graftbot"))
      graft.streaming.CrawlStream.expandFrontier(
        d.select(cycleSrcUrl.as("url"), cyclePageHtml.as("html")),
        "url", "html", seen,
        policy.select(col("domain"), col("crawl_delay")),
        policy = Some(policy))
    }),

    // THE CYCLE COMPOSED INTO THE LOOP (q184 × q190, one streaming
    // query): wave-1 segments arrive as .warc.gz, the gate chain
    // admits the fetchable pages (site3 dies at robots, site5 at the
    // category gate, %50 files at the CRC walk), and ONE drain emits
    // BOTH crawl outputs — the fetched pages (kind 'fetched') and
    // the next wave's politeness schedule built from their extracted
    // links (kind 'frontier': items/hubs with survivor-group
    // indegree, canonical variants folded, backlinks dead at the
    // anti gate, relative/script links never entering). One delta
    // publishes both kinds' digests.
    "q193_cycle_loop" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val warcDir = Scratch.fixtureDir("graft_cycle_loop_warc", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), cyclePageHtmlWith("old").as("text")))
          .repartition(8).write.parquet(p))
      val key = dir + "#loopcycle"
      // wave-0 plant: the /old/ pages the backlinks re-discover —
      // distinct from the /page/ urls being ingested this drain
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(
          d.filter(pmod(col("doc_id"), lit(2)) === 0)
            .select(md5(cycleOldUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      graft.streaming.CrawlStream.drainCrawlLoopExpand(s, warcDir,
        crawlRobots(d), crawlBlocklist(s), cycleDelays(s),
        Scratch.artifactRoot, key, "v0001", "v0002")
    }),

    // PAGERANK-priority frontier (q190 × q115 — the verdict-named
    // alternative to indegree, composed rather than built-in): the
    // wave-1 link graph (page URL → canonical target, backlinks and
    // all — rank is computed over the FULL observed graph) feeds
    // Graph.pageRank; the new targets join their page-level rank as
    // the schedule priority. Within a host, hubs (40 in-links from
    // rank-carrying pages) outrank items (4); the damped rank
    // differentiates where raw indegree ties. Same seen plant as
    // q190 (backlink targets die at the anti).
    "q196_frontier_pagerank" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val key = dir + "#cycle"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(d.select(md5(cycleSrcUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      val seen = ArtifactStore.loadUpTo(s, Scratch.artifactRoot,
        "frontier_seen", key, "v0001").get
      // feeds pageRank AND the target list
      val links = barrier(graft.operators.Html.extractLinks(
          d.select(cycleSrcUrl.as("url"), cyclePageHtml.as("html")),
          "url", "html")
        .select(col("url").as("src"),
          graft.operators.UrlNormalize.canonicalize(col("href")).as("dst"))
        .filter(col("dst").rlike("^https?://")))
      val ranks = graft.operators.Graph.pageRank(links, "src", "dst",
        PipelineQueries.PageRankIters, PipelineQueries.PageRankDamping)
      val fresh = links.select(col("dst").as("url")).distinct()
        .withColumn("url_digest", md5(col("url")))
        .join(seen.select(col("url_digest")), Seq("url_digest"), "left_anti")
        .drop("url_digest")
        .join(ranks.withColumnRenamed("node", "url"), Seq("url"))
        .withColumn("__lm", lit(null).cast("string"))
      graft.operators.UrlNormalize.prioritySchedule(fresh, "url", "rank",
          "__lm", cycleDelays(s))
        .select(col("url"), col("host"), col("rank"), col("slot_idx"),
          col("fetch_at_s"))
    }),

    // the DURABLE cycle loop — the complete production artifact
    // (q193's one-query cycle under q189's parquet-sink + checkpoint
    // discipline): same planting, same closed form; repeated registry
    // invocations RESUME the checkpoint (stable input dir, write-once
    // per JVM) so bench passes are idempotent by construction, and
    // the per-call delta derives from only this drain's committed
    // sink files.
    "q195_cycle_loop_durable" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = Tables.load(s, dir, "documents")
      val warcDir = Scratch.fixtureDir("graft_dcycle_warc", dir)
      Scratch.memo(warcDir)(p =>
        graft.sources.Warc.synthesizeWarcGz(
            d.select(col("doc_id"), cyclePageHtmlWith("old").as("text")))
          .repartition(8).write.parquet(p))
      val key = dir + "#dcycle"
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          key, "v0001"))
        ArtifactStore.save(
          d.filter(pmod(col("doc_id"), lit(2)) === 0)
            .select(md5(cycleOldUrl).as("url_digest")),
          Scratch.artifactRoot, "frontier_seen", key, "v0001")
      graft.streaming.CrawlStream.drainCrawlLoopExpandDurable(s, warcDir,
        crawlRobots(d), crawlBlocklist(s), cycleDelays(s),
        Scratch.artifactRoot, key, "v0001", "v0002",
        Scratch.fixtureDir("graft_dcycle_sink", dir),
        Scratch.fixtureDir("graft_dcycle_ckpt", dir))
    }),

    // mapPartitions batched "decode" over binary media columns.
    // The feature vector is flattened to scalar columns for the oracle
    // compare (the gate's comparator cannot hash array cells); the
    // Array[Double] form stays the production surface (MediaFeatures).
    "q45_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.synthesize(Tables.load(s, dir, "documents"))).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("features")(1).as("f_mean"),
          col("features")(2).as("f_var"),
          col("features")(3).as("f_width"),
          col("features")(4).as("f_height"))),

    // REAL image-header decode (not the stub): PNG IHDR dims at fixed
    // big-endian offsets, JPEG dims via a computed-offset marker walk
    // (variable-length APP0 + DQT before SOF0) — all pure codegen'd
    // expressions over planted genuine headers. The oracle states the
    // dims from the id-derived planting formula, so a parser that
    // misreads any byte hash-mismatches.
    "q101_image_dims" -> ((s, dir) =>
      Multimodal.imageDims(
        Multimodal.synthesizeImages(Tables.load(s, dir, "documents")))),

    // REAL audio-header decode: RIFF/WAVE chunk walk with computed
    // little-endian offsets (a variable-length LIST chunk sits between
    // "fmt " and "data", so the data offset is never fixed) — pure
    // codegen'd expressions, no UDF. Oracle states the PCM fields from
    // the id-derived planting formulas.
    "q102_audio_meta" -> ((s, dir) =>
      Multimodal.audioMeta(
        Multimodal.synthesizeAudio(Tables.load(s, dir, "documents")))),

    // REAL video-header decode: ISO-BMFF (MP4) box walk — top-level
    // boxes by big-endian size to "moov", moov children to "mvhd",
    // timescale/duration at v0 offsets. Variable-length "free" boxes
    // at BOTH levels force real arithmetic at both walk depths.
    "q103_video_meta" -> ((s, dir) =>
      Multimodal.videoMeta(
        Multimodal.synthesizeVideos(Tables.load(s, dir, "documents")))),

    // REAL pixel decode (not the stub): complete valid PNGs (genuine
    // chunk CRCs + zlib IDAT) built from a closed-form pixel formula,
    // then decoded for real — CRC-verified chunk walk, JDK Inflater,
    // all five PNG scanline filters inverted — with exact integer
    // pixel statistics. The oracle replays the FORMULA, so any broken
    // inflate/unfilter/CRC step hash-mismatches.
    "q105_png_pixels" -> ((s, dir) =>
      Multimodal.pngPixelStats(
        Multimodal.synthesizePngs(Tables.load(s, dir, "documents"))).toDF()),

    // REAL PCM sample decode: complete valid 16-bit mono WAVs with
    // formula-derived samples, decoded via the RIFF walk + LE signed
    // sample reads; peak and RMS from exact integer sums-of-squares.
    "q106_wav_pcm" -> ((s, dir) =>
      Multimodal.pcmSampleStats(
        Multimodal.synthesizePcmWavs(Tables.load(s, dir, "documents"))).toDF()),

    // REAL JPEG pixel decode via the JDK's ImageIO codec (no external
    // library): complete baseline JPEGs of per-8x8-tile flat grayscale
    // — the writer-quality-1.0 regime where the DC-only MCUs
    // round-trip EXACTLY — decoded for real and cross-checked against
    // the independent marker-walk dims. The oracle replays the tile
    // FORMULA, so a misordered MCU, bad DC prediction, or broken
    // Huffman walk hash-mismatches.
    "q107_jpeg_pixels" -> ((s, dir) =>
      Multimodal.jpegPixelStats(
        Multimodal.synthesizeJpegs(Tables.load(s, dir, "documents"))).toDF()),

    // REAL MP4 demux + JPEG frame decode: MJPEG-in-MP4 with a genuine
    // stbl sample table (stsz per-frame sizes + stco offset); the
    // demuxer walks moov→trak→mdia→minf→stbl — frame boundaries exist
    // nowhere else in the file — then decodes every frame with the
    // JDK codec. One row per frame, exact per-frame pixel stats.
    "q108_mjpeg_frames" -> ((s, dir) =>
      Multimodal.mjpegFrameStats(
        Multimodal.synthesizeMjpegMp4s(Tables.load(s, dir, "documents"))).toDF()),

    // perceptual image dedup: average-hash over REAL decoded pixels.
    // Each base image ships with a brightness-shifted PNG variant; the
    // integer cross-multiplication bit rule is provably invariant
    // under the shift, so every planted pair collapses to one hash
    // (n_same_hash >= 2) — exact-dedup shuffle topology (8-byte hash,
    // never pixels) applied to the image modality. The oracle replays
    // the planting formula and the same integer bit rule.
    // norm_thumb is rendered as one canonical '-'-joined string: the
    // driver's comparer hashes cells and cannot hash array values, so
    // every registered query emits scalars only (the q88-checksum /
    // banding-string rule; the Array[Int] form stays the operator's
    // production surface)
    "q124_image_ahash" -> ((s, dir) =>
      Multimodal.imageAHash(
        Multimodal.synthesizePngVariants(Tables.load(s, dir, "documents")))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("ahash"),
          concat_ws("-", col("norm_thumb").cast("array<string>"))
            .as("norm_thumb_s"),
          col("n_dup_group"))),

    // box-filter resize over REAL decoded pixels: average-pool onto a
    // 4x4 thumbnail (floor-division cell means — integer-exact, so
    // the oracle replays the planting formula bit-for-bit). The
    // reduction happens per row at decode; only 16 ints per image
    // survive downstream.
    "q127_image_resize" -> ((s, dir) =>
      Multimodal.resizeImages(
        Multimodal.synthesizePngs(Tables.load(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          col("out_w"), col("out_h"),
          concat_ws("-", col("thumb").cast("array<string>")).as("thumb_s"))),

    // acoustic dedup: energy-profile fingerprint over REAL decoded PCM
    // — the audio twin of q124. Each base clip ships with a 2x-gain
    // remaster; the integer cross-multiplication bit rule scales by
    // k^2 on both sides, so every planted pair collapses to one
    // fingerprint. Oracle replays the formula and the same bit rule.
    "q126_audio_fp" -> ((s, dir) =>
      Multimodal.audioFingerprint(
        Multimodal.synthesizeWavVariants(Tables.load(s, dir, "documents")))
        .select(col("media_id"), col("kind"), col("sample_rate"),
          col("n_samples"), col("afp"),
          concat_ws("-", col("norm_energy").cast("array<string>"))
            .as("norm_energy_s"),
          col("n_dup_group"))),

    // metadata-driven frame sampling (generator over video rows);
    // frame payload surfaced as its length so the oracle is exact
    "q46_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.synthesize(Tables.load(s, dir, "documents")), FrameEveryMs)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("ts_ms"),
          length(col("frame_bytes")).as("n_frame_bytes"))),

    // Structured Streaming hourly windowed aggregation, drained via
    // Trigger.AvailableNow — must equal the batch GROUP BY
    "q47_stream_hourly" -> ((s, dir) => EventStream.hourlyCounts(s, dir)),

    // flatMapGroupsWithState keyed session state, drained to memory
    "q48_stream_sessions" -> ((s, dir) => EventStream.userSessions(s, dir)),

    // stream-static broadcast enrichment (stateless per micro-batch)
    "q56_stream_enrich" -> ((s, dir) => EventStream.enriched(s, dir)),

    // streaming sliding-anchor funnel (EventStream.funnelCounts): the
    // q154 semantics maintained incrementally per user via
    // flatMapGroupsWithState with a WATERMARK-BOUNDED buffer (events
    // older than watermark − W provably cannot extend any chain, and
    // completed reaches fold into a scalar before they drop); drained
    // AvailableNow and folded to the q154 output shape, so batch and
    // stream answer to ONE oracle
    "q157_stream_funnel" -> ((s, dir) =>
      EventStream.funnelCounts(s, dir, SqlFeatureQueries.FunnelSteps,
        SqlFeatureQueries.FunnelWindowMicros)),

    // watermark-bounded streaming dedup on the retry-duplicate key
    "q62_stream_dedup" -> ((s, dir) => EventStream.dedupedCounts(s, dir)),

    // stream-stream interval join (watermarks both sides bound state)
    "q69_stream_join" -> ((s, dir) => EventStream.clickViewJoin(s, dir)),

    // incremental anti-join maintenance (IncrementalAlerts
    // .antiJoinIncrement): previous materialized result + a
    // snapshotDiff changelog of the exclusion set, equivalence to the
    // full recompute is exact — the plain anti join against the NEW
    // exclusion snapshot is the oracle. The chosen snapshots are
    // unrelated sets so the diff carries BOTH inserts (retraction
    // path) and deletes (re-admission path).
    "q92_incr_anti" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val customer = Tables.load(s, dir, "customer")
      val exclPrev = customer.filter(col("c_acctbal") < 0).select("c_custkey")
      val exclNext = customer.filter(col("c_mktsegment") === "MACHINERY")
        .select("c_custkey")
      val prev = orders.join(exclPrev,
        col("o_custkey") === col("c_custkey"), "left_anti")
      val diff = graft.operators.Relational.snapshotDiff(
        exclPrev.withColumn("__m", lit(1)), exclNext.withColumn("__m", lit(1)),
        "c_custkey", Seq("__m"))
      graft.streaming.IncrementalAlerts.antiJoinIncrement(
          prev, orders, "o_custkey", diff, exclNext, "c_custkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // streaming cross-run dedup gate (IncrementalAlerts.dedupStream):
    // document stream deduped within-stream (keyed digest state) and
    // against the seen-corpus digest table (broadcast stream-static
    // anti). Output is content-keyed (digest + length), not
    // doc_id-keyed, because which ARRIVAL survives is an ingest-order
    // detail — content survivorship is the deterministic contract.
    "q96_stream_dedup_docs" -> ((s, dir) => {
      // materialized once, as q166's delays: a micro-batch runs without
      // AQE, so a lazy distinct would run at the session shuffle width
      val seenDigests = barrier(Tables.load(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(md5(col("text")).as("content_hash")).distinct())
      graft.streaming.IncrementalAlerts.dedupStream(
          s, s"$dir/documents.parque*", seenDigests, "graft_q96_sink",
          basePath = Some(dir))
        .select(md5(col("text")).as("content_hash"),
          length(col("text")).as("n"))
    }),

    // sliding event-time windows (2h length, 1h slide): each event
    // lands in two overlapping windows — the same window() operator
    // drives the streaming path; verified here in batch form
    "q58_sliding_window" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("total")))
  )

  val oracles: Map[String, String] = Map(
    // replays synthesizeWarc's planting: two records per clean file
    // (warcinfo payload 'software: graft-<id>\r\n', response payload =
    // the doc text); corrupted files (doc_id % 50 = 0, the planted
    // Content-Length lie) contribute nothing. A missing header field
    // (warcinfo has no Target-URI) reads as '' per the reader contract
    // gz variant: identical closed form — the corrupt-CRC plant kills
    // the same doc_id%50==0 files the framing lie kills in q137
    "q172_warc_gz" ->
      """WITH clean AS (SELECT doc_id, text,
        |    '2026-01-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
        |      || 'T00:00:00Z' AS wdate
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |  'warcinfo' AS rec_type, '' AS target_uri, wdate AS warc_date,
        |  CAST(18 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
        |    AS content_length,
        |  'software: graft-' || doc_id || chr(13) || chr(10) AS payload_text
        |FROM clean
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER), 'response',
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id,
        |  wdate, CAST(length(text) AS BIGINT), text
        |FROM clean""".stripMargin,
    // gz-composed gate: same survivors, same form as q149
    "q173_crawl_gate_gz" ->
      """SELECT doc_id AS file_id,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text,
        |  CASE WHEN (doc_id % 7) % 2 = 0
        |    THEN CAST(doc_id % 7 + 1 AS DOUBLE) END AS crawl_delay
        |FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)""".stripMargin,
    // replays the segment planting: file_id = doc_id // 100, every
    // 10th file erased whole (the mid-file CRC flip), member 0 the
    // warcinfo stamp, responses ranked by doc_id within their file
    "q183_warc_segment" ->
      """WITH clean AS (SELECT doc_id, text, doc_id // 100 AS fid,
        |    CAST(row_number() OVER (PARTITION BY doc_id // 100
        |      ORDER BY doc_id) AS INTEGER) AS rn,
        |    '2026-01-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
        |      || 'T00:00:00Z' AS wdate
        |  FROM documents WHERE (doc_id // 100) % 10 <> 0)
        |SELECT fid AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |  'warcinfo' AS rec_type, '' AS target_uri,
        |  '2026-01-01T00:00:00Z' AS warc_date,
        |  CAST(18 + length(CAST(fid AS VARCHAR)) AS BIGINT)
        |    AS content_length,
        |  'software: graft-' || fid || chr(13) || chr(10) AS payload_text
        |FROM (SELECT DISTINCT fid FROM clean)
        |UNION ALL
        |SELECT fid, rn, 'response',
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id,
        |  wdate, CAST(length(text) AS BIGINT), text
        |FROM clean""".stripMargin,
    // uncompressed segments: same planting closed forms, same
    // file-level corruption rule (the framing lie erases the FILE on
    // the plain path — no member boundary isolates it), so the q183
    // oracle carries over verbatim
    "q192_warc_segment_plain" ->
      """WITH clean AS (SELECT doc_id, text, doc_id // 100 AS fid,
        |    CAST(row_number() OVER (PARTITION BY doc_id // 100
        |      ORDER BY doc_id) AS INTEGER) AS rn,
        |    '2026-01-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
        |      || 'T00:00:00Z' AS wdate
        |  FROM documents WHERE (doc_id // 100) % 10 <> 0)
        |SELECT fid AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |  'warcinfo' AS rec_type, '' AS target_uri,
        |  '2026-01-01T00:00:00Z' AS warc_date,
        |  CAST(18 + length(CAST(fid AS VARCHAR)) AS BIGINT)
        |    AS content_length,
        |  'software: graft-' || fid || chr(13) || chr(10) AS payload_text
        |FROM (SELECT DISTINCT fid FROM clean)
        |UNION ALL
        |SELECT fid, rn, 'response',
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id,
        |  wdate, CAST(length(text) AS BIGINT), text
        |FROM clean""".stripMargin,
    // replays the enveloped-segment planting: status/mime/charset by
    // doc_id band, body the constant stub or the doc text
    "q197_http_envelope" ->
      """SELECT
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  CAST(CASE doc_id % 10 WHEN 3 THEN 404 WHEN 7 THEN 301
        |    WHEN 9 THEN 503 ELSE 200 END AS INTEGER) AS http_status,
        |  CASE WHEN doc_id % 10 NOT IN (3, 7, 9) AND doc_id % 11 = 5
        |    THEN 'text/plain' ELSE 'text/html' END AS mime,
        |  CASE WHEN doc_id % 10 NOT IN (3, 7, 9) AND doc_id % 11 = 5
        |    THEN '' ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 10
        |    WHEN 3 THEN '<html><body>Not Found</body></html>'
        |    WHEN 7 THEN '<html><body>Moved</body></html>'
        |    WHEN 9 THEN '<html><body>Busy</body></html>'
        |    ELSE text END AS body_text
        |FROM documents""".stripMargin,
    // the q173 gate form restricted by the envelope plants: non-200
    // statuses (doc_id%10 in 3,7,9) and the text/plain band
    // (doc_id%11=5) die at the envelope rung; robots kills site3,
    // the blocklist site5 (doc_id%7)
    "q198_http_gate" ->
      """SELECT doc_id // 100 AS file_id,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text,
        |  CASE WHEN (doc_id % 7) % 2 = 0
        |    THEN CAST(doc_id % 7 + 1 AS DOUBLE) END AS crawl_delay
        |FROM documents
        |WHERE doc_id % 10 NOT IN (3, 7, 9) AND doc_id % 11 <> 5
        |  AND doc_id % 7 NOT IN (3, 5)""".stripMargin,
    // replays the five-band charset planting as UTF-8 literals
    "q199_charset_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'windows-1251'
        |    WHEN 1 THEN 'shift_jis' WHEN 2 THEN 'gbk'
        |    WHEN 3 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 5 WHEN 0 THEN 'Привет мир '
        |    WHEN 1 THEN 'こんにちは ' WHEN 2 THEN '你好世界 '
        |    WHEN 3 THEN 'café señor ' ELSE 'naïve résumé ' END
        |    || doc_id AS text
        |FROM documents""".stripMargin,
    // 7-way union of the all-kinds planting's closed forms, media_no
    // kind-major (img 0; srcset 1,2; source 3; video 4; audio 5;
    // poster 6); the four decoys never extract
    "q200_media_links" ->
      """WITH d AS (SELECT doc_id, doc_id % 5 AS h FROM documents)
        |SELECT doc_id, CAST(0 AS INTEGER) AS media_no, 'img' AS tag,
        |  'http://img' || h || '.example/i/' || doc_id || '.jpg' AS src
        |FROM d
        |UNION ALL SELECT doc_id, 1, 'img_srcset',
        |  'http://img' || h || '.example/i/' || doc_id || '-1x.jpg' FROM d
        |UNION ALL SELECT doc_id, 2, 'img_srcset',
        |  'http://img' || h || '.example/i/' || doc_id || '-2x.jpg' FROM d
        |UNION ALL SELECT doc_id, 3, 'source',
        |  'http://v.example/s/' || doc_id || '.webm' FROM d
        |UNION ALL SELECT doc_id, 4, 'video',
        |  'http://v.example/v/' || doc_id || '.mp4' FROM d
        |UNION ALL SELECT doc_id, 5, 'audio',
        |  'http://a.example/a/' || doc_id || '.ogg' FROM d
        |UNION ALL SELECT doc_id, 6, 'poster',
        |  'http://img' || h || '.example/p/' || doc_id || '.jpg'
        |FROM d""".stripMargin,
    // the q184/q186 loop form with the envelope exclusions composed
    // in: non-200 statuses (doc_id%10 in 3,7,9) and the text/plain
    // band (doc_id%11=5) die at the envelope rung before robots
    // (site3) and the blocklist (site5)
    "q203_http_loop" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT doc_id, text, doc_id % 7 AS h,
         |    'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |      AS url,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
         |      ELSE 0.5 END AS prio
         |  FROM documents
         |  WHERE doc_id % 10 NOT IN (3, 7, 9) AND doc_id % 11 <> 5
         |    AND doc_id % 7 NOT IN (3, 5)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY h
         |    ORDER BY prio DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, 'site' || h || '.example' AS host,
         |  CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s,
         |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
         |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
         |  ' tail <' || doc_id || '>' AS clean_text
         |FROM r""".stripMargin
    },
    // redirect targets are the 301 band's successor pages; the anti
    // against the fetched set leaves only successors in the
    // text/plain band ((id+1)%11=5 — every other successor was
    // fetched as a 200-html document; id+1 ≡ 8 mod 10 can never be
    // non-200). indegree 1 (unique successor per source)
    "q202_redirect_frontier" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH t AS (
         |  SELECT doc_id + 1 AS tid FROM documents
         |  WHERE doc_id % 10 = 7 AND (doc_id + 1) % 11 = 5),
         |u AS (
         |  SELECT 'http://site' || (tid % 7) || '.example/page/' || tid
         |      AS url,
         |    'site' || (tid % 7) || '.example' AS host,
         |    tid % 7 AS k, CAST(1 AS BIGINT) AS indegree
         |  FROM t),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, indegree, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // q190's closed form on the media planting: images per 4-doc run
    // (variant folds; t%7==0 already seen), posters per 40-doc run,
    // windows per img host (indegree DESC, hash, url), delays from
    // the even-host k+1 planting
    "q201_media_frontier" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH items AS (
         |  SELECT doc_id // 4 AS t, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |posters AS (
         |  SELECT doc_id // 40 AS g, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |u AS (
         |  SELECT 'http://img' || (t % 5) || '.example/i/' || t || '.jpg'
         |      AS url,
         |    'img' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, indegree FROM items
         |  WHERE t % 7 <> 0
         |  UNION ALL
         |  SELECT 'http://img' || (g % 5) || '.example/p/' || g || '.jpg',
         |    'img' || (g % 5) || '.example', g % 5, indegree FROM posters),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, indegree, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    "q185_warc_files" ->
      """WITH clean AS (SELECT doc_id, text, doc_id // 100 AS fid,
        |    CAST(row_number() OVER (PARTITION BY doc_id // 100
        |      ORDER BY doc_id) AS INTEGER) AS rn,
        |    '2026-01-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
        |      || 'T00:00:00Z' AS wdate
        |  FROM documents WHERE (doc_id // 100) % 10 <> 0)
        |SELECT fid AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |  'warcinfo' AS rec_type, '' AS target_uri,
        |  '2026-01-01T00:00:00Z' AS warc_date,
        |  CAST(18 + length(CAST(fid AS VARCHAR)) AS BIGINT)
        |    AS content_length,
        |  'software: graft-' || fid || chr(13) || chr(10) AS payload_text
        |FROM (SELECT DISTINCT fid FROM clean)
        |UNION ALL
        |SELECT fid, rn, 'response',
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id,
        |  wdate, CAST(length(text) AS BIGINT), text
        |FROM clean""".stripMargin,
    "q137_warc_records" ->
      """WITH clean AS (SELECT doc_id, text,
        |    '2026-01-' || lpad(CAST(doc_id % 9 + 1 AS VARCHAR), 2, '0')
        |      || 'T00:00:00Z' AS wdate
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS rec_idx,
        |  'warcinfo' AS rec_type, '' AS target_uri, wdate AS warc_date,
        |  CAST(18 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
        |    AS content_length,
        |  'software: graft-' || doc_id || chr(13) || chr(10) AS payload_text
        |FROM clean
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER), 'response',
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id,
        |  wdate, CAST(length(text) AS BIGINT), text
        |FROM clean""".stripMargin,
    // replays BOTH plantings composed: only clean files survive the
    // WARC rung, and the extractor reduces each planted page to its
    // q136-style closed form
    "q139_crawl_ingest" ->
      """SELECT doc_id AS file_id,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text
        |FROM documents WHERE doc_id % 50 <> 0""".stripMargin,
    // the composed front-end's closed-form survivors: corrupt files
    // die at the WARC rung (%50), site3 dies at the robots rung
    // (Disallow: /page matches every planted path), site5 dies at
    // the category rung (blocklisted 'ads'); survivors carry the
    // q139 extraction form, the synthesizer's target URI, and the
    // planted Crawl-delay (h+1 on even sites, NULL elsewhere)
    "q149_crawl_gate" ->
      """SELECT doc_id AS file_id,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text,
        |  CASE WHEN (doc_id % 7) % 2 = 0
        |    THEN CAST(doc_id % 7 + 1 AS DOUBLE) END AS crawl_delay
        |FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)""".stripMargin,
    // the composed loop's closed form: the q179 survivor set minus
    // the planted already-fetched wave (%5==2), one window per host
    // ordered (priority DESC, hash, url), delays from the robots
    // planting, clean_text the q149 extraction form
    "q184_crawl_loop" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT doc_id, text, doc_id % 7 AS h,
         |    'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |      AS url,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
         |      ELSE 0.5 END AS prio
         |  FROM documents
         |  WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)
         |    AND doc_id % 5 <> 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY h
         |    ORDER BY prio DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, 'site' || h || '.example' AS host,
         |  CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s,
         |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
         |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
         |  ' tail <' || doc_id || '>' AS clean_text
         |FROM r""".stripMargin
    },
    // durable form: identical planting and closed form
    "q189_crawl_loop_durable" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT doc_id, text, doc_id % 7 AS h,
         |    'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |      AS url,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
         |      ELSE 0.5 END AS prio
         |  FROM documents
         |  WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)
         |    AND doc_id % 5 <> 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY h
         |    ORDER BY prio DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, 'site' || h || '.example' AS host,
         |  CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s,
         |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
         |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
         |  ' tail <' || doc_id || '>' AS clean_text
         |FROM r""".stripMargin
    },
    // real-file transport, same planting, same closed form
    "q186_crawl_loop_files" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT doc_id, text, doc_id % 7 AS h,
         |    'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |      AS url,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
         |      ELSE 0.5 END AS prio
         |  FROM documents
         |  WHERE (doc_id // 100) % 10 <> 0 AND doc_id % 7 NOT IN (3, 5)
         |    AND doc_id % 5 <> 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY h
         |    ORDER BY prio DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, 'site' || h || '.example' AS host,
         |  CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s,
         |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
         |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
         |  ' tail <' || doc_id || '>' AS clean_text
         |FROM r""".stripMargin
    },
    // the crawl cycle's closed form: wave-2 targets are the item
    // (one per 4-doc run) and hub (one per 40-doc run) pages with
    // indegree = group size; the canonical-variant dup folds away,
    // backlinks die at the anti gate, relative/script links never
    // enter; one window per news host ordered (indegree DESC, hash,
    // url), fetch offsets from the planted news delays
    "q190_frontier_expand" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH items AS (
         |  SELECT doc_id // 4 AS t, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |hubs AS (
         |  SELECT doc_id // 40 AS g, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |u AS (
         |  SELECT 'http://news' || (t % 5) || '.example/item/' || t AS url,
         |    'news' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, indegree FROM items
         |  UNION ALL
         |  SELECT 'http://news' || (g % 5) || '.example/hub/' || g,
         |    'news' || (g % 5) || '.example', g % 5, indegree FROM hubs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, indegree, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // streaming twin: the batch window refined by arrival block —
    // four blocks of B = 40*ceil(N/160) docs cut on the DENSE RANK of
    // doc_id (id-stride-proof; at dense ids rank = doc_id and this is
    // the old (4t)//B / (40g)//B form), so a target arrives in the
    // block of its first source, min(rk)//B; slots continue across
    // blocks per host
    "q191_frontier_expand_stream" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH c AS (SELECT 40 * CAST(ceil(count(*) / 160.0) AS BIGINT)
         |    AS bsz FROM documents),
         |d AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY doc_id) - 1 AS rk
         |  FROM documents),
         |items AS (
         |  SELECT doc_id // 4 AS t, count(*) AS indegree,
         |    min(rk) AS rk0
         |  FROM d GROUP BY 1),
         |hubs AS (
         |  SELECT doc_id // 40 AS g, count(*) AS indegree,
         |    min(rk) AS rk0
         |  FROM d GROUP BY 1),
         |u AS (
         |  SELECT 'http://news' || (t % 5) || '.example/item/' || t AS url,
         |    'news' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, rk0 // bsz AS b, indegree FROM items, c
         |  UNION ALL
         |  SELECT 'http://news' || (g % 5) || '.example/hub/' || g,
         |    'news' || (g % 5) || '.example', g % 5, rk0 // bsz,
         |    indegree
         |  FROM hubs, c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY b, indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, indegree, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // robots-gated expansion: q190's closed form minus news3's items
    // (Disallow: /item — its hubs survive), windows over the gated
    // survivors, delays from the news robots planting (even hosts k+1)
    "q194_frontier_gated" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH items AS (
         |  SELECT doc_id // 4 AS t, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |hubs AS (
         |  SELECT doc_id // 40 AS g, count(*) AS indegree
         |  FROM documents GROUP BY 1),
         |u AS (
         |  SELECT 'http://news' || (t % 5) || '.example/item/' || t AS url,
         |    'news' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, indegree FROM items
         |  WHERE t % 5 <> 3
         |  UNION ALL
         |  SELECT 'http://news' || (g % 5) || '.example/hub/' || g,
         |    'news' || (g % 5) || '.example', g % 5, indegree FROM hubs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, indegree, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // pagerank-priority frontier: the q115 damped recurrence unrolled
    // over the closed-form wave-1 link graph (every page has
    // outdegree 3 after the variant folds: item, hub, backlink),
    // joined as priority onto the q190 survivor targets (news URLs —
    // the backlink targets are exactly the planted page urls, killed
    // by the seen plant), windowed per host (rank DESC, hash, url)
    "q196_frontier_pagerank" -> {
      import PipelineQueries.{PageRankIters, PageRankDamping}
      val order = graft.functions.PortableHash.hash60Sql("url")
      val base = 1.0 - PageRankDamping
      val iters = (1 to PageRankIters).map { i =>
        s"""r_$i AS (SELECT n.node,
           |    round($base + $PageRankDamping * coalesce(s.x, 0.0), 6)
           |      AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank / d.deg) AS x
           |    FROM e JOIN r_${i - 1} r ON e.src = r.node
           |    JOIN deg d ON e.src = d.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH l0 AS (SELECT doc_id,
         |    'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |      AS src,
         |    doc_id // 4 AS t, doc_id // 40 AS g,
         |    doc_id - (doc_id % 2) AS e0
         |  FROM documents),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src,
         |    'http://news' || (t % 5) || '.example/item/' || t AS dst
         |  FROM l0
         |  UNION ALL SELECT src,
         |    'http://news' || (g % 5) || '.example/hub/' || g FROM l0
         |  UNION ALL SELECT src,
         |    'http://site' || (e0 % 7) || '.example/page/' || e0 FROM l0)),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r_0 AS (SELECT node, 1.0 AS rank FROM nodes),
         |$iters,
         |u AS (SELECT dst AS url,
         |    regexp_extract(dst, '^https?://([^/]+)', 1) AS host,
         |    CAST(regexp_extract(dst, 'news([0-9])', 1) AS BIGINT) AS k
         |  FROM e WHERE dst LIKE 'http://news%' GROUP BY dst),
         |f AS (SELECT u.url, u.host, u.k, r.rank
         |  FROM u JOIN r_$PageRankIters r ON u.url = r.node),
         |w AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY rank DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM f)
         |SELECT url, host, rank, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM w""".stripMargin
    },
    // durable cycle loop: identical planting and closed form
    "q195_cycle_loop_durable" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH surv AS (SELECT doc_id FROM documents
         |  WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)),
         |fetched AS (SELECT 'fetched' AS kind,
         |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |    AS url,
         |  'site' || (doc_id % 7) || '.example' AS host,
         |  CAST(NULL AS BIGINT) AS indegree,
         |  CAST(NULL AS INTEGER) AS slot_idx,
         |  CAST(NULL AS DOUBLE) AS fetch_at_s FROM surv),
         |items AS (SELECT doc_id // 4 AS t, count(*) AS indegree
         |  FROM surv GROUP BY 1),
         |hubs AS (SELECT doc_id // 40 AS g, count(*) AS indegree
         |  FROM surv GROUP BY 1),
         |u AS (
         |  SELECT 'http://news' || (t % 5) || '.example/item/' || t AS url,
         |    'news' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, indegree FROM items
         |  UNION ALL
         |  SELECT 'http://news' || (g % 5) || '.example/hub/' || g,
         |    'news' || (g % 5) || '.example', g % 5, indegree FROM hubs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT kind, url, host, indegree, slot_idx, fetch_at_s
         |FROM fetched
         |UNION ALL
         |SELECT 'frontier', url, host, indegree,
         |  CAST(slot AS INTEGER),
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6)
         |FROM r""".stripMargin
    },
    // the composed cycle loop: fetched rows are the q149 survivor
    // set (CRC %50, robots site3, category site5); frontier rows are
    // the q190 window computed over SURVIVOR link groups (indegree =
    // surviving sources per item/hub), backlinks dead against the
    // planted wave-0 /old/ state, canonical variants folded
    "q193_cycle_loop" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH surv AS (SELECT doc_id FROM documents
         |  WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)),
         |fetched AS (SELECT 'fetched' AS kind,
         |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
         |    AS url,
         |  'site' || (doc_id % 7) || '.example' AS host,
         |  CAST(NULL AS BIGINT) AS indegree,
         |  CAST(NULL AS INTEGER) AS slot_idx,
         |  CAST(NULL AS DOUBLE) AS fetch_at_s FROM surv),
         |items AS (SELECT doc_id // 4 AS t, count(*) AS indegree
         |  FROM surv GROUP BY 1),
         |hubs AS (SELECT doc_id // 40 AS g, count(*) AS indegree
         |  FROM surv GROUP BY 1),
         |u AS (
         |  SELECT 'http://news' || (t % 5) || '.example/item/' || t AS url,
         |    'news' || (t % 5) || '.example' AS host,
         |    t % 5 AS k, indegree FROM items
         |  UNION ALL
         |  SELECT 'http://news' || (g % 5) || '.example/hub/' || g,
         |    'news' || (g % 5) || '.example', g % 5, indegree FROM hubs),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY indegree DESC, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT kind, url, host, indegree, slot_idx, fetch_at_s
         |FROM fetched
         |UNION ALL
         |SELECT 'frontier', url, host, indegree,
         |  CAST(slot AS INTEGER),
         |  round(slot * (CASE WHEN k % 2 = 0 THEN CAST(k + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6)
         |FROM r""".stripMargin
    },
    // stream over gz members: same survivors, same closed form
    "q179_stream_crawl_gz" ->
      """SELECT doc_id AS file_id,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text,
        |  CASE WHEN (doc_id % 7) % 2 = 0
        |    THEN CAST(doc_id % 7 + 1 AS DOUBLE) END AS crawl_delay
        |FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)""".stripMargin,
    // the stream must answer the BATCH gate's oracle verbatim — same
    // closed form as q149 (the q157 stream≡batch discipline)
    "q161_stream_crawl" ->
      """SELECT doc_id AS file_id,
        |  'http://site' || (doc_id % 7) || '.example/page/' || doc_id
        |    AS url,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' don' || chr(8217) || 't' || chr(8212) || 'ok &#39;' ||
        |  ' tail <' || doc_id || '>' AS clean_text,
        |  CASE WHEN (doc_id % 7) % 2 = 0
        |    THEN CAST(doc_id % 7 + 1 AS DOUBLE) END AS crawl_delay
        |FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id % 7 NOT IN (3, 5)""".stripMargin,
    // replays the q143 planting composed through all three rungs:
    // only clean files survive the WARC walk, each contributes its
    // two planted edges (the script decoy never extracts), and hosts
    // come from the synthesizer's target_uri / the planted hrefs
    "q143_link_graph" ->
      """WITH clean AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |e AS (
        |  SELECT 'site' || (doc_id % 7) || '.example' AS src_host,
        |    'site' || ((doc_id * 3 + 1) % 7) || '.example' AS dst_host
        |  FROM clean
        |  UNION ALL
        |  SELECT 'site' || (doc_id % 7) || '.example',
        |    'site' || ((doc_id * 5 + 2) % 7) || '.example'
        |  FROM clean)
        |SELECT src_host, dst_host, count(*) AS n_links
        |FROM e GROUP BY src_host, dst_host""".stripMargin,
    "q45_multimodal_features" ->
      """WITH chars AS (
        |  SELECT doc_id, ord(substr(text, i, 1)) AS b
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |        FROM documents)),
        |m AS (SELECT doc_id, count(*) AS n, CAST(sum(b) AS DOUBLE) / count(*) AS mean
        |      FROM chars GROUP BY doc_id),
        |v AS (SELECT chars.doc_id, round(sum(pow(b - mean, 2)) / n, 6) AS variance
        |      FROM chars JOIN m ON chars.doc_id = m.doc_id GROUP BY chars.doc_id, n),
        |d AS (SELECT doc_id, ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
        |             CAST(n_chars % 64 + 16 AS DOUBLE) AS w, CAST(n_chars % 48 + 16 AS DOUBLE) AS h
        |      FROM documents)
        |SELECT d.doc_id AS media_id, modality, CAST(n AS INTEGER) AS n_bytes,
        |  round(mean, 6) AS f_mean, variance AS f_var, w AS f_width, h AS f_height
        |FROM d JOIN m ON d.doc_id = m.doc_id JOIN v ON d.doc_id = v.doc_id""".stripMargin,
    "q101_image_dims" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(16 + doc_id % 1024 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 768 AS INTEGER) AS height
        |FROM documents""".stripMargin,
    "q102_audio_meta" ->
      """WITH a AS (
        |  SELECT doc_id, 8000 * (1 + doc_id % 6) AS sr,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS bits,
        |    length(text) AS dlen
        |  FROM documents)
        |SELECT doc_id AS media_id, 'pcm' AS codec, channels,
        |  CAST(sr AS INTEGER) AS sample_rate,
        |  bits AS bits_per_sample,
        |  CAST(dlen * 1000 // (sr * channels * (bits // 8)) AS BIGINT)
        |    AS duration_ms
        |FROM a""".stripMargin,
    "q103_video_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST(600 * (1 + doc_id % 4) AS INTEGER) AS timescale,
        |  CAST(n_chars * 30 + doc_id % 7 AS INTEGER) AS duration_units,
        |  CAST((n_chars * 30 + doc_id % 7) * 1000
        |       // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "q105_png_pixels" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 16 AS w,
        |    4 + (doc_id * 7) % 12 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, (doc_id * 31 + i * 97) % 256 AS p
        |  FROM (SELECT doc_id, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS i FROM d))
        |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(w * h AS INTEGER) AS n_pixels,
        |  round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_pixel,
        |  CAST(max(p) AS INTEGER) AS max_pixel
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    "q106_wav_pcm" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8000 * (1 + doc_id % 6) AS INTEGER) AS sr,
        |    CAST(64 + doc_id % 100 AS INTEGER) AS n FROM documents),
        |s AS (SELECT doc_id, sr, n,
        |    (doc_id * 2654435761 + j * 40503) % 65536 - 32768 AS v
        |  FROM (SELECT doc_id, sr, n,
        |          unnest(generate_series(0, n - 1)) AS j FROM d))
        |SELECT doc_id AS media_id, sr AS sample_rate,
        |  n AS n_samples, CAST(max(abs(v)) AS INTEGER) AS peak,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / n), 6) AS rms
        |FROM s GROUP BY doc_id, sr, n""".stripMargin,
    // replays the per-8x8-tile planting formula of buildJpeg
    "q107_jpeg_pixels" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
        |    8 + (doc_id * 5) % 16 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    (doc_id * 31 + ((i % w) // 8) * 13 + ((i // w) // 8) * 7) % 256 AS p
        |  FROM (SELECT doc_id, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS i FROM d))
        |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(w * h AS INTEGER) AS n_pixels,
        |  round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_pixel,
        |  CAST(max(p) AS INTEGER) AS max_pixel
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // replays buildMjpegMp4: frame k's tiles shift by k * 41
    "q108_mjpeg_frames" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
        |    8 + (doc_id * 5) % 16 AS h, 1 + doc_id % 5 AS nf FROM documents),
        |f AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, nf - 1)) AS k FROM d),
        |px AS (SELECT doc_id, k, w, h,
        |    (doc_id * 31 + k * 41 + ((i % w) // 8) * 13
        |     + ((i // w) // 8) * 7) % 256 AS p
        |  FROM (SELECT doc_id, k, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS i FROM f))
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_pixel,
        |  CAST(max(p) AS INTEGER) AS max_pixel
        |FROM px GROUP BY doc_id, k, w, h""".stripMargin,
    // replays buildPngShifted's formula (0..199 + 40 on the bright
    // variant) and imageAHash's exact integer bit rule; the planted
    // brightness invariance makes base and bright rows share a hash
    "q124_image_ahash" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 16 AS w,
        |    4 + (doc_id * 7) % 12 AS h FROM documents),
        |k AS (SELECT doc_id, w, h, unnest(['base', 'bright']) AS kind FROM d),
        |px AS (SELECT doc_id, kind, w, h,
        |    (doc_id * 31 + i * 97) % 200
        |      + CASE WHEN kind = 'bright' THEN 40 ELSE 0 END AS p,
        |    ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS cell
        |  FROM (SELECT doc_id, kind, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS i FROM k)),
        |cs AS (SELECT doc_id, kind, w, h, cell, sum(p) AS s, count(*) AS c
        |  FROM px GROUP BY doc_id, kind, w, h, cell),
        |t AS (SELECT doc_id, kind, sum(s) AS ts FROM cs GROUP BY doc_id, kind),
        |hs AS (SELECT cs.doc_id, cs.kind, cs.w, cs.h,
        |    CAST(sum(CASE WHEN cs.s * (cs.w * cs.h) >= t.ts * cs.c
        |      THEN 1 << cell ELSE 0 END) AS BIGINT) AS ahash
        |  FROM cs JOIN t ON cs.doc_id = t.doc_id AND cs.kind = t.kind
        |  GROUP BY cs.doc_id, cs.kind, cs.w, cs.h),
        |nt AS (SELECT doc_id, kind,
        |    array_to_string(list(CAST(mu - mn AS INTEGER) ORDER BY cell), '-')
        |      AS norm_thumb_s
        |  FROM (SELECT doc_id, kind, cell, s // c AS mu,
        |          min(s // c) OVER (PARTITION BY doc_id, kind) AS mn
        |        FROM cs)
        |  GROUP BY doc_id, kind)
        |SELECT hs.doc_id AS media_id, hs.kind, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, ahash, norm_thumb_s,
        |  count(*) OVER (PARTITION BY ahash, norm_thumb_s) AS n_dup_group
        |FROM hs JOIN nt ON hs.doc_id = nt.doc_id AND hs.kind = nt.kind""".stripMargin,
    // replays buildPng's pixel formula pooled with the same integer
    // cell map and floor-division means as resizeImages
    "q127_image_resize" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 16 AS w,
        |    4 + (doc_id * 7) % 12 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, (doc_id * 31 + i * 97) % 256 AS p,
        |    ((i // w) * 4 // h) * 4 + ((i % w) * 4 // w) AS cell
        |  FROM (SELECT doc_id, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS i FROM d)),
        |cs AS (SELECT doc_id, w, h, cell, sum(p) // count(*) AS m
        |  FROM px GROUP BY doc_id, w, h, cell)
        |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(4 AS INTEGER) AS out_w, CAST(4 AS INTEGER) AS out_h,
        |  array_to_string(list(CAST(m AS INTEGER) ORDER BY cell), '-') AS thumb_s
        |FROM cs GROUP BY doc_id, w, h""".stripMargin,
    // replays buildPcmWavScaled (half-range formula, x2 on the loud
    // variant) and audioFingerprint's exact integer bit rule
    "q126_audio_fp" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8000 * (1 + doc_id % 6) AS INTEGER) AS sr,
        |    CAST(64 + doc_id % 100 AS INTEGER) AS n FROM documents),
        |k AS (SELECT doc_id, sr, n, unnest(['base', 'loud']) AS kind FROM d),
        |s AS (SELECT doc_id, kind, sr, n,
        |    ((doc_id * 2654435761 + j * 40503) % 32768 - 16384)
        |      * CASE WHEN kind = 'loud' THEN 2 ELSE 1 END AS v,
        |    j * 16 // n AS f
        |  FROM (SELECT doc_id, kind, sr, n,
        |          unnest(generate_series(0, n - 1)) AS j FROM k)),
        |fs AS (SELECT doc_id, kind, sr, n, f,
        |    CAST(sum(v * v) AS BIGINT) AS e, count(*) AS c
        |  FROM s GROUP BY doc_id, kind, sr, n, f),
        |t AS (SELECT doc_id, kind, sum(e) AS te FROM fs GROUP BY doc_id, kind),
        |hs AS (SELECT fs.doc_id, fs.kind, fs.sr, fs.n,
        |    CAST(sum(CASE WHEN fs.e * fs.n >= t.te * fs.c
        |      THEN 1 << f ELSE 0 END) AS BIGINT) AS afp
        |  FROM fs JOIN t ON fs.doc_id = t.doc_id AND fs.kind = t.kind
        |  GROUP BY fs.doc_id, fs.kind, fs.sr, fs.n),
        |ne AS (SELECT doc_id, kind,
        |    array_to_string(
        |      CASE WHEN list_reduce(le, (a, b) -> gcd(a, b)) = 0 THEN le
        |           ELSE list_transform(le,
        |             x -> x // list_reduce(le, (a, b) -> gcd(a, b))) END,
        |      '-') AS norm_energy_s
        |  FROM (SELECT doc_id, kind, list(e ORDER BY f) AS le
        |        FROM fs GROUP BY doc_id, kind))
        |SELECT hs.doc_id AS media_id, hs.kind, hs.sr AS sample_rate,
        |  CAST(hs.n AS INTEGER) AS n_samples, afp, norm_energy_s,
        |  count(*) OVER (PARTITION BY afp, hs.n, norm_energy_s) AS n_dup_group
        |FROM hs JOIN ne ON hs.doc_id = ne.doc_id AND hs.kind = ne.kind""".stripMargin,
    "q46_frame_sample" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, length(text) AS len,
         |    greatest((n_chars * 10) // $FrameEveryMs, 1) AS n_frames
         |  FROM documents WHERE doc_id % 3 = 2)
         |SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
         |  CAST(i * $FrameEveryMs AS INTEGER) AS ts_ms,
         |  CAST(least((i + 1) * len // n_frames, len)
         |    - least(i * len // n_frames, len) AS INTEGER) AS n_frame_bytes
         |FROM (SELECT media_id, len, n_frames,
         |        unnest(generate_series(0, n_frames - 1)) AS i
         |      FROM media)""".stripMargin,
    "q47_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    // verbatim the q154 oracle: the drained stream must equal the
    // batch sliding funnel exactly
    "q157_stream_funnel" -> SqlFeatureQueries.funnelSlidingSql,
    "q48_stream_sessions" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS total
        |FROM events GROUP BY user_id""".stripMargin,
    "q56_stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q92_incr_anti" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'MACHINERY')
        |GROUP BY o_orderstatus""".stripMargin,
    "q62_stream_dedup" ->
      """SELECT event_type, count(*) AS n_unique
        |FROM (SELECT DISTINCT user_id, event_type, value FROM events)
        |GROUP BY event_type""".stripMargin,
    "q69_stream_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 10 MINUTE""".stripMargin,
    "q96_stream_dedup_docs" ->
      // NOT EXISTS, not NOT IN: a NULL text would make NOT IN drop the
      // row while Spark's left_anti keeps it (null key never matches)
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 3 != 0)
        |SELECT DISTINCT md5(text) AS content_hash,
        |  CAST(length(text) AS INTEGER) AS n
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = md5(d.text))""".stripMargin,
    "q58_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM (SELECT event_type, value,
        |        unnest([date_trunc('hour', ts),
        |                date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        |      FROM events)
        |GROUP BY 1, 2""".stripMargin
  )
}
