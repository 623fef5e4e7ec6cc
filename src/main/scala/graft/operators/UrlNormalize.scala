package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + exact URL-level dedup — the first gate of a
  * web-crawl training-data pipeline (a CommonCrawl-style corpus dedups
  * on canonical URL before any content hashing: it is the only dedup
  * that can drop a record without fetching/decoding the body).
  *
  * The canonicalizer is the standard conservative rule set (RFC 3986
  * §6 syntax-based normalization plus the usual crawl conventions):
  *   - drop the fragment (never sent to the server)
  *   - lowercase the scheme and the authority (case-insensitive per
  *     RFC 3986 §3.1/§3.2.2); strip a default port (:80 http, :443
  *     https)
  *   - strip one trailing slash from a non-root path (crawl
  *     convention — most servers alias the two)
  *   - sort query parameters (the common crawl-dedup convention;
  *     applications overwhelmingly treat the query as a map)
  *
  * Everything is built from codegen'd string expressions
  * (regexp_extract / regexp_replace / split / array_sort) — no UDF, so
  * the whole canonicalization inlines into whole-stage codegen and
  * runs at scan throughput. At 100 TB the subsequent dedup shuffles
  * only (canonical_url_hash, doc_id) pairs, never bodies.
  */
object UrlNormalize {

  /** Canonical form of a URL column, as pure expressions. */
  def canonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([^:/?#]+)://", 1))
    val rest = regexp_replace(noFrag, "^[^:/?#]+://", "")
    val authority = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host = when(scheme === "https", regexp_replace(authority, ":443$", ""))
      .when(scheme === "http", regexp_replace(authority, ":80$", ""))
      .otherwise(authority)
    val pathQuery = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_extract(pathQuery, "^([^?]*)", 1)
    // strip ONE trailing slash unless the path is exactly "/" (root);
    // an empty path canonicalizes to "/"
    val pathNorm = when(path === "", lit("/"))
      .when(path === "/", lit("/"))
      .otherwise(regexp_replace(path, "/$", ""))
    val query = regexp_extract(pathQuery, "\\?(.*)$", 1)
    val querySorted = array_join(array_sort(split(query, "&")), "&")
    // hierarchical-URL guard: scheme-less, relative, and
    // non-hierarchical inputs (mailto:, data:, "foo/bar") that real
    // crawl data contains have no "://" to anchor the rules above —
    // without the guard they canonicalize to garbage like
    // "://host/..." and silently group under one key. Pass them
    // through unchanged: an un-canonicalized URL dedups only against
    // byte-identical copies of itself, which is the conservative
    // behavior for inputs outside the canonicalizer's contract.
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, pathNorm,
        when(query === "", lit("")).otherwise(concat(lit("?"), querySorted))))
  }

  /** Planted messy-URL table for the registered query: four
    * presentation variants per base URL (doc_id div 4), exercising
    * every canonicalization rule — upper-cased scheme/host, explicit
    * default port, trailing slash, shuffled query order, fragments.
    * The planting formula is the oracle's ground truth: the SQL
    * oracle never re-runs the canonicalizer, it states the expected
    * canonical form directly. */
  def synthesizeUrls(docs: DataFrame): DataFrame = {
    val base = expr("doc_id div 4")
    val h = pmod(base, lit(50)).cast("string")
    val a = pmod(base, lit(5)).cast("string")
    val b = pmod(base, lit(7)).cast("string")
    val bs = base.cast("string")
    val v = pmod(col("doc_id"), lit(4))
    val url = when(v === 0, concat(lit("HTTPS://EXAMPLE"), h,
        lit(".COM:443/p/"), bs, lit("?a="), a, lit("&b="), b,
        lit("#sec"), col("doc_id").cast("string")))
      .when(v === 1, concat(lit("https://example"), h, lit(".com/p/"), bs,
        lit("/?b="), b, lit("&a="), a))
      .when(v === 2, concat(lit("https://Example"), h, lit(".Com/p/"), bs,
        lit("?a="), a, lit("&b="), b))
      .otherwise(concat(lit("https://example"), h, lit(".com:443/p/"), bs,
        lit("?b="), b, lit("&a="), a, lit("#x")))
    docs.select(col("doc_id"), url.as("url"))
  }

  /** Host of a URL column: lower-cased authority minus port/userinfo.
    * Scheme-less inputs (outside the canonicalizer's contract) yield
    * '' — they match no blocklist entry and pass the gate untouched,
    * the same conservative pass-through [[canonicalize]] applies. */
  def hostOf(url: Column): Column =
    lower(regexp_extract(regexp_replace(url, "#.*$", ""),
      "^[^:/?#]+://(?:[^/?#@]*@)?([^/?#:]*)", 1))

  /** Every dot-suffix of a host, longest first: `a.b.c` →
    * [`a.b.c`, `b.c`, `c`] — the UT1-style domain-blocklist match
    * unit (an entry `b.c` must block `a.b.c`). Bounded by the label
    * count (hosts have a handful), so the explode below is a small
    * constant fan-out, not a blow-up. */
  def hostSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels)), "."))
  }

  /** UT1-style category gate: match each document's URL host against
    * a (domain, category) blocklist by host-suffix, emit the audit
    * surface (id, host, matched category or NULL, keep flag). A doc
    * matching several entries takes the alphabetically first
    * category (deterministic; UT1 semantics only need "any match
    * blocks").
    *
    * Scale shape: suffixes explode the corpus by the label count
    * (≤ ~5×), the blocklist joins BROADCAST on the suffix (an
    * equi-join — a raw `endswith` condition would plan a nested-loop
    * scan of corpus × blocklist), and one hash aggregate on the id
    * folds the fan-out back and carries the verdict. One shuffle
    * total; the blocklist (even UT1's ~millions of rows) broadcasts
    * as a few-hundred-MB hash map, far under the corpus side. A
    * pipeline that only wants the gate composes
    * `.filter(col("keep"))` — or an anti join against the matched-id
    * set when the audit columns aren't needed. */
  def categoryGate(docs: DataFrame, idCol: String, urlCol: String,
                   blocklist: DataFrame, domainCol: String = "domain",
                   categoryCol: String = "category"): DataFrame = {
    val host = hostOf(col(urlCol))
    val bl = broadcast(blocklist.select(
      col(domainCol).as("__bl_domain"), col(categoryCol).as("__bl_cat")))
    docs.select(col(idCol), host.as("host"))
      .select(col(idCol), col("host"),
        explode(hostSuffixes(col("host"))).as("__suf"))
      .join(bl, col("__suf") === col("__bl_domain"), "left")
      .groupBy(col(idCol), col("host"))
      .agg(min(col("__bl_cat")).as("category"))
      .withColumn("keep", col("category").isNull)
  }

  /** Parse robots.txt bodies into a per-domain applicable-rule table
    * (RFC 9309). Grouping follows the RFC: consecutive `User-agent:`
    * lines open ONE group that the following Allow/Disallow rules
    * belong to; a later `User-agent:` after at least one rule starts
    * a new group. Comments (`#…`) and blank lines are ignored; an
    * empty rule value (`Disallow:` alone = allow everything)
    * contributes no rule. Group selection per the RFC's
    * most-specific-agent rule, restricted to the two tiers crawlers
    * actually publish: a domain with a group naming `agent` exactly
    * (case-insensitive) uses ONLY those groups; otherwise the `*`
    * groups apply.
    *
    * Rules compile to anchored regexes ONCE here, on the small rule
    * table — `*` matches any octet run and a trailing `$` anchors the
    * end (the RFC's two metacharacters); every other regex special is
    * escaped. `specificity` is the rule-path octet length, the RFC's
    * longest-match precedence key.
    *
    * Output: (domain, allow, rule_path, specificity, rule_regex). */
  /** ONE-EXCHANGE robots parse core (round 18, guide §2.4): the
    * former shape ran the group-id window, two tier-selection
    * windows, two agent joins, two aggregates and a full-outer join —
    * ~8 exchanges of a domain-sized frame, and ~0.7-1.3 s of pure
    * stage overhead per parse at ANY corpus size (measured on a
    * 7-row robots frame; every crawl-loop query pays a parse per
    * run). A robots FILE is small by spec (parsers cap at ~500 KB),
    * so all per-domain logic — group ids, per-group agent sets,
    * exact-beats-star tier selection, rule compilation, delay max —
    * folds into SCALAR array expressions over one
    * `collect_list(line)` per domain: one exchange total, the rest
    * rides the scan as codegen'd projections. Group semantics are
    * bit-identical to the windowed form (UrlNormalizeSpec pins them;
    * the oracle replays every consumer): a UA line starts a new group
    * unless the previous kept line was also UA (consecutive UA lines
    * share a group, so a group's agent set is complete before its
    * first directive — which is what lets the fold carry the CURRENT
    * group's agents), directives before any UA line match no agent
    * and drop, tier presence (exact-beats-star) is evaluated per
    * directive type over the kept rows, exactly as the two standalone
    * selectTier calls did.
    *
    * Output: one row per domain publishing ≥1 applicable rule or
    * delay — (__dom, rules: sorted array<struct<allow, rule_path,
    * specificity, rule_regex>>, crawl_delay: double|NULL). */
  private def policyCore(robots: DataFrame, domainCol: String,
                         robotsCol: String, agent: String): DataFrame = {
    val lined = robots.select(col(domainCol).as("__dom"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("__pos", "__raw")))
      .withColumn("__line", trim(regexp_replace(col("__raw"), "#.*$", "")))
      .filter(col("__line").contains(":"))
      .withColumn("__key",
        lower(trim(substring_index(col("__line"), ":", 1))))
      .withColumn("__val",
        trim(regexp_extract(col("__line"), "^[^:]*:(.*)$", 1)))
      .filter(col("__key").isin("user-agent", "allow", "disallow",
        "crawl-delay"))
    val perDom = lined.groupBy(col("__dom"))
      .agg(array_sort(collect_list(
        struct(col("__pos"), col("__key"), col("__val")))).as("__ls"))
    val agentLit = lit(agent.toLowerCase)
    val dirsType = "array<struct<isrule:boolean,allow:boolean," +
      "v:string,exact:boolean,star:boolean>>"
    // the fold: walk the domain's kept lines in order, carrying
    // (was-the-previous-line-UA, current group's agent set) and
    // appending each applicable directive tagged with its group's
    // exact/star flags. Directive lines of groups naming neither the
    // agent nor '*' are dropped here (they could never survive tier
    // selection). Work is linear in lines except the appends' array
    // copies — quadratic only past thousands of APPLICABLE directives
    // in one file, beyond the spec's practical size cap.
    val folded = aggregate(
      col("__ls"),
      struct(lit(false).as("prevUa"),
        array().cast("array<string>").as("ags"),
        array().cast(dirsType).as("dirs")),
      (acc, x) => {
        val k = x.getField("__key")
        val v = x.getField("__val")
        val isUa = k === "user-agent"
        val ags = acc.getField("ags")
        val newAgs = when(isUa && acc.getField("prevUa"),
            array_append(ags, lower(v)))
          .when(isUa, array(lower(v)))
          .otherwise(ags)
        val exact = array_contains(ags, agentLit)
        val star = array_contains(ags, lit("*"))
        val isRule = k.isin("allow", "disallow") && v =!= ""
        val isDelay = k === "crawl-delay" &&
          v.rlike("^[0-9]+(\\.[0-9]+)?$")
        val entry = struct(isRule.as("isrule"),
          (k === "allow").as("allow"), v.as("v"),
          exact.as("exact"), star.as("star"))
        val newDirs = when((isRule || isDelay) && (exact || star),
            array_append(acc.getField("dirs"), entry))
          .otherwise(acc.getField("dirs"))
        struct(isUa.as("prevUa"), newAgs.as("ags"), newDirs.as("dirs"))
      },
      acc => acc.getField("dirs"))
    // per-type tier selection: exact groups win when any exist for
    // that type, else the star groups (the former selectTier, per
    // directive type)
    def tier(rows: Column): Column = {
      val hasExact = exists(rows, e => e.getField("exact"))
      filter(rows, e =>
        when(hasExact, e.getField("exact")).otherwise(e.getField("star")))
    }
    val ruleRows = tier(filter(folded, e => e.getField("isrule")))
    // rule → anchored regex: escape specials, '*' → '.*', trailing
    // '$' anchors; specificity = OCTET length (RFC 9309 longest-match
    // precedence is by octets)
    val rules = array_sort(transform(ruleRows, e => {
      val rp = e.getField("v")
      val anchored = rp.endsWith("$")
      val body = when(anchored, rp.substr(lit(1), length(rp) - 1))
        .otherwise(rp)
      val escaped = regexp_replace(body,
        "([.?+^$(){}\\[\\]|\\\\])", "\\\\$1")
      struct(e.getField("allow").as("allow"), rp.as("rule_path"),
        octet_length(rp).as("specificity"),
        concat(lit("^"), regexp_replace(escaped, "\\*", ".*"),
          when(anchored, lit("$")).otherwise(lit(""))).as("rule_regex"))
    }))
    val delay = array_max(transform(
      tier(filter(folded, e => !e.getField("isrule"))),
      e => e.getField("v").cast("double")))
    perDom.select(col("__dom"), rules.as("rules"),
        delay.as("crawl_delay"))
      .filter(size(col("rules")) > 0 || col("crawl_delay").isNotNull)
  }

  def parseRobots(robots: DataFrame, domainCol: String,
                  robotsCol: String, agent: String): DataFrame =
    policyCore(robots, domainCol, robotsCol, agent)
      .select(col("__dom").as(domainCol), explode(col("rules")).as("__r"))
      .select(col(domainCol), col("__r.allow").as("allow"),
        col("__r.rule_path").as("rule_path"),
        col("__r.specificity").as("specificity"),
        col("__r.rule_regex").as("rule_regex"))

  /** Per-domain Crawl-delay under `agent` (original REP extension —
    * the politeness interval a crawl SCHEDULER feeds its per-host
    * token bucket; RFC 9309 leaves it to implementations, the field
    * is ubiquitous in published robots.txt). Same group semantics and
    * exact-beats-star tier as [[parseRobots]]; non-numeric values are
    * ignored; when several values apply, the LARGEST wins — the
    * conservative (most polite) reading of an ambiguous policy.
    * Domains publishing no applicable delay are absent — the caller
    * applies its own default politeness. Output: (domainCol,
    * crawl_delay: double seconds). */
  def crawlDelay(robots: DataFrame, domainCol: String,
                 robotsCol: String, agent: String): DataFrame =
    policyCore(robots, domainCol, robotsCol, agent)
      .filter(col("crawl_delay").isNotNull)
      .select(col("__dom").as(domainCol), col("crawl_delay"))

  /** One-parse robots POLICY: the verdict rules AND the Crawl-delay
    * per domain from a SINGLE parse of the robots corpus — the
    * surface a crawl pipeline wanting both the q146 gate and the
    * q152 scheduler signal composes (calling [[parseRobots]] and
    * [[crawlDelay]] separately parses every robots body twice).
    *
    * Tier selection stays PER DIRECTIVE TYPE, exactly as the two
    * standalone operators behave: an agent-specific group publishing
    * only a Crawl-delay does not erase the `*` group's access rules
    * (the conservative reading — a policy that says nothing about
    * access for the agent falls back to the generic rules), and vice
    * versa. The expensive shared work — line explode, comment strip,
    * group-id window — runs once; the two tier selections run on the
    * small directive rows.
    *
    * Output: one row per domain that publishes EITHER applicable
    * rules or an applicable delay — (domainCol,
    * rules: array<struct<allow, rule_path, specificity, rule_regex>>
    * (sorted, possibly empty), crawl_delay: double (NULL when
    * unpublished)). The frame is domain-sized (tiny next to any URL
    * corpus) — materialize it once with [[GraftCheckpoint.barrier]]
    * (or broadcast it) and feed every consumer, e.g.
    * [[robotsGateFromPolicy]]. */
  def robotsPolicy(robots: DataFrame, domainCol: String,
                   robotsCol: String, agent: String): DataFrame =
    policyCore(robots, domainCol, robotsCol, agent)
      .select(col("__dom").as(domainCol), col("rules"),
        col("crawl_delay"))

  /** `Sitemap:` directives from a robots corpus — the discovery
    * BOOTSTRAP rung: a crawl that knows only domains learns its
    * sitemap locations HERE (robots.txt is the one canonical place a
    * site publishes them). Per REP/sitemaps.org the directive is
    * group-INDEPENDENT — it applies regardless of any `User-agent:`
    * section, may appear anywhere in the file, any number of times —
    * and must carry an ABSOLUTE url, so this parses lines directly
    * (no group machinery) and drops relative values (spec
    * violations). Comments strip as everywhere else. One row per
    * directive: (domainCol, sitemap_url). Pure per-row projections —
    * rides the robots-corpus scan, no shuffle. */
  def robotsSitemaps(robots: DataFrame, domainCol: String,
                     robotsCol: String): DataFrame =
    robots.select(col(domainCol), explode(split(col(robotsCol), "\n"))
        .as("__raw"))
      .withColumn("__line", trim(regexp_replace(col("__raw"), "#.*$", "")))
      .filter(lower(col("__line")).rlike("^sitemap\\s*:"))
      .select(col(domainCol),
        trim(regexp_extract(col("__line"), "(?i)^sitemap\\s*:(.*)$", 1))
          .as("sitemap_url"))
      .filter(col("sitemap_url").rlike("^https?://"))

  /** Cross-SESSION form of [[robotsPolicy]]: load the published
    * per-domain policy for `(corpusKey, version)` if it exists, else
    * parse, publish, and load back. A crawl refreshes robots bodies
    * on their own cadence (hours-days), far slower than it schedules
    * fetches — so the parsed policy is exactly the state later
    * sessions reuse: the gate and the scheduler both start from one
    * partition-pruned scan and the robots corpus is never re-parsed
    * ([[graft.operators.Dedup.dedupStatePublished]]'s lifecycle; the
    * nested rules array survives the parquet roundtrip as-typed). */
  def robotsPolicyPublished(robots: DataFrame, root: String,
                            corpusKey: String, version: String,
                            domainCol: String, robotsCol: String,
                            agent: String): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = robots.sparkSession
    val kind = "robots_policy"
    if (ArtifactStore.exists(spark, root, kind, corpusKey, version))
      ArtifactStore.load(spark, root, kind, corpusKey, version)
    else {
      val policy = robotsPolicy(robots, domainCol, robotsCol, agent)
      ArtifactStore.save(policy, root, kind, corpusKey, version)
      ArtifactStore.load(spark, root, kind, corpusKey, version)
    }
  }

  /** The [[robotsGate]] verdict evaluated against a prebuilt
    * [[robotsPolicy]] frame — so a pipeline consuming the policy for
    * BOTH the gate and the scheduler delay parses the robots corpus
    * once. Semantics and output are identical to [[robotsGate]]:
    * longest-octet-match wins, Allow beats Disallow on a tie, no
    * rule / no policy → allowed.
    *
    * Round-13 reshape: the verdict is the per-row
    * [[robotsVerdictCols]] projection over the joined rule array —
    * the former explode_outer + groupBy/max pair re-keyed and
    * re-shuffled the URL corpus per verdict; now the only exchange
    * is the domain join itself (broadcast when the policy is small,
    * which a per-domain policy always is next to a URL corpus), and
    * the row count never fans out. Same reshape that makes the gate
    * legal in the append-mode stream ([[graft.streaming
    * .CrawlStream]]) — batch and stream share ONE verdict code path. */
  def robotsGateFromPolicy(urls: DataFrame, idCol: String, urlCol: String,
                           policy: DataFrame,
                           domainCol: String = "domain"): DataFrame = {
    val withDom = urls.select(col(idCol), col(urlCol),
      hostOf(col(urlCol)).as("__dom"), pathOf(col(urlCol)).as("__path"))
    val (allowed, rule) =
      robotsVerdictCols(col("__path"), col("rules"))
    withDom
      .join(policy.select(col(domainCol).as("__dom"), col("rules")),
        Seq("__dom"), "left")
      .select(col(idCol), col(urlCol),
        allowed.as("allowed"), rule.as("rule"))
  }

  /** ZERO-STATE per-row form of the [[robotsGateFromPolicy]] verdict:
    * `(allowed, rule)` columns computed from an already-joined
    * `rules` array with scalar higher-order functions — `filter` the
    * rule array by regex hit, `array_max` over
    * `struct(specificity, allow, rule_path)` (struct ordering IS the
    * longest-match-then-Allow tie-break the batch aggregate
    * expresses as `max(when(hit, struct(...)))`). No explode, no
    * aggregate, no exchange — which makes the verdict legal in an
    * append-mode STREAM ([[graft.streaming.CrawlStream]]) and keeps
    * it a scan-side projection in batch. NULL rules (domain without
    * robots) and zero hits both fold to allowed per the RFC default. */
  def robotsVerdictCols(pathCol: Column, rulesCol: Column): (Column, Column) = {
    val hits = filter(rulesCol, r =>
      regexp_like(pathCol, r.getField("rule_regex")))
    val win = array_max(transform(hits, r => struct(
      r.getField("specificity").as("specificity"),
      r.getField("allow").cast("int").as("a"),
      r.getField("rule_path").as("rule_path"))))
    (coalesce(win.getField("a") === 1, lit(true)),
      win.getField("rule_path"))
  }

  /** Path+query of a URL (the RFC 9309 match target); empty → "/". */
  def pathOf(url: Column): Column = {
    val pq = regexp_replace(regexp_replace(url, "#.*$", ""),
      "^[^:/?#]+://[^/?]*", "")
    when(pq === "", lit("/")).otherwise(pq)
  }

  /** robots.txt gate (RFC 9309): each URL's verdict under `agent`
    * against its domain's published policy — the crawl-politeness
    * rung between q138's category gate and fetching. Longest
    * (octet-length) matching rule wins; `Allow` beats `Disallow` on
    * a specificity tie; no matching rule, no applicable group, or no
    * robots.txt at all → allowed (the RFC's defaults).
    *
    * Scale shape: robots bodies parse ONCE into a per-domain rule
    * table ([[parseRobots]] — lines explode only the robots corpus,
    * orders of magnitude under the URL corpus), URLs join it on the
    * domain equi-key (AQE broadcasts when small; at web scale both
    * sides hash-partition on domain and rules-per-domain stays a
    * handful, so the join output is a small constant fan-out of the
    * URL side, never quadratic), the regex match runs on the joined
    * rows only, and ONE id-keyed max(struct(specificity, allow))
    * aggregate folds the verdict. The dynamic per-rule regex is
    * deliberately confined to this post-join sliver — the URL-side
    * scan stays whole-stage codegen.
    *
    * Output: (idCol, url, allowed, rule) — `rule` is the winning
    * published rule path, NULL when the default applied. */
  def robotsGate(urls: DataFrame, idCol: String, urlCol: String,
                 robots: DataFrame, agent: String,
                 domainCol: String = "domain",
                 robotsCol: String = "robots_txt"): DataFrame = {
    val rules = parseRobots(robots, domainCol, robotsCol, agent)
    val withDom = urls.select(col(idCol), col(urlCol),
      hostOf(col(urlCol)).as("__dom"), pathOf(col(urlCol)).as("__path"))
    withDom
      .join(rules.withColumnRenamed(domainCol, "__dom"), Seq("__dom"),
        "left")
      .withColumn("__hit", col("rule_regex").isNotNull &&
        regexp_like(col("__path"), col("rule_regex")))
      .groupBy(col(idCol), col(urlCol))
      .agg(max(when(col("__hit"), struct(col("specificity"),
        col("allow").cast("int").as("a"),
        col("rule_path")))).as("__win"))
      .select(col(idCol), col(urlCol),
        coalesce(col("__win.a") === 1, lit(true)).as("allowed"),
        col("__win.rule_path").as("rule"))
  }

  /** Per-host politeness SCHEDULE — the rung that turns
    * [[crawlDelay]]/[[robotsPolicy]] into an actionable fetch plan: a
    * crawler must space same-host requests by that host's
    * Crawl-delay, so each URL gets a slot index within its host and a
    * relative fetch time `slot_idx * delay` (seconds, from the
    * host's first fetch). Slot order is the million-bucket content
    * hash of the id (the engine's standard deterministic,
    * partitioning-invariant "random but reproducible" order — a
    * crawl wants to avoid path-locality bursts, and the oracle must
    * replay the order exactly); ties broken by id. Hosts absent from
    * `delays` use `defaultDelaySecs` (the caller's politeness
    * default, exactly the [[crawlDelay]] contract).
    *
    * Scale shape: ONE host-keyed shuffle for the ranking window (the
    * same shape as sessionize), the delay table joins broadcast-small
    * or hash on the host equi-key, and the schedule columns are
    * scalar arithmetic on the rank. A mega-host produces a long
    * sequential schedule — that is the POLITENESS CONTRACT, not skew:
    * the slots are what a fetcher may actually issue. Output:
    * (idCol, urlCol, host, slot_idx, fetch_at_s). */
  def politenessSchedule(urls: DataFrame, idCol: String, urlCol: String,
                         delays: DataFrame, domainCol: String = "domain",
                         delayCol: String = "crawl_delay",
                         defaultDelaySecs: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = pmod(graft.functions.PortableHash.hash60(col(idCol).cast("string")),
      lit(1000000))
    val w = Window.partitionBy(col("host"))
      .orderBy(order.asc, col(idCol).asc)
    urls.select(col(idCol), col(urlCol), hostOf(col(urlCol)).as("host"))
      .withColumn("slot_idx", (row_number().over(w) - 1).cast("int"))
      .join(delays.select(col(domainCol).as("host"),
        col(delayCol).as("__d")), Seq("host"), "left")
      .select(col(idCol), col(urlCol), col("host"), col("slot_idx"),
        round(col("slot_idx") *
          coalesce(col("__d"), lit(defaultDelaySecs)), 6).as("fetch_at_s"))
  }

  /** Sitemap ingestion (sitemaps.org protocol v0.9) — the crawl
    * front-end's third standard input next to robots.txt
    * ([[robotsPolicy]]) and fetched WARC segments
    * ([[graft.sources.Warc]]): a `<urlset>` document publishes the
    * site's own URL inventory, the highest-precision frontier seed a
    * crawler gets. One row per `<url>` entry:
    * (domain, url, lastmod, priority) where
    *  - `url` is the entity-DECODED `<loc>` (the protocol requires
    *    XML-escaping `& < > ' "` in loc values — the same five the
    *    [[graft.functions.HtmlEntityDecode]] named table carries),
    *    whitespace-trimmed per spec;
    *  - `lastmod` is the raw W3C datetime string, NULL when absent
    *    (compose a cast downstream — crawlers treat it as advisory);
    *  - `priority` defaults to 0.5 when absent (protocol §"priority"
    *    default); entries with no `<loc>` are dropped (invalid).
    * `<sitemapindex>` files (pointers to child sitemaps) yield no
    * urlset entries here BY DESIGN — index recursion is an ingest-
    * loop concern (fetch the children, feed them back through this
    * same parser), not a per-document transform.
    *
    * Scale shape: two `regexp_extract_all`/`regexp_extract` passes +
    * the entity-decode expression — all codegen'd scalar work on the
    * scan (the [[Html.extractLinks]] discipline); the only rows
    * entering any downstream shuffle are the extracted URLs. At
    * 100 TB sitemaps ride the same ingest scan as the pages. */
  def sitemapUrls(df: DataFrame, domainCol: String,
                  xmlCol: String): DataFrame = {
    val entries = regexp_extract_all(col(xmlCol),
      lit("(?s)<url\\s*>(.*?)</url\\s*>"), lit(1))
    def field(e: Column, tag: String): Column =
      regexp_extract(e, s"(?s)<$tag\\s*>\\s*(.*?)\\s*</$tag\\s*>", 1)
    df.select(col(domainCol).as("domain"), explode(entries).as("__e"))
      .select(col("domain"),
        org.apache.spark.sql.graftext.HtmlEntityDecode.column(
          field(col("__e"), "loc")).as("url"),
        field(col("__e"), "lastmod").as("__lm"),
        field(col("__e"), "priority").as("__pr"))
      .filter(col("url") =!= "")
      .select(col("domain"), col("url"),
        when(col("__lm") === "", lit(null: String))
          .otherwise(col("__lm")).as("lastmod"),
        when(col("__pr") === "", lit(0.5))
          .otherwise(col("__pr").cast("double")).as("priority"))
  }

  /** Sitemapindex parse (sitemaps.org v0.9 `<sitemapindex>`) — the
    * protocol's OTHER document kind: a site past the 50k-URL/50MB
    * limit publishes an INDEX of child sitemap locations, and a
    * crawler must walk the index before any urlset exists to parse
    * (the q171 multi-file drain assumes the children are already
    * known; this is where they come from). One row per `<sitemap>`
    * entry: (domain, sitemap_url, lastmod) with the loc
    * entity-decoded and trimmed, lastmod NULL when absent — the same
    * contracts as [[sitemapUrls]]. The two parsers are disjoint by
    * element name, so feeding either document kind to the other
    * yields zero rows (spec-pinned). Same scale shape: codegen'd
    * regexp passes on the scan, only extracted locations enter any
    * downstream shuffle. */
  def sitemapIndexUrls(df: DataFrame, domainCol: String,
                       xmlCol: String): DataFrame = {
    val entries = regexp_extract_all(col(xmlCol),
      lit("(?s)<sitemap\\s*>(.*?)</sitemap\\s*>"), lit(1))
    def field(e: Column, tag: String): Column =
      regexp_extract(e, s"(?s)<$tag\\s*>\\s*(.*?)\\s*</$tag\\s*>", 1)
    df.select(col(domainCol).as("domain"), explode(entries).as("__e"))
      .select(col("domain"),
        org.apache.spark.sql.graftext.HtmlEntityDecode.column(
          field(col("__e"), "loc")).as("sitemap_url"),
        field(col("__e"), "lastmod").as("__lm"))
      .filter(col("sitemap_url") =!= "")
      .select(col("domain"), col("sitemap_url"),
        when(col("__lm") === "", lit(null: String))
          .otherwise(col("__lm")).as("lastmod"))
  }

  /** [[politenessSchedule]] driven by the sitemap's OWN signals: slot
    * order within a host is (priority DESC, lastmod DESC NULLS LAST,
    * content-hash, url) — the highest-priority freshest pages fetch
    * first, which is what the protocol's advisory fields exist for;
    * the hash breaks ties exactly as the plain scheduler does. W3C
    * datetime strings compare lexicographically == chronologically,
    * so the order is engine-portable with no timestamp parse. Input
    * needs `urlCol` + `priorityCol` + `lastmodCol` (the
    * [[sitemapUrls]] output shape); same ONE host-keyed window, same
    * (url, host, slot_idx, fetch_at_s) output plus the priority
    * carried through. */
  def prioritySchedule(urls: DataFrame, urlCol: String,
                       priorityCol: String, lastmodCol: String,
                       delays: DataFrame, domainCol: String = "domain",
                       delayCol: String = "crawl_delay",
                       defaultDelaySecs: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = pmod(graft.functions.PortableHash.hash60(col(urlCol)),
      lit(1000000))
    val w = Window.partitionBy(col("host"))
      .orderBy(col(priorityCol).desc, col(lastmodCol).desc_nulls_last,
        order.asc, col(urlCol).asc)
    urls.select(col(urlCol), col(priorityCol), col(lastmodCol),
        hostOf(col(urlCol)).as("host"))
      .withColumn("slot_idx", (row_number().over(w) - 1).cast("int"))
      .join(delays.select(col(domainCol).as("host"),
        col(delayCol).as("__d")), Seq("host"), "left")
      .select(col(urlCol), col("host"), col(priorityCol),
        col("slot_idx"),
        round(col("slot_idx") *
          coalesce(col("__d"), lit(defaultDelaySecs)), 6).as("fetch_at_s"))
  }

  /** URL-level dedup over (doc_id, url): group by canonical form, keep
    * the smallest doc_id as the canonical record (first-crawled wins
    * under a monotone id), count the dupes. The shuffle carries only
    * the canonical string + id — at 100 TB, hash the canonical form
    * first and shuffle 8-byte digests. */
  def dedupByUrl(docs: DataFrame, urlCol: String): DataFrame =
    docs.withColumn("url_canon", canonicalize(col(urlCol)))
      .groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("canonical_doc"),
        count(lit(1)).as("n_dupes"))
}
