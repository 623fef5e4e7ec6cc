package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{CorpusPipeline, Dedup, Sampling, Similarity, TextAnalysis, UrlNormalize}
import graft.functions.PortableHash

/** Training-data-pipeline operator inventory (dedup / similarity /
  * text analysis) over the `documents` and `embeddings` tables, each
  * with a DuckDB oracle generated from the same parameters so the
  * Spark plan and the oracle can't drift apart.
  */
object PipelineQueries {
  import Scratch.{artifactRoot, fixtureDir}

  // shared parameters (also baked into the generated oracle SQL)
  val MinhashK = 16
  // b=4 (r=4 rows/band): theoretical recall 1-(1-0.9^4)^4 = 0.986 at
  // J=0.9 (measured in LshRecallSpec) — a dedup GATE must catch
  // strong near-dups; the round-7 default b=2 (r=8) measured only
  // 0.75 at J=0.9, i.e. a quarter of strong near-dups survived
  // q61's "clean" corpus and could straddle q100's splits
  val MinhashBands = 4
  // edge/drop VERIFICATION threshold: a near-dup decision requires
  // >= 13 of the 16 minhash components to match (agreement/k is the
  // unbiased Jaccard estimator, so 13/16 ~ J >= 0.8). Bucket
  // co-membership alone percolates on a smoothly-similar corpus —
  // measured round 8: unverified b=4 star edges collapsed 4,994 of
  // 5,000 docs into 2 mega-clusters; verified, 10 true families
  val MinhashVerifyAgree = 13
  // q33's quadratic-blowup guard (simhashPairs' contract applied to
  // the minhash pair surface): a (band, sig) bucket past this size is
  // dropped from candidate generation with a logged count. Never
  // triggers at sf0.01 (500 docs), so the oracle's identical HAVING
  // clause is a no-op there — but the rule is part of the spec on
  // BOTH sides, so a denser future corpus cannot drift them apart
  val MinhashMaxBucket = 1000
  val NgramN = 3
  val NgramMaxDocFreq = 20
  val HeavySupport = 0.02
  val NgramMinJaccard = 0.1
  // 60-bit signature (see Dedup.SimhashBits): threshold 3 is the
  // pigeonhole-EXACT regime for 4-chunk banding (≤3 flipped bits
  // always leave one chunk untouched) — the operator emits every
  // qualifying pair, not a heuristic subset
  val SimhashMaxHamming = 3
  // 4000, from the round-16 cap tuning law at 100× (SCALE_MEASURE_r16
  // `cap_tuning_100x`): q35's wall is FLAT in the cap (the hamming
  // filter severs flood pairs cheaply) while pairs saturate at 4000 —
  // cap 1000 silently dropped 27% of true ≤3-hamming pairs for zero
  // wall savings. 4000 captures every pair this corpus has at 100×
  // and still guards a genuinely adversarial >4000-identical-chunk
  // flood. q33's knee is different (candidate volume is flood-bucket
  // QUADRATIC there: cap 4000 read 34× the wall) — its cap stays 1000.
  val SimhashMaxBucket = 4000
  val TopK = 5
  val IvfProbes = 2
  // trained coarse quantizer for q38 (SimilarityRecallSpec: recall@10
  // 0.49 at nProbe=2 over kmeans(k=8, iters=3) cells vs 0.31 over the
  // metadata `label` cells at the same probe budget)
  val KmeansK = 8
  val KmeansIters = 3
  // semantic decontamination (q145): bench = vec_id%3==0 slice,
  // train = the rest; 0.36 sits mid-distribution of the measured
  // bench-vs-train max-cosine spread at the gate (0.267-0.474,
  // median 0.354) so both verdicts appear. The compare runs on
  // identically 6-decimal-rounded values in both engines against
  // the same double literal, so no cross-engine boundary flake
  val SemanticDeconT = 0.36
  // the bench side is CAPPED at the base-copy id range: a benchmark
  // suite is a fixed artifact — it does not grow with the crawl. The
  // 100× sweep that scaled BOTH sides measured the violation directly
  // (703s at 100×: 166k bench rows × ~41k-vector cells through 8 cell
  // keys ≈ 1.4e10 pairs); with the cap the sweep exercises the
  // operator's designed asymmetry — train 100×, bench fixed
  val SemanticDeconBenchCap = 2000L
  // product quantization (q133): 4 subspaces x 8 codes over the
  // 64-dim embeddings; 2 Lloyd rounds keep the oracle's unrolled
  // chain compact while exercising a full train->reassign cycle
  val PqM = 4
  val PqKsub = 8
  val PqIters = 2
  val NearDupMinCos = 0.25
  // 8 planes = 256 buckets: the planes ~ log2(n/targetBucket) scale
  // contract applied at the sf0.1 corpus size (6 planes left ~300
  // vectors per bucket and the 8-table union generated 23M candidate
  // pairs — recall was right, candidate volume wasn't)
  val LshPlanes = 8
  // independent SRP hash tables for q57: recall measured against the
  // 1-(1-(1-theta/pi)^planes)^tables theory curve on planted
  // 20-degree pairs (SimilarityRecallSpec; at 6 planes the same
  // harness measured 0.450 vs theory 0.494 single-table and 0.998 vs
  // 0.996 at 8 tables) — one signature is a candidate generator, not
  // a near-dup gate
  val LshTables = 8
  // lshNearDup's flood guard (round 9): (table, bucket) groups past
  // this size drop from candidate generation — the fixed-8-plane q57
  // at 100x embeddings spilled a multi-billion-row candidate set to
  // disk exhaustion without it (SCALE.md); spec'd in the oracle's
  // identical HAVING
  val LshMaxBucket = 1000
  val EmbeddingDim = 64
  val CentroidClusters = 5
  val CorpusLangs = Seq("en", "es")
  val CorpusMinWords = 5
  val CorpusMinQuality = 0.05
  val SamplePct = 10
  val Splits = Seq("train" -> 90, "valid" -> 5, "test" -> 5)
  val ChunkMaxTokens = 24
  val ChunkStride = 16
  val TokenMixWeights = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
  val TokenMixTotal = 4000L
  val PackBudget = 64
  val PackShards = 8
  val StratRates = Seq("en" -> 30, "es" -> 60)
  val StratDefaultPct = 90
  val NgramCountN = 2
  val NgramCountMin = 35L
  val MixWeights = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
  val ContamN = 5
  // SemDeDup threshold: the synthetic embeddings are near-orthogonal
  // (max pairwise cosine ~0.51 at sf0.01), so a production-style 0.9
  // would drop nothing and test nothing; 0.35 exercises the drop path
  // on a few hundred global pairs
  val SemDedupTau = 0.35
  // per-source document cap (q113): sf0.01 carries 25 docs/source,
  // sf0.1 250 — the cap binds at every SF
  val DomainCapK = 15
  val FuzzyMaxDist = 1
  val PageRankIters = 5
  val PageRankDamping = 0.85
  // count-min sketch (q150): 3 hash rows x 1024 buckets (ε=e/1024,
  // δ=e^-3) over the corpus word counts; probes are the words with
  // exact count >= 50 so the demo surfaces real heavy items. The
  // PortableHash rows make the whole matrix deterministic — the
  // oracle replays it exactly, no tolerance band needed
  val CmsD = 3
  val CmsW = 1024
  val CmsProbeMin = 50L
  // priority sampling (q148): 5 winners per language stratum —
  // small enough that τ (the 6th priority) always exists at the gate
  val PriorityK = 5
  // HITS (q147): 3 rounds surface the hub/authority split on the
  // bipartite supplier→part graph while keeping the oracle's
  // unrolled CTE chain compact (each round is 4 CTEs)
  val HitsIters = 3
  // part-node id offset in the q115 link graph: must exceed every
  // suppkey/partkey at any testdata SF (sf1 tops out at 200k parts)
  val PageRankPartOffset = 10000000L
  val Bm25Terms = Seq("join", "hash", "spark")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  // boilerplate gate (q117): segment document-frequency at which a
  // 10-word window is stripped corpus-wide; sf0.01 carries 15 such
  // segments (df>=3), so the removal path is exercised at every SF
  val BoilerWindow = 10
  val BoilerMinDocs = 3
  // DSIR (q118): hashed-bigram feature space; target = English slice
  val DsirBuckets = 1024
  val DsirTargetLang = "en"
  // trained quality classifier (q119): full-batch logistic regression
  // over hashed bigram frequencies. The label must be LEARNABLE from
  // text for the demo to mean anything — the metadata lang/source
  // columns are random over a shared vocabulary (a model trained on
  // them correctly converges to the base rate and separates nothing),
  // so the exemplar label is a text property: mentions of 'spark'
  // (385/500 docs at sf0.01). lr/iters sized so the separation is
  // visible in the scores, not just the sign of the weights
  // measured on sf0.01 (offline replica of the exact update rule):
  // (512, 5, 2.0) separates pos 0.80 / neg 0.49 mean score, pairwise
  // ranking accuracy 0.967; 64 buckets collide the ~900-bigram vocab
  // into every bucket and cap separation near the base rate
  val ClfBuckets = 512
  val ClfIters = 5
  val ClfLearnRate = 2.0
  // vocab build (q120): drop hapax-style tail below this count
  val VocabMinCount = 5L
  // BPE tokenizer construction (q122/q123): 8 merges is enough to
  // surface multi-char tokens ("er", "ow_", "st") on the corpus
  // alphabet; pairs below 2 occurrences never merge
  val BpeMerges = 8
  val BpeMinPair = 2L
  // q159 unigram-LM: seed cut small enough to be a REAL cut on the
  // corpus's ~200 distinct substrings, prune target small enough that
  // the M-step actually drops used pieces; 2 EM rounds exercises
  // re-segmentation under the pruned vocab
  val UnigramSeedTop = 40
  val UnigramKeepMulti = 16
  val UnigramIters = 2
  // tokenizer OOV plant (q123/q160): appended to every ENCODE-side
  // doc; x, 7, z are outside the corpus alphabet
  // (" abcdefghijklmnopqrstuvwy"), q is inside — one word mixing
  // known/unknown chars, one all-unknown
  // trained language-ID profile width (q176/q177): 15 matches the
  // baked q39 tables' per-language gram count
  val LangProfileTopK = 15
  val OovPlant = " xq7z zzz"
  // byte-BPE multi-byte plant (q175): é is 2-byte UTF-8, 世/界 are
  // 3-byte — characters NO char-level tokenizer in this registry can
  // seed, but byte seeding decomposes them totally (2–3 byte tokens
  // each), which is the family's defining property
  val ByteOovPlant = " café 世界"
  // prefix-filter set-similarity join (q144): high-threshold regime —
  // the corpus's shared vocabulary puts thousands of doc pairs above
  // 0.9 word-set jaccard at sf0.01, so 0.95 keeps the result ~1.9k
  // rows while exercising the prefix at its designed (1-t) width
  val PrefixJoinT = 0.95
  // q144 demo slice: the corpus's planted duplication is so dense that
  // the FULL corpus holds ~190k true pairs >= 0.95 at sf0.1 — a
  // quadratic-in-density surface that priced one demo cell above the
  // whole rest of the bench (21s+ measured). The demo runs on the
  // deterministic doc_id % 5 = 0 slice (20% of docs → ~4% of pairs),
  // which exercises every stage of the operator at demo-scale density;
  // the operator's full-corpus scale behavior is recorded in SCALE.md
  // (dictionary-encoded verify, 4.6x wall for 10x data)
  val PrefixJoinSlice = 5
  // exact-substring dedup (q130): sliding-window width in tokens. The
  // corpus's planted cross-doc duplication repeats >= 10-word spans,
  // so w=8 guarantees every planted span is fully covered by repeated
  // shingles (a span of length L >= w is covered exactly); production
  // pipelines use ~50 tokens — the operator is width-parametric
  val ExactSubstrW = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q31_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")),

    // segment-level (line) exact dedup: 10-word windows deduped
    // corpus-wide by first occurrence, docs reassembled from surviving
    // segments — the sub-document dedup step of a RefinedWeb/FineWeb
    // pipeline; digests shuffle, prose crosses the wire once
    "q104_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(docs(s, dir), "doc_id", "text", windowWords = 10)),

    // cross-document EXACT-SUBSTRING dedup (Lee et al. ACL'22,
    // keep-first): sliding w-token shingles — every >= w-token span
    // whose text occurred earlier in (doc_id, pos) order is removed
    // in place; digests shuffle, prose never does. The sliding window
    // catches repeats that straddle q104's fixed tile boundaries.
    "q130_exact_substr_dedup" -> ((s, dir) =>
      Dedup.exactSubstringDedup(docs(s, dir), "doc_id", "text",
        ExactSubstrW)),

    // HTML → visible-text extraction (operators/Html): the web-corpus
    // step-0 ingest rung (C4 §2.1 / RefinedWeb §3.1 start from raw
    // markup). The corpus is plain text, so the demo PLANTS real HTML
    // around each document — doctype, head with title, a script whose
    // body contains a decoy </div> and comparison operators, a style
    // block, a comment, attributes holding '>' in quotes, and the
    // entity set including the &amp;lt; / &amp;#39; double-decode
    // traps and WHATWG numeric references (dec, hex, windows-1252
    // band, supplementary plane, surrogate→U+FFFD) — and the oracle
    // replays the PLANTING formula (the Multimodal discipline): the
    // extractor must recover exactly the closed-form visible text.
    // Pure codegen'd scalar chain, zero exchanges.
    "q136_html_extract" -> ((s, dir) => {
      val d = docs(s, dir)
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<!DOCTYPE html>\n<html><head><title>Doc "), id,
        lit("</title><script type=\"text/javascript\">\nif (a<b && c>d) { track(\"</div>\"); }\n</script>"),
        lit("<style>.nav > li { width: 10px; }</style></head>\n<body>"),
        lit("<!-- generated page "), id, lit(" -->"),
        lit("<h1 class=\"hd\" title=\"a > b\">Heading &amp; "), id,
        lit("</h1>\n<p>"), col("text"),
        lit("</p><p>it&#8217;s caf&#233; &#147;q&#x201D; &#x1F600; &amp;#39; x&#xD800;y</p>"),
        lit("<div data-x='1'>tail &lt;"), id,
        lit("&gt;&nbsp;&amp;lt;end</div></body></html>"))
      d.select(col("doc_id"),
        graft.operators.Html.extractText(html).as("clean_text"))
    }),

    // EXACT set-similarity join via prefix filtering (Bayardo WWW'07 /
    // Vernica SIGMOD'10; Dedup.prefixFilterJoin): lossless candidate
    // generation — docs index only the rarest (1-t) fraction of their
    // tokens, the prefix-filter lemma guarantees every true pair
    // collides, exact verification prunes the rest. The oracle is the
    // DEFINITION: brute-force exact word-set jaccard in DuckDB — a
    // hash match proves the prefix path is complete AND sound
    "q144_prefix_join" -> ((s, dir) =>
      Dedup.prefixFilterJoin(
        docs(s, dir).filter(pmod(col("doc_id"), lit(PrefixJoinSlice)) === 0),
        "doc_id", "text", PrefixJoinT)),

    // hyperlink extraction (Html.extractLinks): the web-graph
    // construction rung between q136's text extraction and the Graph
    // operators. The demo PLANTS anchors with closed-form targets —
    // a full absolute link with other attributes and inner markup, a
    // relative link whose href carries the &amp; entity and whose body
    // carries extra whitespace + nested tags — plus every decoy class
    // the contract skips: an anchor inside a script, one inside a
    // comment, an href-less <a name=…>, and a single-quoted href.
    // The oracle replays the planting formula: exactly two links per
    // doc, in document order. Pure scalar chain, zero exchanges.
    "q142_link_extract" -> ((s, dir) => {
      val d = docs(s, dir)
      val id = col("doc_id").cast("string")
      val nxt = ((col("doc_id") * 7 + 3) % 1000).cast("string")
      val html = concat(
        lit("<html><head><script>var x = '<a href=\"http://evil.example/x\">spam</a>';</script>"),
        lit("<!-- <a href=\"http://c.example/\">commented out</a> --></head><body>"),
        lit("<a class=\"m\" href=\"https://ex.com/doc/"), nxt,
        lit("\" title=\"a > b\">next &amp; <b>doc</b> "), nxt, lit("</a>"),
        lit("<a name=\"frag\">anchorless</a>"),
        lit("<a href='http://single.example/"), id, lit("'>skipped</a>"),
        lit("<a href=\"/p?a="), id, lit("&amp;b=2\">\n deep  <i>page</i> "),
        id, lit(" </a></body></html>"))
      graft.operators.Html.extractLinks(
        d.select(col("doc_id"), html.as("html")), "doc_id", "html")
    }),

    // product quantization (Jégou et al. PAMI'11): per-subspace
    // Lloyd codebooks, each vector -> m codes + per-subspace squared
    // quantization error; the PQ storage format's train+encode pass
    // the memoized corpusKey makes q133/q134 share ONE trained
    // artifact per corpus — the cellsOf production shape (train once
    // per snapshot, every encode/search batch probes it), same as
    // q38/q114 sharing the k-means cells
    "q133_product_quantize" -> ((s, dir) =>
      Similarity.productQuantize(embs(s, dir), "vec_id", "embedding",
        EmbeddingDim, PqM, PqKsub, PqIters, corpusKey = Some(dir))),

    // PQ asymmetric-distance search (q133's query-time half): per
    // query one m×ksub LUT vs the trained codebook; corpus vectors
    // rank by the sum of code-selected lookups — the scan touches m
    // small-int codes per vector, never the vectors
    "q134_pq_search" -> ((s, dir) =>
      Similarity.pqSearch(embs(s, dir), "vec_id", "embedding",
        EmbeddingDim, PqM, PqKsub, PqIters, col("vec_id") < 10, TopK,
        corpusKey = Some(dir))),

    // binary (1-bit) quantization + Hamming top-k with exact-cosine
    // rerank: the third storage-ladder rung (float32→int8→PQ→1-bit);
    // the scan ranks by popcount(xor) over packed sign bits and only
    // the k winners load their vectors
    "q135_hamming_topk" -> ((s, dir) =>
      Similarity.hammingTopK(embs(s, dir), "vec_id", "embedding",
        EmbeddingDim, col("vec_id") < 10, TopK)),

    // temperature-scaled domain mixing (LLaMA/T5 rule: p_s ∝ n_s^α,
    // α=0.5): low-resource sources up-weighted relative to share,
    // reproducible content-hash thinning, O(#sources) driver scalars.
    // The corpus's source column is uniform (20 × 25 docs at sf0.01 —
    // temperature would be the identity), so the demo derives a
    // 60/30/10-skewed domain from doc_id; the oracle derives the same
    "q132_temperature_mix" -> ((s, dir) =>
      Sampling.mixByTemperature(
        docs(s, dir).withColumn("domain",
          when(col("doc_id") % 10 < 6, "web")
            .when(col("doc_id") % 10 < 9, "code")
            .otherwise("books")),
        "doc_id", "domain", alpha = 0.5)),

    // Gopher rule-set quality flags (Rae et al. 2112.11446 §A1.1):
    // one boolean per published rule + the conjunction verdict —
    // the audit-trail companion to q40's composite score; pure
    // scalar expressions, zero exchanges
    "q131_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(docs(s, dir), "doc_id", "text")),

    // INTRA-document segment dedup (Dedup.intraDocDedup): a doc's own
    // repeated passages keep only their first occurrence. The dedup
    // scope is one row, so the operator is a pure projection — ZERO
    // exchanges at any corpus size, scan-throughput in front of the
    // corpus-wide passes. The corpus's planted duplication is
    // cross-doc only, so the demo plants the intra-doc kind: every
    // even doc re-appends its own first passage (template-expansion /
    // pagination repetition) and must lose exactly that segment;
    // odd docs pass through untouched
    "q128_intradoc_dedup" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val base = concat_ws(" ", slice(ws, 1, 20))
      val planted = docs(s, dir).filter(size(ws) >= 20)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(base, lit(" "), concat_ws(" ", slice(ws, 1, 10))))
            .otherwise(base).as("text"))
      Dedup.intraDocDedup(planted, "doc_id", "text", windowWords = 10)
    }),

    // C4-style boilerplate removal (TextAnalysis.stripBoilerplate):
    // segments repeated across >= BoilerMinDocs DISTINCT docs (nav
    // bars, footers) are stripped from EVERY doc — distinct from
    // q104's keep-first dedup. The boilerplate set broadcasts; both
    // shuffles are linear in corpus tokens
    "q117_boilerplate" -> ((s, dir) =>
      TextAnalysis.stripBoilerplate(docs(s, dir), "doc_id", "text",
        BoilerWindow, BoilerMinDocs)),

    // DSIR importance weights (Sampling.importanceWeights): hashed
    // bigram target-vs-raw log-likelihood ratio per doc — the data
    // SELECTION scorer (resample raw by these weights to look like
    // the target). Bucket table is fixed-size -> broadcast scoring
    "q118_dsir_weights" -> ((s, dir) =>
      Sampling.importanceWeights(docs(s, dir), "doc_id", "text",
        col("lang") === DsirTargetLang, DsirBuckets)),

    // frequency-ranked vocabulary build (TextAnalysis.buildVocab):
    // the token->id mapping of tokenizer construction. Corpus-sized
    // work is one combined count aggregate; the ranking window runs
    // over the minCount-cut VOCABULARY (heavyHitters' bounded-small
    // contract: a 100 TB corpus's vocab fits one partition)
    "q120_vocab_build" -> ((s, dir) =>
      TextAnalysis.buildVocab(docs(s, dir), "text", VocabMinCount)),

    // per-dimension z-score standardization
    // (Similarity.standardize): dim-keyed stats ride a broadcast as
    // ordered arrays; the rewrite is a pure per-row zip_with - the
    // corpus is never exploded into n x dim rows
    // the zvec array is posexploded to (dim, z) rows for the compare
    // (q72's pattern: the driver's comparer cannot hash array cells);
    // the array form stays standardize()'s production surface
    "q121_standardize" -> ((s, dir) =>
      Similarity.standardize(embs(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("zvec")).as(Seq("dim0", "z")))
        .select(col("vec_id"), (col("dim0") + 1).cast("int").as("dim"),
          col("z"))),

    // trained quality classifier (Classifier.logisticQuality): the
    // fastText-style gate — logistic regression over hashed bigram
    // frequencies trained full-batch IN the engine (parameter-
    // broadcast GD: weights broadcast out, gradient aggregated back;
    // two linear shuffles per iteration) and applied to the corpus.
    // The oracle unrolls the iterations as chained CTEs, pagerank-style
    "q119_quality_classifier" -> ((s, dir) =>
      graft.operators.Classifier.logisticQuality(docs(s, dir),
        "doc_id", "text", col("text").contains("spark"),
        ClfBuckets, ClfIters, ClfLearnRate)),

    // the cross-SESSION half of the quality gate (the q158/q162
    // treatment for the classifier): train the weight vector, PUBLISH
    // it versioned, load it back through the pruned scan, and score
    // the corpus from the LOADED weights — inference needs no labels,
    // which is the production asymmetry (one labeled training run,
    // unlabeled crawls scored forever after). Oracle-equal to q119
    // (same logisticQualitySql): the roundtrip may not change a score
    "q170_clf_roundtrip" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = docs(s, dir)
      val root = artifactRoot
      // ONE featurize pass serves train AND score: the feature matrix
      // is label-independent (Classifier.featurize scaladoc), so the
      // roundtrip no longer re-explodes + re-aggregates the corpus for
      // inference — the weights still travel through the versioned store
      val (feats, perDoc) = graft.operators.Classifier.featurize(d,
        "doc_id", "text", col("text").contains("spark"), ClfBuckets)
      val w = graft.operators.Classifier.trainWeightsFeats(feats, perDoc,
        ClfBuckets, ClfIters, ClfLearnRate)
      ArtifactStore.save(w, root, "clf_weights", dir, "v0001")
      val loaded = ArtifactStore.load(s, root, "clf_weights", dir, "v0001")
      graft.operators.Classifier.scoreWithFeats(feats, perDoc, "doc_id",
        loaded)
    }),

    // URL canonicalization + URL-level dedup — the first gate of a
    // web-crawl pipeline (drops records without touching bodies).
    // Four planted presentation variants per base URL (case, default
    // port, trailing slash, query order, fragment); the oracle states
    // the canonical form from the planting formula, so any
    // canonicalization rule the expressions get wrong hash-mismatches.
    "q109_url_dedup" -> ((s, dir) =>
      UrlNormalize.dedupByUrl(
        UrlNormalize.synthesizeUrls(docs(s, dir)), "url")),

    // UT1-style URL category gate (UrlNormalize.categoryGate): host
    // suffixes explode (bounded label fan-out), the planted
    // (domain, category) blocklist joins BROADCAST on the suffix,
    // one id-keyed aggregate folds the verdict. The planting derives
    // hosts from doc_id (every third doc gets a subdomain) so the
    // oracle replays both match modes: exact host and dot-suffix —
    // and the sub.example6.com entry proves specificity (it must NOT
    // block bare example6.com)
    "q138_url_category_gate" -> ((s, dir) => {
      import s.implicits._
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("sub."))
            .otherwise(lit("")),
          lit("example"), pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string")).as("url"))
      val blocklist = Seq(
        ("example3.com", "ads"), ("example7.com", "adult"),
        ("sub.example6.com", "tracking"), ("example6.org", "inert"))
        .toDF("domain", "category")
      UrlNormalize.categoryGate(urls, "doc_id", "url", blocklist)
    }),

    // robots.txt crawl-politeness gate (RFC 9309; UrlNormalize
    // .robotsGate): per-domain policies parse once into a rule table,
    // URLs join on the domain equi-key, longest-octet match wins with
    // Allow beating Disallow on ties. The planting covers group
    // EXCLUSIVITY (every 4th domain publishes an exact graftbot group
    // whose selection must suppress the * group entirely),
    // longest-match precedence (/private/ok over /private, /q/ok
    // over /q — note /q, NOT /p: RFC matching is by PREFIX, so a
    // /p rule would swallow every /private path too, which the
    // first draft of this planting learned the hard way), a
    // wildcard+anchored rule (/tmp*.html$), a badbot
    // decoy group that must never apply, and comment/blank noise.
    // The oracle states the closed-form verdicts from the planting
    // arithmetic — it never re-parses.
    "q146_robots_gate" -> ((s, dir) => {
      val d = docs(s, dir)
      val h = pmod(col("doc_id"), lit(20)).cast("string")
      val v = pmod(col("doc_id"), lit(6))
      val ids = col("doc_id").cast("string")
      val urls = d.select(col("doc_id"),
        concat(lit("https://example"), h, lit(".com"),
          when(v === 0, concat(lit("/q/"), ids))
            .when(v === 1, concat(lit("/private/x"), ids))
            .when(v === 2, concat(lit("/private/ok/"), ids))
            .when(v === 3, concat(lit("/ok/"), ids))
            .when(v === 4, concat(lit("/tmp"), ids, lit(".html")))
            .otherwise(concat(lit("/q/ok/"), ids))).as("url"))
      val robots = d.select(pmod(col("doc_id"), lit(20)).as("dnum"))
        .distinct()
        .select(
          concat(lit("example"), col("dnum").cast("string"),
            lit(".com")).as("domain"),
          concat(
            lit("# crawl policy\nUser-agent: badbot\nDisallow: /\n\n" +
              "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
              "Disallow: /tmp*.html$\n"),
            when(pmod(col("dnum"), lit(4)) === 0,
              lit("\nUser-agent: graftbot\nDisallow: /q\nAllow: /q/ok\n"))
              .otherwise(lit(""))).as("robots_txt"))
      UrlNormalize.robotsGate(urls, "doc_id", "url", robots, "graftbot")
    }),

    // Crawl-delay extraction (UrlNormalize.crawlDelay): the per-host
    // politeness interval a crawl scheduler feeds its token bucket.
    // Planting: every domain's * group publishes delay dnum%5+1;
    // every 4th domain adds an exact graftbot group with delay 0.5
    // (exact tier must SUPPRESS the * value); every domain with
    // dnum%5==2 adds a second * value 10 (largest-wins rule) and a
    // non-numeric decoy that must be ignored; dnum%7==6 domains
    // (outside the exact tier) publish no * delay and must be absent
    "q152_crawl_delay" -> ((s, dir) => {
      val d = docs(s, dir)
      val robots = d.select(pmod(col("doc_id"), lit(20)).as("dnum"))
        .distinct()
        .select(
          concat(lit("example"), col("dnum").cast("string"),
            lit(".com")).as("domain"),
          concat(
            lit("User-agent: *\nDisallow: /private\n"),
            when(pmod(col("dnum"), lit(7)) === 6, lit(""))
              .otherwise(concat(lit("Crawl-delay: "),
                (pmod(col("dnum"), lit(5)) + 1).cast("string"),
                lit("\n"))),
            when(pmod(col("dnum"), lit(5)) === 2,
              lit("Crawl-delay: 10\nCrawl-delay: fast\n"))
              .otherwise(lit("")),
            when(pmod(col("dnum"), lit(4)) === 0,
              lit("\nUser-agent: graftbot\nCrawl-delay: 0.5\n"))
              .otherwise(lit(""))).as("robots_txt"))
      UrlNormalize.crawlDelay(robots, "domain", "robots_txt", "graftbot")
    }),

    // per-host politeness schedule (UrlNormalize.politenessSchedule):
    // the q146 URL surface slotted under the q152 delay table — each
    // URL gets its host-local slot (content-hash order, the
    // deterministic crawl order) and a relative fetch time
    // slot × delay, hosts without a published delay at the 1.0s
    // default; one host-keyed window + a broadcast delay join
    "q156_crawl_schedule" -> ((s, dir) => {
      val d = docs(s, dir)
      val h = pmod(col("doc_id"), lit(20)).cast("string")
      val v = pmod(col("doc_id"), lit(6))
      val ids = col("doc_id").cast("string")
      val urls = d.select(col("doc_id"),
        concat(lit("https://example"), h, lit(".com"),
          when(v === 0, concat(lit("/q/"), ids))
            .when(v === 1, concat(lit("/private/x"), ids))
            .when(v === 2, concat(lit("/private/ok/"), ids))
            .when(v === 3, concat(lit("/ok/"), ids))
            .when(v === 4, concat(lit("/tmp"), ids, lit(".html")))
            .otherwise(concat(lit("/q/ok/"), ids))).as("url"))
      val robots = d.select(pmod(col("doc_id"), lit(20)).as("dnum"))
        .distinct()
        .select(
          concat(lit("example"), col("dnum").cast("string"),
            lit(".com")).as("domain"),
          concat(
            lit("User-agent: *\nDisallow: /private\n"),
            when(pmod(col("dnum"), lit(7)) === 6, lit(""))
              .otherwise(concat(lit("Crawl-delay: "),
                (pmod(col("dnum"), lit(5)) + 1).cast("string"),
                lit("\n"))),
            when(pmod(col("dnum"), lit(5)) === 2,
              lit("Crawl-delay: 10\nCrawl-delay: fast\n"))
              .otherwise(lit("")),
            when(pmod(col("dnum"), lit(4)) === 0,
              lit("\nUser-agent: graftbot\nCrawl-delay: 0.5\n"))
              .otherwise(lit(""))).as("robots_txt"))
      val delays = UrlNormalize.crawlDelay(robots, "domain",
        "robots_txt", "graftbot")
      UrlNormalize.politenessSchedule(urls, "doc_id", "url", delays)
    }),

    // q156 AS A LIVE FRONTIER (CrawlStream.politenessStream): URLs
    // arrive in four pinned micro-batches (one file per trigger,
    // arrival order fixed by the writeArrivalBatches mtime contract)
    // and each host's next free slot SURVIVES across batches in
    // flatMapGroupsWithState — 8 bytes of state per host, never the
    // URLs. Slot order is (arrival batch, content-hash, id): the
    // batch scheduler's order refined by arrival time, because slots
    // already handed to a fetcher can never renumber. The oracle is
    // the q156 window with the batch key prepended to its ORDER BY
    "q166_stream_schedule" -> ((s, dir) => {
      val d = docs(s, dir)
      val h = pmod(col("doc_id"), lit(20)).cast("string")
      val v = pmod(col("doc_id"), lit(6))
      val ids = col("doc_id").cast("string")
      val urls = d.select(col("doc_id"),
        concat(lit("https://example"), h, lit(".com"),
          when(v === 0, concat(lit("/q/"), ids))
            .when(v === 1, concat(lit("/private/x"), ids))
            .when(v === 2, concat(lit("/private/ok/"), ids))
            .when(v === 3, concat(lit("/ok/"), ids))
            .when(v === 4, concat(lit("/tmp"), ids, lit(".html")))
            .otherwise(concat(lit("/q/ok/"), ids))).as("url"),
        pmod(col("doc_id"), lit(4)).as("bseq"))
      val arrivalDir = fixtureDir("graft_stream_sched", dir)
      // fixture memoized per JVM (the q191 pattern): repeated bench and
      // verify passes re-drain the same pinned arrival blocks instead
      // of re-writing them (4 coalesce(1) writes + mtime pinning)
      Scratch.memo(arrivalDir)(p =>
        graft.streaming.CrawlStream.writeArrivalBatches(urls, "bseq",
          p))
      val robots = d.select(pmod(col("doc_id"), lit(20)).as("dnum"))
        .distinct()
        .select(
          concat(lit("example"), col("dnum").cast("string"),
            lit(".com")).as("domain"),
          concat(
            lit("User-agent: *\nDisallow: /private\n"),
            when(pmod(col("dnum"), lit(7)) === 6, lit(""))
              .otherwise(concat(lit("Crawl-delay: "),
                (pmod(col("dnum"), lit(5)) + 1).cast("string"),
                lit("\n"))),
            when(pmod(col("dnum"), lit(5)) === 2,
              lit("Crawl-delay: 10\nCrawl-delay: fast\n"))
              .otherwise(lit("")),
            when(pmod(col("dnum"), lit(4)) === 0,
              lit("\nUser-agent: graftbot\nCrawl-delay: 0.5\n"))
              .otherwise(lit(""))).as("robots_txt"))
      val delays = UrlNormalize.crawlDelay(robots, "domain",
        "robots_txt", "graftbot")
      graft.streaming.CrawlStream.drainSchedule(s, arrivalDir, delays)
    }),

    // sitemap ingestion (UrlNormalize.sitemapUrls, sitemaps.org v0.9):
    // the crawl front-end's third standard input — each domain's
    // <urlset> inventory parsed to (domain, url, lastmod, priority)
    // rows, loc entity-decoded (&amp; planted in every URL), lastmod
    // NULL where the plant omits it, priority at the protocol's 0.5
    // default where absent. The XML is synthesized per domain from the
    // doc_id formula (sorted-struct collect, multi-line entries with
    // spec-legal whitespace inside <loc>), so the oracle states the
    // closed form — a parser that misreads any byte hash-mismatches
    "q168_sitemap_urls" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val ids = col("doc_id").cast("string")
      val locEsc = concat(lit("https://site"), dn, lit(".example/page/"),
        ids, lit("?a=1&amp;b="), pmod(col("doc_id"), lit(5)).cast("string"))
      val lastmod = when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit("\n    <lastmod>2026-02-"),
          (lit(10) + pmod(col("doc_id"), lit(18))).cast("string"),
          lit("</lastmod>"))).otherwise(lit(""))
      val prio = when(pmod(col("doc_id"), lit(4)) =!= 1,
        concat(lit("\n    <priority>0."),
          pmod(col("doc_id"), lit(10)).cast("string"),
          lit("</priority>"))).otherwise(lit(""))
      val entry = concat(lit("  <url>\n    <loc> "), locEsc,
        lit(" </loc>"), lastmod, prio, lit("\n  </url>"))
      val sitemaps = d.select(
          concat(lit("site"), dn, lit(".example")).as("domain"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"))
        .agg(concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
      UrlNormalize.sitemapUrls(sitemaps, "domain", "xml")
    }),

    // sitemapindex parse (UrlNormalize.sitemapIndexUrls): the
    // protocol's OTHER document kind — an index of CHILD sitemap
    // locations a 50k+-URL site publishes; this is where q171's
    // multi-file inventory comes from. Plant: one <sitemap> entry per
    // doc (loc entity-escaped, lastmod omitted every 3rd), PLUS the
    // q168-style urlset corpus as a DECOY — the two parsers are
    // element-disjoint, so the urlset docs must contribute ZERO index
    // rows (and vice versa, spec-pinned)
    "q180_sitemap_index" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val ids = col("doc_id").cast("string")
      val locEsc = concat(lit("https://site"), dn,
        lit(".example/sitemaps/part"), ids, lit(".xml.gz?x=1&amp;y="),
        pmod(col("doc_id"), lit(3)).cast("string"))
      val lastmod = when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit("\n    <lastmod>2026-03-"),
          (lit(10) + pmod(col("doc_id"), lit(18))).cast("string"),
          lit("</lastmod>"))).otherwise(lit(""))
      val entry = concat(lit("  <sitemap>\n    <loc> "), locEsc,
        lit(" </loc>"), lastmod, lit("\n  </sitemap>"))
      val index = d.select(
          concat(lit("site"), dn, lit(".example")).as("domain"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"))
        .agg(concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</sitemapindex>")).as("xml"))
      // decoy: a urlset document per domain — must parse to NOTHING
      val decoy = d.limit(50).select(
          concat(lit("decoy"), dn, lit(".example")).as("domain"),
          concat(lit("<urlset>\n  <url><loc>https://x.example/"), ids,
            lit("</loc></url>\n</urlset>")).as("xml"))
      UrlNormalize.sitemapIndexUrls(index.unionByName(decoy),
        "domain", "xml")
    }),

    // priority-driven frontier (UrlNormalize.prioritySchedule): the
    // politeness schedule ordered by the sitemap's OWN advisory
    // signals — (priority DESC, lastmod DESC NULLS LAST, hash) within
    // each host, so the freshest highest-priority pages fetch first.
    // Input is q168's parsed urlset verbatim (priority 0.5 default,
    // lastmod NULL plants included); delays from the q169 ladder
    // (even-numbered sites publish h+1). W3C datetimes compare
    // lexicographically == chronologically, so no timestamp parse
    "q181_priority_frontier" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val ids = col("doc_id").cast("string")
      val locEsc = concat(lit("https://site"), dn, lit(".example/page/"),
        ids, lit("?a=1&amp;b="), pmod(col("doc_id"), lit(5)).cast("string"))
      val lastmod = when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit("\n    <lastmod>2026-02-"),
          (lit(10) + pmod(col("doc_id"), lit(18))).cast("string"),
          lit("</lastmod>"))).otherwise(lit(""))
      val prio = when(pmod(col("doc_id"), lit(4)) =!= 1,
        concat(lit("\n    <priority>0."),
          pmod(col("doc_id"), lit(10)).cast("string"),
          lit("</priority>"))).otherwise(lit(""))
      val entry = concat(lit("  <url>\n    <loc> "), locEsc,
        lit(" </loc>"), lastmod, prio, lit("\n  </url>"))
      val sitemaps = d.select(
          concat(lit("site"), dn, lit(".example")).as("domain"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"))
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
      val sm = UrlNormalize.sitemapUrls(sitemaps, "domain", "xml")
      val delays = d.select(pmod(col("doc_id"), lit(7)).as("h")).distinct()
        .select(
          concat(lit("site"), col("h").cast("string"), lit(".example"))
            .as("domain"),
          when(col("h") % 2 === 0, (col("h") + 1).cast("double"))
            .as("crawl_delay"))
      UrlNormalize.prioritySchedule(sm, "url", "priority", "lastmod",
        delays)
    }),

    // the discovery BOOTSTRAP (UrlNormalize.robotsSitemaps): robots.txt
    // is the one canonical place a site publishes its sitemap
    // locations (the REP `Sitemap:` directive — group-independent,
    // any case, any count, absolute URLs only). The planting
    // exercises case variants, surrounding rule groups, a trailing
    // comment, and a RELATIVE decoy that must drop; every-3rd domain
    // publishes a second (CDN) location.
    "q187_robots_sitemaps" -> ((s, dir) => {
      val d = docs(s, dir)
      val hs = col("h").cast("string")
      val robots = d.select(pmod(col("doc_id"), lit(7)).as("h")).distinct()
        .select(
          concat(lit("site"), hs, lit(".example")).as("domain"),
          concat(lit("User-agent: *\nDisallow: /private\n"),
            when(col("h") % 2 === 0, concat(lit("Crawl-delay: "),
              (col("h") + 1).cast("string"), lit("\n")))
              .otherwise(lit("")),
            lit("SITEMAP: https://site"), hs,
            lit(".example/sitemap_index.xml # canonical\n"),
            lit("Sitemap: /relative/ignored.xml\n"),
            when(col("h") % 3 === 0,
              concat(lit("sitemap:   https://cdn"), hs,
                lit(".example/extra.xml\n"))).otherwise(lit("")))
            .as("robots_txt"))
      UrlNormalize.robotsSitemaps(robots, "domain", "robots_txt")
    }),

    // the FULL DISCOVERY CHAIN composed as one plan — the rung a crawl
    // actually starts from, with no location assumed known anywhere:
    // robots.txt (ONE parse: Sitemap bootstrap + verdict rules +
    // Crawl-delay) → fetch the published sitemapindex (the body join
    // stands in for the fetch) → child sitemap locations → fetch the
    // child urlsets → per-URL entries with advisory priority/lastmod
    // → robots verdict gate off the SAME policy → priority-ordered
    // politeness schedule with the SAME policy's delays. site3's
    // Disallow /page kills its whole inventory at the gate; /private
    // paths (doc_id%3==1) die everywhere; the schedule is q181's
    // window over the survivors.
    "q188_discovery_chain" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7)).cast("string")
      val ids = col("doc_id").cast("string")
      val hs = col("h").cast("string")
      val domains = d.select(pmod(col("doc_id"), lit(7)).as("h")).distinct()
      val robots = domains.select(
        concat(lit("site"), hs, lit(".example")).as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("h") === 3, lit("Disallow: /page\n")).otherwise(lit("")),
          when(col("h") % 2 === 0, concat(lit("Crawl-delay: "),
            (col("h") + 1).cast("string"), lit("\n"))).otherwise(lit("")),
          lit("Sitemap: https://site"), hs,
          lit(".example/sitemap_index.xml\n")).as("robots_txt"))
      // ONE robots parse: verdict rules + delays; the bootstrap reads
      // the same corpus with the line-level parser
      val policy = UrlNormalize.robotsPolicy(robots, "domain",
        "robots_txt", "graftbot").localCheckpoint()
      val boot = UrlNormalize.robotsSitemaps(robots, "domain", "robots_txt")
      // published index bodies, keyed by the bootstrap's URL: two
      // child sitemaps per domain (the 50k-entry split convention)
      val indexBodies = domains.select(
        concat(lit("https://site"), hs, lit(".example/sitemap_index.xml"))
          .as("sitemap_url"),
        concat(lit("<sitemapindex>\n  <sitemap><loc>https://site"), hs,
          lit(".example/sm0.xml</loc></sitemap>\n  <sitemap><loc>"),
          lit("https://site"), hs,
          lit(".example/sm1.xml</loc></sitemap>\n</sitemapindex>"))
          .as("xml"))
      val children = UrlNormalize.sitemapIndexUrls(
        boot.join(indexBodies, Seq("sitemap_url")), "domain", "xml")
      // published child urlsets (q181's entry forms), split doc_id%2
      val locEsc = concat(lit("https://site"), dn, lit(".example"),
        when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("/private/x"), ids))
        .otherwise(concat(lit("/page/"), ids, lit("?a=1&amp;b="),
          pmod(col("doc_id"), lit(5)).cast("string"))))
      val lastmod = when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit("\n    <lastmod>2026-02-"),
          (lit(10) + pmod(col("doc_id"), lit(18))).cast("string"),
          lit("</lastmod>"))).otherwise(lit(""))
      val prio = when(pmod(col("doc_id"), lit(4)) =!= 1,
        concat(lit("\n    <priority>0."),
          pmod(col("doc_id"), lit(10)).cast("string"),
          lit("</priority>"))).otherwise(lit(""))
      val entry = concat(lit("  <url>\n    <loc> "), locEsc,
        lit(" </loc>"), lastmod, prio, lit("\n  </url>"))
      val childBodies = d.select(
          concat(lit("https://site"), dn, lit(".example/sm"),
            pmod(col("doc_id"), lit(2)).cast("string"), lit(".xml"))
            .as("sitemap_url"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("sitemap_url"))
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
      val urls = UrlNormalize.sitemapUrls(
        children.select(col("domain"), col("sitemap_url"))
          .join(childBodies, Seq("sitemap_url")), "domain", "xml")
      val (allowed, _) = UrlNormalize.robotsVerdictCols(
        UrlNormalize.pathOf(col("url")), col("rules"))
      val gated = urls
        .join(broadcast(policy.select(col("domain"), col("rules"))),
          Seq("domain"), "left")
        .filter(allowed)
      UrlNormalize.prioritySchedule(gated, "url", "priority", "lastmod",
        policy.select(col("domain"), col("crawl_delay")))
    }),

    // the DISCOVERY→GATE→SCHEDULE frontier loop composed end-to-end:
    // per-domain sitemaps parsed (q168 machinery), each discovered URL
    // gated by the domain's robots policy (one parse, broadcast,
    // per-row verdict — the q149 rungs), survivors slotted under the
    // per-host politeness schedule with the policy's own Crawl-delay
    // (q156). Plant: odd ids sit under /private (killed everywhere),
    // site3 disallows /page too (whole-domain kill), even-numbered
    // sites publish Crawl-delay h+1. The oracle states the closed
    // form: survivors are even ids off site3, ranked by the url hash
    "q169_frontier_compose" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7))
      val ids = col("doc_id").cast("string")
      val path = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("/page/"), ids, lit("?a=1&amp;b="),
            pmod(col("doc_id"), lit(5)).cast("string")))
        .otherwise(concat(lit("/private/x"), ids))
      val entry = concat(lit("  <url><loc>https://site"),
        dn.cast("string"), lit(".example"), path, lit("</loc></url>"))
      val sitemaps = d.select(
          concat(lit("site"), dn.cast("string"), lit(".example"))
            .as("domain"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"))
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
      val sm = UrlNormalize.sitemapUrls(sitemaps, "domain", "xml")
      val robots = d.select(dn.as("h")).distinct().select(
        concat(lit("site"), col("h").cast("string"), lit(".example"))
          .as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("h") === 3, lit("Disallow: /page\n"))
            .otherwise(lit("")),
          when(col("h") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("h") + 1).cast("string"),
              lit("\n"))).otherwise(lit(""))).as("robots_txt"))
      val policy = UrlNormalize.robotsPolicy(robots, "domain",
        "robots_txt", "graftbot").localCheckpoint()
      val (allowed, _) = UrlNormalize.robotsVerdictCols(
        UrlNormalize.pathOf(col("url")), col("rules"))
      val gated = sm
        .join(broadcast(policy.select(col("domain"), col("rules"))),
          Seq("domain"), "left")
        .filter(allowed)
        .select(col("url")).withColumn("uid", col("url"))
      UrlNormalize.politenessSchedule(gated, "uid", "url",
          policy.select(col("domain"), col("crawl_delay")))
        .select(col("url"), col("host"), col("slot_idx"),
          col("fetch_at_s"))
    }),

    // q169 AS A LIVE DISCOVERY LOOP: each domain publishes TWO sitemap
    // files (the protocol's multi-file split), arriving over two
    // pinned micro-batches; every rung runs ON THE STREAM — the
    // urlset parse is stateless projections, the robots verdict a
    // stream-static broadcast join, and the politeness scheduler
    // carries each host's slot counter ACROSS the parts (q166's
    // state), so slots issued from part 0 never renumber when part 1
    // lands. Plant: /private paths (doc_id%3==1) killed everywhere,
    // site3 killed wholesale, parts split by doc_id%2 (independent of
    // the kills, so every host has survivors in BOTH parts). Oracle:
    // the q169 window with the part key prepended
    "q171_stream_frontier" -> ((s, dir) => {
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7))
      val ids = col("doc_id").cast("string")
      val path = when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("/private/x"), ids))
        .otherwise(concat(lit("/page/"), ids, lit("?a=1&amp;b="),
          pmod(col("doc_id"), lit(5)).cast("string")))
      val entry = concat(lit("  <url><loc>https://site"),
        dn.cast("string"), lit(".example"), path, lit("</loc></url>"))
      val parts = d.select(
          concat(lit("site"), dn.cast("string"), lit(".example"))
            .as("domain"),
          pmod(col("doc_id"), lit(2)).as("part"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"), col("part"))
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
        .select(col("part").as("bseq"), col("domain"), col("xml"))
      val arrivalDir = fixtureDir("graft_stream_front", dir)
      Scratch.memo(arrivalDir)(p =>
        graft.streaming.CrawlStream.writeArrivalBatches(parts, "bseq",
          p))
      val robots = d.select(dn.as("h")).distinct().select(
        concat(lit("site"), col("h").cast("string"), lit(".example"))
          .as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("h") === 3, lit("Disallow: /page\n"))
            .otherwise(lit("")),
          when(col("h") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("h") + 1).cast("string"),
              lit("\n"))).otherwise(lit(""))).as("robots_txt"))
      val policy = UrlNormalize.robotsPolicy(robots, "domain",
        "robots_txt", "graftbot").localCheckpoint()
      graft.streaming.CrawlStream.drainFrontier(s, arrivalDir, policy)
    }),

    // the discovery loop with RECRAWL DISCIPLINE (q171 × q162): the
    // q171 planting re-drained against a PUBLISHED seen-URL digest
    // state — survivors with doc_id%5==2 are pre-seeded as already
    // fetched (their md5 digests published as frontier_seen v0001),
    // the stream anti-probes every discovered URL against that state
    // before the scheduler, and the union'd state publishes back as
    // v0002. Oracle: the q171 window over the set minus the seen
    // plant — the anti gate re-ranks every host's slots
    "q178_frontier_recrawl" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = docs(s, dir)
      val dn = pmod(col("doc_id"), lit(7))
      val ids = col("doc_id").cast("string")
      val path = when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("/private/x"), ids))
        .otherwise(concat(lit("/page/"), ids, lit("?a=1&amp;b="),
          pmod(col("doc_id"), lit(5)).cast("string")))
      val entry = concat(lit("  <url><loc>https://site"),
        dn.cast("string"), lit(".example"), path, lit("</loc></url>"))
      val parts = d.select(
          concat(lit("site"), dn.cast("string"), lit(".example"))
            .as("domain"),
          pmod(col("doc_id"), lit(2)).as("part"),
          struct(col("doc_id"), entry.as("e")).as("se"))
        .groupBy(col("domain"), col("part"))
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(sort_array(collect_list(col("se"))),
            x => x.getField("e")), "\n"),
          lit("\n</urlset>")).as("xml"))
        .select(col("part").as("bseq"), col("domain"), col("xml"))
      val arrivalDir = fixtureDir("graft_stream_recrawl", dir)
      Scratch.memo(arrivalDir)(p =>
        graft.streaming.CrawlStream.writeArrivalBatches(parts, "bseq",
          p))
      val robots = d.select(dn.as("h")).distinct().select(
        concat(lit("site"), col("h").cast("string"), lit(".example"))
          .as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n"),
          when(col("h") === 3, lit("Disallow: /page\n"))
            .otherwise(lit("")),
          when(col("h") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("h") + 1).cast("string"),
              lit("\n"))).otherwise(lit(""))).as("robots_txt"))
      val policy = UrlNormalize.robotsPolicy(robots, "domain",
        "robots_txt", "graftbot").localCheckpoint()
      // the seen plant: already-fetched survivors, digests only —
      // published once (exists-guard) so repeated runs stay stable
      if (!ArtifactStore.exists(s, Scratch.artifactRoot, "frontier_seen",
          dir + "#recrawl", "v0001")) {
        val seenPlant = d
          .filter(pmod(col("doc_id"), lit(3)) =!= 1 &&
            pmod(col("doc_id"), lit(7)) =!= 3 &&
            pmod(col("doc_id"), lit(5)) === 2)
          .select(md5(concat(lit("https://site"), dn.cast("string"),
            lit(".example/page/"), ids, lit("?a=1&b="),
            pmod(col("doc_id"), lit(5)).cast("string"))).as("url_digest"))
        ArtifactStore.save(seenPlant, Scratch.artifactRoot,
          "frontier_seen", dir + "#recrawl", "v0001")
      }
      graft.streaming.CrawlStream.drainFrontierDedup(s, arrivalDir,
        policy, Scratch.artifactRoot, dir + "#recrawl", "v0001", "v0002")
    }),

    // one-parse robots POLICY (UrlNormalize.robotsPolicy): the q146
    // rule table AND the q152 Crawl-delay from a single parse of the
    // robots corpus — exploded flat so the driver can hash it. The
    // planting merges both fixtures' regimes: every domain's * group
    // carries the three q146-style rules and a q152-style delay
    // ladder; every 4th domain adds an exact graftbot group (rules
    // /q + /q/ok and delay 0.5) whose selection suppresses the *
    // values per directive type; badbot decoy group never applies
    "q155_robots_policy" -> ((s, dir) => {
      val d = docs(s, dir)
      val robots = d.select(pmod(col("doc_id"), lit(20)).as("dnum"))
        .distinct()
        .select(
          concat(lit("example"), col("dnum").cast("string"),
            lit(".com")).as("domain"),
          concat(
            lit("# crawl policy\nUser-agent: badbot\nDisallow: /\n\n" +
              "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
              "Disallow: /tmp*.html$\n"),
            when(pmod(col("dnum"), lit(7)) === 6, lit(""))
              .otherwise(concat(lit("Crawl-delay: "),
                (pmod(col("dnum"), lit(5)) + 1).cast("string"),
                lit("\n"))),
            when(pmod(col("dnum"), lit(5)) === 2,
              lit("Crawl-delay: 10\nCrawl-delay: fast\n"))
              .otherwise(lit("")),
            when(pmod(col("dnum"), lit(4)) === 0,
              lit("\nUser-agent: graftbot\nDisallow: /q\n" +
                "Allow: /q/ok\nCrawl-delay: 0.5\n"))
              .otherwise(lit(""))).as("robots_txt"))
      UrlNormalize.robotsPolicy(robots, "domain", "robots_txt", "graftbot")
        .select(col("domain"), explode(col("rules")).as("r"),
          col("crawl_delay"))
        .select(col("domain"), col("r.allow").as("allow"),
          col("r.rule_path").as("rule_path"),
          col("r.specificity").as("specificity"), col("crawl_delay"))
    }),

    // count-min sketch point queries (Sketches.cmsSketch/.cmsEstimate,
    // Cormode-Muthukrishnan 2005): the d×w counter matrix built from
    // the per-word exact-count aggregate, probed for every word with
    // exact count >= CmsProbeMin; the one-sided bound (est >= exact)
    // is pinned per probe and the deterministic hash rows let the
    // oracle replay the matrix exactly
    "q150_cms_counts" -> ((s, dir) => {
      val cnt = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("wd"))
        .filter(col("wd") =!= "")
        .groupBy("wd").agg(count(lit(1)).as("exact_n"))
      val sketch = graft.operators.Sketches
        .cmsSketch(cnt, "wd", "exact_n", CmsD, CmsW)
      val probes = cnt.filter(col("exact_n") >= CmsProbeMin)
      graft.operators.Sketches
        .cmsEstimate(sketch, probes, "wd", CmsD, CmsW)
        .join(probes, Seq("wd"))
        .select(col("wd").as("word"), col("exact_n"), col("cms_est"),
          (col("cms_est") >= col("exact_n")).as("within_bound"))
    }),

    // priority sampling (Duffield-Lund-Thorup JACM'07; Sampling
    // .prioritySample): exactly PriorityK docs per language, drawn
    // without replacement ∝ n_chars, with the scheme's unbiased
    // subset-sum estimator (weight_est = max(w, τ)). The ranking key
    // is one IEEE-exact division — no pow/ln on the cut boundary
    "q148_priority_sample" -> ((s, dir) =>
      Sampling.prioritySample(docs(s, dir), "doc_id", "lang",
        col("n_chars"), PriorityK)),

    "q32_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", MinhashK)),

    "q33_minhash_lsh_pairs" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", MinhashK),
        "doc_id", MinhashK, MinhashBands, MinhashMaxBucket)),

    // same components as CC over minhashCandidatePairs, via per-bucket
    // star edges — O(#docs x bands) edges, never the quadratic pairs.
    // This is the PRODUCER of the shared components stage: it always
    // recomputes (honest cost under repeated measurement) and leaves
    // the materialized table behind for the consumers (q82, q100) —
    // the one-build-many-reads shape a 100 TB pipeline runs.
    "q67_dedup_clusters" -> ((s, dir) =>
      Dedup.buildComponents(docs(s, dir), dir, "doc_id", "text",
        MinhashK, MinhashBands, Some(MinhashVerifyAgree))),

    // leakage-safe train/valid/test split: the split decision is keyed
    // on the duplicate-CLUSTER id, not the doc id, so two near-dup
    // documents can never land on opposite sides of a train/test
    // boundary (the classic eval-contamination mistake). Singleton
    // docs (no cluster) key on their own id. Pure composition:
    // the shared materialized components stage (Dedup.componentsOf)
    // + hashSplit over the component.
    "q100_leak_safe_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val comps = Dedup.componentsOf(d, dir, "doc_id", "text",
        MinhashK, MinhashBands, Some(MinhashVerifyAgree))
      Sampling.hashSplit(
          d.select("doc_id").join(comps, Seq("doc_id"), "left")
            .withColumn("component",
              coalesce(col("component"), col("doc_id"))),
          "component", Splits)
        .select("doc_id", "component", "split")
    }),

    // canonical survivor per duplicate cluster (Dedup.canonicalPerCluster):
    // the last dedup stage — clusters from CC, one winner each by
    // (longest text, lowest id), cluster size carried along
    "q82_canonical_docs" -> ((s, dir) => {
      val comps = Dedup.componentsOf(docs(s, dir), dir, "doc_id", "text",
        MinhashK, MinhashBands, Some(MinhashVerifyAgree))
      Dedup.canonicalPerCluster(comps,
          docs(s, dir).select(col("doc_id"), col("text")), "doc_id",
          Seq(length(col("text")).desc, col("doc_id").asc))
        .select(col("component"), col("doc_id").as("keep_id"),
          col("n_members"), length(col("text")).as("keep_len"))
    }),

    "q34_simhash" -> ((s, dir) =>
      Dedup.simhash60(docs(s, dir), "doc_id", "text")),

    "q35_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash60(docs(s, dir), "doc_id", "text"),
        "doc_id", SimhashMaxHamming, SimhashMaxBucket)),

    "q36_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text",
        NgramN, NgramMaxDocFreq, NgramMinJaccard)),

    "q37_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(embs(s, dir), "vec_id", "embedding",
        col("vec_id") < 10, TopK)),

    // IVF over TRAINED k-means cells (not the metadata `label`
    // partition — measured 1.6x the recall at the same probe budget).
    // The cell table is a memoized trained artifact (Similarity
    // .cellsOf): trained once per corpus, probed by every query —
    // the production coarse-quantizer lifecycle.
    "q38_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      val cells = Similarity.cellsOf(e, dir, "vec_id", "embedding",
        KmeansK, KmeansIters)
      Similarity.ivfTopK(e.join(cells, Seq("vec_id")), "vec_id",
        "embedding", "cell", col("vec_id") < 10, TopK, IvfProbes)
    }),

    // the cross-SESSION half of the cellsOf lifecycle: train (memo),
    // PUBLISH to the versioned artifact store, load the snapshot back
    // through the partition-pruned scan, and probe IVF from the
    // LOADED cells. Oracle-equal to q38 (same annIvfSql), which IS
    // the probe-from-loaded ≡ probe-from-memo proof — both probes
    // hash against one oracle; ArtifactStoreSpec additionally pins
    // direct frame equality and the pruned plan.
    "q158_artifact_roundtrip" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val e = embs(s, dir)
      val cells = Similarity.cellsOf(e, dir, "vec_id", "embedding",
        KmeansK, KmeansIters)
      val root = artifactRoot
      ArtifactStore.save(cells, root, "kmeans_cells", dir, "v0001")
      val loaded = ArtifactStore.load(s, root, "kmeans_cells", dir, "v0001")
      Similarity.ivfTopK(e.join(loaded, Seq("vec_id")), "vec_id",
        "embedding", "cell", col("vec_id") < 10, TopK, IvfProbes)
    }),

    // cell-scoped embedding near-dup pairs over the TRAINED quantizer
    // (the same memoized cellsOf artifact q38 probes and q114 dedups
    // in): measured pair recall at the registry threshold is 0.275
    // over trained cells vs 0.104 over the arbitrary metadata labels
    // (SimilarityRecallSpec) — same act-on-the-measurement as q38's
    // round-8 move; the within-one-cell scope itself is the
    // documented SemDeDup design
    "q43_embed_neardup" -> ((s, dir) => {
      val e = embs(s, dir)
      // SRP subdivision keeps leaf cells ~63 vectors while Lloyd
      // training stays fixed-k linear; depth 0 at the sf0.01 gate
      // (oracle-exact), depth 9 at 100x where the raw 8 cells hold a
      // probed 2.5e9 intra-cell pairs (SCALE.md round-9). The refined
      // cell table is ONE memoized artifact — the pair self-join's
      // branches read a checkpointed (id, cell) scan, never re-running
      // the join + SRP expression (round-12: 3.1s -> ~0.6s steady)
      val refined = Similarity.refinedCellsOf(e, dir, "vec_id",
        "embedding", KmeansK, KmeansIters, EmbeddingDim)
      Similarity.nearDupPairs(e.join(refined, Seq("vec_id")),
        "vec_id", "embedding", "cell", NearDupMinCos)
    }),

    // SemDeDup semantic dedup (Similarity.semanticDedup): the
    // embedding twin of the MinHash gate — paraphrase-level dups the
    // lexical family can't see, bucketed by the SAME trained coarse
    // quantizer q38 probes (one artifact, two consumers), O(n²/k)
    // within-cell pairs instead of all-pairs
    "q114_semantic_dedup" -> ((s, dir) => {
      val e = embs(s, dir)
      // the within-cell pair stage is O(Σ cell²), so at web scale the
      // cluster count must grow with the corpus (SemDeDup runs ~50k
      // clusters); the registry query keeps KmeansK, the k its oracle
      // checks
      // same refined-artifact shape as q43: leaf ~63 vectors at any
      // scale, depth 0 (oracle-exact cell ids) at the sf0.01 gate; the
      // dedup self-join reads the checkpointed (id, cell) table
      val refined = Similarity.refinedCellsOf(e, dir, "vec_id",
        "embedding", KmeansK, KmeansIters, EmbeddingDim)
      Similarity.semanticDedup(e.join(refined, Seq("vec_id")),
          "vec_id", "embedding", "cell", SemDedupTau)
        .select(col("vec_id"), col("cell"), col("label"))
    }),

    // hard per-domain cap (Sampling.capPerGroup): C4/Gopher-style
    // host balancing — at most DomainCapK docs per source, winners in
    // content-hash order; WindowGroupLimit prunes map-side so the
    // shuffle carries O(groups·k) rows
    "q113_domain_cap" -> ((s, dir) =>
      Sampling.capPerGroup(
        docs(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", DomainCapK)),

    // edit-distance join via FastSS deletion-neighborhood blocking
    // (operators/Fuzzy): entity resolution for near-identical records
    // — a planted one-char-deletion misspelling of every part name is
    // matched back against the clean names through an equi-join on
    // deletion variants + exact levenshtein verify; the oracle is the
    // naive cross join the operator exists to avoid. Names get the
    // partkey appended to be (near-)unique — raw p_name has only ~64
    // distinct values, which would make the TRUE ANSWER itself
    // quadratic (every dirty copy of a name within distance 1 of every
    // clean copy), a degenerate workload no blocking scheme can save
    "q111_fuzzy_join" -> ((s, dir) => {
      val part = Tables.load(s, dir, "part")
      val uname = concat(col("p_name"), lit("-"),
        col("p_partkey").cast("string"))
      val clean = part.select(col("p_partkey").as("clean_id"),
        uname.as("name"))
      val k = pmod(col("p_partkey"), length(uname)) + 1
      val dirty = part.select(col("p_partkey").as("dirty_id"),
        concat(uname.substr(lit(1), k - 1),
          uname.substr(k + 1, length(uname)))
          .as("dirty_name"))
      graft.operators.Fuzzy.editDistanceJoin(
        dirty, "dirty_id", "dirty_name", clean, "clean_id", "name",
        maxDist = FuzzyMaxDist)
    }),

    // link-graph centrality (operators/Graph.pageRank): the
    // Common Crawl-style ranking signal a crawl pipeline weights
    // documents by. Bipartite supplier<->part link graph derived from
    // lineitem; 5 damped iterations, ranks rounded per round so the
    // unrolled-CTE oracle is bit-stable
    "q115_pagerank" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("sn"),
          (col("l_partkey").cast("long") + lit(PageRankPartOffset)).as("pn"))
      val edges = li.select(col("sn").as("src"), col("pn").as("dst"))
        .union(li.select(col("pn").as("src"), col("sn").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst",
        PageRankIters, PageRankDamping)
    }),

    // HITS hubs/authorities (Graph.hits) over the DIRECTED
    // supplier→part graph (q115 doubles it; here direction is the
    // point: suppliers can only be hubs, parts only authorities —
    // the bipartite structure HITS was designed to expose). Same
    // round-each-iteration determinism contract as q115; the oracle
    // unrolls identical max-normalized CTEs
    "q147_hits" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + lit(PageRankPartOffset)).as("dst"))
      graft.operators.Graph.hits(li, "src", "dst", HitsIters)
    }),

    // BM25 ranked retrieval for a literal probe query
    // (TextAnalysis.bm25): the data-selection scorer — explode is
    // pruned to query terms at the scan, corpus stats ride one
    // broadcast row
    "q116_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
        Bm25Terms, Bm25K1, Bm25B)),

    // Gopher-family repetition signals (TextAnalysis.repetitionSignals):
    // per-row array expressions, no explode, no shuffle
    "q78_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", "text")),

    // corpus-wide n-gram counts with a frequency floor
    // (TextAnalysis.ngramCounts): one explode + one hash aggregate
    "q79_ngram_counts" -> ((s, dir) =>
      TextAnalysis.ngramCounts(docs(s, dir), "text", NgramCountN, NgramCountMin)),

    // per-source corpus statistics (TextAnalysis.corpusStats): the
    // dataset-card numbers — doc counts, word-length quantiles, and
    // language-distribution entropy per source; counts-only shuffles
    "q98_corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(docs(s, dir), "source", "text", "lang")),

    // bigram-LM quality score (TextAnalysis.ngramLmScore): the
    // CCNet-style perplexity proxy — avg log P(w2|w1) under the
    // corpus's own bigram counts; inverted-index joins, counts only
    // in the shuffle
    "q94_ngram_lm" -> ((s, dir) =>
      TextAnalysis.ngramLmScore(docs(s, dir), "doc_id", "text")),

    // C4 line-level cleaning (Html.cleanLines, Raffel et al. JMLR'20
    // §2.1) fed by the REAL upstream — extractText(keepLineBreaks)
    // over a planted HTML page whose <p> blocks become the lines:
    // a terminal-punct line (kept), the enable-javascript boilerplate
    // (dropped), a no-punctuation line (dropped), a 1-word line
    // (dropped), a second kept line, a kept line carrying WHATWG
    // numeric references (&#8217; dec, &#147;/&#148; win-1252 band),
    // plus page-kill plants (curly brace every 40th doc, lorem ipsum
    // every 30th+7) that erase the whole page. Oracle replays the
    // planting: 3 kept / 3 dropped per surviving page, entities
    // decoded. concat_ws skips the NULL plant slots
    "q141_c4_line_clean" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      def p(c: org.apache.spark.sql.Column) =
        concat(lit("<p>"), c, lit("</p>"))
      val planted = docs(s, dir).filter(size(ws) >= 18)
        .select(col("doc_id"), concat_ws("",
          lit("<html><body><!-- gen -->"),
          p(concat(concat_ws(" ", slice(ws, 1, 6)), lit("."))),
          p(lit("please enable javascript to view this page.")),
          p(concat_ws(" ", slice(ws, 7, 6))),
          p(lit("ok.")),
          p(concat(concat_ws(" ", slice(ws, 13, 6)), lit("?"))),
          p(lit("yes it&#8217;s &#147;fine&#148; now.")),
          when(pmod(col("doc_id"), lit(40)) === 0, p(lit("function() {"))),
          when(pmod(col("doc_id"), lit(30)) === 7,
            p(lit("standard lorem ipsum passage here."))),
          lit("</body></html>")).as("html"))
      val page = planted.select(col("doc_id"),
        graft.operators.Html.extractText(col("html"), keepLineBreaks = true)
          .as("text"))
      graft.operators.Html.cleanLines(page, "doc_id", "text")
    }),

    // CCNet head/middle/tail perplexity terciles
    // (Sampling.perplexityBuckets, Wenzek et al. LREC'20 §4.4): tier
    // by GLOBAL RANK over (lm_score, doc_id) via the scalable
    // row-number machinery (q129) + exact integer tercile arithmetic
    // — no float quantile threshold to straddle engines
    "q140_perplexity_buckets" -> ((s, dir) =>
      Sampling.perplexityBuckets(docs(s, dir), "doc_id", "text")),

    // corpus-wide heavy hitters via sketch-prune + exact-verify
    // (TextAnalysis.heavyHitters): freqItems candidates (superset
    // guarantee, <= 1/support of them) exactly counted and filtered —
    // output is exact, so the oracle is the plain exact SQL
    "q110_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(docs(s, dir), "text", HeavySupport)),

    // cross-run incremental dedup (Dedup.incrementalDedup): new batch
    // probed against the SEEN corpus's compact state tables (content
    // digests + LSH bands) — exact and near dups dropped without
    // rescanning history. Here the state is derived in-query from the
    // deterministic doc_id%3 split so the oracle can replay it.
    "q95_incr_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val seen = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      val (digests, bands) = Dedup.dedupState(seen, "doc_id", "text",
        MinhashK, MinhashBands)
      Dedup.incrementalDedup(newBatch, "doc_id", "text", digests, bands,
          MinhashK, MinhashBands, Some(MinhashVerifyAgree))
        .select(col("doc_id"), col("n_chars"))
    }),

    // the cross-SESSION half of the q95 lifecycle (the q158 treatment
    // applied to CRAWL STATE): build the seen corpus's compact dedup
    // state, PUBLISH digests+bands to the versioned artifact store,
    // load both back through partition-pruned scans, and run the
    // incremental batch against the LOADED state. Oracle-equal to q95
    // (same incrDedupSql) — probe-from-loaded ≡ probe-from-memo;
    // ArtifactStoreSpec additionally pins direct frame equality and
    // the robots-policy analog
    "q162_state_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val seen = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      val root = artifactRoot
      val (digests, bands) = Dedup.dedupStatePublished(seen, root,
        dir + "#seen3", "v0001", "doc_id", "text", MinhashK, MinhashBands)
      Dedup.incrementalDedup(newBatch, "doc_id", "text", digests, bands,
          MinhashK, MinhashBands, Some(MinhashVerifyAgree))
        .select(col("doc_id"), col("n_chars"))
    }),

    // TF-IDF over the documents table (operators/TextAnalysis.tfidf):
    // inverted-index shuffle topology, corpus size as a broadcast
    // 1-row aggregate
    "q73_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")),

    // typed-Aggregator UDAF (functions/Centroid.scala): per-cluster
    // embedding centroid — IVF coarse-quantizer training; partial
    // buffers are (sum-vector, count), so the shuffle never carries
    // raw embeddings
    "q72_embed_centroid" -> ((s, dir) =>
      embs(s, dir)
        .groupBy((col("vec_id") % CentroidClusters).cast("int").as("cluster"))
        .agg(graft.functions.Centroid(col("embedding")).as("c"))
        .select(col("cluster"), posexplode(col("c")).as(Seq("dim0", "raw")))
        .select(col("cluster"), (col("dim0") + 1).as("dim"),
          round(col("raw"), 6).as("mean_val"))),

    // int8 embedding quantization (Similarity.quantizeInt8): checksum
    // projection (code sum + scale + max reconstruction error) keeps
    // the oracle exact while the full q_vec stays the stored form
    "q88_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(embs(s, dir), "vec_id", "embedding")
        .select(col("vec_id"),
          round(col("scale_max"), 6).as("scale_max"),
          expr("aggregate(q_vec, 0L, (a, x) -> a + x)").as("q_sum"),
          round(col("recon_err"), 6).as("recon_err"))),

    // auto-planes (round 9): planes = ceil(log2(n / 2)), which
    // instantiates to EXACTLY the oracle's LshPlanes=8 at the
    // driver's sf0.01 gate (500 vectors) and grows with the corpus —
    // the fixed-8-plane form kept a ~780-vector MEAN bucket at 100×
    // and spilled a multi-billion-row candidate set to disk
    // exhaustion (SCALE.md; a mean-bucket quadratic is what the
    // per-bucket cap cannot fix)
    "q57_ann_lsh" -> ((s, dir) =>
      Similarity.lshNearDupAuto(embs(s, dir), "vec_id", "embedding",
        EmbeddingDim, NearDupMinCos, LshTables,
        targetBucket = 2, minPlanes = LshPlanes, maxBucket = LshMaxBucket)),

    "q39_langid" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir), "doc_id", "text")),

    // TRAINED language profiles (TextAnalysis.trainLangProfiles):
    // per-language top-K trigram tables with descending-rank integer
    // weights, learned from the corpus's own labels — the lift from
    // the 5 baked q39 tables to profiles any labeled corpus can
    // produce. Corpus-sized work is one explode + (lang, gram) hash
    // aggregate; the rank filter runs as WindowGroupLimit over the
    // alphabet-bounded count frame
    "q176_lang_profiles" -> ((s, dir) =>
      TextAnalysis.trainLangProfiles(docs(s, dir), "lang", "text",
        LangProfileTopK)),

    // language-ID through the PUBLISHED profile (kind lang_profiles):
    // train → save → pruned-scan load → score. The scorer is the same
    // one-pass codegen'd trigram machinery as q39, with the loaded
    // model riding the expression as a reference object — zero
    // shuffle over the scored corpus, the production asymmetry (label
    // once, score unlabeled crawls forever after)
    "q177_langid_trained" -> ((s, dir) => {
      val d = docs(s, dir)
      val prof = TextAnalysis.trainLangProfilesPublished(d,
        Scratch.artifactRoot, dir, "v0001", "lang", "text",
        LangProfileTopK)
      TextAnalysis.languageIdWith(d, "doc_id", "text", prof)
    }),

    "q40_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(docs(s, dir), "doc_id", "text")),

    "q41_tokenize" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")),

    "q42_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")),

    "q64_redact_pii" -> ((s, dir) =>
      TextAnalysis.redactPii(docs(s, dir), "doc_id", "text")),

    "q65_hash_split" -> ((s, dir) =>
      Sampling.hashSplit(
          Sampling.hashSample(docs(s, dir), "doc_id", SamplePct),
          "doc_id", Splits)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))),

    "q66_chunk_tokens" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(docs(s, dir), "doc_id", "text",
        ChunkMaxTokens, ChunkStride)),

    // benchmark-contamination gate (Dedup.contamination): per-train-doc
    // n-gram containment vs a held-out benchmark slice; the benchmark
    // side collapses to its distinct gram set (semi-join build side)
    "q87_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", ContamN)
    }),

    // embedding-level benchmark decontamination (Similarity
    // .semanticContamination): max IVF-probed cosine of each bench
    // vector against cells Lloyd-trained on the TRAIN slice — the
    // paraphrase-robust complement of q87's n-gram containment gate.
    // Bench/train derive from the deterministic vec_id%3 split so
    // the oracle replays training, probing, and threshold exactly
    "q145_semantic_decon" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.semanticContamination(
        e.filter(pmod(col("vec_id"), lit(3)) === 0 &&
          col("vec_id") < SemanticDeconBenchCap),
        e.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        "vec_id", "embedding", SemanticDeconT, KmeansK, KmeansIters,
        IvfProbes)
    }),

    // domain mixing to target proportions (operators/Sampling
    // .mixToTarget): per-source counts reduce to driver scalars, the
    // keep decision is a million-bucket content-hash threshold
    "q84_domain_mix" -> ((s, dir) =>
      Sampling.mixToTarget(docs(s, dir), "doc_id", "source", MixWeights)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))),

    // quality-weighted soft sampling (operators/Sampling
    // .weightedSample): keep probability proportional to a per-row
    // score — the soft-filter form of corpus quality filtering
    "q90_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(docs(s, dir), "doc_id",
          col("n_chars") / 300.0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))),

    // token-budget corpus assembly (operators/Sampling.tokenBudgetMix):
    // admit docs per source in content-hash order until the source's
    // share of the total token budget is reached — the form a training
    // run actually orders (N tokens at these mix weights)
    "q99_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetMix(docs(s, dir), "doc_id", "source",
          col("n_chars"), TokenMixWeights, TokenMixTotal)
        .select("doc_id", "source", "n_chars")),

    // per-stratum sampling rates (operators/Sampling.stratifiedSample):
    // language-balanced downsampling, still a narrow codegen'd filter
    "q75_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
          StratRates, StratDefaultPct)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))),

    // sequence packing after chunking (operators/TextAnalysis
    // .packSequences): shard-parallel contiguous fill, one shuffle on
    // the portable-hash shard key
    "q74_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(
        TextAnalysis.chunkByTokens(docs(s, dir), "doc_id", "text",
          ChunkMaxTokens, ChunkStride).drop("chunk_text"),
        "doc_id", "chunk_idx", "n_tokens", PackBudget, PackShards)),

    "q61_corpus_clean" -> ((s, dir) =>
      CorpusPipeline.clean(docs(s, dir), "doc_id", "text",
        CorpusPipeline.Config(CorpusLangs, CorpusMinWords, CorpusMinQuality,
          MinhashK, MinhashBands, Some(MinhashVerifyAgree),
          MinhashMaxBucket))),

    // the q61 cleaning composition with the language gate scored by
    // the PUBLISHED trained profile (q176/q177 machinery through the
    // artifact store) — the production shape: label once, clean every
    // crawl with the loaded model. The gate stays one shuffle-free
    // projection; only the argmax tie-break changes (lexicographic,
    // the trained convention). Oracle shares q61's whole tail
    "q182_corpus_clean_trained" -> ((s, dir) => {
      val d = docs(s, dir)
      val prof = TextAnalysis.trainLangProfilesPublished(d,
        Scratch.artifactRoot, dir + "#clean", "v0001", "lang", "text",
        LangProfileTopK)
      CorpusPipeline.clean(d, "doc_id", "text",
        CorpusPipeline.Config(CorpusLangs, CorpusMinWords, CorpusMinQuality,
          MinhashK, MinhashBands, Some(MinhashVerifyAgree),
          MinhashMaxBucket), Some(prof))
    }),

    // deterministic epoch shuffling via SCALABLE global row numbering
    // (Relational.globalRowNumber): each epoch's training order is
    // rank-by-hash — reproducible anywhere — and the rank is assigned
    // by range-repartition + per-partition offsets, NOT by the
    // row_number() window Spark would plan as a single-partition sort
    // (the classic 100 TB killer). One full-data shuffle total
    "q129_epoch_shuffle" -> ((s, dir) => {
      val withEpoch = docs(s, dir).select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(0), lit(1))))
      val keyed = withEpoch.withColumn("__h",
        PortableHash.hash60(concat_ws("-", col("epoch"), col("doc_id"))))
      graft.operators.Relational.globalRowNumber(
          keyed, Seq("epoch", "__h", "doc_id"), "shuffle_rank")
        .select(col("doc_id"), col("epoch"), col("shuffle_rank"))
    }),

    // distributed BPE merge learning (Bpe.train): corpus-sized work is
    // ONE word-count aggregate; every merge iteration runs over the
    // vocabulary table and the chosen pair rides a 1-row broadcast
    // into the rewrite — tokenizer training whose per-iteration cost
    // is independent of corpus size
    "q122_bpe_train" -> ((s, dir) =>
      graft.operators.Bpe.train(docs(s, dir), "text", BpeMerges, BpeMinPair)),

    // tokenize with the trained merges (Bpe.encode): the merge table
    // is a MODEL artifact (≤ BpeMerges rows) folded into one codegen'd
    // replace chain over the vocabulary; word→token-count broadcasts
    // back onto the corpus — per-doc BPE token counts. The ENCODE
    // corpus plants two OOV words (x/7/z are outside the train
    // alphabet) to pin the OOV contract: unknown characters pass
    // through as unmergeable single-char tokens, encode total
    "q123_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Bpe.encode(
        d.withColumn("text", concat(col("text"), lit(OovPlant))),
        "doc_id", "text",
        graft.operators.Bpe.train(d, "text", BpeMerges, BpeMinPair))
    }),

    // BYTE-LEVEL BPE training (Bpe.trainBytes) — the production
    // pre-tokenization (GPT-2 lineage): merges learned over UTF-8
    // byte tokens (2-hex-digit strings), so the trained model can
    // encode ANY text with no OOV contract at all. Same scale shape
    // as q122: one corpus-sized word-count aggregate, vocab-sized
    // merge iterations, 1-row broadcast rewrites
    "q174_bytebpe_train" -> ((s, dir) =>
      graft.operators.Bpe.trainBytes(docs(s, dir), "text",
        BpeMerges, BpeMinPair)),

    // byte-level encode THROUGH the published artifact (kind
    // bpe_byte_merges): train → save → pruned-scan load → encode, the
    // cross-session lifecycle. The encode corpus plants MULTI-BYTE
    // characters (2- and 3-byte UTF-8) on top of the ASCII OOV words —
    // the byte family's whole point: they seed as byte tokens and
    // encode totally, no UNK row anywhere
    "q175_bytebpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.operators.Bpe.trainBytesPublished(d,
        Scratch.artifactRoot, dir, "v0001", "text", BpeMerges, BpeMinPair)
      graft.operators.Bpe.encodeBytes(
        d.withColumn("text",
          concat(col("text"), lit(OovPlant), lit(ByteOovPlant))),
        "doc_id", "text", merges)
    }),

    // unigram-LM tokenizer training (UnigramLm.train) — the OTHER
    // production tokenizer family next to BPE: substring seed vocab,
    // then deterministic Viterbi hard-EM (segment under rounded
    // log-probs, re-count, prune to the target keeping the alphabet).
    // Corpus-sized work is the same ONE word-count aggregate as q122;
    // the EM iterations run over the model-sized vocab with the score
    // table broadcast
    "q159_unigram_train" -> ((s, dir) =>
      graft.operators.UnigramLm.train(docs(s, dir), "text",
        maxPieceLen = 4, seedTop = UnigramSeedTop,
        keepMulti = UnigramKeepMulti, iters = UnigramIters)),

    // tokenize with the trained unigram-LM vocab (UnigramLm.encode):
    // the q123 complement — the vocab is a model artifact folded into
    // one more broadcast-scored Viterbi pass over the vocabulary
    // table; per-doc token counts join back at scan throughput. The
    // ENCODE corpus plants the same OOV words as q123 to pin the UNK
    // contract: each character outside the trained alphabet segments
    // as its own UNK piece at the floor score — encode total, one
    // token per OOV character (the ADVICE r12 viterbi-backwalk crash
    // class, now structurally impossible)
    "q160_unigram_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.UnigramLm.encode(
        d.withColumn("text", concat(col("text"), lit(OovPlant))),
        "doc_id", "text",
        graft.operators.UnigramLm.train(d, "text",
          maxPieceLen = 4, seedTop = UnigramSeedTop,
          keepMulti = UnigramKeepMulti, iters = UnigramIters),
        maxPieceLen = 4)
    }),

    // WordPiece merge learning (WordPiece.train) — the THIRD tokenizer
    // family: BPE's merge chain re-priced by the likelihood-gain
    // criterion cnt(pair)/(cnt(l)*cnt(r)), one extra vocab-sized
    // token-count aggregate per round. The score is a single IEEE
    // division of exact integers, so the merge choice and the output
    // column are bit-identical across engines with NO rounding
    // firewall — the one tokenizer whose floats need no round()
    "q163_wordpiece_train" -> ((s, dir) =>
      graft.operators.WordPiece.train(docs(s, dir), "text",
        BpeMerges, BpeMinPair)),

    // tokenize with the trained WordPiece vocabulary
    // (WordPiece.encode): greedy longest-match-first (BERT max-match)
    // over the DISTINCT merged pieces — NOT a merge-chain replay; the
    // vocab broadcasts as a set and one pass over distinct words
    // assigns token counts. Same OOV plant as q123/q160: an unknown
    // character never matches a piece and advances one position for
    // one token, so encode is total on any corpus
    "q164_wordpiece_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.WordPiece.encode(
        d.withColumn("text", concat(col("text"), lit(OovPlant))),
        "doc_id", "text",
        graft.operators.WordPiece.train(d, "text", BpeMerges, BpeMinPair))
    }),

    // CCNet perplexity filtering from a PUBLISHED language model
    // (UnigramLm.docScore, Wenzek et al. LREC'20 §4.3): q140 scores
    // docs with the corpus's OWN bigram counts; this is the production
    // form — the LM is a versioned artifact (train → publish → load
    // through the pruned scan → score), the shape a months-long
    // pipeline reuses across crawls. Per-doc log-prob sums run in
    // integer MICRO-NATS (piece score × 1e6, exact at 6 dp), so the
    // result is bit-identical under any partitioning with no
    // float-summation firewall; OOV words sink to the tail (the
    // planted OOV docs are exactly the filter's target). Terciles via
    // the q140 global-rank integer arithmetic — no single-partition
    // sort, no float quantile threshold
    "q165_unigram_ppl" -> ((s, dir) => {
      import graft.sources.ArtifactStore
      val d = docs(s, dir)
      val root = artifactRoot
      val vocab = graft.operators.UnigramLm.train(d, "text",
        maxPieceLen = 4, seedTop = UnigramSeedTop,
        keepMulti = UnigramKeepMulti, iters = UnigramIters)
      ArtifactStore.save(vocab, root, "unigram_vocab", dir, "v0001")
      val loaded = ArtifactStore.load(s, root, "unigram_vocab", dir, "v0001")
      val scored = graft.operators.UnigramLm.docScore(
        d.withColumn("text", concat(col("text"), lit(OovPlant))),
        "doc_id", "text", loaded, maxPieceLen = 4)
        .withColumn("avg_lp",
          col("lp_micros").cast("double") / col("n_tokens"))
      val ranked = graft.operators.Relational.globalRowNumber(
        scored, Seq("avg_lp", "doc_id"), "__rn")
      ranked.crossJoin(broadcast(ranked.agg(max(col("__rn")).as("__n"))))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          col("lp_micros"), col("avg_lp"),
          expr("CASE ((__rn - 1) * 3) div __n WHEN 0 THEN 'tail' " +
            "WHEN 1 THEN 'middle' ELSE 'head' END").as("bucket"))
    }),

    // tokenizer FERTILITY comparison — the decision query a pipeline
    // runs before committing to a tokenizer family: train all three
    // (BPE count-criterion, WordPiece likelihood-criterion, unigram-LM
    // hard-EM) on the same corpus and measure tokens-per-word on the
    // same OOV-planted encode corpus. One corpus-sized word-count
    // aggregate per family; the three 5-row aggregates union. The
    // oracle composes the three families' full DP chains as subqueries
    "q167_tokenizer_fertility" -> ((s, dir) => {
      import graft.operators.{Bpe, UnigramLm, WordPiece}
      val d = docs(s, dir)
      val enc = d.withColumn("text", concat(col("text"), lit(OovPlant)))
      def fert(df: org.apache.spark.sql.DataFrame, fam: String) =
        df.agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("total_words"),
            sum(col("n_tokens")).as("total_tokens"))
          .select(lit(fam).as("family"), col("n_docs"),
            col("total_words"), col("total_tokens"),
            round(col("total_tokens").cast("double") / col("total_words"), 6)
              .as("fertility"))
      // All four families start from the SAME two corpus aggregates —
      // the train-side word counts and the encode-side (doc, word)
      // multiplicities (guide §2.4: shared exchange). Computed once,
      // checkpointed, fed to the FromCounts/FromShared entry points:
      // round 17 collapsed 8 corpus scans + 8 word shuffles into 2,
      // with row-identical output (encode's count-over-instances ≡
      // sum-over-multiplicities; trains are projections of the shared
      // counts). The encode word totals derive from the doc frame
      // (vocab-sized aggregate), not a third corpus pass.
      val wc = Bpe.wordCounts(d, "text").localCheckpoint(true)
      // the shared encode frame is WORD-keyed everywhere it is read —
      // the four per-family encode joins and the word-totals aggregate
      // below — so it checkpoints through the size-gated
      // partitionedBarrier on `word` (round 18, guide §2.4): at real
      // scale the four joins and the aggregate reuse one recorded
      // layout instead of re-exchanging dw per family; below the pin
      // gate (sf0.1) this is exactly the former localCheckpoint
      val dw = graft.operators.GraftCheckpoint.partitionedBarrier(
        Bpe.docWordCounts(enc, "doc_id", "text"), Seq("word"))
      val wcE = dw.groupBy(col("word")).agg(sum(col("__c")).as("wcount"))
        .localCheckpoint(true)
      // The four trainings are INDEPENDENT chains of small driver-
      // round-trip jobs (8 merge rounds / 2 EM sweeps each) over the
      // shared checkpointed counts — run them from a driver thread
      // pool (guide §2.6: overlap independent jobs) so one family's
      // per-round scheduling latency back-fills the others'. Each
      // train is deterministic in isolation (no shared mutable state;
      // the session is thread-safe for job submission), so the merge
      // tables — and the query's rows — are identical to the serial
      // form. The four encodes stay lazy: they fuse into the one
      // consumer action, which Spark already runs as one job.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val (mBpe, mBbpe, vUni, mWp) =
        try {
          val f1 = Future(Bpe.trainFromCounts(wc, BpeMerges, BpeMinPair))
          val f2 = Future(Bpe.trainBytesFromCounts(wc, BpeMerges, BpeMinPair))
          val f3 = Future(UnigramLm.trainFromCounts(wc, maxPieceLen = 4,
            seedTop = UnigramSeedTop, keepMulti = UnigramKeepMulti,
            iters = UnigramIters))
          val f4 = Future(WordPiece.trainFromCounts(wc, BpeMerges, BpeMinPair))
          (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf),
            Await.result(f3, Duration.Inf), Await.result(f4, Duration.Inf))
        } finally pool.shutdown()
      val bpe = Bpe.encodeFromShared(dw, "doc_id", wcE, mBpe)
      val bbpe = Bpe.encodeFromShared(dw, "doc_id", wcE, mBbpe, bytes = true)
      val uni = UnigramLm.encodeFromShared(dw, "doc_id", wcE, vUni,
        maxPieceLen = 4)
      val wp = WordPiece.encodeFromShared(dw, "doc_id", wcE, mWp)
      fert(bpe, "bpe").unionByName(fert(bbpe, "byte_bpe"))
        .unionByName(fert(uni, "unigram"))
        .unionByName(fert(wp, "wordpiece"))
    })
  )

  // ---------- generated oracle SQL ----------

  private def h60(e: String): String = PortableHash.hash60Sql(e)

  private val chunkSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (SELECT doc_id,
       |  unnest(generate_series(0, greatest(
       |    CAST(ceil((len(ws) - $ChunkMaxTokens) / CAST($ChunkStride AS DOUBLE)) AS INTEGER), 0))) AS chunk_idx,
       |  ws FROM d)
       |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       |  array_to_string(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkMaxTokens], ' ') AS chunk_text,
       |  CAST(len(ws[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkMaxTokens]) AS INTEGER) AS n_tokens
       |FROM c""".stripMargin
  /** distinct (doc_id, word) pairs */
  private val wordsCte =
    "words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)"

  private val minhashSigsSelect: String = {
    val mins = (0 until MinhashK)
      .map(i => s"min(${PortableHash.hashFamilySql("w", i)}) AS mh_$i")
      .mkString(", ")
    s"SELECT doc_id, $mins FROM words GROUP BY doc_id"
  }

  private val minhashLshSql: String = {
    val rows = MinhashK / MinhashBands
    val bandBranches = (0 until MinhashBands).map { b =>
      val cols = ((b * rows) until ((b + 1) * rows)).map(i => s"mh_$i").mkString(", ")
      s"SELECT doc_id, '$b' AS band, concat_ws('-', $cols) AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH $wordsCte, sigs AS ($minhashSigsSelect), bands AS ($bandBranches),
       |capped AS (SELECT band, sig FROM bands GROUP BY band, sig
       |           HAVING count(*) <= $MinhashMaxBucket)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN capped USING (band, sig)
       |JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin
  }

  /** Oracle twin of q94, shared by q140: the operator's log-sum
    * identity (see the q94 map comment). */
  private val ngramLmOracleSql: String =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bgs AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg, ws[i] AS w1
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM d WHERE len(ws) >= 2)),
        |b1 AS (SELECT doc_id, bg, w1, count(*) AS m
        |  FROM bgs GROUP BY doc_id, bg, w1),
        |cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS c2 FROM b1 GROUP BY bg),
        |w1d AS (SELECT doc_id, w1, CAST(sum(m) AS BIGINT) AS mw
        |  FROM b1 GROUP BY doc_id, w1),
        |cu AS (SELECT w1, CAST(sum(mw) AS BIGINT) AS c1 FROM w1d GROUP BY w1),
        |s2 AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |    sum(CAST(m AS DOUBLE) * ln(CAST(c2 AS DOUBLE))) AS s2
        |  FROM b1 JOIN cb USING (bg) GROUP BY doc_id),
        |s1 AS (SELECT doc_id,
        |    sum(CAST(mw AS DOUBLE) * ln(CAST(c1 AS DOUBLE))) AS s1
        |  FROM w1d JOIN cu USING (w1) GROUP BY doc_id)
        |SELECT s2.doc_id, n_bigrams,
        |  round((s2 - s1) / n_bigrams, 6) AS lm_score
        |FROM s2 JOIN s1 USING (doc_id)""".stripMargin

  /** Oracle twin of q95: same md5 exact-drop, same seeded-minhash band
    * probe, over the same deterministic doc_id%3 corpus split. */
  private val incrDedupSql: String = {
    val rows = MinhashK / MinhashBands
    val mins = (0 until MinhashK)
      .map(i => s"min(${PortableHash.hashFamilySql("w", i)}) AS mh_$i")
      .mkString(", ")
    def bandSel(src: String) = (0 until MinhashBands).map { b =>
      val cols = ((b * rows) until ((b + 1) * rows)).map(i => s"mh_$i").mkString(", ")
      s"SELECT doc_id, '$b' AS band, concat_ws('-', $cols) AS sig FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH seen AS (SELECT * FROM documents WHERE doc_id % 3 != 0),
       |newb AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
       |selfd AS (SELECT doc_id, text, n_chars FROM (
       |  SELECT doc_id, text, n_chars,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM newb) WHERE rn = 1),
       |fresh AS (SELECT n.* FROM selfd n WHERE NOT EXISTS (
       |  SELECT 1 FROM seen s WHERE md5(s.text) = md5(n.text))),
       |sw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM seen),
       |fw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM fresh),
       |ss AS (SELECT doc_id, $mins FROM sw GROUP BY doc_id),
       |fs AS (SELECT doc_id, $mins FROM fw GROUP BY doc_id),
       |sb AS (${bandSel("ss")}),
       |fb AS (${bandSel("fs")}),
       |near AS (SELECT DISTINCT f.doc_id FROM fb f
       |  JOIN sb s2 ON f.band = s2.band AND f.sig = s2.sig
       |  JOIN fs a ON f.doc_id = a.doc_id
       |  JOIN ss b ON s2.doc_id = b.doc_id
       |  WHERE (${agreeSql("a", "b")}) >= $MinhashVerifyAgree)
       |SELECT doc_id, n_chars FROM fresh
       |WHERE NOT EXISTS (SELECT 1 FROM near WHERE near.doc_id = fresh.doc_id)""".stripMargin
  }

  /** `sum of (a.mh_i = b.mh_i)` over the k signature components —
    * the SQL twin of Dedup's integer signature-agreement estimator
    * (table aliases `a`/`b` must expose mh_ columns). */
  private def agreeSql(a: String, b: String): String =
    (0 until MinhashK)
      .map(i => s"(CASE WHEN $a.mh_$i = $b.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** Shared recursive-CTE prelude computing duplicate-cluster
    * reachability (`reach(node, comp)`) — the oracle twin of
    * [[Dedup.minhashComponents]] with edge VERIFICATION: the same
    * per-bucket star to the bucket-min center (NOT the candidate-pair
    * graph — star ≡ pairs only holds unverified), each edge kept only
    * when ≥ MinhashVerifyAgree of the k signature components match. */
  private val componentsCtes: String = {
    val rows = MinhashK / MinhashBands
    val bandBranches = (0 until MinhashBands).map { b =>
      val cols = ((b * rows) until ((b + 1) * rows)).map(i => s"mh_$i").mkString(", ")
      s"SELECT doc_id, '$b' AS band, concat_ws('-', $cols) AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH RECURSIVE $wordsCte, sigs AS ($minhashSigsSelect),
       |bands AS ($bandBranches),
       |centers AS (SELECT band, sig, min(doc_id) AS center FROM bands GROUP BY band, sig),
       |star AS (SELECT DISTINCT b.doc_id AS id_a, c.center AS id_b
       |  FROM bands b JOIN centers c ON b.band = c.band AND b.sig = c.sig
       |  WHERE b.doc_id != c.center),
       |vstar AS (SELECT id_a, id_b FROM star p
       |  JOIN sigs a ON p.id_a = a.doc_id JOIN sigs b ON p.id_b = b.doc_id
       |  WHERE (${agreeSql("a", "b")}) >= $MinhashVerifyAgree),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vstar
       |  UNION SELECT id_b, id_a FROM vstar),
       |reach AS (SELECT src AS node, src AS comp FROM edges
       |  UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin
  }

  private val simhashSigsSelect: String = {
    import graft.operators.Dedup.SimhashBits
    val sums = (0 until SimhashBits)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s_$j").mkString(", ")
    val sig = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s_$j > 0 THEN 1 ELSE 0 END * ${1L << j})").mkString(" + ")
    s"""SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM (
       |SELECT doc_id, $sums FROM (SELECT doc_id, ${PortableHash.hash60Sql("w")} AS h FROM words) GROUP BY doc_id)""".stripMargin
  }

  private val simhashPairsSql: String = {
    import graft.operators.Dedup.{SimhashChunks, SimhashChunkBits, SimhashChunkMask}
    val chunkBranches = (0 until SimhashChunks).map { c =>
      s"SELECT doc_id, simhash, '$c' AS chunk, (simhash >> ${c * SimhashChunkBits}) & $SimhashChunkMask AS v FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH $wordsCte, sigs AS ($simhashSigsSelect), chunks AS ($chunkBranches),
       |keep AS (SELECT chunk, v FROM chunks GROUP BY chunk, v
       |  HAVING count(*) >= 2 AND count(*) <= $SimhashMaxBucket),
       |k AS (SELECT c.* FROM chunks c JOIN keep USING (chunk, v))
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM k a JOIN k b ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id)
       |WHERE hamming <= $SimhashMaxHamming""".stripMargin
  }

  private val ngramJaccardSql: String = {
    val gramExpr = {
      val parts = (0 until NgramN).map(j => s"ws[i + $j]").mkString(", ")
      s"list_transform(generate_series(1, len(ws) - ${NgramN - 1}), i -> concat_ws(' ', $parts))"
    }
    s"""WITH g0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |grams AS (SELECT DISTINCT doc_id, unnest($gramExpr) AS g FROM g0 WHERE len(ws) >= $NgramN),
       |perdoc AS (SELECT doc_id, count(*) AS n_g FROM grams GROUP BY doc_id),
       |keep AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= $NgramMaxDocFreq),
       |f AS (SELECT grams.doc_id, grams.g FROM grams JOIN keep USING (g)),
       |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT id_a, id_b,
       |    round(CAST(shared AS DOUBLE) / (pa.n_g + pb.n_g - shared), 6) AS jaccard
       |  FROM shared JOIN perdoc pa ON pa.doc_id = id_a JOIN perdoc pb ON pb.doc_id = id_b)
       |WHERE jaccard >= $NgramMinJaccard""".stripMargin
  }

  /** Cosine written as dot/norms (sequential list_dot_product) rather
    * than list_cosine_similarity, to mirror Spark's zip_with+aggregate
    * summation order exactly. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val cosineTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT query_id, neighbor_id, round(${cosSql("qv", "cv")}, 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, neighbor_id) AS rn
       |  FROM q, c WHERE query_id != neighbor_id)
       |WHERE rn <= $TopK""".stripMargin

  /** The trained-cells CTE chain shared by every oracle that consumes
    * [[Similarity.cellsOf]]'s artifact (q38, q114) or a fresh
    * [[Similarity.kmeansCells]] over a corpus slice (q145's
    * train-side `where`): seed assignment + `KmeansIters` unrolled
    * Lloyd rounds, ending in a `cells(vec_id, cell)` CTE. The
    * optional `where` restricts the TRAINED corpus (empty = all of
    * embeddings, the q38/q114 artifact). Returned WITHOUT a leading
    * WITH. */
  private def lloydCellsCtes(where: String = ""): String = {
    val dim = EmbeddingDim
    def centCols(src: String) = (0 until dim)
      .map(i => s"round(avg($src.embedding[${i + 1}]), 6) AS c_$i").mkString(", ")
    val centList = (0 until dim).map(i => s"c_$i").mkString(", ")
    // Lloyd unroll: a0 = seed assignment; per round, cents_i from a_i,
    // a_{i+1} = argmax rounded cosine (tie -> lowest cell)
    val lloyd = (0 until KmeansIters).map { i =>
      s"""cents_$i AS (SELECT cell, [$centList] AS centroid FROM (
         |  SELECT a_$i.cell, ${centCols("e")}
         |  FROM embeddings e JOIN a_$i USING (vec_id) GROUP BY a_$i.cell)),
         |a_${i + 1} AS (SELECT vec_id, cell FROM (
         |  SELECT v.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY round(${cosSql("v.kv", "c.centroid")}, 6) DESC, c.cell) AS rn
         |  FROM v, cents_$i c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS kv FROM embeddings $where),
       |a_0 AS (SELECT vec_id, CAST(vec_id % $KmeansK AS INT) AS cell FROM embeddings $where),
       |$lloyd,
       |cells AS (SELECT vec_id, cell FROM a_$KmeansIters)""".stripMargin
  }

  /** Oracle twin of q38: [[Similarity.kmeansCells]] (seed = id mod k,
    * `KmeansIters` Lloyd rounds, centroids and scores rounded to 6
    * decimals exactly as the Spark side does) unrolled as chained
    * CTEs, then the same IVF probe over the trained cells. */
  private val annIvfSql: String = {
    val dim = EmbeddingDim
    def centCols(src: String) = (0 until dim)
      .map(i => s"round(avg($src.embedding[${i + 1}]), 6) AS c_$i").mkString(", ")
    val centList = (0 until dim).map(i => s"c_$i").mkString(", ")
    s"""WITH ${lloydCellsCtes()},
       |cents AS (SELECT cell, [$centList] AS centroid FROM (
       |  SELECT cells.cell, ${centCols("e")}
       |  FROM embeddings e JOIN cells USING (vec_id) GROUP BY cells.cell)),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
       |probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(${cosSql("qv", "centroid")}, 6) DESC, cell) AS cell_rn
       |  FROM q, cents) WHERE cell_rn <= $IvfProbes),
       |c AS (SELECT e.vec_id AS neighbor_id, cells.cell, CAST(e.embedding AS DOUBLE[]) AS cv
       |  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT query_id, neighbor_id, round(${cosSql("qv", "cv")}, 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(${cosSql("qv", "cv")}, 6) DESC, neighbor_id) AS rn
       |  FROM c JOIN probes USING (cell) WHERE query_id != neighbor_id)
       |WHERE rn <= $TopK""".stripMargin
  }

  /** Oracle twin of q145: Lloyd over the TRAIN slice (vec_id%3<>0 —
    * [[lloydCellsCtes]]'s `where`), then the identical probe rule
    * (nProbe nearest trained cells by rounded centroid cosine) and
    * the max aggregate over rounded similarities; the threshold
    * compares the same 6-decimal-rounded values in both engines. */
  private val semanticDeconSql: String = {
    val dim = EmbeddingDim
    def centCols(src: String) = (0 until dim)
      .map(i => s"round(avg($src.embedding[${i + 1}]), 6) AS c_$i").mkString(", ")
    val centList = (0 until dim).map(i => s"c_$i").mkString(", ")
    s"""WITH ${lloydCellsCtes("WHERE vec_id % 3 <> 0")},
       |cents AS (SELECT cell, [$centList] AS centroid FROM (
       |  SELECT cells.cell, ${centCols("e")}
       |  FROM embeddings e JOIN cells USING (vec_id) GROUP BY cells.cell)),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings
       |  WHERE vec_id % 3 = 0 AND vec_id < $SemanticDeconBenchCap),
       |probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(${cosSql("qv", "centroid")}, 6) DESC, cell) AS cell_rn
       |  FROM q, cents) WHERE cell_rn <= $IvfProbes),
       |c AS (SELECT cells.cell, CAST(e.embedding AS DOUBLE[]) AS cv
       |  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id)
       |SELECT query_id AS vec_id, max_train_sim,
       |  max_train_sim >= $SemanticDeconT AS contaminated FROM (
       |  SELECT query_id, max(round(${cosSql("qv", "cv")}, 6)) AS max_train_sim
       |  FROM c JOIN probes USING (cell) GROUP BY query_id)""".stripMargin
  }

  /** Oracle twin of q133: [[Similarity.productQuantize]]'s
    * per-subspace Lloyd unrolled as chained MATERIALIZED CTEs (each
    * round's assignment feeds both the next centroid aggregate and
    * the reassign join). Distances use the identical
    * `a·a − 2a·b + b·b` three-dot form, centroids and distances
    * round to 6 decimals, ties to the lowest code. */
  private def pqL2Sql(a: String, b: String): String =
    s"round(list_dot_product($a, $a) - 2 * list_dot_product($a, $b)" +
      s" + list_dot_product($b, $b), 6)"

  /** The PQ train+encode CTE chain shared by q133/q134 (no leading
    * WITH): sub-vector split, seed assignment, `PqIters` unrolled
    * Lloyd rounds. Ends at `pqa_$PqIters` (final codes + d2) with
    * `pqc_${PqIters - 1}` the codebook those codes index. */
  private val pqCtes: String = {
    val subDim = EmbeddingDim / PqM
    val centList = (0 until subDim)
      .map(i => s"round(avg(sv[${i + 1}]), 6)").mkString(", ")
    val rounds = (0 until PqIters).map { i =>
      s"""pqc_$i AS MATERIALIZED (SELECT s, code, [$centList] AS c
         |  FROM pqa_$i GROUP BY s, code),
         |pqa_${i + 1} AS MATERIALIZED (SELECT vec_id, s, sv, code, d2 FROM (
         |  SELECT v.vec_id, v.s, v.sv, c.code,
         |    ${pqL2Sql("v.sv", "c.c")} AS d2,
         |    row_number() OVER (PARTITION BY v.vec_id, v.s
         |      ORDER BY ${pqL2Sql("v.sv", "c.c")} ASC, c.code) AS rn
         |  FROM pqa_$i v JOIN pqc_$i c ON v.s = c.s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""psv AS MATERIALIZED (SELECT vec_id, CAST(s AS INTEGER) AS s,
       |    CAST(embedding[(s*$subDim+1):(s*$subDim+$subDim)] AS DOUBLE[]) AS sv
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(0, ${PqM - 1})) AS s FROM embeddings)),
       |pqa_0 AS MATERIALIZED (SELECT vec_id, s, sv,
       |    CAST(vec_id % $PqKsub AS INTEGER) AS code FROM psv),
       |$rounds""".stripMargin
  }

  private val productQuantizeSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id, s AS subspace, code, d2 AS sub_err FROM pqa_$PqIters""".stripMargin

  /** Oracle twin of q134: the same trained chain, then the ADC rule —
    * per query an m×ksub LUT of rounded sub-distances against the
    * final codebook, approximate distance = rounded sum of the m
    * lookups selected by each vector's codes, top-k ascending with
    * lowest-id ties, self excluded. */
  private val pqSearchSql: String =
    s"""WITH $pqCtes,
       |lut AS (SELECT q.vec_id AS query_id, c.s, c.code,
       |    ${pqL2Sql("q.sv", "c.c")} AS qd
       |  FROM psv q JOIN pqc_${PqIters - 1} c ON q.s = c.s
       |  WHERE q.vec_id < 10),
       |sc AS (SELECT l.query_id, a.vec_id AS neighbor_id,
       |    round(sum(l.qd), 6) AS adist
       |  FROM pqa_$PqIters a JOIN lut l ON a.s = l.s AND a.code = l.code
       |  WHERE a.vec_id != l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adist, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, neighbor_id) AS rn
       |  FROM sc) WHERE rn <= $TopK""".stripMargin

  /** Oracle twin of q135: the same 60-bit sign-bit packing (every
    * shift literal below the sign bit, so the words replay verbatim),
    * popcount-of-xor Hamming ranking with lowest-id ties, and the
    * exact-cosine rerank annotation on the winners. */
  private val hammingTopkSql: String = {
    val words = (EmbeddingDim + 59) / 60
    val packs = (0 until words).map { w =>
      ((w * 60) until math.min(EmbeddingDim, w * 60 + 60)).map { i =>
        s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << (i - w * 60)} ELSE 0 END)"
      }.mkString(" + ") + s" AS bq_$w"
    }.mkString(",\n    ")
    val ham = (0 until words)
      .map(w => s"bit_count(xor(c.bq_$w, q.qb_$w))").mkString(" + ")
    val qsel = (0 until words).map(w => s"bq_$w AS qb_$w").mkString(", ")
    s"""WITH bc AS MATERIALIZED (SELECT vec_id,
       |    $packs
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, $qsel FROM bc WHERE vec_id < 10),
       |top AS (SELECT query_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming, neighbor_id) AS rn
       |  FROM (SELECT q.query_id, c.vec_id AS neighbor_id,
       |          CAST($ham AS INTEGER) AS hamming
       |        FROM bc c, q WHERE c.vec_id != q.query_id))
       |SELECT t.query_id, t.neighbor_id, t.hamming,
       |  round(${cosSql("CAST(eq.embedding AS DOUBLE[])", "CAST(en.embedding AS DOUBLE[])")}, 6) AS cos_sim,
       |  CAST(t.rn AS INTEGER) AS rn
       |FROM top t JOIN embeddings eq ON eq.vec_id = t.query_id
       |  JOIN embeddings en ON en.vec_id = t.neighbor_id
       |WHERE t.rn <= $TopK""".stripMargin
  }

  /** Oracle twin of q114: the same trained cells (shared CTE chain),
    * then the greedy lower-id drop rule at the same rounded-cosine
    * threshold. */
  private val semanticDedupSql: String =
    s"""WITH ${lloydCellsCtes()},
       |m AS (SELECT e.vec_id, cells.cell, e.label, CAST(e.embedding AS DOUBLE[]) AS ev
       |  FROM embeddings e JOIN cells USING (vec_id)),
       |drops AS (SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${cosSql("a.ev", "b.ev")}, 6) >= $SemDedupTau)
       |SELECT vec_id, cell, label FROM m
       |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** Oracle twin of q115: [[graft.operators.Graph.pageRank]]'s damped
    * iterations unrolled as chained CTEs with the identical per-round
    * 6-decimal rounding (the rounding is what makes engine-specific
    * float-sum association irrelevant). The `1 - damping` base is
    * interpolated from the SAME Scala double the operator uses, so
    * both engines parse the identical literal. */
  private val pageRankSql: String = {
    val base = 1.0 - PageRankDamping
    val iters = (1 to PageRankIters).map { i =>
      s"""r_$i AS (SELECT n.node,
         |    round($base + $PageRankDamping * coalesce(s.x, 0.0), 6) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / d.deg) AS x
         |    FROM e JOIN r_${i - 1} r ON e.src = r.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT CAST(l_suppkey AS BIGINT) AS sn,
       |    CAST(l_partkey AS BIGINT) + $PageRankPartOffset AS pn FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM (
       |  SELECT sn AS src, pn AS dst FROM li
       |  UNION ALL SELECT pn AS src, sn AS dst FROM li)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |r_0 AS (SELECT node, 1.0 AS rank FROM nodes),
       |$iters
       |SELECT node, rank FROM r_$PageRankIters""".stripMargin
  }

  /** Oracle twin of q147: [[graft.operators.Graph.hits]]'s factored
    * recurrence unrolled — the UN-normalized authority aggregate
    * feeds the hub sum (per-round auth normalization cancels through
    * the hub's own max-normalization), hubs max-normalize once per
    * round, auths once from the final round's aggregate; every
    * aggregate and normalized score rounded to 6 decimals exactly as
    * the operator does. */
  private val hitsSql: String = {
    val iters = (1 to HitsIters).map { i =>
      s"""araw_$i AS (SELECT e.dst AS node, round(sum(h.hub), 6) AS x
         |  FROM e JOIN h_${i - 1} h ON e.src = h.node GROUP BY e.dst),
         |hraw_$i AS (SELECT e.src AS node, round(sum(a.x), 6) AS x
         |  FROM e JOIN araw_$i a ON e.dst = a.node GROUP BY e.src),
         |h_$i AS (SELECT node,
         |    round(x / (SELECT max(x) FROM hraw_$i), 6) AS hub
         |  FROM hraw_$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
       |    CAST(l_partkey AS BIGINT) + $PageRankPartOffset AS dst
       |  FROM lineitem),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h_0 AS (SELECT node, 1.0 AS hub FROM nodes),
       |$iters,
       |a_fin AS (SELECT node,
       |    round(x / (SELECT max(x) FROM araw_$HitsIters), 6) AS auth
       |  FROM araw_$HitsIters)
       |SELECT n.node, coalesce(h.hub, 0.0) AS hub,
       |  coalesce(a.auth, 0.0) AS auth
       |FROM nodes n LEFT JOIN h_$HitsIters h USING (node)
       |LEFT JOIN a_fin a USING (node)""".stripMargin
  }

  /** Oracle twin of q116: same IDF form, same literal constants
    * (interpolated from the SAME Scala doubles the operator folds into
    * its expressions), same association order. */
  private val bm25Sql: String = {
    val termList = Bm25Terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    unnest(string_split(text, ' ')) AS term FROM documents),
       |q AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
       |  WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, count(*) AS df_t FROM q GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |  avg(len(string_split(text, ' '))) AS avgdl FROM documents)
       |SELECT doc_id, round(sum(
       |    ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) *
       |    (tf * ${Bm25K1 + 1.0}) /
       |    (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))), 6) AS bm25
       |FROM q JOIN dfreq USING (term), stats GROUP BY doc_id""".stripMargin
  }

  /** Oracle twin of q43: the same trained cells (shared Lloyd CTE
    * chain as q38/q114), then intra-cell pairs at the threshold. */
  private val embedNearDupSql: String =
    s"""WITH ${lloydCellsCtes()},
       |m AS (SELECT e.vec_id, cells.cell, CAST(e.embedding AS DOUBLE[]) AS ev
       |  FROM embeddings e JOIN cells USING (vec_id))
       |SELECT * FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(${cosSql("a.ev", "b.ev")}, 6) AS cos_sim
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= $NearDupMinCos""".stripMargin

  /** LSH bucket as SQL: the same ±1 plane signs baked as literal
    * coefficient sums, identical term order to the Spark expression. */
  private val annLshSql: String = {
    // one bucket expression per independent table t, planes
    // [t*LshPlanes, (t+1)*LshPlanes) — same md5-parity hyperplanes as
    // Similarity.planeSigns
    val buckets = (0 until LshTables).map { t =>
      val signs = Similarity.planeSigns((t + 1) * LshPlanes, EmbeddingDim)
        .drop(t * LshPlanes)
      signs.zipWithIndex.map { case (row, j) =>
        val dot = row.zipWithIndex.map { case (s, i) =>
          s"(CAST(embedding[${i + 1}] AS DOUBLE) * ${s.toDouble})"
        }.mkString(" + ")
        s"(CASE WHEN ($dot) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    }
    val bucketList = buckets.map(e => s"($e)").mkString(",\n  ")
    s"""WITH b AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  [$bucketList] AS bs
       |  FROM embeddings),
       |wb AS MATERIALIZED (SELECT vec_id, t, bs[t + 1] AS bucket
       |  FROM b, (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t)),
       |capped AS (SELECT t, bucket FROM wb GROUP BY t, bucket
       |           HAVING count(*) <= $LshMaxBucket),
       |c AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       |  FROM wb a JOIN capped USING (t, bucket) JOIN wb b2
       |  ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT * FROM (
       |  SELECT c.id_a, c.id_b,
       |    round(${cosSql("a.v", "b2.v")}, 6) AS cos_sim
       |  FROM c JOIN b a ON a.vec_id = c.id_a
       |         JOIN b b2 ON b2.vec_id = c.id_b)
       |WHERE cos_sim >= $NearDupMinCos""".stripMargin
  }

  private val langidSql: String = {
    s"""WITH ${TextAnalysis.langScoresCtesSql()}
       |SELECT doc_id, ${TextAnalysis.langOrder.map(l => s"score_$l").mkString(", ")},
       |  ${TextAnalysis.languageIdPredSql} AS pred_lang FROM ls""".stripMargin
  }

  private val qualitySql: String =
    s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
       |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_words,
       |round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS ttr,
       |round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_word_len,
       |round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) *
       |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))), 6) AS quality_score
       |FROM documents""".stripMargin

  private val tokenizeSql: String =
    s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       |CAST(len(regexp_extract_all(text, '${TextAnalysis.tokenRegex}')) AS INTEGER) AS re_tokens
       |FROM documents""".stripMargin

  private val fingerprintSql: String =
    s"""SELECT doc_id, fp_md5, fp_min_8gram FROM (
       |  SELECT doc_id, md5(text) AS fp_md5,
       |    min(${h60("substr(text, i, 8)")}) AS fp_min_8gram
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
       |        FROM documents)
       |  GROUP BY doc_id, text)""".stripMargin

  /** The whole cleaning composition as one generated oracle: the same
    * language/quality/minhash constants, the survivor `words` CTE
    * feeding the shared signature SELECT. */
  private val corpusCleanSql: String = corpusCleanSqlFrom(
    s"""${TextAnalysis.langScoresCtesSql()},
       |lang AS (SELECT doc_id, ${TextAnalysis.languageIdPredSql} AS pred_lang FROM ls)""".stripMargin)

  /** q61's composition with the language gate scored by the TRAINED
    * profile (the q176 chain) and the lexicographic argmax — q182's
    * oracle. Everything downstream of the `lang` CTE is shared with
    * q61's builder, so the two cannot drift. */
  private val corpusCleanTrainedSql: String = corpusCleanSqlFrom(
    s"""prof AS (${TextAnalysis.trainLangProfilesSql("documents", "lang", "text", LangProfileTopK)}),
       |plg AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS gram
       |  FROM (SELECT doc_id, lower(text) AS t,
       |          unnest(generate_series(1,
       |            greatest(length(lower(text)) - 2, 0))) AS i
       |        FROM documents)),
       |phit AS (SELECT doc_id, p.lang, CAST(sum(p.wt) AS BIGINT) AS s
       |        FROM plg JOIN prof p USING (gram) GROUP BY 1, 2),
       |pbase AS (SELECT d.doc_id, l.lang FROM documents d
       |          CROSS JOIN (SELECT DISTINCT lang FROM prof) l),
       |psc AS (SELECT b.doc_id, b.lang, coalesce(h.s, 0) AS score
       |       FROM pbase b LEFT JOIN phit h
       |         ON b.doc_id = h.doc_id AND b.lang = h.lang),
       |lang AS (SELECT doc_id, lang AS pred_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lang ASC) AS rk FROM psc)
       |  WHERE rk = 1)""".stripMargin)

  private def corpusCleanSqlFrom(langCtes: String): String = {
    val langsIn = CorpusLangs.map(l => s"'$l'").mkString(", ")
    val rows = MinhashK / MinhashBands
    val bandBranches = (0 until MinhashBands).map { b =>
      val cols = ((b * rows) until ((b + 1) * rows)).map(i => s"mh_$i").mkString(", ")
      s"SELECT doc_id, '$b' AS band, concat_ws('-', $cols) AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH $langCtes,
       |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |  round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) *
       |    (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
       |     len(string_split(text, ' '))), 6) AS quality_score FROM documents),
       |kept AS (SELECT d.doc_id, d.text, lang.pred_lang, q.n_words, q.quality_score
       |  FROM documents d JOIN lang USING (doc_id) JOIN q USING (doc_id)
       |  WHERE pred_lang IN ($langsIn) AND n_words >= $CorpusMinWords
       |    AND quality_score >= $CorpusMinQuality),
       |exact AS (SELECT * FROM kept WHERE doc_id IN (
       |  SELECT min(doc_id) FROM kept GROUP BY md5(text))),
       |words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM exact),
       |sigs AS ($minhashSigsSelect),
       |bands AS ($bandBranches),
       |capped AS (SELECT band, sig FROM bands GROUP BY band, sig
       |           HAVING count(*) <= $MinhashMaxBucket),
       |dropped AS (SELECT DISTINCT b.doc_id
       |  FROM bands a JOIN capped USING (band, sig)
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN sigs sa ON a.doc_id = sa.doc_id
       |  JOIN sigs sb ON b.doc_id = sb.doc_id
       |  WHERE (${agreeSql("sa", "sb")}) >= $MinhashVerifyAgree)
       |SELECT doc_id, pred_lang, CAST(n_words AS INTEGER) AS n_words,
       |  quality_score FROM exact
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q31_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // states the canonical URL from the planting formula — does NOT
    // re-run the canonicalizer
    "q109_url_dedup" ->
      """SELECT 'https://example' || ((doc_id // 4) % 50) || '.com/p/'
        |    || (doc_id // 4) || '?a=' || ((doc_id // 4) % 5)
        |    || '&b=' || ((doc_id // 4) % 7) AS url_canon,
        |  min(doc_id) AS canonical_doc, count(*) AS n_dupes
        |FROM documents GROUP BY doc_id // 4""".stripMargin,
    "q104_segment_dedup" ->
      """WITH segs AS (
        |  SELECT doc_id, n_segments, CAST(i AS INTEGER) AS pos,
        |    array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS seg
        |  FROM (
        |    SELECT doc_id, ws,
        |      CAST(ceil(len(ws) / 10.0) AS INTEGER) AS n_segments,
        |      unnest(generate_series(0,
        |        CAST(ceil(len(ws) / 10.0) AS INTEGER) - 1)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM documents))),
        |ranked AS (
        |  SELECT doc_id, n_segments, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM segs)
        |SELECT doc_id,
        |  string_agg(seg, ' ' ORDER BY pos) AS clean_text,
        |  count(*) AS n_kept,
        |  max(n_segments) AS n_segments
        |FROM ranked WHERE rn = 1
        |GROUP BY doc_id""".stripMargin,
    // replays the sliding-shingle keep-first rule: rn=1 per digest is
    // Spark's min(struct(doc_id, pos)); every rn>1 shingle covers its
    // [pos, pos+w) window; uncovered tokens reassemble in order
    "q130_exact_substr_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    md5(array_to_string(ws[(i+1):(i+$ExactSubstrW)], ' ')) AS dig
         |  FROM (SELECT doc_id, ws,
         |          unnest(generate_series(0, len(ws) - $ExactSubstrW)) AS i
         |        FROM t WHERE len(ws) >= $ExactSubstrW)),
         |ranked AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY dig ORDER BY doc_id, pos) AS rn
         |  FROM sh),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS p
         |  FROM (SELECT doc_id, pos,
         |          unnest(generate_series(0, ${ExactSubstrW - 1})) AS j
         |        FROM ranked WHERE rn > 1)),
         |tok AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS p,
         |    unnest(ws) AS tk FROM t),
         |kept AS (SELECT tok.doc_id, tok.p, tok.tk
         |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |  WHERE cov.p IS NULL),
         |agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |  CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  CAST(len(t.ws) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
         |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,
    "q133_product_quantize" -> productQuantizeSql,
    "q134_pq_search" -> pqSearchSql,
    "q135_hamming_topk" -> hammingTopkSql,
    // replays the q138 planting: closed-form host per doc, each
    // blocklist entry as an exact-or-dot-suffix CASE, min() across
    // matches (NULL when none — the keep flag)
    "q138_url_category_gate" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'sub.' ELSE '' END)
        |    || 'example' || (doc_id % 20) || '.com' AS host
        |  FROM documents),
        |m AS (SELECT doc_id, host, unnest([
        |    CASE WHEN host = 'example3.com'
        |      OR host LIKE '%.example3.com' THEN 'ads' END,
        |    CASE WHEN host = 'example7.com'
        |      OR host LIKE '%.example7.com' THEN 'adult' END,
        |    CASE WHEN host = 'sub.example6.com'
        |      OR host LIKE '%.sub.example6.com' THEN 'tracking' END,
        |    CASE WHEN host = 'example6.org'
        |      OR host LIKE '%.example6.org' THEN 'inert' END]) AS cat
        |  FROM u)
        |SELECT doc_id, host, min(cat) AS category,
        |  min(cat) IS NULL AS keep
        |FROM m GROUP BY doc_id, host""".stripMargin,
    // states the q146 planting's closed-form verdicts: exact-group
    // domains (doc_id%4=0; (doc_id%20)%4 = doc_id%4) answer to the
    // graftbot rules only, the rest to the * group; the winning rule
    // path is stated per case, NULL when the RFC default applied
    "q146_robots_gate" ->
      """SELECT doc_id,
        |  'https://example' || (doc_id % 20) || '.com' ||
        |  CASE doc_id % 6
        |    WHEN 0 THEN '/q/' || doc_id
        |    WHEN 1 THEN '/private/x' || doc_id
        |    WHEN 2 THEN '/private/ok/' || doc_id
        |    WHEN 3 THEN '/ok/' || doc_id
        |    WHEN 4 THEN '/tmp' || doc_id || '.html'
        |    ELSE '/q/ok/' || doc_id END AS url,
        |  CASE WHEN doc_id % 4 = 0 THEN doc_id % 6 <> 0
        |       ELSE doc_id % 6 NOT IN (1, 4) END AS allowed,
        |  CASE WHEN doc_id % 4 = 0 AND doc_id % 6 = 0 THEN '/q'
        |       WHEN doc_id % 4 = 0 AND doc_id % 6 = 5 THEN '/q/ok'
        |       WHEN doc_id % 4 <> 0 AND doc_id % 6 = 1 THEN '/private'
        |       WHEN doc_id % 4 <> 0 AND doc_id % 6 = 2 THEN '/private/ok'
        |       WHEN doc_id % 4 <> 0 AND doc_id % 6 = 4 THEN '/tmp*.html$'
        |       END AS rule
        |FROM documents""".stripMargin,
    // states q152's closed-form verdicts: exact tier (dn%4=0) reads
    // graftbot's 0.5 and suppresses *; largest-wins where the second
    // * value was planted (dn%5=2); the no-delay domains are absent
    "q152_crawl_delay" ->
      """WITH d AS (SELECT DISTINCT doc_id % 20 AS dn FROM documents)
        |SELECT 'example' || dn || '.com' AS domain,
        |  CASE WHEN dn % 4 = 0 THEN 0.5
        |       WHEN dn % 5 = 2 THEN 10.0
        |       ELSE CAST(dn % 5 + 1 AS DOUBLE) END AS crawl_delay
        |FROM d
        |WHERE dn % 4 = 0 OR dn % 5 = 2 OR dn % 7 <> 6""".stripMargin,
    // replays the schedule: the q146 planted URL per doc, host-local
    // rank in the SAME hash order, slot × the q152 closed-form delay
    // (1.0 default where no delay was published)
    "q156_crawl_schedule" -> {
      val order = graft.functions.PortableHash
        .hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH u AS (SELECT doc_id,
         |    'https://example' || (doc_id % 20) || '.com' ||
         |    CASE doc_id % 6
         |      WHEN 0 THEN '/q/' || doc_id
         |      WHEN 1 THEN '/private/x' || doc_id
         |      WHEN 2 THEN '/private/ok/' || doc_id
         |      WHEN 3 THEN '/ok/' || doc_id
         |      WHEN 4 THEN '/tmp' || doc_id || '.html'
         |      ELSE '/q/ok/' || doc_id END AS url,
         |    'example' || (doc_id % 20) || '.com' AS host,
         |    doc_id % 20 AS dn
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY ($order) % 1000000, doc_id) - 1 AS slot
         |  FROM u)
         |SELECT doc_id, url, host, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN dn % 4 = 0 THEN 0.5
         |    WHEN dn % 5 = 2 THEN 10.0
         |    WHEN dn % 7 = 6 THEN 1.0
         |    ELSE CAST(dn % 5 + 1 AS DOUBLE) END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // states the sitemap planting formula directly: the engine must
    // recover every field from the synthesized XML byte-exactly
    "q168_sitemap_urls" ->
      s"""SELECT 'site' || (doc_id % 7) || '.example' AS domain,
         |  'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |    '?a=1&b=' || (doc_id % 5) AS url,
         |  CASE WHEN doc_id % 3 <> 0
         |    THEN '2026-02-' || (10 + doc_id % 18) END AS lastmod,
         |  CASE WHEN doc_id % 4 <> 1
         |    THEN CAST('0.' || (doc_id % 10) AS DOUBLE)
         |    ELSE 0.5 END AS priority
         |FROM documents""".stripMargin,
    // survivors: even ids (odd sit under the /private disallow) off
    // site3 (whole-domain /page kill); slots rank by the url hash
    // within host; delay h+1 on even-numbered sites, default 1.0 on
    // odd (they publish no Crawl-delay)
    "q169_frontier_compose" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT
         |    'site' || (doc_id % 7) || '.example' AS host,
         |    doc_id % 7 AS h,
         |    'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |      '?a=1&b=' || (doc_id % 5) AS url
         |  FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // the q169 window with the sitemap-part key prepended: a host's
    // part-0 slots outrank every part-1 arrival (the issued-slot
    // contract carried across the protocol's multi-file split)
    "q171_stream_frontier" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT
         |    'site' || (doc_id % 7) || '.example' AS host,
         |    doc_id % 7 AS h, doc_id % 2 AS part,
         |    'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |      '?a=1&b=' || (doc_id % 5) AS url
         |  FROM documents
         |  WHERE doc_id % 3 <> 1 AND doc_id % 7 <> 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY part, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // the index planting's closed form; the urlset decoy contributes
    // zero rows by element disjointness
    "q180_sitemap_index" ->
      """SELECT 'site' || (doc_id % 7) || '.example' AS domain,
        |  'https://site' || (doc_id % 7) || '.example/sitemaps/part' ||
        |    doc_id || '.xml.gz?x=1&y=' || (doc_id % 3) AS sitemap_url,
        |  CASE WHEN doc_id % 3 <> 0
        |    THEN '2026-03-' || (10 + doc_id % 18) END AS lastmod
        |FROM documents""".stripMargin,
    // the q168 planting re-ranked by (priority DESC, lastmod DESC
    // NULLS LAST, hash, url) within host, priced by the q169 delay
    // ladder
    "q181_priority_frontier" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT
         |    'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |      '?a=1&b=' || (doc_id % 5) AS url,
         |    'site' || (doc_id % 7) || '.example' AS host,
         |    doc_id % 7 AS h,
         |    CASE WHEN doc_id % 3 <> 0
         |      THEN '2026-02-' || (10 + doc_id % 18) END AS lastmod,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST('0.' || (doc_id % 10) AS DOUBLE)
         |      ELSE 0.5 END AS priority
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY priority DESC, lastmod DESC NULLS LAST,
         |      ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, priority, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // replays the bootstrap planting: the canonical index location
    // per domain (comment stripped, case-insensitive key), the CDN
    // extra on every h%3==0 domain, the relative decoy dropped
    "q187_robots_sitemaps" ->
      """WITH hh AS (SELECT DISTINCT doc_id % 7 AS h FROM documents)
        |SELECT 'site' || h || '.example' AS domain,
        |  'https://site' || h || '.example/sitemap_index.xml'
        |    AS sitemap_url
        |FROM hh
        |UNION ALL
        |SELECT 'site' || h || '.example',
        |  'https://cdn' || h || '.example/extra.xml'
        |FROM hh WHERE h % 3 = 0""".stripMargin,
    // the q181 window over the chain's survivors: /private paths
    // (doc_id%3==1) die at the verdict everywhere, site3's whole
    // inventory dies at its Disallow /page, everything else arrives
    // through index→child→entry with its advisory signals intact
    "q188_discovery_chain" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT
         |    'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |      '?a=1&b=' || (doc_id % 5) AS url,
         |    'site' || (doc_id % 7) || '.example' AS host,
         |    doc_id % 7 AS h,
         |    CASE WHEN doc_id % 3 <> 0
         |      THEN '2026-02-' || (10 + doc_id % 18) END AS lastmod,
         |    CASE WHEN doc_id % 4 <> 1
         |      THEN CAST('0.' || (doc_id % 10) AS DOUBLE)
         |      ELSE 0.5 END AS priority
         |  FROM documents
         |  WHERE doc_id % 3 <> 1 AND doc_id % 7 <> 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY priority DESC, lastmod DESC NULLS LAST,
         |      ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, priority, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // the q171 window minus the seen plant (doc_id%5==2 survivors
    // were pre-published as fetched): the anti gate removes them
    // BEFORE the scheduler, so every host's slots re-rank over the
    // remaining set
    "q178_frontier_recrawl" -> {
      val order = graft.functions.PortableHash.hash60Sql("url")
      s"""WITH u AS (SELECT
         |    'site' || (doc_id % 7) || '.example' AS host,
         |    doc_id % 7 AS h, doc_id % 2 AS part,
         |    'https://site' || (doc_id % 7) || '.example/page/' || doc_id ||
         |      '?a=1&b=' || (doc_id % 5) AS url
         |  FROM documents
         |  WHERE doc_id % 3 <> 1 AND doc_id % 7 <> 3 AND doc_id % 5 <> 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY part, ($order) % 1000000, url) - 1 AS slot
         |  FROM u)
         |SELECT url, host, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN h % 2 = 0 THEN CAST(h + 1 AS DOUBLE)
         |    ELSE 1.0 END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // the q156 window with the arrival-batch key (doc_id % 4)
    // prepended: slots issued in earlier micro-batches outrank every
    // later arrival within the host, the hash order breaks ties
    // within a batch — the streaming scheduler's issued-slot contract
    "q166_stream_schedule" -> {
      val order = graft.functions.PortableHash
        .hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH u AS (SELECT doc_id,
         |    'https://example' || (doc_id % 20) || '.com' ||
         |    CASE doc_id % 6
         |      WHEN 0 THEN '/q/' || doc_id
         |      WHEN 1 THEN '/private/x' || doc_id
         |      WHEN 2 THEN '/private/ok/' || doc_id
         |      WHEN 3 THEN '/ok/' || doc_id
         |      WHEN 4 THEN '/tmp' || doc_id || '.html'
         |      ELSE '/q/ok/' || doc_id END AS url,
         |    'example' || (doc_id % 20) || '.com' AS host,
         |    doc_id % 20 AS dn,
         |    doc_id % 4 AS bseq
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY bseq, ($order) % 1000000,
         |      CAST(doc_id AS VARCHAR)) - 1 AS slot
         |  FROM u)
         |SELECT doc_id, url, host, CAST(slot AS INTEGER) AS slot_idx,
         |  round(slot * (CASE WHEN dn % 4 = 0 THEN 0.5
         |    WHEN dn % 5 = 2 THEN 10.0
         |    WHEN dn % 7 = 6 THEN 1.0
         |    ELSE CAST(dn % 5 + 1 AS DOUBLE) END), 6) AS fetch_at_s
         |FROM r""".stripMargin
    },
    // states the q155 planting's closed-form policy: exact-tier
    // domains (dn%4=0) read the graftbot rules + 0.5 delay, the rest
    // the * rules + the q152-style delay ladder (NULL where no
    // applicable delay was published)
    "q155_robots_policy" ->
      """WITH d AS (SELECT DISTINCT doc_id % 20 AS dn FROM documents),
        |delay AS (SELECT dn,
        |    CASE WHEN dn % 4 = 0 THEN 0.5
        |         WHEN dn % 5 = 2 THEN 10.0
        |         WHEN dn % 7 = 6 THEN NULL
        |         ELSE CAST(dn % 5 + 1 AS DOUBLE) END AS crawl_delay
        |  FROM d),
        |rules AS (
        |  SELECT dn, false AS allow,
        |    CASE WHEN dn % 4 = 0 THEN '/q' ELSE '/private' END AS rule_path
        |  FROM d
        |  UNION ALL
        |  SELECT dn, true,
        |    CASE WHEN dn % 4 = 0 THEN '/q/ok' ELSE '/private/ok' END
        |  FROM d
        |  UNION ALL
        |  SELECT dn, false, '/tmp*.html$' FROM d WHERE dn % 4 <> 0)
        |SELECT 'example' || dn || '.com' AS domain, allow, rule_path,
        |  CAST(strlen(rule_path) AS INTEGER) AS specificity, crawl_delay
        |FROM rules JOIN delay USING (dn)""".stripMargin,
    // replays the q136 PLANTING formula: the extractor's five-step
    // contract (script/style/comment drop, attribute-safe tag strip,
    // single-pass named+WHATWG-numeric reference decode, whitespace
    // collapse) must reduce the planted page to exactly this closed
    // form — chr() spells the decoded codepoints (8217 ’, 233 é,
    // 147→win1252 8220 “, 8221 ”, 128512 😀, D800→FFFD), and the
    // two double-decode traps stay literal
    "q136_html_extract" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' Heading & ' || doc_id || ' ' || text ||
        |  ' it' || chr(8217) || 's caf' || chr(233) || ' ' ||
        |  chr(8220) || 'q' || chr(8221) || ' ' || chr(128512) ||
        |  ' &#39; x' || chr(65533) || 'y' ||
        |  ' tail <' || doc_id || '> &lt;end' AS clean_text
        |FROM documents""".stripMargin,
    // the definition q144 must reproduce: brute-force exact word-set
    // jaccard over distinct non-empty tokens, rounded like the engine
    "q144_prefix_join" ->
      s"""WITH w AS (SELECT doc_id, t FROM (
         |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |    FROM documents
         |    WHERE doc_id % $PrefixJoinSlice = 0) WHERE t <> ''),
         |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
         |      FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, sh AS n_shared,
         |  round(CAST(sh AS DOUBLE) / (sa.n + sb.n - sh), 6) AS jaccard
         |FROM p JOIN sz sa ON id_a = sa.doc_id
         |  JOIN sz sb ON id_b = sb.doc_id
         |WHERE round(CAST(sh AS DOUBLE) / (sa.n + sb.n - sh), 6)
         |  >= $PrefixJoinT""".stripMargin,
    // replays q142's planting: two surviving links per doc, in
    // document order; the script/comment/anchorless/single-quote
    // decoys contribute nothing by contract
    "q142_link_extract" ->
      """SELECT doc_id, CAST(0 AS INTEGER) AS link_no,
        |  'https://ex.com/doc/' || ((doc_id * 7 + 3) % 1000) AS href,
        |  'next & doc ' || ((doc_id * 7 + 3) % 1000) AS anchor
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER),
        |  '/p?a=' || doc_id || '&b=2', 'deep page ' || doc_id
        |FROM documents""".stripMargin,
    "q132_temperature_mix" -> Sampling.mixByTemperatureSql(
      "(SELECT *, CASE WHEN doc_id % 10 < 6 THEN 'web' " +
        "WHEN doc_id % 10 < 9 THEN 'code' ELSE 'books' END AS domain " +
        "FROM documents)",
      "doc_id", "domain", alpha = 0.5),
    "q131_gopher_rules" -> {
      val stopHits = graft.operators.TextAnalysis.gopherStopwords
        .map(sw => s"(len(string_split(' ' || text || ' ', ' $sw ')) - 1)")
        .mkString(" + ")
      val meanLen = "CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(ws)"
      val alphaFrac = "CAST(len(list_filter(ws, x -> regexp_matches(x, " +
        "'[A-Za-z]'))) AS DOUBLE) / len(ws)"
      val symbols = "(len(string_split(text, '#')) - 1) " +
        "+ (len(string_split(text, '...')) - 1) " +
        "+ (len(string_split(text, '…')) - 1)"
      s"""SELECT doc_id,
         |  CAST(len(ws) AS INTEGER) AS n_words,
         |  round($meanLen, 6) AS mean_word_len,
         |  round($alphaFrac, 6) AS alpha_word_frac,
         |  CAST($symbols AS INTEGER) AS n_symbols,
         |  CAST($stopHits AS INTEGER) AS stopword_hits,
         |  len(ws) >= 50 AND len(ws) <= 100000 AS ok_n_words,
         |  $meanLen >= 3.0 AND $meanLen <= 10.0 AS ok_word_len,
         |  $alphaFrac >= 0.8 AS ok_alpha,
         |  CAST($symbols AS DOUBLE) / len(ws) <= 0.1 AS ok_symbols,
         |  $stopHits >= 2 AS ok_stopwords,
         |  (len(ws) >= 50 AND len(ws) <= 100000)
         |    AND ($meanLen >= 3.0 AND $meanLen <= 10.0)
         |    AND ($alphaFrac >= 0.8)
         |    AND (CAST($symbols AS DOUBLE) / len(ws) <= 0.1)
         |    AND ($stopHits >= 2) AS keep
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
         |      FROM documents)""".stripMargin
    },
    "q117_boilerplate" ->
      s"""WITH segs AS (
         |  SELECT doc_id, n_segments, CAST(i AS INTEGER) AS pos,
         |    array_to_string(ws[(i*$BoilerWindow+1):(i*$BoilerWindow+$BoilerWindow)], ' ') AS seg
         |  FROM (
         |    SELECT doc_id, ws,
         |      CAST(ceil(len(ws) / $BoilerWindow.0) AS INTEGER) AS n_segments,
         |      unnest(generate_series(0,
         |        CAST(ceil(len(ws) / $BoilerWindow.0) AS INTEGER) - 1)) AS i
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |          FROM documents))),
         |boiler AS (SELECT seg FROM segs GROUP BY seg
         |           HAVING count(DISTINCT doc_id) >= $BoilerMinDocs)
         |SELECT doc_id,
         |  string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         |  count(*) AS n_kept,
         |  max(n_segments) - count(*) AS n_removed
         |FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)
         |GROUP BY doc_id""".stripMargin,
    "q118_dsir_weights" -> Sampling.importanceWeightsSql(
      "documents", "doc_id", "text", s"lang = '$DsirTargetLang'", DsirBuckets),
    "q119_quality_classifier" -> graft.operators.Classifier.logisticQualitySql(
      "documents", "doc_id", "text", "text LIKE '%spark%'",
      ClfBuckets, ClfIters, ClfLearnRate),
    // q170 must agree with q119's oracle VERBATIM: publishing the
    // weights and scoring from the loaded snapshot may not move a
    // single score
    "q170_clf_roundtrip" -> graft.operators.Classifier.logisticQualitySql(
      "documents", "doc_id", "text", "text LIKE '%spark%'",
      ClfBuckets, ClfIters, ClfLearnRate),
    "q120_vocab_build" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |           FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token
         |      HAVING count(*) >= $VocabMinCount)
         |SELECT token, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INTEGER)
         |    AS token_id
         |FROM c""".stripMargin,
    "q121_standardize" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |st AS (SELECT dim, round(avg(v), 6) AS mu,
        |    round(stddev_pop(v), 6) AS sd FROM x GROUP BY dim)
        |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
        |  round(CASE WHEN sd = 0 THEN 0.0 ELSE (v - mu) / sd END, 6) AS z
        |FROM x JOIN st USING (dim)""".stripMargin,
    "q32_minhash_sig" -> s"WITH $wordsCte $minhashSigsSelect",
    "q33_minhash_lsh_pairs" -> minhashLshSql,
    // connected components as a recursive reachability CTE over the
    // same generated LSH-pair pipeline (min reachable id = component)
    "q67_dedup_clusters" ->
      s"""$componentsCtes
         |SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node""".stripMargin,
    // leakage-safe split: the same component CTE, split keyed on it
    "q100_leak_safe_split" ->
      s"""$componentsCtes,
         |comp AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
         |f AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id, component,
         |  ${Sampling.hashSplitSql("component", Splits)} AS split
         |FROM f""".stripMargin,
    // canonical survivor per cluster: the same component CTE joined
    // back to the docs, ranked (longest text, lowest id) per component
    "q82_canonical_docs" ->
      s"""$componentsCtes,
         |comp AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
         |m AS (SELECT component, doc_id,
         |    CAST(length(d.text) AS INTEGER) AS keep_len,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY length(d.text) DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY component) AS n_members
         |  FROM comp JOIN documents d USING (doc_id))
         |SELECT component, doc_id AS keep_id,
         |  CAST(n_members AS BIGINT) AS n_members, keep_len
         |FROM m WHERE rn = 1""".stripMargin,
    "q34_simhash" -> s"WITH $wordsCte $simhashSigsSelect",
    "q35_simhash_pairs" -> simhashPairsSql,
    "q36_ngram_jaccard" -> ngramJaccardSql,
    "q37_cosine_topk" -> cosineTopkSql,
    "q38_ann_ivf" -> annIvfSql,
    // the roundtrip probe consumes the SAME trained artifact q38
    // probes from the memo — one oracle for both is the equality proof
    "q158_artifact_roundtrip" -> annIvfSql,
    "q43_embed_neardup" -> embedNearDupSql,
    "q114_semantic_dedup" -> semanticDedupSql,
    "q115_pagerank" -> pageRankSql,
    "q147_hits" -> hitsSql,
    "q116_bm25" -> bm25Sql,
    "q113_domain_cap" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    ${Sampling.capPerGroupRankSql("doc_id", "source")} AS rn
         |  FROM documents) WHERE rn <= $DomainCapK""".stripMargin,
    // the naive all-pairs form the blocking operator avoids — valid as
    // an oracle precisely because sf0.01 is small enough to afford it
    "q111_fuzzy_join" ->
      s"""WITH clean AS (SELECT p_partkey AS clean_id,
         |    p_name || '-' || CAST(p_partkey AS VARCHAR) AS name FROM part),
         |dirty AS (SELECT clean_id AS dirty_id,
         |    substr(name, 1, ((clean_id % length(name)) + 1) - 1) ||
         |    substr(name, ((clean_id % length(name)) + 1) + 1) AS dirty_name
         |  FROM clean)
         |SELECT dirty_id, clean_id, CAST(levenshtein(dirty_name, name) AS INTEGER) AS dist
         |FROM dirty, clean
         |WHERE levenshtein(dirty_name, name) <= $FuzzyMaxDist""".stripMargin,
    "q72_embed_centroid" ->
      s"""SELECT cluster, CAST(dim AS INTEGER) AS dim,
         |  round(avg(val), 6) AS mean_val
         |FROM (
         |  SELECT CAST(vec_id % $CentroidClusters AS INTEGER) AS cluster,
         |         generate_subscripts(embedding, 1) AS dim,
         |         unnest(embedding) AS val
         |  FROM embeddings)
         |GROUP BY 1, 2""".stripMargin,
    "q57_ann_lsh" -> annLshSql,
    "q39_langid" -> langidSql,
    "q176_lang_profiles" -> graft.operators.TextAnalysis
      .trainLangProfilesSql("documents", "lang", "text", LangProfileTopK),
    "q177_langid_trained" -> graft.operators.TextAnalysis
      .languageIdWithSql("documents", "doc_id", "lang", "text",
        LangProfileTopK),
    "q40_text_quality" -> qualitySql,
    "q41_tokenize" -> tokenizeSql,
    "q42_fingerprint" -> fingerprintSql,
    "q73_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf,
        |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df_t), 6) AS tfidf
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n""".stripMargin,
    // NB: DuckDB standard strings keep backslashes literal, so the
    // Java-regex pattern strings drop in unchanged; 'g' = replace all
    // (Spark's regexp_replace default)
    "q64_redact_pii" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.numberPattern}', '<NUM>', 'g') AS clean_text,
         |  CAST(length(text) - length(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.numberPattern}', '<NUM>', 'g')) AS INTEGER) AS n_chars_removed
         |FROM documents""".stripMargin,
    "q78_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, ws,
        |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bg
        |  FROM d)
        |SELECT doc_id,
        |  round(CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / greatest(len(ws), 1), 6) AS dup_word_frac,
        |  round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / greatest(len(bg), 1), 6) AS dup_bigram_frac,
        |  round(CAST(list_max(list_transform(list_distinct(ws),
        |    w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / greatest(len(ws), 1), 6) AS top_word_frac
        |FROM b""".stripMargin,
    "q79_ngram_counts" -> {
      val parts = (0 until NgramCountN).map(j => s"ws[i + $j]").mkString(", ")
      s"""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT unnest(list_transform(
         |    generate_series(1, len(ws) - ${NgramCountN - 1}),
         |    i -> concat_ws(' ', $parts))) AS ngram
         |  FROM d WHERE len(ws) >= $NgramCountN)
         |SELECT ngram, count(*) AS cnt FROM g GROUP BY 1
         |HAVING count(*) >= $NgramCountMin""".stripMargin
    },
    // replays the OPERATOR's log-sum identity (Σ m·ln c2 − Σ mw·ln c1)/n
    // rather than the mathematically-equal avg(ln(c2/c1)) — the two
    // compute different floating point, and a score landing within
    // ~1e-12 of a 0.5e-6 rounding boundary would flip the 6th decimal
    // between engines (round-9 ADVICE). Sharing the identity leaves
    // only summation-association noise (~1e-15), three orders more
    // margin under the rounding firewall
    "q94_ngram_lm" -> ngramLmOracleSql,
    // CCNet terciles over the q94 scores: identical rounded scores on
    // both engines → identical (lm_score, doc_id) total order →
    // identical ranks; the tercile is exact integer division, so no
    // float threshold exists to straddle
    // replays the q141 planting: lines 1, 5 and the entity line
    // survive the C4 rules (references decoded by the extractor:
    // 8217 ’, win-1252 147/148 → 8220 “ / 8221 ”), page-kill plants
    // erase their docs, short docs never planted
    "q141_c4_line_clean" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    array_to_string(ws[1:6], ' ') || '.' AS l1,
        |    array_to_string(ws[13:18], ' ') || '?' AS l5
        |  FROM d WHERE len(ws) >= 18)
        |SELECT doc_id, l1 || chr(10) || l5 || chr(10) ||
        |    'yes it' || chr(8217) || 's ' || chr(8220) || 'fine' ||
        |    chr(8221) || ' now.' AS clean_text,
        |  CAST(3 AS BIGINT) AS n_kept, CAST(3 AS BIGINT) AS n_dropped
        |FROM e WHERE doc_id % 40 <> 0 AND doc_id % 30 <> 7""".stripMargin,
    "q140_perplexity_buckets" ->
      s"""WITH s AS (SELECT * FROM ($ngramLmOracleSql) q),
         |r AS (SELECT *, row_number() OVER (ORDER BY lm_score, doc_id)
         |    AS rn, count(*) OVER () AS n FROM s)
         |SELECT doc_id, n_bigrams, lm_score,
         |  CASE ((rn - 1) * 3) // n WHEN 0 THEN 'tail'
         |    WHEN 1 THEN 'middle' ELSE 'head' END AS bucket
         |FROM r""".stripMargin,
    "q95_incr_dedup" -> incrDedupSql,
    // q162 must agree with q95's oracle VERBATIM: the published state
    // roundtrip may not change a single verdict
    "q162_state_roundtrip" -> incrDedupSql,
    "q99_token_budget" -> Sampling.tokenBudgetMixSql(
      "documents", "doc_id", "source", "n_chars",
      TokenMixWeights, TokenMixTotal,
      selectCols = "doc_id, source, n_chars"),
    // exact heavy hitters: the sketch only prunes, never reports, so
    // the oracle is the plain exact aggregation
    "q110_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |           FROM documents)
         |SELECT token, count(*) AS cnt FROM t GROUP BY token
         |HAVING count(*) > $HeavySupport * (SELECT count(*) FROM t)""".stripMargin,
    "q98_corpus_stats" ->
      // CAST(sum AS BIGINT): DuckDB integer sums widen to HUGEINT,
      // which the comparator can't hash against Spark's long
      """WITH w AS (SELECT source, lang,
        |    len(string_split(text, ' ')) AS n_words FROM documents),
        |ws AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_words) AS BIGINT) AS total_words,
        |    round(quantile_cont(n_words, 0.5), 4) AS p50_words,
        |    round(quantile_cont(n_words, 0.9), 4) AS p90_words
        |  FROM w GROUP BY source),
        |lc AS (SELECT source, lang, count(*) AS n FROM w GROUP BY source, lang),
        |e AS (SELECT source, round(ln(CAST(sum(n) AS DOUBLE)) -
        |    sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) /
        |      CAST(sum(n) AS DOUBLE), 6) AS lang_entropy
        |  FROM lc GROUP BY source)
        |SELECT ws.source, n_docs, total_words, p50_words, p90_words,
        |  lang_entropy
        |FROM ws JOIN e ON ws.source = e.source""".stripMargin,
    "q61_corpus_clean" -> corpusCleanSql,
    "q182_corpus_clean_trained" -> corpusCleanTrainedSql,
    "q66_chunk_tokens" -> chunkSql,
    "q74_pack_sequences" ->
      s"""WITH chunks AS ($chunkSql),
         |sharded AS (
         |  SELECT doc_id, chunk_idx, n_tokens,
         |    CAST(${PortableHash.hash60Sql("concat(CAST(doc_id AS VARCHAR), '')")} % $PackShards AS INTEGER) AS pack_shard
         |  FROM chunks),
         |cum AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY pack_shard
         |    ORDER BY doc_id, chunk_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM sharded)
         |SELECT doc_id, chunk_idx, n_tokens, pack_shard,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |  CAST(floor((cum_tokens - n_tokens) / CAST($PackBudget AS DOUBLE)) AS INTEGER) AS pack_id
         |FROM cum""".stripMargin,
    "q75_stratified_sample" ->
      s"""SELECT lang, count(*) AS n, min(doc_id) AS min_id
         |FROM documents
         |WHERE ${Sampling.stratifiedSampleSql("doc_id", "lang", StratRates, StratDefaultPct)}
         |GROUP BY 1""".stripMargin,
    "q65_hash_split" ->
      s"""SELECT ${Sampling.hashSplitSql("doc_id", Splits)} AS split,
         |  count(*) AS n, min(doc_id) AS min_id
         |FROM documents
         |WHERE ${Sampling.hashSampleSql("doc_id", SamplePct)}
         |GROUP BY 1""".stripMargin,
    "q84_domain_mix" ->
      s"""SELECT source, count(*) AS n, min(doc_id) AS min_id FROM (
         |${Sampling.mixToTargetSql("documents", "doc_id", "source", MixWeights)}
         |) GROUP BY 1""".stripMargin,
    "q88_quantize_int8" ->
      // the mx = 0 CASE mirrors Similarity.quantizeInt8's all-zero
      // guard (without it DuckDB would error on CAST(NaN AS INTEGER))
      """SELECT vec_id, round(mx, 6) AS scale_max,
        |  CAST(list_sum(list_transform(v,
        |    x -> CASE WHEN mx = 0.0 THEN 0
        |         ELSE CAST(round(x * 127.0 / mx) AS INTEGER) END)) AS BIGINT) AS q_sum,
        |  round(CASE WHEN mx = 0.0 THEN 0.0 ELSE list_max(list_transform(v,
        |    x -> abs(CAST(round(x * 127.0 / mx) AS INTEGER) * mx / 127.0 - x))) END, 6) AS recon_err
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
        |  FROM embeddings)""".stripMargin,
    "q90_weighted_sample" ->
      s"""SELECT lang, count(*) AS n, min(doc_id) AS min_id
         |FROM documents
         |WHERE ${Sampling.weightedSampleSql("doc_id", "n_chars / 300.0")}
         |GROUP BY 1""".stripMargin,
    "q87_contamination" -> {
      val gram = {
        val parts = (0 until ContamN).map(j => s"ws[i + $j]").mkString(", ")
        s"list_transform(generate_series(1, len(ws) - ${ContamN - 1}), i -> concat_ws(' ', $parts))"
      }
      s"""WITH tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 10 != 0),
         |tg AS (SELECT DISTINCT doc_id, unnest($gram) AS g FROM tw WHERE len(ws) >= $ContamN),
         |bw AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 10 = 0),
         |bg AS (SELECT DISTINCT unnest($gram) AS g FROM bw WHERE len(ws) >= $ContamN),
         |m AS (SELECT doc_id, count(*) AS matched FROM tg
         |  WHERE g IN (SELECT g FROM bg) GROUP BY 1),
         |t AS (SELECT doc_id, count(*) AS total FROM tg GROUP BY 1)
         |SELECT t.doc_id, total, coalesce(matched, 0) AS matched,
         |  round(CAST(coalesce(matched, 0) AS DOUBLE) / total, 6) AS overlap
         |FROM t LEFT JOIN m USING (doc_id)""".stripMargin
    },
    "q145_semantic_decon" -> semanticDeconSql,
    "q148_priority_sample" -> Sampling.prioritySampleSql(
      "documents", "doc_id", "lang", "n_chars", PriorityK),
    // replays the CMS matrix exactly: same d hash rows (row-salted
    // PortableHash), same bucket sums, same min-over-rows estimate
    "q150_cms_counts" -> {
      import graft.operators.Sketches.cmsBucketSql
      val cells = (0 until CmsD).map(i =>
        s"SELECT $i AS r, ${cmsBucketSql("wd", i, CmsW)} AS b, n FROM cnt")
        .mkString("\n  UNION ALL ")
      val probeRows = (0 until CmsD).map(i =>
        s"SELECT wd, n, $i AS r, ${cmsBucketSql("wd", i, CmsW)} AS b FROM probes")
        .mkString("\n  UNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS wd
         |  FROM documents),
         |cnt AS (SELECT wd, count(*) AS n FROM tok WHERE wd <> ''
         |  GROUP BY wd),
         |cells AS (SELECT r, b, sum(n) AS cnt FROM (
         |  $cells) GROUP BY r, b),
         |probes AS (SELECT wd, n FROM cnt WHERE n >= $CmsProbeMin),
         |pr AS ($probeRows)
         |SELECT pr.wd AS word, pr.n AS exact_n,
         |  CAST(min(cells.cnt) AS BIGINT) AS cms_est,
         |  min(cells.cnt) >= pr.n AS within_bound
         |FROM pr JOIN cells ON pr.r = cells.r AND pr.b = cells.b
         |GROUP BY pr.wd, pr.n""".stripMargin
    },

    // replays the planting (even docs re-append their first passage),
    // then the same segmentation as q117's oracle; keep-first via
    // row_number per (doc, seg)
    "q128_intradoc_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN array_to_string(w0[1:20], ' ') || ' ' ||
        |           array_to_string(w0[1:10], ' ')
        |      ELSE array_to_string(w0[1:20], ' ') END AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w0
        |        FROM documents)
        |  WHERE len(w0) >= 20),
        |segs AS (
        |  SELECT doc_id, n_segments, CAST(i AS INTEGER) AS pos,
        |    array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS seg
        |  FROM (
        |    SELECT doc_id, ws,
        |      CAST(ceil(len(ws) / 10.0) AS INTEGER) AS n_segments,
        |      unnest(generate_series(0,
        |        CAST(ceil(len(ws) / 10.0) AS INTEGER) - 1)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM planted))),
        |k AS (SELECT doc_id, pos, seg, n_segments,
        |    row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn
        |  FROM segs)
        |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
        |  count(*) AS n_kept,
        |  CAST(max(n_segments) - count(*) AS BIGINT) AS n_removed
        |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "q129_epoch_shuffle" ->
      s"""WITH e AS (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents)
         |SELECT doc_id, epoch,
         |  row_number() OVER (ORDER BY epoch,
         |    ${PortableHash.hash60Sql("epoch || '-' || doc_id")}, doc_id)
         |    AS shuffle_rank
         |FROM e""".stripMargin,

    "q122_bpe_train" -> graft.operators.Bpe.trainSql(
      "documents", "text", BpeMerges, BpeMinPair),
    "q174_bytebpe_train" -> graft.operators.Bpe.trainBytesSql(
      "documents", "text", BpeMerges, BpeMinPair),
    "q175_bytebpe_encode" -> graft.operators.Bpe.encodeBytesSql(
      "documents", "doc_id", "text", BpeMerges, BpeMinPair,
      encodeTable = s"(SELECT doc_id, text || '$OovPlant' || " +
        s"'$ByteOovPlant' AS text FROM documents)"),
    "q123_bpe_encode" -> graft.operators.Bpe.encodeSql(
      "documents", "doc_id", "text", BpeMerges, BpeMinPair,
      encodeTable =
        s"(SELECT doc_id, text || '$OovPlant' AS text FROM documents)"),
    "q159_unigram_train" -> graft.operators.UnigramLm.trainSql(
      "documents", "text", maxPieceLen = 4, seedTop = UnigramSeedTop,
      keepMulti = UnigramKeepMulti, iters = UnigramIters, maxWordLen = 8),
    "q160_unigram_encode" -> graft.operators.UnigramLm.encodeSql(
      "documents", "doc_id", "text", maxPieceLen = 4,
      seedTop = UnigramSeedTop, keepMulti = UnigramKeepMulti,
      iters = UnigramIters, maxWordLen = 8,
      encodeTable =
        s"(SELECT doc_id, text || '$OovPlant' AS text FROM documents)"),
    "q163_wordpiece_train" -> graft.operators.WordPiece.trainSql(
      "documents", "text", BpeMerges, BpeMinPair),
    "q164_wordpiece_encode" -> graft.operators.WordPiece.encodeSql(
      "documents", "doc_id", "text", BpeMerges, BpeMinPair,
      maxWordLen = 8,
      encodeTable =
        s"(SELECT doc_id, text || '$OovPlant' AS text FROM documents)"),
    "q165_unigram_ppl" -> graft.operators.UnigramLm.docScoreSql(
      "documents", "doc_id", "text", maxPieceLen = 4,
      seedTop = UnigramSeedTop, keepMulti = UnigramKeepMulti,
      iters = UnigramIters, maxWordLen = 8,
      encodeTable =
        s"(SELECT doc_id, text || '$OovPlant' AS text FROM documents)"),
    "q167_tokenizer_fertility" -> {
      val encT = s"(SELECT doc_id, text || '$OovPlant' AS text FROM documents)"
      def fert(fam: String, sub: String): String =
        s"""SELECT '$fam' AS family, count(*) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_words,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |  round(CAST(sum(n_tokens) AS DOUBLE) / sum(n_words), 6)
           |    AS fertility
           |FROM ($sub)""".stripMargin
      Seq(
        fert("bpe", graft.operators.Bpe.encodeSql(
          "documents", "doc_id", "text", BpeMerges, BpeMinPair,
          encodeTable = encT)),
        fert("byte_bpe", graft.operators.Bpe.encodeBytesSql(
          "documents", "doc_id", "text", BpeMerges, BpeMinPair,
          encodeTable = encT)),
        fert("unigram", graft.operators.UnigramLm.encodeSql(
          "documents", "doc_id", "text", maxPieceLen = 4,
          seedTop = UnigramSeedTop, keepMulti = UnigramKeepMulti,
          iters = UnigramIters, maxWordLen = 8, encodeTable = encT)),
        fert("wordpiece", graft.operators.WordPiece.encodeSql(
          "documents", "doc_id", "text", BpeMerges, BpeMinPair,
          maxWordLen = 8, encodeTable = encT))
      ).mkString("\nUNION ALL\n")
    }
  )
}
