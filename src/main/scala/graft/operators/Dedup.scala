package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier
import graft.functions.PortableHash._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the 100 TB story, per operator):
  *  - exact: one hash-groupBy shuffle on a 16-byte digest, never on the
  *    raw text — shuffle volume is O(#docs × 16B), not corpus size.
  *  - minhash: per-doc signatures are computed with ONE explode and ONE
  *    grouped aggregate holding k running mins (k columns, not k×rows —
  *    no seed fan-out blowup). LSH banding then generates candidate
  *    pairs with an equi-join on (band, signature), which Catalyst
  *    shuffles by bucket key: O(n) candidates instead of O(n²) pairs.
  *  - simhash: same single explode + 32 conditional sums; near-dup pairs
  *    come from banding the signature bytes, again an equi-join.
  *  - ngram jaccard: inverted-index self-join on shingle with a
  *    stop-shingle cutoff (df > maxDocFreq dropped) so hub shingles
  *    can't quadratically explode the join — the standard skew guard.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the min id as canonical.
    * Output: one row per distinct content with its representative id and
    * multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Segment-level (line) exact dedup — the RefinedWeb/FineWeb-style
    * step BELOW document granularity: split each document into
    * `windowWords`-word segments, drop every segment whose exact text
    * already occurred earlier in the corpus (first occurrence =
    * smallest (doc_id, position)), and reassemble each document from
    * its surviving segments in order. Documents whose every segment is
    * a repeat disappear entirely (that IS the dedup).
    *
    * Scale shape: the first-occurrence aggregate groups by the 16-byte
    * segment digest carrying only (digest, id, pos) — column pruning
    * drops the text — so the min-shuffle moves digests, not prose;
    * segment text crosses the wire once, in the survivor join-back,
    * and reassembly is one shuffle on the doc id.
    * Output: (idCol, clean_text, n_kept, n_segments). */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   windowWords: Int = 10): DataFrame = {
    val words = split(col(textCol), " ")
    val nWin = ceil(size(words) / lit(windowWords.toDouble)).cast("int")
    val segs = df.select(col(idCol), nWin.as("n_segments"),
        posexplode(transform(sequence(lit(0), nWin - 1), i =>
          concat_ws(" ", slice(words, i * windowWords + 1, lit(windowWords))))))
      .toDF(idCol, "n_segments", "pos", "seg")
      .withColumn("__dig", md5(col("seg")))
    val firsts = segs
      .groupBy(col("__dig"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__dig").as("__fdig"),
        col(s"__first.$idCol").as("__fid"), col("__first.pos").as("__fpos"))
    segs.join(firsts,
        col("__dig") === col("__fdig") &&
          col(idCol) === col("__fid") && col("pos") === col("__fpos"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"),
        count(lit(1)).as("n_kept"),
        max(col("n_segments")).as("n_segments"))
  }

  /** INTRA-document segment dedup — the per-document twin of
    * [[segmentDedup]] (FineWeb/Gopher-style removal of a document's
    * own repeated passages: duplicated paragraphs from template
    * expansion, scraped pagination, copy-paste loops). Keeps the
    * FIRST occurrence of each distinct `windowWords`-word segment
    * WITHIN each document and reassembles in order.
    *
    * Scale shape: because the dedup scope is one row, the whole
    * operator is a pure projection — segment, first-occurrence filter
    * (`array_position(segs, s) == i+1`, the codegen'd keep-first
    * rule), rejoin — with ZERO exchanges at any corpus size; it runs
    * at scan throughput and composes in front of the corpus-wide
    * passes. The first-occurrence probe is O(segments²) per document
    * — bounded by document length, the per-row analogue of
    * [[TextAnalysis.stripBoilerplate]]'s bounded-small contract; for
    * book-length outliers, chunk first ([[TextAnalysis.chunkByTokens]]).
    */
  def intraDocDedup(df: DataFrame, idCol: String, textCol: String,
                    windowWords: Int = 10): DataFrame = {
    val words = split(col(textCol), " ")
    val nWin = ceil(size(words) / lit(windowWords.toDouble)).cast("int")
    val segs = transform(sequence(lit(0), nWin - 1), i =>
      concat_ws(" ", slice(words, i * windowWords + 1, lit(windowWords))))
    df.select(col(idCol), nWin.as("__n"), segs.as("__segs"))
      .select(col(idCol),
        filter(col("__segs"), (s, i) =>
          array_position(col("__segs"), s) === (i + 1).cast("long")).as("__kept"),
        col("__n"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Cross-document EXACT-SUBSTRING dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — the
    * ExactSubstr step of that pipeline, keep-first flavor): remove
    * from every document each token span of length ≥ `w` whose text
    * already occurred earlier in the corpus — across documents OR
    * earlier in the same document. "Earlier" is lexicographic
    * (doc_id, position), so the first occurrence always survives
    * intact and the operator is deterministic under any partitioning.
    *
    * Mechanism — SLIDING w-token shingles, not the fixed tiles of
    * [[segmentDedup]]: a span of length L ≥ w repeats iff all of its
    * L−w+1 interior shingles repeat, and the union of those
    * shingles' [pos, pos+w) windows covers EXACTLY the span — so
    * "drop every position covered by a non-first shingle" removes
    * precisely the duplicated substrings, with no tile-alignment
    * misses (a repeat straddling a 10-word tile boundary escapes
    * segmentDedup; it cannot escape this).
    *
    * Scale shape: the shingle frame carries (id, pos, 16-byte digest)
    * — prose NEVER shuffles. One digest-keyed min-aggregate finds
    * first occurrences, one digest-keyed join-back marks non-first
    * occurrences, and the per-doc covered-start list rides a
    * doc-keyed aggregate back onto the row, where a codegen'd array
    * filter rebuilds the text in place. The in-row rebuild is
    * O(tokens × covered-starts) per document — bounded by document
    * length (the [[intraDocDedup]] bounded-small contract; chunk
    * book-length outliers first).
    *
    * Documents shorter than `w` tokens have no shingles and pass
    * through unchanged. Output: (idCol, clean_text, n_tokens,
    * n_removed). */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    require(w >= 2, "window must be at least 2 tokens")
    val toks = df.select(col(idCol), split(col(textCol), " ").as("ws"))
    // digest via the switchable PortableHash backend, at FULL
    // 120-bit width (round-9 ADVICE: an operator named 'exact' must
    // not silently delete a non-duplicate span on a digest collision
    // — 60 bits statistically collides within 10^12 production
    // shingles, 120 bits does not; see hash120's bound). Grouping is
    // engine-INTERNAL, so the DuckDB oracle's own full-md5 grouping
    // agrees without sharing bits. The per-window digest is this
    // operator's dominant cost at scale (SCALE.md 100× entry); the
    // width upgrade costs 8 bytes per shuffled shingle row
    val ws = col("ws")
    val digType = "array<struct<d1:bigint,d2:bigint>>"
    val sh = toks.select(col(idCol), posexplode(
        when(size(ws) >= w,
          transform(sequence(lit(0), size(ws) - w), i =>
            graft.functions.PortableHash.hash120(
              concat_ws(" ", slice(ws, i + 1, lit(w))))))
          .otherwise(expr(s"cast(array() as $digType)"))))
      .toDF(idCol, "pos", "dig")
    val firsts = sh.groupBy(col("dig"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
    val dupStarts = sh.join(firsts, Seq("dig"))
      .filter(!(col(idCol) === col(s"f.$idCol") && col("pos") === col("f.pos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    toks.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), col("ws"),
        when(col("__starts").isNull, col("ws"))
          .otherwise(expr(
            s"filter(ws, (t, p) -> NOT exists(__starts, s -> s <= p AND p < s + $w))"))
          .as("__kept"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Per-doc MinHash signature: k min-hashes over the word set, as k
    * columns (function i → column `mh_i`), the k hash functions
    * derived from ONE md5 per word via
    * [[graft.functions.PortableHash.hashFamily]] (per-function
    * multiply-mod mixing; round 9, after the per-word k-md5 aggregate
    * measured as ~90% of q33's wall time — see hashFamily's scaladoc
    * for why plain h1 + i·h2 double hashing is NOT usable here).
    *
    * Deliberately NO distinct before the grouped min: a duplicate word
    * cannot change a min, so the result is bit-identical with or
    * without it — but a pre-aggregation distinct costs a full shuffle
    * of every (doc, word) pair. Without it, partial aggregation
    * reduces each input partition to (doc, k mins) map-side and the
    * only shuffle carries k longs per doc — at 100 TB that is the
    * difference between shuffling the tokenized corpus and shuffling
    * a signature table. (Contrast [[simhash60]], where duplicates DO
    * change the bit sums and the distinct is semantic.) */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    val hs = graft.functions.PortableHash.hashFamily(col("w"), k)
    val mins = hs.zipWithIndex.map { case (h, i) => min(h).as(s"mh_$i") }
    words.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Band a k-wide signature frame into (idCol, band, sig) bucket rows
    * — the shared LSH banding used by the pair generator, the
    * component builder, and the cross-run state builder (ONE place to
    * change banding, or the three would silently disagree). `carry`
    * names extra columns to ride along on every band row (e.g. the
    * full signature, so a downstream bucket join can verify map-side
    * without a join back — [[incrementalDedup]]'s probe). */
  def bandSignatures(sigs: DataFrame, idCol: String, k: Int,
                     bands: Int, carry: Seq[String] = Nil): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature width $k must divide evenly into $bands bands " +
        "(a truncated last band would silently weaken the LSH guarantee)")
    val rows = k / bands
    Relational.unpivot(
      sigs.select((idCol +: carry).map(col) ++ (0 until bands).map { b =>
        concat_ws("-", ((b * rows) until ((b + 1) * rows)).map(i => col(s"mh_$i")): _*)
          .as(s"band_$b")
      }: _*),
      idCol +: carry, (0 until bands).map(b => s"$b" -> s"band_$b"),
      nameCol = "band", valueCol = "sig")
  }

  /** Over-cap (band, sig) bucket census for [[minhashCandidatePairs]]:
    * the buckets whose membership exceeds `maxBucket` (and so are
    * dropped from candidate generation), with their sizes. Diagnostic
    * surface for flood monitoring — the pair generator itself applies
    * the cap as a plan-level filter and never runs this census
    * (VERDICT r8 #4: the zero-drop common case must pay nothing). The
    * result is PROVABLY small: ≤ bands × docs / maxBucket rows by
    * pigeonhole. */
  def minhashOverCapBuckets(sigs: DataFrame, idCol: String, k: Int,
                            bands: Int, maxBucket: Int = 1000): DataFrame =
    bandSignatures(sigs, idCol, k, bands)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** LSH candidate pairs: band the k-wide signature into `bands` groups
    * of k/bands rows, bucket on (band, concatenated band signature),
    * emit distinct (id_a < id_b) pairs sharing ≥1 bucket.
    *
    * `maxBucket` is the same quadratic-blowup guard as
    * [[simhashPairs]]'s: a (band, sig) bucket with more members than
    * the cap is DROPPED from candidate generation. On a
    * smoothly-similar corpus bucket co-membership percolates (measured
    * round 8: 4,994 of 5,000 docs chained), so the pair SURFACE grows
    * ~Σ bucket² with corpus density — 27k pairs at sf0.01 became 6.4M
    * at sf0.1. A true near-dup pair that loses one over-cap band still
    * collides in each remaining band with p = J^r (at J=0.9, r=4:
    * ≈0.66 per band, ≥0.96 via the other three) — which is why a cap
    * is safe where an all-pairs gate would not be. The cap is part of
    * the operator SPEC (the oracle applies the same rule). Consumers
    * that need clusters, not pairs, should use [[minhashComponents]]
    * (star edges — linear in bucket size, no cap needed).
    *
    * Plan shape (round 9): the cap is a window `count(*) over
    * (partition by band, sig)` filter, not a census job + anti join —
    * the window rides the same (band, sig) hash-partitioning the
    * self-join needs, so the zero-drop common case pays no separate
    * census pass and no broadcast anti-join stage (the round-8 census
    * cost q33 ~1s at sf0.1 with zero buckets over cap). The banded
    * frame is materialized ONCE, by [[capBuckets]] — it feeds both
    * self-join sides, and without a materialization barrier AQE's
    * broadcast planning duplicates the whole signature aggregation
    * into each side (measured here: 2× the 16-min md5 aggregate,
    * 4.2s vs 0.3s at sf0.1). A checkpoint barrier, not cache: a cache
    * entry would escape into the returned plan and pile up across
    * bench passes (the round-8 caller-must-release wart); checkpoint
    * blocks free with the RDD. Flood diagnostics live in
    * [[minhashOverCapBuckets]]. */
  def minhashCandidatePairs(sigs: DataFrame, idCol: String, k: Int,
                            bands: Int, maxBucket: Int = 1000): DataFrame = {
    val kept = capBuckets(bandSignatures(sigs, idCol, k, bands),
      Seq("band", "sig"), maxBucket)
    val a = kept.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = kept.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Drop every row of a bucket whose population exceeds `maxBucket` —
    * the flood guard the banded candidate generators share. Mechanism
    * (round 16, measured): a combine-aggregate census + anti probe
    * instead of a count WINDOW — the census shuffles only distinct
    * bucket keys (map-side combine collapses the rows), the over-cap
    * list is ≤ rows/maxBucket buckets by construction and rides a
    * broadcast anti, where the window form shuffled AND SORTED the
    * full banded row stream before the self-join re-used the
    * exchange. Kept rows are EXACTLY those in buckets with count ≤
    * maxBucket — the oracles' HAVING replay is untouched.
    *
    * The anti side is broadcast ONLY while it is broadcast-SIZED: the
    * over-cap list is bounded by rows/maxBucket, which on a
    * flood-heavy corpus (1e10 banded rows / cap 1e3 = 1e7+ keys) can
    * blow the 8 GB broadcast hard limit — and an explicit hint
    * bypasses the planner's own size check, so the hinted form FAILS
    * a job the shuffled anti handles gracefully. The census is
    * materialized first (it feeds the count AND the probe — one
    * aggregate, not two), the count picks the strategy, and past
    * [[CapBroadcastMaxKeys]] keys the join falls back to a plain
    * shuffled left_anti (both sides hash-partition on the bucket key;
    * the probe side re-shuffles rows it would have streamed, the
    * price of not dying).
    *
    * The input and the result are [[GraftCheckpoint.barrier]]s too:
    * the census and the anti probe both read the input, so
    * unmaterialized its producer would run twice; every caller
    * self-joins the result, so unmaterialized each join side would
    * re-run the census and the probe (measured: the duplicated census
    * cost q33 more than the window it replaced — SCALE_MEASURE_r16).
    * Callers pass plain frames. */
  private[operators] def capBuckets(in: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame = {
    val df = barrier(in)
    val over = barrier(df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select(keys.map(col): _*))
    val anti =
      if (over.count() <= CapBroadcastMaxKeys) broadcast(over) else over
    barrier(df.join(anti, keys, "left_anti"))
  }

  /** Over-cap key-list size above which [[capBuckets]] stops hinting a
    * broadcast anti: ~1e6 keys of (band, 32-char sig) build a
    * hashed relation in the low hundreds of MB — comfortably inside
    * the driver and the 8 GB broadcast ceiling; an order of magnitude
    * more is not. */
  private[operators] val CapBroadcastMaxKeys = 1000000L

  /** SimHash signature width and banding. 60 bits is the widest
    * signature the portable hash backend supports ([[hash60]] — a
    * 16-hex-char md5 prefix would overflow DuckDB's signed BIGINT
    * cast, killing the oracle), banded into four 15-bit chunks. The
    * chunk VALUE space is what bounds candidate generation: 2^15 =
    * 32,768 buckets per chunk vs the 256 an 8-bit chunking has, so
    * expected random-collision pairs are n²/2^15 per chunk instead of
    * n²/2^8 — the difference between a fixed 1,024-bucket space that
    * goes quadratic on any large corpus and one that a per-bucket cap
    * ([[simhashPairs]]) keeps linear. */
  final val SimhashBits = 60
  final val SimhashChunks = 4
  final val SimhashChunkBits: Int = SimhashBits / SimhashChunks // 15
  final val SimhashChunkMask: Int = (1 << SimhashChunkBits) - 1 // 32767

  /** 60-bit SimHash signature over the distinct word set: bit j of the
    * signature is set iff the sum over words of ±1 (word-hash bit j) is
    * positive. Single explode + one aggregate with 60 sums. */
  def simhash60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .distinct()
      .withColumn("h", hash60(col("w")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s_$j")
    }
    val agg = words.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { j =>
      shiftleft(when(col(s"s_$j") > 0, 1L).otherwise(0L), j)
    }.reduce(_ + _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Chunk the 60-bit simhash signature into (chunk, v) bucket rows —
    * shared by [[simhashPairs]] and [[simhashOverCapBuckets]] (one
    * place to change the chunking). */
  private def simhashChunkRows(sigs: DataFrame, idCol: String): DataFrame = {
    val chunked = sigs.select(
      col(idCol) +: col("simhash") +:
        (0 until SimhashChunks).map(c =>
          shiftright(col("simhash"), c * SimhashChunkBits)
            .bitwiseAND(SimhashChunkMask).as(s"c_$c")): _*)
    Relational.unpivot(chunked, Seq(idCol, "simhash"),
      (0 until SimhashChunks).map(c => s"$c" -> s"c_$c"),
      nameCol = "chunk", valueCol = "v")
  }

  /** Over-cap (chunk, value) bucket census for [[simhashPairs]] — the
    * quadratic-blowup tripwire, as an explicit diagnostic query
    * (pigeonhole-small result; see [[minhashOverCapBuckets]]). */
  def simhashOverCapBuckets(sigs: DataFrame, idCol: String,
                            maxBucket: Int = 1000): DataFrame =
    simhashChunkRows(sigs, idCol)
      .groupBy(col("chunk"), col("v"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** SimHash near-dup pairs: band the 60-bit signature into four
    * 15-bit chunks; docs sharing any chunk value are candidates; keep
    * pairs with Hamming distance ≤ maxHamming.
    *
    * Recall contract (pigeonhole): `maxHamming ≤ 3` differing bits
    * cannot touch all four chunks, so at least one chunk matches
    * exactly and the banding is EXACT — every qualifying pair is
    * emitted (modulo the bucket cap below). Above 3 the operator is a
    * heuristic-recall candidate generator like any LSH scheme (the
    * Manku/WWW'07 full guarantee for larger k needs C(chunks, k)
    * block-union tables — not worth the table blowup here when the
    * cluster path [[minhashComponents]] covers coarser similarity).
    *
    * `maxBucket` is the quadratic-blowup guard: any (chunk, value)
    * bucket with more than `maxBucket` members is DROPPED from
    * candidate generation, so a degenerate corpus — all-same
    * boilerplate, a hash-flooding adversary — costs O(n) skipped rows
    * instead of O(bucket²) pairs. Members of a dropped bucket can
    * still pair through their three other chunks (a true near-dup at
    * hamming ≤ maxHamming almost surely shares several chunks), which
    * is why a cap is safe where an all-pairs gate would not be. The
    * cap is part of the operator SPEC (the oracle applies the same
    * rule), not a best-effort heuristic. Flood diagnostics (which
    * buckets were dropped, how big) live in [[simhashOverCapBuckets]].
    *
    * Plan shape (round 9, same as [[minhashCandidatePairs]]): the cap
    * is a window count filter riding the (chunk, v) exchange the
    * self-join needs anyway — no census job, no anti join in the
    * zero-drop common case. The chunk rows are materialized once, by
    * [[capBuckets]] (they feed both self-join sides; see the minhash
    * twin for the measured duplication cost without the barrier and
    * for why checkpoint beats cache here). */
  def simhashPairs(sigs: DataFrame, idCol: String,
                   maxHamming: Int, maxBucket: Int = 1000): DataFrame = {
    val kept = capBuckets(simhashChunkRows(sigs, idCol),
      Seq("chunk", "v"), maxBucket)
    val a = kept.select(col(idCol).as("id_a"), col("simhash").as("sig_a"),
      col("chunk"), col("v"))
    val b = kept.select(col(idCol).as("id_b"), col("simhash").as("sig_b"),
      col("chunk"), col("v"))
    // hamming filter BEFORE the distinct: the candidate stream is the
    // big intermediate (dense corpora make it ~6x the qualifying set),
    // so the dedup shuffle should only carry survivors
    a.join(b, Seq("chunk", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Signature-agreement column for edge verification: the number of
    * matching minhash components between the two endpoint signatures
    * (prefixed `a_`/`b_`). matching/k is the unbiased Jaccard
    * estimator, so `agree >= ceil(theta*k)` is a similarity gate that
    * costs ZERO extra hashing — the signatures already exist. Integer
    * compare (never a float ratio) so the rule is bit-portable to the
    * SQL oracle. */
  private def sigAgreement(k: Int): Column =
    (0 until k).map(i =>
      when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Duplicate components straight from banded signatures: all docs
    * sharing an LSH bucket are mutually candidates, so a per-bucket
    * STAR to the bucket-minimum doc has exactly the connected
    * components of the full candidate-pair graph — with O(#docs ×
    * bands) edges instead of O(bucket²). Near-duplicate corpora
    * produce near-clique buckets (measured here: 2.7M pairs over 4.6k
    * docs at sf0.1), where materializing the pair list is the scale
    * killer; the star skips it entirely. Use
    * [[minhashCandidatePairs]] when the downstream step needs the
    * pairs themselves (e.g. to score each pair).
    *
    * `minAgree` (round-8): VERIFY each star edge by signature
    * agreement — keep doc→center only when ≥ minAgree of the k minhash
    * components match (agreement/k estimates Jaccard, so 13/16 ≈
    * J ≥ 0.8). Without it, bucket co-membership alone links docs, and
    * connected components then chain moderate-similarity pairs
    * transitively: measured on the round-8 corpus, unverified b=4
    * banding collapsed 4,994 of 5,000 docs into 2 mega-clusters,
    * while verified edges (13/16) yield 10 true template families —
    * see SCALE.md "Component percolation". Verification costs two
    * id-keyed joins of the O(docs × bands) edge list against the
    * signature table — never a pairwise stage. NOTE: with
    * verification the star graph is no longer equivalent to the
    * verified-PAIR graph (a bucket whose min-id doc is a bystander
    * verifies no edges even if other members pair) — the contract is
    * "components of the verified star", which the oracle replicates
    * exactly. */
  def minhashComponents(sigs: DataFrame, idCol: String, k: Int,
                        bands: Int,
                        minAgree: Option[Int] = None): DataFrame = {
    // with verification the signature frame feeds THREE consumers
    // (banding + both verify-join sides) — materialize it once or the
    // signature aggregation (the expensive corpus-wide explode+agg)
    // replans into every consumer; without, banding is the only
    // consumer and the banded cache below is enough
    val sigsM = if (minAgree.isDefined) barrier(sigs) else sigs
    // banded fan-out: with sigsM materialized, banding is a narrow
    // stack over checkpoint blocks — cheaper to recompute per consumer
    // than to pay a cache-fill job; without (unverified path), the
    // cache is the materialization barrier for the two consumers
    val edges = minAgree match {
      case None =>
        val banded = bandSignatures(sigsM, idCol, k, bands).cache()
        banded.count() // populate before TWO consumers scan it in one job
        val centers = banded.groupBy(col("band"), col("sig"))
          .agg(min(col(idCol)).as("center"))
        try barrier(banded.join(centers, Seq("band", "sig"))
          .filter(col(idCol) =!= col("center")) // size-1 buckets drop out
          .select(col(idCol).as("id_a"), col("center").as("id_b")))
        finally banded.unpersist()
      case Some(th) =>
        // verified path, round-10 shape (the q95 carry medicine): the
        // member's OWN signature rides the band rows, and the center
        // aggregate is min(struct(id, sig…)) — same center as min(id),
        // with its signature dragged along atomically — so agreement
        // filters map-side on the star join's output and the edge
        // stream never re-crosses the wire into signature join-backs
        // (the old shape shuffled it twice; q67 at 100× measured the
        // cost). Band rows carry k extra ints — corpus-linear.
        // both consumers (center aggregate + star join) would
        // otherwise re-derive the carry-widened band table from the
        // signature checkpoint
        val banded = barrier(bandSignatures(
          sigsM.select(col(idCol) +: ((0 until k).map(i => col(s"mh_$i")) ++
            (0 until k).map(i => col(s"mh_$i").as(s"a_mh_$i"))): _*),
          idCol, k, bands, carry = (0 until k).map(i => s"a_mh_$i")))
        val centers = banded.groupBy(col("band"), col("sig"))
          .agg(min(struct(col(idCol) +:
            (0 until k).map(i => col(s"a_mh_$i").as(s"b_mh_$i")): _*))
            .as("__c"))
        banded.join(centers, Seq("band", "sig"))
          .filter(col(idCol) =!= col(s"__c.$idCol"))
          .select(Seq(col(idCol).as("id_a"), col(s"__c.$idCol").as("id_b")) ++
            (0 until k).map(i => col(s"a_mh_$i")) ++
            (0 until k).map(i => col(s"__c.b_mh_$i").as(s"b_mh_$i")): _*)
          .filter(sigAgreement(k) >= th)
          .select(col("id_a"), col("id_b"))
    }
    connectedComponents(edges, "id_a", "id_b")
  }

  /** Connected components over candidate pairs: every doc in a
    * duplicate cluster gets the cluster's minimum id as its component
    * (the canonical representative), so "keep one per cluster" is
    * `component = doc_id`. Iterative min-label propagation — each
    * round, a node adopts the smallest component seen among its
    * neighbors; converges in O(diameter) rounds (LSH dup clusters are
    * shallow).
    *
    * The Spark iterative-algorithm essentials, applied: edges cached
    * once and reused every round; each round's labels checkpointed to
    * truncate lineage (without it the plan doubles per iteration and
    * the job dies on driver planning time long before data size
    * matters); convergence detected by counting changed labels, one
    * action per round.
    *
    * Thread-safe w.r.t. concurrent queries: per-round parallelism
    * comes from AQE's runtime partition coalescing (the dup graph is
    * orders of magnitude smaller than the corpus, so each round's
    * shuffles coalesce to graph-sized partition counts automatically)
    * — the session-global shuffle-partition conf is never mutated. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponentsStats(pairs, aCol, bCol, maxIter)._1

  /** Edge-count threshold below which [[connectedComponentsStats]]
    * solves the graph with a driver-side union-find instead of the
    * distributed iteration. Rationale: a VERIFIED duplicate graph is
    * orders of magnitude smaller than its corpus (measured sf0.1:
    * 8,886 edges from 5,000 docs — and the distributed loop's
    * per-round fixed cost of ~0.7s × 5 rounds dwarfed the actual
    * work), while 1M edges collect to ~tens of MB and union-find with
    * path compression solves them in well under a second. The
    * distributed path stays the default above the threshold (a 10^10
    * -doc crawl's dup graph genuinely needs it) and remains
    * property-tested by forcing `driverThreshold = 0`. */
  final val DefaultDriverCcEdges = 1000000L

  /** [[connectedComponents]] plus the number of label-propagation
    * rounds it took to converge — the scaling-diagnostic the plan
    * audit cares about (rounds track cluster DIAMETER, not corpus
    * size, so a 10x corpus with the same cluster shape must converge
    * in the same number of rounds; DedupSpec pins the O(log n)
    * pointer-jumping bound on a planted chain). */
  def connectedComponentsStats(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          driverThreshold: Long = DefaultDriverCcEdges): (DataFrame, Int) = {
    // materialize the pair input ONCE before the union reads it twice:
    // two union branches scanning an unmaterialized lineage in one job
    // each recompute it (the cache races its own second reader)
    val p = pairs.select(col(aCol).as("src0"), col(bCol).as("dst0")).cache()
    val nPairs = p.count()
    val sameType = pairs.schema(aCol).dataType == pairs.schema(bCol).dataType
    if (nPairs <= driverThreshold && sameType) {
      // small-graph fast path: exact union-find on the driver. The
      // collect is BOUNDED by driverThreshold (see its scaladoc); the
      // result ships back as a plain DataFrame so downstream plans are
      // identical to the distributed path's.
      val rows = p.collect()
      p.unpersist()
      val parent = new java.util.HashMap[Any, Any](rows.length * 2)
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      rows.foreach { r =>
        val a = r.get(0); val b = r.get(1)
        if (a != null && b != null) {
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(ra, rb)
        }
      }
      // min-label semantics: the component id is the MINIMUM member id
      val minOf = new java.util.HashMap[Any, Any]()
      parent.keySet.forEach { n =>
        val r = find(n)
        val cur = minOf.get(r)
        if (cur == null ||
            n.asInstanceOf[Comparable[Any]].compareTo(cur) < 0)
          minOf.put(r, n)
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
      parent.keySet.forEach { n =>
        out.add(org.apache.spark.sql.Row(n, minOf.get(find(n))))
      }
      val dt = pairs.schema(aCol).dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", dt),
        org.apache.spark.sql.types.StructField("component", dt)))
      lastCcRounds = 0 // driver path marker (see scaladoc of lastCcRounds)
      return (pairs.sparkSession.createDataFrame(out, schema), 0)
    }
    val allEdges = p.select(col("src0").as("src"), col("dst0").as("dst"))
      .union(p.select(col("dst0").as("src"), col("src0").as("dst")))
      .distinct().cache()
    // iteration parallelism tracks GRAPH size, not cluster default:
    // the dup graph is orders of magnitude smaller than the corpus,
    // and per-round job overhead at full parallelism would dominate.
    // Only the EDGES frame is explicitly graph-size-partitioned; the
    // per-round shuffles coalesce to matching sizes at runtime via AQE
    // (no session-global shuffle-partition mutation — thread-safe for
    // concurrent queries on the same session)
    val nParts = math.max(1, math.min(200, allEdges.count() / 500000L)).toInt
    val edges = allEdges.repartition(nParts, col("src")).cache()
    edges.count()
    allEdges.unpersist()
    var labels = barrier(edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, col("node") === col("src"))
        .groupBy(col("dst")).agg(min(col("comp")).as("ncomp"))
      // pointer jumping fused into the relabel round: follow the new
      // label through the PREVIOUS round's (already checkpointed)
      // node->comp mapping. A stale parent is still a node id inside
      // the same component, so min-label safety holds, the chain still
      // shortens every round — and the mid-round checkpoint the
      // self-join needed (one full shuffle job per round) disappears.
      val parents = labels
        .select(col("node").as("p_node"), col("comp").as("p_comp"))
      val next = labels
        .join(neighborMin, col("node") === col("dst"), "left")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("mid"))
        .join(parents, col("mid") === col("p_node"), "left")
        .select(col("node"), col("prev"),
          least(col("mid"), coalesce(col("p_comp"), col("mid"))).as("comp"))
      val checked = barrier(next)
      // convergence probe scans the checkpointed blocks, not a lineage
      converged = checked.filter(col("comp") =!= col("prev")).isEmpty
      labels = checked.select(col("node"), col("comp"))
      iter += 1
    }
    require(converged, s"not converged after $maxIter rounds")
    edges.unpersist()
    p.unpersist()
    lastCcRounds = iter
    (labels.select(col("node").as("doc_id"), col("comp").as("component")), iter)
  }

  /** Materialized component tables, keyed by (context, corpus key,
    * id/text cols, minhash params). [[componentsOf]] is the consumer
    * path (evaluate-if-absent); [[buildComponents]] the producer path
    * (always rebuilds). */
  private val componentsMemo = new graft.core.Memo[String, DataFrame]

  private def componentsKey(docs: DataFrame, corpusKey: String,
                            idCol: String, textCol: String,
                            k: Int, bands: Int,
                            minAgree: Option[Int]): String = {
    val ctx = docs.sparkSession.sparkContext.applicationId
    s"$ctx|$corpusKey|$idCol|$textCol|$k|$bands|${minAgree.getOrElse(-1)}"
  }

  /** Materialized duplicate-components stage, shared by every consumer
    * of the same corpus+params. Cluster labels, canonical-survivor
    * selection, and the leak-safe split all need the SAME component
    * table, and at 100 TB label propagation is by far the most
    * expensive stage of the dedup pipeline — recomputing it per
    * consumer multiplies that cost by the consumer count for zero new
    * information. The production shape: CC output is written ONCE as a
    * components table keyed by (corpus snapshot, minhash params) and
    * every downstream job scans that table. This is the in-session
    * analog: the first consumer runs [[minhashComponents]] and
    * materializes the labels with an eager [[GraftCheckpoint.barrier]]
    * (plan truncated to a block scan; two longs per clustered doc —
    * orders of magnitude smaller than the corpus), and later consumers
    * with the same key scan the existing blocks. Memo lifecycle (not
    * dropped by `clearCache()`): [[graft.core.Memo]]; call
    * [[releaseComponents]] to reset. */
  def componentsOf(docs: DataFrame, corpusKey: String, idCol: String,
                   textCol: String, k: Int, bands: Int,
                   minAgree: Option[Int] = None): DataFrame =
    componentsMemo(
        componentsKey(docs, corpusKey, idCol, textCol, k, bands, minAgree)) {
      barrier(minhashComponents(minhashSignatures(docs, idCol, textCol, k),
        idCol, k, bands, minAgree = minAgree))
    }

  /** Producer path: ALWAYS recompute this corpus's components and
    * refresh the memo — the registry's build-the-stage entry. Keeping
    * the builder honest matters for measurement: a bench pass of the
    * builder pays the full CC cost every time, while consumer queries
    * ride the memo it leaves behind. */
  def buildComponents(docs: DataFrame, corpusKey: String, idCol: String,
                      textCol: String, k: Int, bands: Int,
                      minAgree: Option[Int] = None): DataFrame = {
    componentsMemo.remove(componentsKey(docs, corpusKey, idCol, textCol, k, bands, minAgree))
    componentsOf(docs, corpusKey, idCol, textCol, k, bands, minAgree)
  }

  /** Drop every memoized components table. */
  def releaseComponents(): Unit = componentsMemo.clear()

  /** Rounds of the most recent [[connectedComponents]] convergence —
    * a measurement/diagnostic aid for the scale harness (tools.Scale
    * reads it after driving a registry query whose CC is internal,
    * e.g. q67). 0 means the driver union-find fast path solved the
    * graph (edge count under the threshold); positive counts are
    * distributed label-propagation rounds. Monotonic info only, never
    * part of a query result; concurrent CC runs on one session would
    * interleave writes, which is acceptable for a diagnostic. */
  @volatile var lastCcRounds: Int = -1

  /** Build the compact cross-run dedup state for [[incrementalDedup]]:
    * (content-digest table, LSH-band table) of a corpus. At 100 TB
    * these are the MATERIALIZED tables a pipeline maintains between
    * crawls — digests are 16 bytes/doc and bands k-ints/doc, so the
    * state is orders of magnitude smaller than the corpus it
    * summarizes, and each run appends the new batch's rows instead of
    * rescanning history. */
  def dedupState(df: DataFrame, idCol: String, textCol: String,
                 k: Int, bands: Int): (DataFrame, DataFrame) = {
    val digests = df.select(md5(col(textCol)).as("content_hash")).distinct()
    // signatures ride the banding in ONE pass: banding needs only the
    // k mh_* columns it concatenates, and the full signature the state
    // row must carry is the same k columns — so carrying them through
    // the unpivot replaces the former bandSignatures⋈sigs join-back
    // (which recomputed the signature aggregate twice and shuffled the
    // band rows a second time; round-10 q95 profile, SCALE.md)
    val sigs = minhashSignatures(df, idCol, textCol, k)
    val banded = bandSignatures(sigs, idCol, k, bands,
        carry = (0 until k).map(i => s"mh_$i"))
      .select(col("band") +: col("sig") +:
        (0 until k).map(i => col(s"mh_$i")): _*)
      .distinct()
    (digests, banded)
  }

  /** Cross-SESSION form of [[dedupState]]: load the published
    * (digest, band) state tables for `(corpusKey, version)` if they
    * exist, else build, publish, and load back. The state is exactly
    * what a months-long crawl carries between runs — 16-byte digests
    * and k-int band rows, orders of magnitude under the corpus — so
    * the incremental run starts from two partition-pruned scans and
    * never touches the history corpus ([[graft.operators.Similarity
    * .pqPublished]]'s two-kind lifecycle; `numFiles` splits the
    * corpus-sized band table for parallel read/write). */
  def dedupStatePublished(df: DataFrame, root: String, corpusKey: String,
                          version: String, idCol: String, textCol: String,
                          k: Int, bands: Int,
                          numFiles: Int = 1): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "dedup_digests", corpusKey, version))
      (ArtifactStore.load(spark, root, "dedup_digests", corpusKey, version),
        ArtifactStore.load(spark, root, "dedup_bands", corpusKey, version))
    else {
      val (digests, banded) = dedupState(df, idCol, textCol, k, bands)
      ArtifactStore.save(digests, root, "dedup_digests", corpusKey, version,
        numFiles)
      ArtifactStore.save(banded, root, "dedup_bands", corpusKey, version,
        numFiles)
      (ArtifactStore.load(spark, root, "dedup_digests", corpusKey, version),
        ArtifactStore.load(spark, root, "dedup_bands", corpusKey, version))
    }
  }

  /** Cross-run incremental dedup — today's crawl against everything
    * already kept, WITHOUT rescanning history: dedup the batch
    * against ITSELF exactly (min id per content digest — a crawl
    * batch routinely re-fetches the same page), drop docs whose
    * digest is already in `seenDigests` (cross-run exact dups, one
    * anti join on a 16-byte key), then docs sharing any LSH bucket
    * with `seenBands` (cross-run near dups, one semi probe on the
    * (band, sig) bucket key — the same O(n) candidate topology as
    * [[minhashCandidatePairs]], probing a state table instead of
    * self-joining). Within-batch NEAR dups are deliberately out of
    * scope — that is the full pairwise pass
    * ([[minhashComponents]]) over the survivors, whose output also
    * feeds the state update. Per-run cost is new-batch-sized; the
    * history contributes only its compact state tables (see
    * [[dedupState]]). The batch-mode twin of
    * [[graft.streaming.IncrementalAlerts.antiJoinIncrement]]'s
    * exclusion maintenance and of [[graft.streaming.IncrementalAlerts
    * .dedupStream]]'s ingest gate.
    *
    * Scale shape (round-10 rework — the q95 100× profile named two
    * floors; SCALE.md "q95 profile"): (1) `fresh` is consumed by the
    * signature build AND the final anti join, and its lineage holds
    * the exact-dedup shuffle plus the digest anti probe — left
    * unmaterialized it recomputed ~3× (cold wall 138s at 100×, 26s
    * with the frame materialized). It is now checkpointed once,
    * eagerly. (2) the verified path joined the bucket-hit stream
    * (quadratic in per-bucket density: 101M rows at 100× for a 166k
    * batch — duplicate-heavy corpora make MEAN buckets dense, the
    * round-9 width lesson) back to the batch signatures, SHUFFLING
    * the 101M wide intermediate. The batch's own signature now rides
    * the band rows into the single bucket join, so agreement is a
    * map-side filter on the join output — the dense-bucket hit stream
    * is consumed inside one codegen stage and never crosses the wire.
    * Same rows, same rule, same output; 100× wall 38.4s → ~8s. */
  def incrementalDedup(newBatch: DataFrame, idCol: String, textCol: String,
                       seenDigests: DataFrame, seenBands: DataFrame,
                       k: Int, bands: Int,
                       minAgree: Option[Int] = None): DataFrame = {
    val hashed = newBatch.withColumn("__ch", md5(col(textCol)))
    // within-batch exact dedup: canonical row = min id per digest
    // (same shape as [[exact]]'s keep rule)
    val selfDeduped = hashed.join(
      hashed.groupBy(col("__ch")).agg(min(col(idCol)).as(idCol)),
      Seq("__ch", idCol), "left_semi")
    val fresh = barrier(selfDeduped.join(seenDigests,
      col("__ch") === seenDigests("content_hash"), "left_anti")
      .drop("__ch"))
    val freshSigs = minhashSignatures(fresh, idCol, textCol, k)
    // probe hit = shared bucket; with minAgree set, a hit must ALSO
    // verify by signature agreement against the state row's stored
    // signature (dedupState carries it) — a bucket collision with a
    // merely-moderate-similarity history doc must not silently drop a
    // fresh document (round-8 fix; same estimator as
    // [[minhashComponents]]'s edge verification)
    val nearSeen = minAgree match {
      case None =>
        bandSignatures(freshSigs, idCol, k, bands)
          .join(seenBands, Seq("band", "sig"), "left_semi")
          .select(col(idCol)).distinct()
      case Some(th) =>
        // the batch signature rides the band rows (k ints per row —
        // batch-linear), so the dense bucket-hit stream is verified
        // map-side and reduced to ids before any further exchange
        val aBands = bandSignatures(
          freshSigs.select(col(idCol) +: ((0 until k).map(i => col(s"mh_$i")) ++
            (0 until k).map(i => col(s"mh_$i").as(s"a_mh_$i"))): _*),
          idCol, k, bands, carry = (0 until k).map(i => s"a_mh_$i"))
        val seenPref = seenBands.select(col("band") +: col("sig") +:
          (0 until k).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
        aBands.join(seenPref, Seq("band", "sig"))
          .filter(sigAgreement(k) >= th)
          .select(col(idCol)).distinct()
    }
    fresh.join(nearSeen, Seq(idCol), "left_anti")
  }

  /** Benchmark-contamination check: for every training document, the
    * fraction of its word n-grams that appear anywhere in a benchmark
    * corpus — the decontamination gate run before an LLM training mix
    * ships. Distinct from [[ngramJaccard]] (pairwise within one
    * corpus): this is a two-corpus containment test, and the benchmark
    * side collapses to its DISTINCT n-gram set.
    *
    * Topology: train explodes to distinct (doc, gram) pairs; the
    * benchmark's distinct grams form the build side of a left SEMI
    * join keyed on the gram (at 100 TB the benchmark gram set is tiny
    * vs the corpus — typically broadcastable; Spark picks that when
    * stats allow). One aggregate per doc computes matched/total. Docs
    * shorter than `n` words have no grams and are absent from the
    * result (nothing to test).
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame =
      // indexed transform over a length-guarded slice (never a
      // descending sequence on docs shorter than n)
      df.select(cols :+ split(col(textCol), " ").as("ws"): _*)
        .select(cols :+ explode(expr(
          s"""transform(slice(ws, 1, greatest(size(ws) - ${n - 1}, 0)),
             |  (w, i) -> concat_ws(' ', slice(ws, i + 1, $n)))""".stripMargin))
          .as("g"): _*)
    val trainGrams = grams(train, Seq(col(idCol))).distinct()
    val benchGrams = grams(bench, Nil).distinct()
    val matched = trainGrams
      .join(benchGrams, trainGrams("g") === benchGrams("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("matched"))
    trainGrams.groupBy(col(idCol)).agg(count(lit(1)).as("total"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("total"),
        coalesce(col("matched"), lit(0L)).as("matched"),
        round(coalesce(col("matched"), lit(0L)).cast("double") /
          col("total"), 6).as("overlap"))
  }

  /** Canonical-document selection after clustering: for each duplicate
    * cluster, keep the single best member by the caller's preference
    * order (e.g. longest text, then lowest id) and report the cluster
    * size. The final step of the dedup pipeline — [[minhashComponents]]
    * labels the clusters, this picks the survivor.
    *
    * One equi-join of the (small) cluster assignments against the doc
    * attributes, then rank + size as two window functions over the SAME
    * component partitioning — Catalyst plans one shuffle and stacks the
    * windows on one sort. Never a groupBy+join-back, never a collect.
    */
  def canonicalPerCluster(components: DataFrame, docs: DataFrame,
                          idCol: String, prefer: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("component")).orderBy(prefer: _*)
    val wAll = Window.partitionBy(col("component"))
    components.join(docs, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word n-gram Jaccard similarity over candidate pairs from an
    * inverted shingle index. Shingles occurring in more than
    * `maxDocFreq` docs are dropped (stop-shingle skew guard).
    *
    * Join-back elimination (round-8 restructure): the per-doc gram
    * count `n_g` is joined onto the INDEX rows (260k rows at sf0.1)
    * before the self-join, replacing the two join-backs the old
    * shape ran against the PAIR aggregate (1.12M rows) — the sizes
    * ride the pair shuffle as two extra ints and the jaccard filter
    * applies directly on the aggregate output. (A per-row
    * `array_distinct` would drop the corpus-wide distinct shuffle
    * too, but Spark's ArrayDistinct is O(m²) on string arrays —
    * measured 2.5× SLOWER end-to-end on ~250-gram docs; the shuffle
    * distinct is the right call.) What remains is the irreducible
    * core: the document-frequency aggregate (skew guard), the
    * inverted-index self-join, and the shared-gram count. At
    * minJaccard this low (0.1) a prefix filter would keep ~0.9 of
    * every posting list, so the all-pairs-style intermediate
    * (measured 1.12M shared pairs → 260 survivors at sf0.1) is the
    * spec's honest cost, not a plan artifact.
    *
    * Materialization: `shingles` is referenced three times (df
    * filter, both join sides) and `filtered` twice — an eager
    * [[GraftCheckpoint.barrier]] truncates each to a block scan (a
    * `.cache()` alone left the explode subtree re-planned at every
    * reference: 142 codegen stages at sf0.1, the round-5 finding). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int, maxDocFreq: Int, minJaccard: Double): DataFrame = {
    val shingles = barrier(df
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(ws, i + $j)").mkString(", ")}))"))
        .as("g"))
      .distinct())
    val perDoc = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n_g"))
    // the df aggregate doubles as a DICTIONARY (the q144 trick,
    // round-13): surviving grams get an injective 8-byte id behind a
    // barrier (per-execution injectivity is the guarantee — two plan
    // branches recomputing monotonically_increasing_id under
    // different layouts could disagree), so the barrier blocks, the
    // pair shuffle, and the join hashing all carry longs — the
    // ~20-byte gram strings never enter a wide stage
    val dict = barrier(shingles.groupBy("g").agg(count(lit(1)).as("df_g"))
      .filter(col("df_g") <= maxDocFreq)
      .select(col("g"), monotonically_increasing_id().as("gid")))
    val filtered = barrier(shingles.join(dict, Seq("g"))
      .select(col(idCol), col("gid"))
      .join(perDoc, Seq(idCol)))
    val a = filtered.select(col(idCol).as("id_a"), col("n_g").as("n_a"), col("gid"))
    val b = filtered.select(col(idCol).as("id_b"), col("n_g").as("n_b"), col("gid"))
    a.join(b, Seq("gid")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** EXACT word-set similarity join via prefix filtering (Bayardo et
    * al. "Scaling Up All Pairs Similarity Search", WWW'07; distributed
    * shape per Vernica et al. SIGMOD'10) — the LOSSLESS alternative to
    * [[ngramJaccard]]'s document-frequency cutoff, for the high-
    * threshold regime where it pays. Tokens get a global rarest-first
    * total order (frequency asc, token asc); a doc of n distinct
    * tokens indexes only its first `n - ceil(t*n) + 1` tokens in that
    * order. Two sets with Jaccard >= t overlap in >= ceil(t*max(na,nb))
    * tokens, so their prefixes provably share one (prefix-filter
    * lemma) — candidate generation is COMPLETE, no recall parameter.
    * Candidates verify by exact intersection over per-doc token-id
    * arrays; output rows are exactly the true pairs.
    *
    * Scale shape, and why this beats the df-cutoff when t is high:
    *   - the index holds the (1-t) fraction of each posting list, and
    *     by construction those are the RAREST tokens — hub tokens land
    *     in suffixes and are never join keys, so the candidate join is
    *     anti-skewed without any cap or cutoff;
    *   - the length filter (t*max(na,nb) <= min(na,nb), a Jaccard
    *     necessity) prunes cross-size candidates before the pair
    *     distinct;
    *   - verification touches only candidate pairs: two array joins +
    *     one O(na+nb) hash intersection per pair, never a posting
    *     re-shuffle.
    * At t = 0.1 the prefix would keep ~90% of every list and
    * [[ngramJaccard]]'s honest all-pairs core is cheaper (its scaladoc
    * records that measurement); at t >= ~0.7 the prefix keeps ~30% and
    * every kept key is rare — the regimes are complements, which is
    * why both operators exist.
    *
    * Float discipline: `ceil(t*n)` and the length filter subtract a
    * 1e-9 slack before ceil/compare so an IEEE product landing a hair
    * ABOVE an exact integer can only lengthen a prefix or admit an
    * extra candidate (both safe — verification is exact), never drop a
    * true pair.
    *
    * Token strings never enter the wide stages: the frequency table
    * doubles as a DICTIONARY (`monotonically_increasing_id` — an
    * injective long, so intersection counts are EXACT, unlike a hash
    * digest whose collisions the advice ledger rightly flags), and
    * everything downstream — the ranked index, the candidate join
    * keys, the verification arrays — carries 8-byte ids. Measured at
    * 10×: the string-array verify shuffle was the wall (8.1× for 10×
    * data); long arrays cut the per-doc payload ~3×. The dictionary
    * sits behind a barrier because per-execution injectivity is the
    * whole guarantee: two plan branches recomputing it under
    * different partition layouts could assign different ids.
    *
    * The three barriers ([[GraftCheckpoint]] contract as everywhere):
    * `toks` feeds the frequency aggregate and the ranked index;
    * `dict` feeds the index and both verification sides; `prefix`
    * feeds both sides of the candidate self-join. */
  def prefixFilterJoin(df: DataFrame, idCol: String, textCol: String,
                       minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "threshold in (0, 1]")
    val toks = barrier(df
      .select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "").distinct())
    val dict = barrier(toks.groupBy("t").agg(count(lit(1)).as("ft"))
      .withColumn("tid", monotonically_increasing_id()))
    val byId = Window.partitionBy(col(idCol))
    val coded = toks.join(dict, Seq("t"))
      .select(col(idCol), col("ft"), col("t"), col("tid"))
    val ranked = coded
      .withColumn("n", count(lit(1)).over(byId))
      .withColumn("pos",
        row_number().over(byId.orderBy(col("ft"), col("t"))))
    val prefix = barrier(ranked.filter(
      col("pos") <= col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + 1)
      .select(col(idCol), col("n"), col("tid")))
    val cand = prefix
      .select(col(idCol).as("id_a"), col("n").as("n_a"), col("tid"))
      .join(prefix.select(col(idCol).as("id_b"), col("n").as("n_b"),
        col("tid")), Seq("tid"))
      .filter(col("id_a") < col("id_b") &&
        lit(minJaccard) * greatest(col("n_a"), col("n_b")) - lit(1e-9) <=
          least(col("n_a"), col("n_b")))
      .select("id_a", "id_b").distinct()
    val sets = coded.groupBy(col(idCol))
      .agg(collect_list(col("tid")).as("ts"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("ts").as("ts_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("ts").as("ts_b"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("n_shared",
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard"))
  }
}
