package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design:
  *  - [[cosine]] is a pure scalar expression (zip_with + aggregate) —
  *    codegen'd, no UDF, no shuffle of its own.
  *  - [[bruteForceTopK]] is the exact baseline: queries × corpus via a
  *    broadcast of the (small) query set, so the big side streams —
  *    never a shuffle of the corpus. Cost O(|Q|·n·d) FLOPs.
  *  - [[ivfTopK]] is the scale path: partition the corpus into cells
  *    (here the pre-assigned `label`; in production, k-means iterations
  *    of the same groupBy-avg shape), probe only the nProbe nearest
  *    cells per query. The corpus join is an equi-join on the cell id,
  *    so Catalyst shuffles by cell instead of brute-forcing all pairs —
  *    the classic IVF pruning, expressed as two broadcast joins.
  *  - [[nearDupPairs]] bounds the O(n²) blow-up the same way IVF does:
  *    only intra-cell pairs are scored. (At 100 TB you'd use the LSH
  *    band-join from [[Dedup]] on sign-random-projection bits instead.)
  */
object Similarity {

  /** Cosine similarity of two double-array columns, sequential-sum
    * semantics (portable: same order as DuckDB's list functions).
    * Backed by the custom codegen'd [[graft.functions.CosineSim]]
    * expression — one fused loop instead of three interpreted
    * higher-order-function chains (see [[cosineComposable]]). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.GraftColumns.cosineSim(a, b)

  /** The built-ins-only formulation (preference-order step (a)):
    * identical semantics, kept as the cross-check for the custom
    * expression and as the fallback if extensions are unavailable. */
  def cosineComposable(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Symmetric int8 quantization of an embedding column — the storage
    * form a 100 TB vector corpus actually ships (4x smaller than
    * float32, 8x smaller than float64; recall loss is bounded by the
    * reconstruction error this emits). Per-vector scale = max |x|, so
    * codes span the full [-127, 127] range regardless of vector norm.
    *
    * Pure per-row array expressions (two transforms + a max), no
    * shuffle, codegen'd; the caller keeps `q_vec` + `scale_max` as the
    * stored form and `recon_err` as the quality audit column.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // scale_max = 0 (the all-zero vector) guard: without it the
    // division yields NaN, which Spark's non-ANSI cast silently turns
    // into 0 while DuckDB (and any ANSI session) errors on
    // CAST(NaN AS INTEGER) — zero codes are emitted explicitly instead
    val withScale = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("scale_max", expr("array_max(transform(v, x -> abs(x)))"))
    withScale.select(
      col(idCol),
      col("scale_max"),
      expr("""transform(v, x -> CASE WHEN scale_max = 0.0 THEN 0
        |  ELSE CAST(round(x * 127.0 / scale_max) AS INT) END)""".stripMargin)
        .as("q_vec"),
      expr("""CASE WHEN scale_max = 0.0 THEN 0.0 ELSE array_max(transform(v,
        |  x -> abs(CAST(round(x * 127.0 / scale_max) AS INT) * scale_max / 127.0 - x))) END""".stripMargin)
        .as("recon_err"))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the preprocessing step before distance-based indexing when
    * dimensions carry different scales (mixed-provenance embeddings,
    * concatenated feature blocks): for each dimension, subtract the
    * corpus mean and divide by the population standard deviation.
    * Zero-variance dimensions standardize to 0.0 instead of NaN.
    *
    * Scale shape: the statistics are ONE map-side-combined aggregate
    * whose result is `dim` rows total — they ride a broadcast as two
    * ordered arrays, and the rewrite is a pure per-row `zip_with`
    * (codegen'd, no shuffle, no explode of the corpus into n×dim
    * rows). Mean and std are rounded to 6 decimals before use, and
    * each output element after — the cross-engine float discipline of
    * the rest of the vector family.
    */
  def standardize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = df.select(posexplode(asDouble(col(vecCol))))
      .toDF("dim", "v")
    val st = x.groupBy(col("dim")).agg(
      round(avg(col("v")), 6).as("mu"),
      round(stddev_pop(col("v")), 6).as("sd"))
    val one = broadcast(st
      .agg(sort_array(collect_list(struct(col("dim"), col("mu"), col("sd"))))
        .as("s"))
      .select(transform(col("s"), e => e.getField("mu")).as("__mus"),
        transform(col("s"), e => e.getField("sd")).as("__sds")))
    df.crossJoin(one).select(col(idCol),
      zip_with(
        zip_with(asDouble(col(vecCol)), col("__mus"), (a, b) => a - b),
        col("__sds"),
        (d, s) => round(when(s === 0.0, lit(0.0)).otherwise(d / s), 6))
        .as("zvec"))
  }

  /** Exact top-k neighbors for each query vector (excluding self).
    * Queries chosen by predicate; the query set is broadcast. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     isQuery: Column, k: Int): DataFrame = {
    val q = df.filter(isQuery)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = df.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** IVF-style ANN: centroid per cell (rounded for determinism), probe
    * the nProbe nearest cells per query, exact search within them. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
              isQuery: Column, k: Int, nProbe: Int): DataFrame = {
    val dim = 64
    // centroid = element-wise mean, rounded to 6 decimals so the result
    // is independent of distributed summation order
    val centAggs = (0 until dim).map(i =>
      round(avg(element_at(asDouble(col(vecCol)), i + 1)), 6).as(s"c_$i"))
    val cents = df.groupBy(col(cellCol).as("cell"))
      .agg(centAggs.head, centAggs.tail: _*)
      .select(col("cell"), array((0 until dim).map(i => col(s"c_$i")): _*).as("centroid"))
    val q = df.filter(isQuery)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    // nearest nProbe cells per query (tiny: |Q| × #cells, both broadcast)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        round(cosine(col("qv"), col("centroid")), 6).as("cell_sim"))
      .withColumn("cell_rn", row_number().over(wc)).filter(col("cell_rn") <= nProbe)
      .select("query_id", "qv", "cell")
    // exact search within probed cells: equi-join on the cell id
    val c = df.select(col(idCol).as("neighbor_id"), col(cellCol).as("cell"),
      asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** Semantic benchmark decontamination: the embedding-level
    * complement of [[Dedup.contamination]]'s n-gram gate. Each BENCH
    * vector is scored by its maximum cosine similarity against the
    * TRAIN corpus, probed IVF-style over cells Lloyd-trained on the
    * train side ([[kmeansCells]]); `contaminated` flags rows whose
    * max reaches `threshold` — the eval-set leakage a paraphrase
    * slips past exact n-gram matching (the reason modern eval
    * hygiene adds an embedding pass on top of the GPT-3-style
    * n-gram decontamination q87 implements).
    *
    * Scale shape — sized for the real asymmetry (train is the
    * 100 TB side, bench corpora are thousands of rows): train
    * crosses the wire only through the linear Lloyd rounds and one
    * cell-keyed equi-join probe; the bench set, the k centroids,
    * and the probe table all ride broadcasts. Nothing is pairwise
    * in the train corpus; per bench vector the exact scoring
    * touches only its `nProbe` probed cells. Contract: bench and
    * train must be id-disjoint slices (no self-exclusion is
    * applied — a shared id would match itself at sim 1.0).
    * Output: (idCol, max_train_sim, contaminated), one row
    * per bench vector. Probing is approximate exactly as IVF
    * search is: the oracle replays the same trained cells and
    * probe rule, so the demo checks the DESIGN, not a weaker
    * brute-force bound. */
  def semanticContamination(bench: DataFrame, train: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double, k: Int, iters: Int,
                            nProbe: Int): DataFrame = {
    val dim = 64
    val cells = kmeansCells(train, idCol, vecCol, k, iters)
    val t = train.join(cells, Seq(idCol))
    val centAggs = (0 until dim).map(i =>
      round(avg(element_at(asDouble(col(vecCol)), i + 1)), 6).as(s"c_$i"))
    val cents = t.groupBy(col("cell"))
      .agg(centAggs.head, centAggs.tail: _*)
      .select(col("cell"),
        array((0 until dim).map(i => col(s"c_$i")): _*).as("centroid"))
    val q = bench.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        round(cosine(col("qv"), col("centroid")), 6).as("cell_sim"))
      .withColumn("cell_rn", row_number().over(wc))
      .filter(col("cell_rn") <= nProbe)
      .select("query_id", "qv", "cell")
    val c = t.select(col("cell"), asDouble(col(vecCol)).as("cv"))
    c.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_sim"))
      .groupBy(col("query_id"))
      .agg(max(col("cos_sim")).as("max_train_sim"))
      .select(col("query_id").as(idCol), col("max_train_sim"),
        (col("max_train_sim") >= lit(threshold)).as("contaminated"))
  }

  /** Train IVF cells with Lloyd iterations (k-means, cosine
    * objective): deterministic seed assignment (`id mod k`), then per
    * iteration (a) cell centroids via the [[graft.functions.Centroid]]
    * typed Aggregator — partial (sum, count) buffers, never raw
    * vectors, in the shuffle — and (b) nearest-centroid reassignment
    * as a broadcast of the k centroids against the streaming corpus
    * (|n|·k scoring, no corpus shuffle). Centroids and scores are
    * rounded so assignment is independent of distributed sum order;
    * per-iteration [[GraftCheckpoint.barrier]] truncates the growing
    * lineage (same discipline as [[Dedup.connectedComponents]]).
    *
    * Returns (idCol, cell) — feed to [[ivfTopK]] as its `cellCol`. */
  def kmeansCells(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame = {
    val vecs = df.select(col(idCol).as("kid"),
      col(vecCol).cast("array<float>").as("kvf"),
      asDouble(col(vecCol)).as("kv"))
    var assigned = barrier(vecs
      .withColumn("cell", pmod(col("kid"), lit(k)).cast("int")))
    for (_ <- 0 until iters) {
      val cents = assigned.groupBy(col("cell"))
        .agg(graft.functions.Centroid(col("kvf")).as("raw"))
        .select(col("cell").as("c_cell"),
          transform(col("raw"), v => round(v, 6)).as("centroid"))
      val w = Window.partitionBy(col("kid"))
        .orderBy(col("sim").desc, col("c_cell").asc)
      assigned = assigned.drop("cell")
        .crossJoin(broadcast(cents))
        .withColumn("sim", round(cosine(col("kv"), col("centroid")), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("kid"), col("kvf"), col("kv"), col("c_cell").as("cell"))
      assigned = barrier(assigned)
    }
    assigned.select(col("kid").as(idCol), col("cell"))
  }

  /** Product quantization (Jégou, Douze, Schmid — "Product
    * quantization for nearest neighbor search", IEEE PAMI 2011): the
    * compression format large vector corpora actually store. Each
    * vector splits into `m` contiguous sub-vectors of `dim/m`
    * dimensions; an independent `ksub`-centroid codebook is
    * Lloyd-trained PER SUBSPACE (seed = id mod ksub, `iters` rounds),
    * and every vector is encoded as its m nearest-centroid codes —
    * m·log2(ksub) bits instead of dim×32 (64-dim float32 at
    * m=4/ksub=8: 256 bytes → 12 bits + codebooks).
    *
    * Distances are SQUARED L2 (the PQ-standard metric —
    * sub-vector norms vary, so cosine is wrong here), computed as
    * `a·a − 2a·b + b·b` from three sequential dot products — the
    * identical arithmetic shape as DuckDB's `list_dot_product`, and
    * rounded to 6 decimals with ties to the lowest code, the same
    * determinism discipline as [[kmeansCells]]. Centroids round to 6
    * decimals per round (float inputs summed in doubles — the
    * [[graft.functions.Centroid]] contract the oracle's avg
    * replays).
    *
    * Scale shape: ONE exploded (id, subspace, sub-vector) frame,
    * checkpointed and reused per round; each round is one (s, code)
    * aggregate — m×ksub centroid rows, broadcast back — and one
    * narrow argmin window keyed (id, s). Nothing is ever pairwise in
    * the corpus; training cost is m Lloyd problems of the SAME total
    * row count as one full-dim k-means, each over vectors 1/m the
    * width. Output: (idCol, subspace, code, sub_err) — sub_err is
    * the squared quantization error of that subspace's encoding, so
    * `sum(sub_err) group by id` audits the full reconstruction
    * error (q88's recon_err analog, PQ form). */
  private def dotSeq(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Rounded squared L2 in the three-dot `a·a − 2a·b + b·b` form —
    * the identical sequential arithmetic as DuckDB's
    * `list_dot_product`, so PQ oracles replay it exactly. */
  private def l2sqRounded(a: Column, b: Column): Column =
    round(dotSeq(a, a) - lit(2.0) * dotSeq(a, b) + dotSeq(b, b), 6)

  /** Per-subspace sub-vector rows (id, s, sv) for the PQ family. */
  private def pqSubVectors(df: DataFrame, idCol: String, vecCol: String,
                           dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    df.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv"))
      .select(col("pid"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(pv, s * $subDim + 1, $subDim))")))
      .toDF("pid", "s", "sv")
  }

  /** Shared PQ train+encode: returns (assignment frame
    * `(pid, s, sv, code, d2)` from the FINAL round, codebook
    * `(c_s, c_code, centroid)` that assignment was made against). */
  private def pqTrain(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, ksub: Int,
                      iters: Int): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub >= 2 && iters >= 1, "ksub >= 2, iters >= 1")
    val sub = pqSubVectors(df, idCol, vecCol, dim, m).localCheckpoint(true)
    var assigned = sub
      .withColumn("code", pmod(col("pid"), lit(ksub)).cast("int"))
      .withColumn("d2", lit(0.0))
    var codebook: DataFrame = null
    for (i <- 1 to iters) {
      val cents = assigned.groupBy(col("s"), col("code"))
        .agg(graft.functions.Centroid(col("sv").cast("array<float>")).as("raw"))
        .select(col("s").as("c_s"), col("code").as("c_code"),
          transform(col("raw"), v => round(v, 6)).as("centroid"))
        .localCheckpoint(true) // m×ksub rows; reused by assignment + caller
      val w = Window.partitionBy(col("pid"), col("s"))
        .orderBy(col("d2").asc, col("c_code").asc)
      assigned = assigned.drop("code", "d2")
        .join(broadcast(cents), col("s") === col("c_s"))
        .withColumn("d2", l2sqRounded(col("sv"), col("centroid")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("pid"), col("s"), col("sv"), col("c_code").as("code"),
          col("d2"))
      if (i < iters) assigned = assigned.localCheckpoint(true)
      codebook = cents
    }
    (assigned, codebook)
  }

  /** Session-scoped memo ([[graft.core.Memo]]) of trained PQ
    * artifacts — the [[cellsOf]] pattern applied to the PQ codebook:
    * production trains ONCE per corpus snapshot and every
    * encode/search batch reuses the artifact ((codes, codebook); codes
    * keep only (pid, s, code, d2) — the sub-vectors do not persist).
    * [[releasePq]] resets.
    *
    * CALLER CONTRACT (round-9 ADVICE): `corpusKey` must uniquely
    * identify an IMMUTABLE corpus snapshot — the memo is keyed by
    * (key, cols, params), never by the data, so a caller passing a
    * filtered or refreshed corpus under an old key silently reuses
    * the old snapshot's codes, and [[pqSearch]] then scores queries
    * against stale code rows. Version the key like a table snapshot
    * ("corpus@2026-08-14" / a commit id), or call [[releasePq]] on
    * refresh. A data fingerprint (count/max-id) in the key was
    * considered and rejected: it costs an extra corpus pass per
    * LOOKUP — exactly what the memo exists to avoid — and a
    * same-count-same-max edit would still slip it. */
  private val pqMemo = new graft.core.Memo[String, (DataFrame, DataFrame)]

  def pqOf(df: DataFrame, corpusKey: String, idCol: String, vecCol: String,
           dim: Int, m: Int, ksub: Int, iters: Int): (DataFrame, DataFrame) =
    pqMemo(s"${df.sparkSession.sparkContext.applicationId}|$corpusKey|$idCol|$vecCol|$dim|$m|$ksub|$iters") {
      val (assigned, codebook) = pqTrain(df, idCol, vecCol, dim, m, ksub, iters)
      (assigned.select(col("pid"), col("s"), col("code"), col("d2"))
        .localCheckpoint(true), codebook)
    }

  /** Drop every memoized PQ artifact. */
  def releasePq(): Unit = pqMemo.clear()

  def productQuantize(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, ksub: Int, iters: Int,
                      corpusKey: Option[String] = None): DataFrame = {
    val codes = corpusKey match {
      case Some(k) => pqOf(df, k, idCol, vecCol, dim, m, ksub, iters)._1
      case None =>
        pqTrain(df, idCol, vecCol, dim, m, ksub, iters)._1
          .select(col("pid"), col("s"), col("code"), col("d2"))
    }
    codes.select(col("pid").as(idCol), col("s").as("subspace"),
      col("code"), col("d2").as("sub_err"))
  }

  /** PQ asymmetric-distance (ADC) top-k search — the query-time half
    * of [[productQuantize]] (Jégou et al. PAMI'11 §IV): each query
    * vector computes one m×ksub lookup table of rounded sub-distances
    * to the trained codebook (exact query sub-vectors vs quantized
    * corpus — "asymmetric"), every corpus vector's approximate
    * distance is then the SUM of m table lookups selected by its
    * stored codes, and top-k ranks by that sum. No corpus vector is
    * ever touched at query time — the scan reads m small-int codes
    * per vector, which is the entire point of the format at 100 TB.
    *
    * Plan shape: the LUT is |queries|·m·ksub rows — broadcast to the
    * code scan; the only corpus-sized work is one (s, code) equi-join
    * against the code table and a (query, id) sum aggregate. Ranks
    * round to 6 decimals, ties to the lowest neighbor id ([[ivfTopK]]
    * discipline); self-matches are excluded. */
  def pqSearch(df: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, ksub: Int, iters: Int,
               queryPred: Column, topK: Int,
               corpusKey: Option[String] = None): DataFrame = {
    val (assigned, codebook) = corpusKey match {
      case Some(k) => pqOf(df, k, idCol, vecCol, dim, m, ksub, iters)
      case None => pqTrain(df, idCol, vecCol, dim, m, ksub, iters)
    }
    val qs = pqSubVectors(df.filter(queryPred), idCol, vecCol, dim, m)
      .toDF("query_id", "s", "qsv")
    val lut = qs.join(broadcast(codebook), col("s") === col("c_s"))
      .select(col("query_id"), col("s"), col("c_code").as("code"),
        l2sqRounded(col("qsv"), col("centroid")).as("qd"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    assigned.select(col("pid").as("neighbor_id"), col("s"), col("code"))
      .join(broadcast(lut), Seq("s", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(col("qd")), 6).as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  /** 1-bit binary quantization — the third rung of the storage ladder
    * (float32 → [[quantizeInt8]] int8 → [[productQuantize]] PQ codes
    * → this, 1 bit/dim): bit i is the SIGN of dimension i (the
    * embeddings are zero-centered, so sign bits carry ~1 bit of
    * direction each — the classic binary-embedding scheme whose
    * Hamming distance estimates angle, same SRP theory as
    * [[lshBucket]] with axis-aligned planes). Bits pack 60 per long
    * (shifts stay below the sign bit, so every literal is positive
    * and the DuckDB oracle replays them verbatim — the [[hash60]]
    * width convention). Output: (idCol, bq_0..bq_{w-1}).
    * Pure per-row projection, zero exchanges. */
  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int): DataFrame = {
    require(dim >= 1)
    val words = (dim + 59) / 60
    val v = asDouble(col(vecCol))
    val cols = (0 until words).map { w =>
      ((w * 60) until math.min(dim, w * 60 + 60)).map { i =>
        when(element_at(v, i + 1) > 0.0, lit(1L << (i - w * 60)))
          .otherwise(lit(0L))
      }.reduce(_ + _).as(s"bq_$w")
    }
    df.select(col(idCol) +: cols: _*)
  }

  /** Hamming top-k over [[binaryQuantize]] codes with an exact-cosine
    * rerank of the winners — the query pattern binary embeddings
    * exist for: the SCAN reads dim/8 bytes per vector and ranks by
    * popcount(xor), touching no floats; only the k survivors load
    * their vectors for the exact rerank (asymmetric two-stage, the
    * [[pqSearch]] shape at 1 bit). Query codes broadcast (the q37
    * discipline); ranks tie to the lowest neighbor id; self
    * excluded. Output: (query_id, neighbor_id, hamming, cos_sim, rn)
    * ordered by the BINARY stage (rn is the hamming rank — the
    * rerank annotates, it does not reorder, so the oracle replays
    * the two stages independently). */
  def hammingTopK(df: DataFrame, idCol: String, vecCol: String,
                  dim: Int, queryPred: Column, topK: Int): DataFrame = {
    val words = (dim + 59) / 60
    val corpus = binaryQuantize(df, idCol, vecCol, dim)
    val qs = binaryQuantize(df.filter(queryPred), idCol, vecCol, dim)
      .select(col(idCol).as("query_id") +:
        (0 until words).map(w => col(s"bq_$w").as(s"qb_$w")): _*)
    val hamming = (0 until words).map(w =>
      bit_count(col(s"bq_$w").bitwiseXOR(col(s"qb_$w"))))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val top = corpus.crossJoin(broadcast(qs))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        hamming.as("hamming"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
    top
      .join(df.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv")), Seq("query_id"))
      .join(df.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("nv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(cosine(col("qv"), col("nv")), 6).as("cos_sim"), col("rn"))
  }

  /** Scale-refinement for a FIXED-k coarse clustering (round 9, the
    * q43/q114 companion to q57's auto-planes): subdivide each coarse
    * cell by an SRP bucket of depth ceil(log2(n / (coarseK ·
    * targetCell))), so leaf-cell size stays ~targetCell while the
    * LLOYD TRAINING stays the linear fixed-k problem — measured at
    * 100× embeddings, the fixed 8 cells hold ~25k vectors each and
    * the intra-cell pair surface is 2.50 BILLION (probed via cell
    * sizes, not materialized), the same mean-bucket quadratic that
    * killed q57. The depth instantiates to ZERO at the driver's
    * sf0.01 gate (500 ≤ 8·63), where the refined key equals the
    * coarse cell and the static Lloyd oracles stay exact.
    *
    * SRP splits are cosine-coherent (near-dup vectors share sign bits
    * with probability (1−θ/π) per plane), so the refinement's missed
    * pairs are the same boundary class as the coarse cells' own —
    * the documented SemDeDup approximation, now depth-bounded. Plane
    * offset 100 keeps the splitting hyperplanes independent of q57's
    * search tables.
    *
    * The bucket is computed as the [[lshBucket]] expression only
    * while p × dim fits the ~400-term codegen contract documented
    * there (round-9 ADVICE: the former p ≤ 20 cap alone admits
    * 1,280-term trees at dim 64 — the measured Catalyst pathology);
    * deeper refinement routes through the same typed mapPartitions
    * kernel as [[lshNearDup]], identical float order (left-to-right
    * ±multiply-add, `dot > 0` bit rule), so the two paths produce
    * the SAME buckets bit-for-bit. Depth still instantiates to 0 at
    * the sf0.01 gate either way. */
  def subdivideCells(df: DataFrame, vecCol: String, cellCol: String,
                     dim: Int, coarseK: Int,
                     targetCell: Int = 63): DataFrame = {
    require(coarseK >= 1 && targetCell >= 1)
    val n = math.max(df.count(), 1L)
    val p = math.min(20, math.max(0, math.ceil(
      math.log(n.toDouble / (coarseK.toLong * targetCell)) / math.log(2.0)).toInt))
    if (p == 0) df
    else if (p * dim <= 400)
      df.withColumn(cellCol,
        col(cellCol) * (1L << p) +
          lshBucket(asDouble(col(vecCol)), p, dim, planeOffset = 100))
    else {
      val signs: Array[Array[Int]] = planeSigns(100 + p, dim).drop(100).toArray
      val schema = org.apache.spark.sql.types.StructType(df.schema.fields.map {
        case f if f.name == cellCol =>
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        case f => f
      })
      val ci = df.schema.fieldIndex(cellCol)
      val vi = df.schema.fieldIndex(vecCol)
      val nP = p
      df.map { r =>
        val v = r.getSeq[Any](vi).map {
          case d: java.lang.Double => d.doubleValue
          case f: java.lang.Float => f.doubleValue
          case x: Number => x.doubleValue
        }.toArray
        var bucket = 0L
        var j = 0
        while (j < nP) {
          val s = signs(j)
          var dot = 0.0
          var i = 0
          while (i < v.length) { dot += v(i) * s(i); i += 1 }
          if (dot > 0) bucket |= 1L << j
          j += 1
        }
        val coarse = r.get(ci) match {
          case l: java.lang.Long => l.longValue
          case x: Number => x.longValue
        }
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(ci, coarse * (1L << nP) + bucket))
      }(org.apache.spark.sql.Encoders.row(schema))
        .toDF(df.columns: _*)
    }
  }

  /** Session-scoped memo ([[graft.core.Memo]]) of trained cell
    * tables (an eager localCheckpoint, two ints per vector), keyed by
    * (context, corpus key, cols, k, iters) — the in-session analog of
    * the production shape where the coarse quantizer is trained ONCE
    * per corpus snapshot and every query batch probes the same cell
    * table. Also holds [[refinedCellsOf]]'s artifacts, whose
    * evaluation looks up the coarse cells in this same memo.
    * [[releaseCells]] resets. */
  private val cellsMemo = new graft.core.Memo[String, DataFrame]

  def cellsOf(df: DataFrame, corpusKey: String, idCol: String,
              vecCol: String, k: Int, iters: Int): DataFrame =
    cellsMemo(s"${df.sparkSession.sparkContext.applicationId}|$corpusKey|$idCol|$vecCol|$k|$iters") {
      kmeansCells(df, idCol, vecCol, k, iters).localCheckpoint(true)
    }

  /** Drop every memoized cell table. */
  def releaseCells(): Unit = cellsMemo.clear()

  /** The REFINED quantizer artifact: [[cellsOf]]'s coarse cells with
    * the [[subdivideCells]] SRP refinement applied, memoized as one
    * skinny (id, cell) table. The refinement is part of the trained
    * artifact's lifecycle, not of each consumer query: without this,
    * every self-joining consumer (q43's pair scan, q114's dedup)
    * re-evaluates the e⋈cells join AND the SRP bucket expression on
    * BOTH join branches per run — measured 3.1-3.5s steady-state at
    * sf0.1 where the pair stage over a checkpointed cell table runs
    * 0.4-0.6s (SCALE.md round 12). Consumers join this against the
    * vector frame and see a plain block-scan build side. */
  def refinedCellsOf(df: DataFrame, corpusKey: String, idCol: String,
                     vecCol: String, k: Int, iters: Int, dim: Int,
                     targetCell: Int = 63): DataFrame =
    cellsMemo(s"${df.sparkSession.sparkContext.applicationId}|$corpusKey|$idCol|$vecCol|$k|$iters|refined|$dim|$targetCell") {
      subdivideCells(
          df.join(cellsOf(df, corpusKey, idCol, vecCol, k, iters), Seq(idCol)),
          vecCol, "cell", dim, k, targetCell)
        .select(col(idCol), col("cell"))
        .localCheckpoint(true)
    }

  /** Cross-SESSION form of [[cellsOf]]: load the published
    * `(corpusKey, version)` quantizer snapshot from the artifact
    * store if it exists, else train (through the session memo, so
    * same-session callers still share one artifact) and PUBLISH it.
    * This is the deployable lifecycle at 100 TB — train once, probe
    * for months across applications; the store's partition pruning
    * means a probe-only session reads exactly one snapshot's files
    * and never touches the training path. Version like a table
    * snapshot (zero-padded / date-ordered strings — see
    * [[graft.sources.ArtifactStore.latest]]); re-training a refreshed
    * corpus under a NEW version is the durable answer to the memo's
    * stale-corpusKey CALLER CONTRACT. */
  def cellsPublished(df: DataFrame, root: String, corpusKey: String,
                     version: String, idCol: String, vecCol: String,
                     k: Int, iters: Int): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "kmeans_cells", corpusKey, version))
      ArtifactStore.load(spark, root, "kmeans_cells", corpusKey, version)
    else {
      val cells = cellsOf(df, corpusKey, idCol, vecCol, k, iters)
      ArtifactStore.save(cells, root, "kmeans_cells", corpusKey, version)
      cells
    }
  }

  /** [[cellsPublished]] for the PQ artifact pair: codes (corpus-sized
    * — one row per vector per subspace, written with `numFiles`
    * splittable files) and codebook (model-sized) publish under one
    * version in sibling kinds, and a probe-only session loads both
    * without touching a vector. */
  def pqPublished(df: DataFrame, root: String, corpusKey: String,
                  version: String, idCol: String, vecCol: String,
                  dim: Int, m: Int, ksub: Int, iters: Int,
                  numFiles: Int = 1): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "pq_codebook", corpusKey, version))
      (ArtifactStore.load(spark, root, "pq_codes", corpusKey, version),
        ArtifactStore.load(spark, root, "pq_codebook", corpusKey, version))
    else {
      val (codes, codebook) = pqOf(df, corpusKey, idCol, vecCol, dim, m, ksub, iters)
      ArtifactStore.save(codes, root, "pq_codes", corpusKey, version, numFiles)
      ArtifactStore.save(codebook, root, "pq_codebook", corpusKey, version)
      (codes, codebook)
    }
  }

  /** Deterministic ±1 random-hyperplane signs (md5 parity of a fixed
    * seed string) — reproducible across engines and runs. */
  def planeSigns(nPlanes: Int, dim: Int): Seq[Array[Int]] =
    (0 until nPlanes).map { j =>
      Array.tabulate(dim) { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"p$j-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
        if ((Integer.parseInt(hex.takeRight(1), 16) & 1) == 1) 1 else -1
      }
    }

  /** Sign-random-projection LSH bucket id: bit j of the bucket is the
    * sign of the dot product with hyperplane `planeOffset + j`
    * (distinct offsets give INDEPENDENT hash tables). The dot products
    * are static ±element sums (no higher-order functions — plain
    * codegen'd Add chains), so this is a narrow, shuffle-free
    * projection.
    *
    * EXPRESSION-SIZE CONTRACT (load-bearing; measured round 8, see
    * SCALE.md "q57 expression-tree pathology"): this literal-Add-chain
    * form is for a FEW HUNDRED terms at most — one signature of
    * nPlanes × dim ≲ 400 (q57's 6 × 64 = 384 is fine). Past that,
    * Catalyst analysis/codegen cost grows superlinearly in the tree
    * size: the 8-table variant (8 × 6 × 64 = 3,072 terms) ran 46-60s
    * on 2,000 rows as expressions vs 0.9s as a typed kernel. Do NOT
    * "scale up" this Column by mapping it over tables — multi-table
    * callers must use the fused mapPartitions kernel in
    * [[lshNearDup]]. Rule of thumb for the whole engine: codegen'd
    * expressions up to a few hundred literal terms, typed kernels
    * beyond. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int,
                planeOffset: Int = 0): Column =
    planeSigns(planeOffset + nPlanes, dim).drop(planeOffset)
      .zipWithIndex.map { case (signs, j) =>
        val dot = signs.zipWithIndex.map { case (s, i) =>
          element_at(vec, i + 1) * lit(s.toDouble)
        }.reduce(_ + _)
        when(dot > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)

  /** LSH-bucketed near-dup pairs — the scale path for all-pairs
    * similarity: candidates share an SRP bucket in at least one of
    * `tables` INDEPENDENT hash tables (equi-joins on the bucket ids;
    * expected bucket size n/2^planes per table), then exact cosine
    * filters — precision is always 1.0, `tables` buys recall:
    * P[candidate] = 1-(1-(1-θ/π)^planes)^tables. Measured against
    * that theory on planted controlled-angle pairs
    * (SimilarityRecallSpec): at θ=20° with the 6-plane registry
    * setting, recall is 0.450 with one table (theory 0.494) and 0.998
    * at tables=8 (theory 0.996) — a single signature is a candidate
    * GENERATOR, not a near-dup gate, the same lesson as MinHash
    * banding (b=4) and the q124/q126 verification payloads.
    *
    * Scale contract: `planes` must grow ~log2(n) to hold the
    * per-table bucket size constant (the same k ∝ n contract as
    * [[semanticDedup]]); `tables` multiplies candidate volume
    * linearly, never quadratically. Complements [[nearDupPairs]]
    * (pre-assigned cells) and [[ivfTopK]] (centroid probing).
    *
    * `maxBucket` (round 9) is the flood guard for when planes are
    * FIXED below the contract — any (table, bucket) group past the
    * cap is dropped from candidate generation (census + anti probe,
    * [[graft.operators.Dedup.capBuckets]]; the oracle applies
    * the identical HAVING). Measured necessity: the registered
    * 8-plane q57 at 100× embeddings (200k vectors, mean bucket ~780)
    * built a multi-billion-row candidate spill that filled the DISK
    * without the cap; a true near-dup dropped from one table's
    * over-cap bucket still collides in each remaining table at
    * p = (1−θ/π)^planes. */
  def lshNearDup(df: DataFrame, idCol: String, vecCol: String,
                 nPlanes: Int, dim: Int, minCos: Double,
                 tables: Int = 1, maxBucket: Int = 1000): DataFrame = {
    val base = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .cache() // feeds every table's self-join sides + the verify
               // joins; escapes into the returned plan → caller
               // releases after its action (see
               // Dedup.minhashCandidatePairs cache-lifecycle note)
    // ALL table buckets in one pass, then ONE self-join keyed
    // (table, bucket) — the plan has a constant number of exchanges no
    // matter how many tables. The buckets are computed in a typed
    // mapPartitions kernel over driver-precomputed sign arrays, NOT as
    // Catalyst expressions: the literal ±sum form is fine for one
    // 6-plane signature (q57's original shape) but tables×planes×dim
    // literal terms is a measured Catalyst pathology — the 8-table
    // projection ran 46s on 2,000 rows as an expression tree vs
    // milliseconds as a fused multiply-add loop (SCALE.md).
    val spark2 = base.sparkSession
    import spark2.implicits._
    val signs: Array[Array[Int]] =
      planeSigns(tables * nPlanes, dim).toArray
    val (nT, nP) = (tables, nPlanes)
    // ids stay OPAQUE through the typed kernel: the id is carried as
    // its string rendering (injective for the integer/string id types
    // this engine stores) and the ORIGINAL id column is recovered by
    // the verify join below — a non-long id column must not crash the
    // kernel's encoder (it did in round 8, when the kernel cast ids
    // to long)
    val wb = base.select(col(idCol).cast("string"), col("v"))
      .as[(String, Array[Double])]
      .mapPartitions(_.flatMap { case (id, v) =>
        (0 until nT).iterator.map { t =>
          var bucket = 0L
          var j = 0
          while (j < nP) {
            val s = signs(t * nP + j)
            var dot = 0.0
            var i = 0
            while (i < v.length) { dot += v(i) * s(i); i += 1 }
            if (dot > 0) bucket |= 1L << j
            j += 1
          }
          (id, t, bucket)
        }
      }).toDF("__ids", "t", "bucket")
    // the bucket frame is materialized BEFORE capBuckets — its census
    // and its anti probe both consume wb, and unmaterialized the
    // typed kernel above runs twice (the duplicated-census cost the
    // Dedup.minhashCandidatePairs call sites checkpoint `banded` to
    // avoid); the capped frame is then materialized too, for the two
    // self-join sides below
    val kept = graft.operators.Dedup.capBuckets(
        wb.localCheckpoint(true), Seq("t", "bucket"),
      maxBucket).localCheckpoint(true)
    val a = kept.select(col("t"), col("bucket"), col("__ids").as("id_a"))
    val bb = kept.select(col("t"), col("bucket"), col("__ids").as("id_b"))
    val cands = a.join(bb, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // a pair found by several tables must verify once: distinct on the
    // id pair, BEFORE the vectors join back (ids on the wire, never
    // vectors). The verify joins key on the same string rendering and
    // emit the ORIGINAL id values/types, re-oriented by the ORIGINAL
    // type's ordering (the kernel's string `<` exists only to keep
    // one row per unordered pair; "10" < "9" must not leak into the
    // output orientation — cosine is symmetric, so only the id
    // columns need the swap).
    cands.distinct()
      .join(base.select(col(idCol).cast("string").as("id_a"),
        col(idCol).as("__orig_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col(idCol).cast("string").as("id_b"),
        col(idCol).as("__orig_b"), col("v").as("vb")), Seq("id_b"))
      .select(least(col("__orig_a"), col("__orig_b")).as("id_a"),
        greatest(col("__orig_a"), col("__orig_b")).as("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** [[lshNearDup]] with the planes-∝-log2(n) scale contract ENFORCED
    * instead of documented: planes = max(minPlanes,
    * ceil(log2(n / targetBucket))), from one driver-scalar count.
    * This is the fix the round-9 100× sweep demanded — at 200k
    * vectors the fixed-8-plane registered form kept a ~780-vector
    * MEAN bucket, and a mean-bucket quadratic is precisely what a
    * per-bucket cap cannot fix (the cap guards skewed outliers; only
    * bucket-width growth shrinks the mean). At the driver's sf0.01
    * gate (500 vectors, targetBucket 2) the formula instantiates to
    * exactly 8 planes — the static oracle's planes — so the
    * cross-engine compare stays exact where it runs; at larger
    * corpora planes grow and per-table recall falls as
    * (1−θ/π)^planes, the standard LSH trade a production caller
    * counters by raising `tables`. */
  def lshNearDupAuto(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int, minCos: Double, tables: Int,
                     targetBucket: Int = 2, minPlanes: Int = 4,
                     maxBucket: Int = 1000): DataFrame = {
    require(targetBucket >= 1 && minPlanes >= 1)
    val n = math.max(df.count(), 1L)
    val planes = math.min(62, math.max(minPlanes,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))
    lshNearDup(df, idCol, vecCol, planes, dim, minCos, tables, maxBucket)
  }

  /** Embedding near-duplicate pairs: intra-cell pairs with cosine above
    * threshold. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   cellCol: String, minCos: Double): DataFrame = {
    val a = df.select(col(cellCol).as("cell"), col(idCol).as("id_a"),
      asDouble(col(vecCol)).as("va"))
    val b = df.select(col(cellCol).as("cell"), col(idCol).as("id_b"),
      asDouble(col(vecCol)).as("vb"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): remove documents whose
    * EMBEDDINGS are near-identical — paraphrases and boilerplate
    * variants that survive every lexical gate (MinHash/SimHash see
    * different tokens; the encoder sees the same meaning).
    *
    * The scale shape is the paper's: a trained coarse quantizer
    * ([[kmeansCells]] / [[cellsOf]] — the same artifact the IVF index
    * probes) buckets the corpus so similarity is only evaluated
    * between cell-mates, O(n²/k) pairs instead of all-pairs. That term
    * is still quadratic in n AT FIXED k — the caller's scale contract
    * is k ∝ n (hold expected cell size constant; the paper runs ~50k
    * clusters at web scale). Measured: 10× corpus at fixed k=8 is 22×
    * wall, at k=80 (constant cell size) ~linear — SCALE.md; within a
    * cell, a row is dropped when some LOWER-id cell-mate is within
    * `tau` cosine — the deterministic greedy keep-one-per-ε-ball rule
    * (the survivor of a near-dup group is its lowest id; a chain
    * b~a, c~b can drop both b and c, exactly as the paper's
    * keep-one-representative policy does).
    *
    * Cosines are rounded to 6 decimals before the threshold compare so
    * the decision is bit-portable to the SQL oracle. Returns the
    * surviving rows of `df` unchanged.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, tau: Double): DataFrame = {
    val a = df.select(col(cellCol).as("__cell"), col(idCol).as("__id_a"),
      asDouble(col(vecCol)).as("__va"))
    val b = df.select(col(cellCol).as("__cell"), col(idCol).as("__id_b"),
      asDouble(col(vecCol)).as("__vb"))
    val dropped = a.join(b, Seq("__cell"))
      .filter(col("__id_a") < col("__id_b") &&
        round(cosine(col("__va"), col("__vb")), 6) >= tau)
      .select(col("__id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
