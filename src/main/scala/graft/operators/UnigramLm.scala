package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the second
  * production tokenizer family next to [[Bpe]] (Kudo, "Subword
  * Regularization", ACL 2018 §3; SentencePiece's trainer): seed a
  * vocabulary with frequent substrings, then alternate an E-step
  * (segment every word under current piece likelihoods) with a
  * pruning M-step (keep the pieces the segmentations actually use)
  * until the vocabulary reaches its target.
  *
  * This is the deterministic HARD-EM (Viterbi) variant: the E-step
  * takes each word's single best segmentation rather than
  * forward-backward expectations — the standard deterministic
  * approximation, chosen here because it makes every quantity in the
  * loop exactly replayable by the DuckDB oracle (counts are integers;
  * the only reals are the per-piece log-probabilities, which pass the
  * engine's 6-decimal rounding firewall before ANY comparison, the
  * [[Similarity]] cosine discipline).
  *
  * Determinism contract (both engines, bit-for-bit):
  *  - piece score = round(ln(cnt) − ln(total), 6) — the ONLY rounding;
  *    Viterbi sums these rounded doubles left-to-right (best(j) + s —
  *    one IEEE addition per candidate, identical in both engines);
  *  - Viterbi ties break to the SMALLEST start j (= longest final
  *    piece): the kernel scans j ascending keeping strict
  *    improvements; the oracle orders (score DESC, j ASC);
  *  - seed and prune cuts order by (cnt DESC, piece ASC) — total over
  *    ASCII, the [[Bpe]] merge-choice discipline;
  *  - single-character pieces are NEVER pruned (every word stays
  *    segmentable) and floor at count 1 (so their log-prob is always
  *    finite without smoothing the integers).
  *
  * Scale shape ([[Bpe]]'s): ALL corpus-sized work is the one
  * word-count aggregate — (word, count), never positions. The seed is
  * model-sized BY CONTRACT (`seedTop` frequent multi-char substrings +
  * the alphabet; SentencePiece's own seed is the top-S suffix-array
  * substrings), so the per-iteration score table broadcasts, the
  * E-step is one mapPartitions over the vocabulary table with the
  * scores as a broadcast map, and the usage aggregate shuffles
  * (piece, count) — bounded by the seed, not the corpus. Per-iteration
  * driver state is the pruned vocabulary: a MODEL ARTIFACT (collected
  * like [[Bpe.encode]]'s merge table; publish via
  * [[graft.sources.ArtifactStore]] for cross-session reuse). */
object UnigramLm {

  /** One corpus pass: (word, wcount). The [[Bpe.wordSeqs]] contract —
    * distinct words are vocabulary-bounded. */
  private def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))

  /** OOV floor: a single character absent from the vocabulary
    * segments as its own UNK piece at this constant score —
    * SentencePiece's unk behavior (without byte-fallback), chosen so
    * [[encode]] is TOTAL on any corpus (the published-vocab
    * cross-session lifecycle [[graft.sources.ArtifactStore]]
    * advertises). The constant is exactly representable and far below
    * any real log-prob, so a segmentation avoiding UNK always wins
    * and both engines sum it identically. Inside [[train]] the
    * alphabet is never pruned, so this path never fires there. */
  private[graft] val UnkScore: Double = -1000000.0

  /** Best segmentation of `word` under `scores` (piece → rounded
    * log-prob): DP ascending over end positions, candidates scanned
    * at ascending start j with strict improvement — ties keep the
    * smallest j. Single chars are always scored (vocabulary chars at
    * their log-prob, OOV chars at [[UnkScore]]), so every position is
    * reachable and the backwalk is total on ANY input. Returns the
    * used pieces WITH multiplicity. */
  private[graft] def viterbi(word: String,
                             scores: scala.collection.Map[String, Double],
                             maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bp = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val s = scores.get(word.substring(j, i)) match {
          case Some(sc) => sc
          case None if i - j == 1 => UnkScore // OOV single char
          case None => Double.NegativeInfinity
        }
        if (s != Double.NegativeInfinity &&
            best(j) != Double.NegativeInfinity) {
          val cand = best(j) + s
          if (cand > best(i)) { best(i) = cand; bp(i) = j }
        }
        j += 1
      }
      i += 1
    }
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      val j = bp(pos)
      out = word.substring(j, pos) :: out
      pos = j
    }
    out
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[UnkScore]] in integer micro-nats — the unit [[docScore]] sums
    * in. Exactly `UnkScore * 1e6`. */
  private[graft] val UnkMicros: Long = -1000000000000L

  /** Per-piece score table of a trained vocabulary, in BOTH
    * representations: the 6-dp-rounded double the Viterbi DP sums
    * (the [[encode]] contract) and the SAME decimal as exact integer
    * micro-nats (score × 1e6 — representable exactly because the
    * decimal has 6 places). Integer micro-nats make every downstream
    * SUM order-independent and bit-exact across engines — the
    * [[docScore]] determinism story. */
  private def scoreTables(rows: Array[(String, Long)])
      : (Map[String, Double], Map[String, Long]) = {
    val total = rows.map(_._2).sum.toDouble
    val decs = rows.map { case (pc, c) =>
      pc -> BigDecimal(math.log(c.toDouble) - math.log(total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    (decs.map { case (pc, d) => pc -> d.toDouble }.toMap,
      decs.map { case (pc, d) =>
        pc -> d.underlying.movePointRight(6).longValueExact()
      }.toMap)
  }

  /** Train: returns the final vocabulary as (piece, cnt, token_id),
    * ranked by (cnt DESC, piece ASC) — [[TextAnalysis.buildVocab]]'s
    * output shape, so the artifact drops into the same consumers. */
  def train(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
            seedTop: Int = 40, keepMulti: Int = 16,
            iters: Int = 2): DataFrame =
    trainOnCounts(wordCounts(df, textCol), maxPieceLen, seedTop,
      keepMulti, iters)

  /** [[train]] from a precomputed [[Bpe.wordCounts]] frame
    * (multi-family callers share the one corpus aggregate). */
  private[graft] def trainFromCounts(wc: DataFrame, maxPieceLen: Int,
                                     seedTop: Int, keepMulti: Int,
                                     iters: Int): DataFrame =
    trainOnCounts(wc, maxPieceLen, seedTop, keepMulti, iters)

  private def trainOnCounts(wc: DataFrame, maxPieceLen: Int,
                            seedTop: Int, keepMulti: Int,
                            iters: Int): DataFrame = {
    require(maxPieceLen >= 2 && seedTop >= 1 && keepMulti >= 0 && iters >= 1)
    val spark = wc.sparkSession
    import spark.implicits._
    // vocab-sized, reused every iteration
    val words = barrier(wc.select(col("word"), col("wcount")).as[(String, Long)])
    // the alphabet: tiny by construction, the one driver-side constant
    val singles: Array[String] = words
      .flatMap(_._1.map(_.toString)).distinct().collect().sorted
    val singlesDf = singles.toSeq.toDF("piece")

    // seed counts: every substring up to maxPieceLen, weighted by
    // wcount × occurrences — a vocab-sized explode, never corpus rows
    val p = maxPieceLen
    val subCounts = words.toDF("word", "wcount")
      .select(col("wcount"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(greatest(1, i - ${p - 1}), i), j ->
           |    substring(word, j, i - j + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcount")).as("cnt"))
    val byCount = Window.orderBy(col("cnt").desc, col("piece").asc)
    val seed = subCounts.filter(length(col("piece")) === 1)
      .unionByName(subCounts.filter(length(col("piece")) >= 2)
        .withColumn("rn", row_number().over(byCount))
        .filter(col("rn") <= seedTop).drop("rn"))

    // EM: score (broadcast, model-sized) → Viterbi E-step (distributed
    // over the words table) → usage aggregate → prune
    var vocab: Array[(String, Long)] =
      seed.as[(String, Long)].collect() // model-sized by the seedTop contract
    var prunedDf: DataFrame = seed
    for (_ <- 1 to iters) {
      val total = vocab.map(_._2).sum.toDouble
      val scores: Map[String, Double] =
        vocab.map { case (pc, c) =>
          pc -> round6(math.log(c.toDouble) - math.log(total))
        }.toMap
      val bc = spark.sparkContext.broadcast(scores)
      val usage = words.mapPartitions { it =>
        it.flatMap { case (word, wc) =>
          viterbi(word, bc.value, p).map(piece => (piece, wc))
        }
      }.toDF("piece", "wcount")
        .groupBy(col("piece")).agg(sum(col("wcount")).as("cnt"))
      prunedDf = singlesDf
        .join(usage, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
        .unionByName(usage.filter(length(col("piece")) >= 2)
          .withColumn("rn", row_number().over(byCount))
          .filter(col("rn") <= keepMulti).drop("rn"))
      vocab = prunedDf.as[(String, Long)].collect()
    }
    prunedDf.select(col("piece"), col("cnt"),
      (row_number().over(byCount) - 1).cast("int").as("token_id"))
  }

  // ---------------------------------------------------------------
  // DuckDB oracle twin: the EM loop unrolled as materialized CTEs
  // (the Bpe.chainCtes discipline), with the per-word Viterbi DP
  // unrolled over end positions 1..maxWordLen and the backwalk
  // unrolled maxWordLen steps. maxWordLen is a FIXTURE CONTRACT (the
  // documents corpus caps at 8); a longer word would silently drop
  // from the oracle's usage counts, so keep it >= the corpus max.
  // ---------------------------------------------------------------

  /** The per-vocabulary Viterbi block shared by the train rounds and
    * [[encodeSql]]'s final segmentation pass: score `srcVocab`, find
    * candidates, run the unrolled DP + backwalk, and emit `use_$tag`
    * (one row per used piece per word, with multiplicity).
    * `wordsCte`/`ijCte` name the word table the pass runs over (the
    * train corpus by default; [[encodeSql]] passes its own). With
    * `unk = true`, single-char positions whose character is absent
    * from the vocabulary become candidates at [[UnkScore]] — the
    * engine's OOV contract replayed in SQL. */
  private def viterbiCtes(tag: String, srcVocab: String,
                          maxWordLen: Int, wordsCte: String = "words",
                          ijCte: String = "ij",
                          unk: Boolean = false): String = {
    val unkCand =
      if (!unk) ""
      else s"""
         |  UNION ALL
         |  SELECT ij.word, ij.i, ij.j, CAST(${UnkScore} AS DOUBLE) AS sc
         |  FROM $ijCte ij
         |  WHERE ij.i - ij.j = 1 AND NOT EXISTS (
         |    SELECT 1 FROM sc_$tag s
         |    WHERE s.piece = substr(ij.word, ij.j + 1, 1))""".stripMargin
    val sc =
      s"""sc_$tag AS MATERIALIZED (SELECT piece,
         |    round(ln(CAST(cnt AS DOUBLE)) -
         |          ln((SELECT CAST(sum(cnt) AS DOUBLE) FROM $srcVocab)), 6) AS sc
         |  FROM $srcVocab),
         |cand_$tag AS MATERIALIZED (SELECT ij.word, ij.i, ij.j, s.sc
         |  FROM $ijCte ij JOIN sc_$tag s
         |    ON s.piece = substr(ij.word, ij.j + 1, ij.i - ij.j)$unkCand),
         |dp_${tag}_0 AS (SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS best,
         |    CAST(NULL AS INTEGER) AS bp FROM $wordsCte)""".stripMargin
    val dp = (1 to maxWordLen).map { i =>
      s"""dp_${tag}_$i AS MATERIALIZED (
         |  SELECT * FROM dp_${tag}_${i - 1}
         |  UNION ALL
         |  SELECT word, pos, best, bp FROM (
         |    SELECT c.word, c.i AS pos, d.best + c.sc AS best,
         |      CAST(c.j AS INTEGER) AS bp,
         |      row_number() OVER (PARTITION BY c.word
         |        ORDER BY d.best + c.sc DESC, c.j ASC) AS rn
         |    FROM cand_$tag c
         |    JOIN dp_${tag}_${i - 1} d ON d.word = c.word AND d.pos = c.j
         |    WHERE c.i = $i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bw0 =
      s"""bw_${tag}_0 AS MATERIALIZED (SELECT d.word, d.pos, d.bp
         |  FROM dp_${tag}_$maxWordLen d
         |  JOIN $wordsCte w ON w.word = d.word AND d.pos = len(w.word))""".stripMargin
    val bw = (1 to (maxWordLen - 1)).map { k =>
      s"""bw_${tag}_$k AS MATERIALIZED (SELECT d.word, d.pos, d.bp
         |  FROM bw_${tag}_${k - 1} b
         |  JOIN dp_${tag}_$maxWordLen d ON d.word = b.word AND d.pos = b.bp
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    val bwUnion = (0 until maxWordLen)
      .map(k => s"SELECT * FROM bw_${tag}_$k").mkString(" UNION ALL ")
    val use =
      s"""use_$tag AS MATERIALIZED (
         |  SELECT word, substr(word, bp + 1, pos - bp) AS piece
         |  FROM ($bwUnion) WHERE pos > 0)""".stripMargin
    Seq(sc, dp, bw0, bw, use).filter(_.nonEmpty).mkString(",\n")
  }

  def trainSql(table: String, textExpr: String, maxPieceLen: Int = 4,
               seedTop: Int = 40, keepMulti: Int = 16, iters: Int = 2,
               maxWordLen: Int = 8): String = {
    val p = maxPieceLen
    val head =
      s"""words AS MATERIALIZED (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word),
         |wguard AS (SELECT CASE WHEN max(len(word)) > $maxWordLen THEN
         |    error('unigram oracle: train corpus word exceeds maxWordLen=$maxWordLen')
         |  ELSE 1 END AS ok FROM words),
         |pos AS (SELECT word, unnest(generate_series(1, len(word))) AS i FROM words),
         |ij AS MATERIALIZED (SELECT word, i,
         |    unnest(generate_series(greatest(0, i - $p), i - 1)) AS j FROM pos),
         |singles AS MATERIALIZED (
         |  SELECT DISTINCT substr(word, i, 1) AS piece FROM pos),
         |subcnt AS MATERIALIZED (SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt
         |  FROM (SELECT substr(ij.word, ij.j + 1, ij.i - ij.j) AS piece, w.wcount
         |        FROM ij JOIN words w USING (word))
         |  GROUP BY piece),
         |v_0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM subcnt WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
         |    FROM subcnt WHERE len(piece) >= 2)
         |  WHERE rn <= $seedTop)""".stripMargin
    val rounds = (1 to iters).map { t =>
      val tail =
        s"""u_$t AS MATERIALIZED (SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt
           |  FROM use_$t JOIN words USING (word) GROUP BY piece),
           |v_$t AS MATERIALIZED (
           |  SELECT s.piece, greatest(coalesce(u.cnt, 0), 1) AS cnt
           |  FROM singles s LEFT JOIN u_$t u USING (piece)
           |  UNION ALL
           |  SELECT piece, cnt FROM (
           |    SELECT piece, cnt,
           |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
           |    FROM u_$t WHERE len(piece) >= 2)
           |  WHERE rn <= $keepMulti)""".stripMargin
      viterbiCtes(t.toString, s"v_${t - 1}", maxWordLen) + ",\n" + tail
    }.mkString(",\n")
    s"""WITH $head,
       |$rounds
       |SELECT piece, cnt,
       |  CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) - 1 AS INTEGER)
       |    AS token_id
       |FROM v_$iters CROSS JOIN wguard""".stripMargin
  }

  /** Oracle twin of [[train]] + [[encode]] composed — the [[Bpe
    * .encodeSql]] shape: the full train chain, one more Viterbi pass
    * over the FINAL vocabulary (tag `f`) with the UNK fallback on
    * (the engine's OOV contract), per-word token counts from the
    * backwalk rows, joined back onto the encode corpus words.
    * `encodeTable` (a table name or parenthesized subquery exposing
    * `$idExpr`/`$textExpr`) lets the encode corpus differ from the
    * train corpus — the published-vocab lifecycle, and the only way
    * OOV characters can occur. Both corpora are guarded loudly
    * against words longer than `maxWordLen` (a longer word would
    * otherwise silently vanish from the unrolled DP). */
  def encodeSql(table: String, idExpr: String, textExpr: String,
                maxPieceLen: Int = 4, seedTop: Int = 40,
                keepMulti: Int = 16, iters: Int = 2,
                maxWordLen: Int = 8, encodeTable: String = ""): String = {
    val et = if (encodeTable.isEmpty) table else encodeTable
    val p = maxPieceLen
    val train = trainSql(table, textExpr, maxPieceLen, seedTop,
      keepMulti, iters, maxWordLen)
    // reuse everything up to (and including) the final vocab CTE
    val ctes = train.substring(0, train.lastIndexOf("\nSELECT piece, cnt,"))
    s"""$ctes,
       |ewords AS MATERIALIZED (SELECT word, count(*) AS wcount
       |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word FROM $et)
       |  WHERE word <> '' GROUP BY word),
       |eguard AS (SELECT CASE WHEN max(len(word)) > $maxWordLen THEN
       |    error('unigram oracle: encode corpus word exceeds maxWordLen=$maxWordLen')
       |  ELSE 1 END AS ok FROM ewords),
       |epos AS (SELECT word, unnest(generate_series(1, len(word))) AS i
       |  FROM ewords),
       |eij AS MATERIALIZED (SELECT word, i,
       |    unnest(generate_series(greatest(0, i - $p), i - 1)) AS j
       |  FROM epos),
       |${viterbiCtes("f", s"v_$iters", maxWordLen, "ewords", "eij", unk = true)},
       |ntok AS MATERIALIZED (SELECT word, CAST(count(*) AS INTEGER) AS ntok
       |  FROM use_f GROUP BY word),
       |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
       |       FROM $et)
       |SELECT id AS doc_id, count(*) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM dw JOIN ntok USING (word)
       |CROSS JOIN wguard CROSS JOIN eguard
       |WHERE word <> ''
       |GROUP BY id""".stripMargin
  }

  /** Tokenize with a trained vocabulary ([[train]]'s output — a MODEL
    * artifact, collected + broadcast like [[Bpe.encode]]'s merge
    * table): per-document unigram-LM token counts via one more
    * Viterbi pass over the vocabulary table. Returns
    * (idCol, n_words, n_tokens) — the [[Bpe.encode]] output shape, so
    * the two tokenizer families drop into the same consumers.
    *
    * OOV CONTRACT (spec-pinned; the published-vocab cross-session
    * case): a character absent from the trained alphabet segments as
    * its own single-character UNK piece at [[UnkScore]] — one token
    * per OOV character, encode total on any corpus. ([[Bpe.encode]]'s
    * analog: OOV characters pass through as unmergeable single-char
    * tokens — no merge rule references them — so both families are
    * total, each costing one token per unknown character.) */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = vocab.select(col("piece"), col("cnt"))
      .as[(String, Long)].collect() // model-sized by the train contract
    val (scores, _) = scoreTables(rows)
    val bc = spark.sparkContext.broadcast(scores)
    val p = maxPieceLen
    val perWord = wordCounts(df, textCol).as[(String, Long)]
      .mapPartitions { it =>
        it.map { case (w, _) => (w, viterbi(w, bc.value, p).length) }
      }.toDF("word", "__ntok")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__ntok")).as("n_tokens"))
  }

  /** Shared-frame encode ([[Bpe.encodeFromShared]]'s contract): the
    * corpus explode and word totals are precomputed once by a
    * multi-family caller. Row-identical to [[encode]]. */
  private[graft] def encodeFromShared(docWords: DataFrame, idCol: String,
                                      wc: DataFrame, vocab: DataFrame,
                                      maxPieceLen: Int = 4): DataFrame = {
    val spark = docWords.sparkSession
    import spark.implicits._
    val rows = vocab.select(col("piece"), col("cnt"))
      .as[(String, Long)].collect() // model-sized by the train contract
    val (scores, _) = scoreTables(rows)
    val bc = spark.sparkContext.broadcast(scores)
    val p = maxPieceLen
    val perWord = wc.select(col("word")).as[String]
      .mapPartitions { it =>
        it.map(w => (w, viterbi(w, bc.value, p).length))
      }.toDF("word", "__ntok")
    Bpe.encodeSharedAgg(docWords, idCol, perWord)
  }

  /** Cross-session form of [[train]]: load the published vocabulary
    * for `(corpusKey, version)` if it exists, else train and publish
    * ([[Bpe.trainPublished]]'s lifecycle, kind `unigram_vocab`). */
  def trainPublished(df: DataFrame, root: String, corpusKey: String,
                     version: String, textCol: String,
                     maxPieceLen: Int = 4, seedTop: Int = 40,
                     keepMulti: Int = 16, iters: Int = 2): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "unigram_vocab", corpusKey, version))
      ArtifactStore.load(spark, root, "unigram_vocab", corpusKey, version)
    else {
      val v = train(df, textCol, maxPieceLen, seedTop, keepMulti, iters)
      ArtifactStore.save(v, root, "unigram_vocab", corpusKey, version)
      ArtifactStore.load(spark, root, "unigram_vocab", corpusKey, version)
    }
  }

  /** Per-document log-probability under a trained vocabulary — the
    * CCNet-style LM quality signal (Wenzek et al. LREC'20 §4.3)
    * computed from a PUBLISHED model instead of the corpus's own
    * counts (contrast [[TextAnalysis.ngramLmScore]]): segment each
    * word with the same Viterbi pass [[encode]] runs, then sum the
    * chosen pieces' scores in integer MICRO-NATS (score × 1e6 — exact
    * because scores carry 6 decimals), so the per-word and per-doc
    * sums are order-independent integer arithmetic, bit-identical in
    * any engine and under any partitioning — no float-summation
    * firewall needed. OOV characters cost [[UnkMicros]] each (the
    * [[encode]] UNK contract), so scoring is total on any corpus and
    * heavily OOV documents sink to the tail, which is exactly the
    * filter semantics. Returns (idCol, n_words, n_tokens, lp_micros).
    *
    * Scale shape: [[encode]]'s — one broadcast-scored Viterbi pass
    * over DISTINCT words, per-doc aggregate at scan throughput; rank
    * the output with [[Relational.globalRowNumber]] for CCNet
    * head/middle/tail terciles without a single-partition sort. */
  def docScore(df: DataFrame, idCol: String, textCol: String,
               vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = vocab.select(col("piece"), col("cnt"))
      .as[(String, Long)].collect() // model-sized by the train contract
    val (scores, micros) = scoreTables(rows)
    val bc = spark.sparkContext.broadcast((scores, micros))
    val p = maxPieceLen
    val perWord = wordCounts(df, textCol).as[(String, Long)]
      .mapPartitions { it =>
        val (sc, mi) = bc.value
        it.map { case (w, _) =>
          val pieces = viterbi(w, sc, p)
          var lpm = 0L
          pieces.foreach(pc => lpm += mi.getOrElse(pc, UnkMicros))
          (w, pieces.length, lpm)
        }
      }.toDF("word", "__ntok", "__lpm")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__lpm")).as("lp_micros"))
  }

  /** Oracle twin of [[train]] + [[docScore]] + CCNet tercile ranking
    * composed: the [[encodeSql]] chain up through the final Viterbi
    * pass, then per-piece scores converted to integer micro-nats
    * (`round(sc * 1e6, 0)` of the ALREADY-6-dp-rounded score — exact,
    * the product sits within 5e-10 of an integer), UNK pieces at
    * [[UnkMicros]], integer per-word and per-doc sums, and the
    * q140-style global-rank integer tercile (no float quantile
    * threshold to straddle engines). */
  def docScoreSql(table: String, idExpr: String, textExpr: String,
                  maxPieceLen: Int = 4, seedTop: Int = 40,
                  keepMulti: Int = 16, iters: Int = 2,
                  maxWordLen: Int = 8, encodeTable: String = ""): String = {
    val et = if (encodeTable.isEmpty) table else encodeTable
    val p = maxPieceLen
    val train = trainSql(table, textExpr, maxPieceLen, seedTop,
      keepMulti, iters, maxWordLen)
    val ctes = train.substring(0, train.lastIndexOf("\nSELECT piece, cnt,"))
    s"""$ctes,
       |ewords AS MATERIALIZED (SELECT word, count(*) AS wcount
       |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word FROM $et)
       |  WHERE word <> '' GROUP BY word),
       |eguard AS (SELECT CASE WHEN max(len(word)) > $maxWordLen THEN
       |    error('unigram oracle: score corpus word exceeds maxWordLen=$maxWordLen')
       |  ELSE 1 END AS ok FROM ewords),
       |epos AS (SELECT word, unnest(generate_series(1, len(word))) AS i
       |  FROM ewords),
       |eij AS MATERIALIZED (SELECT word, i,
       |    unnest(generate_series(greatest(0, i - $p), i - 1)) AS j
       |  FROM epos),
       |${viterbiCtes("f", s"v_$iters", maxWordLen, "ewords", "eij", unk = true)},
       |scm AS MATERIALIZED (SELECT piece,
       |    CAST(round(sc * 1000000.0, 0) AS BIGINT) AS scm FROM sc_f),
       |wlp AS MATERIALIZED (SELECT u.word,
       |    CAST(count(*) AS INTEGER) AS ntok,
       |    CAST(sum(coalesce(s.scm, $UnkMicros)) AS BIGINT) AS lpm
       |  FROM use_f u LEFT JOIN scm s ON s.piece = u.piece
       |  GROUP BY u.word),
       |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
       |       FROM $et),
       |d AS MATERIALIZED (SELECT id AS doc_id, count(*) AS n_words,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |    CAST(sum(lpm) AS BIGINT) AS lp_micros
       |  FROM dw JOIN wlp USING (word)
       |  CROSS JOIN wguard CROSS JOIN eguard
       |  WHERE word <> '' GROUP BY id),
       |r AS (SELECT *, CAST(lp_micros AS DOUBLE) / n_tokens AS avg_lp FROM d),
       |rr AS (SELECT *, row_number() OVER (ORDER BY avg_lp, doc_id) AS rn,
       |    count(*) OVER () AS n FROM r)
       |SELECT doc_id, n_words, n_tokens, lp_micros, avg_lp,
       |  CASE ((rn - 1) * 3) // n WHEN 0 THEN 'tail'
       |    WHEN 1 THEN 'middle' ELSE 'head' END AS bucket
       |FROM rr""".stripMargin
  }
}
