package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Distributed WordPiece tokenizer — the third production tokenizer
  * family next to [[Bpe]] and [[UnigramLm]] (Schuster & Nakajima,
  * "Japanese and Korean voice search", ICASSP 2012; the BERT
  * tokenizer). Same corpus representation as [[Bpe]] (single-space
  * lowercase ASCII words, `_` end-of-word marker), two deliberate
  * differences that ARE the family:
  *
  *  - '''training''' picks each merge by the unigram-LM likelihood
  *    gain `cnt(pair) / (cnt(left) * cnt(right))` instead of the raw
  *    pair count — the WordPiece criterion (merge the pair whose
  *    parts co-occur most above independence), so rare-but-exclusive
  *    pairs merge before frequent-but-promiscuous ones;
  *  - '''encoding''' is greedy longest-match-first over the merged
  *    vocabulary (BERT's `max-match` inference algorithm), NOT a
  *    replay of the merge chain: at each position take the longest
  *    vocabulary piece, advance, repeat.
  *
  * Determinism contract (both engines, bit-for-bit):
  *  - the score is ONE IEEE division of exactly-representable
  *    integers, `cast(cnt as double) / (cast(l as double) * cast(r as
  *    double))` — multiply and divide are correctly rounded, so Spark
  *    and DuckDB produce the identical double with NO rounding
  *    firewall (contrast [[UnigramLm]]'s ln-based scores, which need
  *    the 6-dp round); ties break (score DESC, pair ASC);
  *  - greedy max-match needs only vocabulary MEMBERSHIP, no floats at
  *    all — and because every single-character advance costs exactly
  *    one token whether the character is in-alphabet or OOV, the
  *    token-count contract needs only the multi-char merge pieces,
  *    making [[encode]] total on any corpus (the [[Bpe.encode]] /
  *    [[UnigramLm.encode]] OOV discipline: one token per unknown
  *    character).
  *
  * Scale shape ([[Bpe]]'s): ALL corpus-sized work is the one
  * word-count aggregate; each merge iteration adds one token-count
  * aggregate over the vocabulary table (vocab-sized, not
  * corpus-sized) to price the denominator, the chosen pair rides a
  * 1-row broadcast into the rewrite, and encode folds the collected
  * merge table (a MODEL artifact — publish via
  * [[graft.sources.ArtifactStore]]) into a broadcast set probed by
  * one pass over distinct words. */
object WordPiece {

  /** Per-token counts of the current segmentation, weighted by word
    * count — the denominator table for the WordPiece criterion. */
  private def tokenCounts(words: DataFrame): DataFrame =
    words.select(col("wcount"), explode(split(col("seq"), " ")).as("tok"))
      .groupBy(col("tok")).agg(sum(col("wcount")).as("tcnt"))

  /** Learn `merges` WordPiece merges. Returns (merge_rank, pair,
    * merged, cnt, score) in rank order; ranks past the point where no
    * pair reaches `minPairCount` don't appear ([[Bpe.train]]'s
    * vanishing-rank contract). `score` is the raw likelihood-gain
    * double (exact across engines, see the determinism contract). */
  def train(df: DataFrame, textCol: String, merges: Int,
            minPairCount: Long = 2L): DataFrame =
    trainOnSeqs(Bpe.wordSeqs(df, textCol), merges, minPairCount)

  private def trainOnSeqs(words0: DataFrame, merges: Int,
                          minPairCount: Long): DataFrame = {
    require(merges >= 1, "at least one merge")
    val spark = words0.sparkSession
    var words = barrier(words0)
    // [[Bpe.train]]'s round-17 loop shape: the 1-row pick is fetched
    // (the merge table is a driver-held MODEL) and the rewrite chains
    // as literal expressions over the checkpointed vocabulary instead
    // of re-materializing it per round; early exit on an empty pick
    // (fixpoint — the likelihood criterion prices the SAME empty pair
    // set, so later ranks vanish identically on both engines).
    val picked = Seq.newBuilder[(Int, String, String, Long, Double)]
    var chained = 0
    var i = 1
    var exhausted = false
    while (i <= merges && !exhausted) {
      val toks = tokenCounts(words)
      val best = Bpe.pairCounts(words)
        .filter(col("cnt") >= minPairCount)
        .withColumn("__l", element_at(split(col("pair"), " "), 1))
        .withColumn("__r", element_at(split(col("pair"), " "), 2))
        .join(toks.select(col("tok").as("__l"), col("tcnt").as("__lc")), Seq("__l"))
        .join(toks.select(col("tok").as("__r"), col("tcnt").as("__rc")), Seq("__r"))
        .select(col("pair"),
          call_function("replace", col("pair"), lit(" "), lit("")).as("merged"),
          col("cnt"),
          (col("cnt").cast("double") /
            (col("__lc").cast("double") * col("__rc").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, col("pair").asc).limit(1)
        .collect() // <= 1 row; model-sized
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        val (p, m) = (r.getString(0), r.getString(1))
        picked += ((i, p, m, r.getLong(2), r.getDouble(3)))
        words = words.select(col("word"),
          Bpe.applyMerge(col("seq"), lit(p), lit(m)).as("seq"),
          col("wcount"))
        chained += 1
        if (chained >= Bpe.TrainRechainEvery && i < merges) {
          words = barrier(words) // bound the replace-chain depth
          chained = 0
        }
      }
      i += 1
    }
    import spark.implicits._
    picked.result().toDF("merge_rank", "pair", "merged", "cnt", "score")
  }

  /** Cross-session form of [[train]]: load the published merge table
    * for `(corpusKey, version)` if it exists, else train and publish
    * ([[Bpe.trainPublished]]'s lifecycle, kind `wordpiece_merges`). */
  def trainPublished(df: DataFrame, root: String, corpusKey: String,
                     version: String, textCol: String, merges: Int,
                     minPairCount: Long = 2L): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "wordpiece_merges", corpusKey, version))
      ArtifactStore.load(spark, root, "wordpiece_merges", corpusKey, version)
    else {
      val m = train(df, textCol, merges, minPairCount)
      ArtifactStore.save(m, root, "wordpiece_merges", corpusKey, version)
      ArtifactStore.load(spark, root, "wordpiece_merges", corpusKey, version)
    }
  }

  /** Greedy longest-match-first token count of one marker-terminated
    * word: at each position take the longest vocabulary piece (length
    * >= 2 — see the single-char note on [[encode]]), else advance one
    * character; every step costs one token. Total on any input. */
  private[graft] def greedyCount(mword: String,
                                 vocab: scala.collection.Set[String],
                                 maxPieceLen: Int): Int = {
    val n = mword.length
    var pos = 0
    var ntok = 0
    while (pos < n) {
      var adv = 1
      var l = math.min(maxPieceLen, n - pos)
      while (adv == 1 && l >= 2) {
        if (vocab.contains(mword.substring(pos, pos + l))) adv = l
        l -= 1
      }
      pos += adv
      ntok += 1
    }
    ntok
  }

  /** Tokenize with a trained merge table via greedy longest-match
    * (BERT's max-match): the vocabulary is the DISTINCT merged pieces
    * (a MODEL artifact — collected and broadcast), probed against the
    * marker-terminated word left to right, longest piece first.
    * Single characters — in-alphabet or OOV alike — advance one
    * position for one token, so membership of length-1 pieces is
    * irrelevant to the count and encode is TOTAL on any corpus: the
    * OOV contract is one token per unknown character, the
    * [[Bpe.encode]]/[[UnigramLm.encode]] analog. Returns
    * (idCol, n_words, n_tokens). */
  def encode(df: DataFrame, idCol: String, textCol: String,
             mergeTable: DataFrame): DataFrame = {
    val perWord = encodePerWord(df.sparkSession,
      Bpe.wordCounts(df, textCol), mergeTable)
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__ntok")).as("n_tokens"))
  }

  /** (word, __ntok) under the collected vocabulary set. */
  private def encodePerWord(spark: org.apache.spark.sql.SparkSession,
                            wc: DataFrame, mergeTable: DataFrame): DataFrame = {
    import spark.implicits._
    val pieces = mergeTable.select(col("merged")).distinct()
      .as[String].collect().filter(_.length >= 2) // model-sized by the merges contract
    val maxLen = if (pieces.isEmpty) 2 else pieces.map(_.length).max
    val bc = spark.sparkContext.broadcast(pieces.toSet)
    wc.select(col("word")).as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.map(w => (w, greedyCount(w + "_", v, maxLen)))
      }.toDF("word", "__ntok")
  }

  /** Shared-frame encode ([[Bpe.encodeFromShared]]'s contract): the
    * corpus explode and word totals are precomputed once by a
    * multi-family caller. Row-identical to [[encode]]. */
  private[graft] def encodeFromShared(docWords: DataFrame, idCol: String,
                                      wc: DataFrame,
                                      mergeTable: DataFrame): DataFrame =
    Bpe.encodeSharedAgg(docWords, idCol,
      encodePerWord(docWords.sparkSession, wc, mergeTable))

  /** [[train]] from a precomputed [[Bpe.wordCounts]] frame. */
  private[graft] def trainFromCounts(wc: DataFrame, merges: Int,
                                     minPairCount: Long): DataFrame =
    trainOnSeqs(Bpe.seqsOfCounts(wc, Bpe.charSeqOf), merges, minPairCount)

  // ---------------------------------------------------------------
  // DuckDB oracle twins. The merge chain is Bpe's with the pair
  // choice re-priced by the likelihood criterion (one extra
  // token-count CTE per round); the encode side unrolls the greedy
  // walk maxWordLen+1 steps (each step advances >= 1 position over
  // the marker-terminated word, loudly guarded).
  // ---------------------------------------------------------------

  private def chainCtes(table: String, textExpr: String, merges: Int,
                        minPairCount: Long): String = {
    val head =
      s"""wc AS MATERIALIZED (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word),
         |w_0 AS MATERIALIZED (SELECT word,
         |    regexp_replace(word, '(.)', '\\1 ', 'g') || '_' AS seq, wcount
         |  FROM wc)""".stripMargin
    val rounds = (1 to merges).map { i =>
      s"""t_$i AS MATERIALIZED (SELECT tok, CAST(sum(wcount) AS BIGINT) AS tcnt
         |  FROM (SELECT unnest(string_split(seq, ' ')) AS tok, wcount
         |        FROM w_${i - 1})
         |  GROUP BY tok),
         |p_$i AS MATERIALIZED (SELECT ws[i] || ' ' || ws[i + 1] AS pair,
         |    CAST(sum(wcount) AS BIGINT) AS cnt
         |  FROM (SELECT ws, wcount, unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM (SELECT string_split(seq, ' ') AS ws, wcount FROM w_${i - 1})
         |        WHERE len(ws) >= 2)
         |  GROUP BY pair HAVING sum(wcount) >= $minPairCount),
         |b_$i AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged,
         |    cnt, score
         |  FROM (SELECT p.pair, p.cnt,
         |          CAST(p.cnt AS DOUBLE) /
         |            (CAST(lt.tcnt AS DOUBLE) * CAST(rt.tcnt AS DOUBLE)) AS score
         |        FROM p_$i p
         |        JOIN t_$i lt ON lt.tok = string_split(p.pair, ' ')[1]
         |        JOIN t_$i rt ON rt.tok = string_split(p.pair, ' ')[2])
         |  ORDER BY score DESC, pair LIMIT 1),
         |w_$i AS MATERIALIZED (SELECT word,
         |    CASE WHEN b.pair IS NULL THEN seq
         |         ELSE trim(replace(' ' || seq || ' ',
         |           ' ' || b.pair || ' ', ' ' || b.merged || ' ')) END AS seq,
         |    wcount
         |  FROM w_${i - 1} LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  /** Oracle twin of [[train]]. */
  def trainSql(table: String, textExpr: String, merges: Int,
               minPairCount: Long): String = {
    val union = (1 to merges).map { i =>
      s"SELECT CAST($i AS INTEGER) AS merge_rank, pair, merged, cnt, score FROM b_$i"
    }.mkString("\nUNION ALL ")
    s"WITH ${chainCtes(table, textExpr, merges, minPairCount)}\n$union"
  }

  /** Oracle twin of [[train]] + [[encode]] composed: the train chain,
    * the vocabulary as the distinct merged pieces, then the greedy
    * max-match walk unrolled `maxWordLen + 1` steps over the encode
    * corpus's distinct marker-terminated words (each step advances at
    * least one position; the word length is loudly guarded).
    * `encodeTable` lets the encode corpus differ from the train
    * corpus — the published-merge-table lifecycle, where OOV
    * characters simply never match a piece and fall to the
    * one-token-per-character advance. */
  def encodeSql(table: String, idExpr: String, textExpr: String,
                merges: Int, minPairCount: Long,
                maxWordLen: Int = 8, encodeTable: String = ""): String = {
    val et = if (encodeTable.isEmpty) table else encodeTable
    val steps = maxWordLen + 1 // the '_' marker adds one position
    val head =
      s"""vp AS MATERIALIZED (SELECT DISTINCT merged AS piece FROM (
         |    ${(1 to merges).map(i => s"SELECT merged FROM b_$i").mkString(" UNION ALL ")})
         |  WHERE len(merged) >= 2),
         |ewords AS MATERIALIZED (SELECT word, word || '_' AS mword
         |  FROM (SELECT DISTINCT unnest(string_split($textExpr, ' ')) AS word
         |        FROM $et)
         |  WHERE word <> ''),
         |eguard AS (SELECT CASE WHEN max(len(word)) > $maxWordLen THEN
         |    error('wordpiece oracle: encode corpus word exceeds maxWordLen=$maxWordLen')
         |  ELSE 1 END AS ok FROM ewords),
         |g_0 AS (SELECT word, mword, 0 AS pos, 0 AS ntok FROM ewords)""".stripMargin
    val walk = (1 to steps).map { k =>
      s"""g_$k AS MATERIALIZED (
         |  SELECT word, mword, pos, ntok FROM g_${k - 1} WHERE pos >= len(mword)
         |  UNION ALL
         |  SELECT word, mword, pos + adv AS pos, ntok + 1 AS ntok FROM (
         |    SELECT g.word, g.mword, g.pos, g.ntok,
         |      coalesce(max(len(v.piece)), 1) AS adv
         |    FROM g_${k - 1} g LEFT JOIN vp v
         |      ON v.piece = substr(g.mword, g.pos + 1, len(v.piece))
         |    WHERE g.pos < len(g.mword)
         |    GROUP BY g.word, g.mword, g.pos, g.ntok))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${chainCtes(table, textExpr, merges, minPairCount)},
       |$head,
       |$walk,
       |ntok AS MATERIALIZED (SELECT word, CAST(ntok AS INTEGER) AS ntok
       |  FROM g_$steps),
       |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
       |       FROM $et)
       |SELECT id AS doc_id, count(*) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM dw JOIN ntok USING (word)
       |CROSS JOIN eguard
       |WHERE word <> ''
       |GROUP BY id""".stripMargin
  }
}
