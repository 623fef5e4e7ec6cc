package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Distributed byte-pair-encoding tokenizer construction — the
  * "BPE-ish" half of token counting a training-data pipeline needs:
  * learn the merge table from the corpus IN the engine, then tokenize
  * with it. (The reference corpus is single-space-separated lowercase
  * ASCII, so "byte" pairs are character pairs and no pre-tokenizer
  * regex is needed.)
  *
  * Scale shape — the classic trick that makes BPE training tractable
  * on any corpus size: all corpus-sized work is ONE word-count
  * aggregate (shuffling (word, count), never positions); every merge
  * iteration then runs over the VOCABULARY table (bounded by distinct
  * words, not corpus tokens — heavyHitters' bounded-small contract),
  * so 100 TB of text costs the same per-iteration work as 100 MB once
  * the counts exist. The chosen pair rides a 1-row broadcast into the
  * rewrite, never a driver fetch.
  *
  * Determinism for the cross-engine oracle: the merge choice is
  * (count DESC, pair ASC) — a total order over ASCII pair strings that
  * Spark and DuckDB compare identically — and the rewrite is plain
  * left-to-right non-overlapping `replace` on the space-separated
  * token string (both engines' replace scans left to right, which IS
  * BPE's greedy merge application). Words end with a `_` marker (a
  * character absent from the corpus alphabet) so end-of-word tokens
  * stay distinct from mid-word ones.
  */
object Bpe {

  /** Character-level seeding: "chars" → "c h a r s _". */
  private[graft] def charSeqOf(word: Column): Column =
    concat(regexp_replace(word, "(.)", "$1 "), lit("_"))

  /** BYTE-level seeding — the production pre-tokenization (GPT-2
    * lineage): the word's UTF-8 bytes, each rendered as a 2-hex-digit
    * token ("ab" → "61 62 _"). Hex keeps every token in the same
    * ASCII token-string algebra the merge machinery already speaks
    * (pair order, replace, concat-on-merge all carry over verbatim),
    * and byte seeding makes encode total BY CONSTRUCTION: every
    * character of any input has UTF-8 bytes, so there is no OOV
    * contract to document — multi-byte characters simply seed as
    * several byte tokens. lower() pins one case across engines. */
  private[graft] def byteSeqOf(word: Column): Column =
    concat(regexp_replace(lower(hex(
      org.apache.spark.sql.functions.encode(word, "UTF-8"))),
      "(..)", "$1 "), lit("_"))

  /** One corpus pass: (word, wcount). Every tokenizer family's train
    * and encode starts from exactly this aggregate (the families
    * differ only in seeding, a projection of `word`), so a caller
    * composing SEVERAL families over one corpus — q167's fertility
    * comparison — computes it once (a [[GraftCheckpoint.barrier]])
    * and feeds the `FromCounts` entry points instead of paying one
    * corpus scan + shuffle per family (guide §2.4: shared exchange). */
  private[graft] def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))

  /** Per-document word multiplicities: (idCol, word, __c) — the
    * shared DOC side of encoding several families over one corpus
    * (each family's encode re-joined the raw exploded corpus; the
    * multiplicity-compacted form is the same aggregate rows-wise:
    * count(*) over instances ≡ sum(__c) over (doc, word) groups). */
  private[graft] def docWordCounts(df: DataFrame, idCol: String,
                                   textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__c"))

  /** Seed a precomputed (word, wcount) frame: (word, seq, wcount). */
  private[operators] def seqsOfCounts(wc: DataFrame,
                                      seedOf: Column => Column): DataFrame =
    wc.select(col("word"), seedOf(col("word")).as("seq"), col("wcount"))

  /** One word per row: (word, seq, wcount) under the given seeding. */
  private def wordSeqsWith(df: DataFrame, textCol: String,
                           seedOf: Column => Column): DataFrame =
    seqsOfCounts(wordCounts(df, textCol), seedOf)

  /** One word per row: (word, seq = "c h a r s _", wcount). */
  private[graft] def wordSeqs(df: DataFrame, textCol: String): DataFrame =
    wordSeqsWith(df, textCol, charSeqOf)

  /** Adjacent token pairs of `seq`, weighted by word count. */
  private[operators] def pairCounts(words: DataFrame): DataFrame =
    words.select(col("wcount"), split(col("seq"), " ").as("ws"))
      .select(col("wcount"), explode(expr(
        """transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |  (w, j) -> concat(w, ' ', element_at(ws, j + 2)))""".stripMargin))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wcount")).as("cnt"))

  /** Left-to-right non-overlapping merge of `pair` → `merged` applied
    * to the padded token string; padding keeps the single-space
    * invariant so applications chain without re-trimming between
    * steps.
    *
    * SPEC NOTE (deliberate deviation from reference BPE): a single
    * `replace` pass consumes the separator space, so back-to-back
    * occurrences of the pair are skipped — `a a a a` becomes
    * `aa a a`, where reference BPE's per-occurrence merge yields
    * `aa aa`. Both engines implement the identical left-to-right
    * replace, so the trained merge table and token counts are
    * bit-identical across Spark and the DuckDB oracle — this is a
    * deterministic "BPE-ish" tokenizer spec, NOT a drop-in
    * reproduction of reference BPE on words with character runs
    * (`aaaa`). A run-exact variant would need a fixpoint replace loop
    * on both engines; the divergence only affects repeated-token runs
    * and is accepted for the single-pass cost model. */
  private[operators] def applyMerge(seq: Column, pair: Column, merged: Column): Column =
    trim(call_function("replace",
      concat(lit(" "), seq, lit(" ")),
      concat(lit(" "), pair, lit(" ")),
      concat(lit(" "), merged, lit(" "))))

  /** Learn `merges` BPE merges. Returns (merge_rank, pair, merged,
    * cnt), one row per learned merge in rank order; ranks past the
    * point where no pair reaches `minPairCount` simply don't appear
    * (the oracle's empty CTE rows vanish from its UNION identically).
    */
  def train(df: DataFrame, textCol: String, merges: Int,
            minPairCount: Long = 2L): DataFrame =
    trainLoop(wordSeqs(df, textCol), merges, minPairCount)

  /** [[train]] under byte-level seeding: merges learned over UTF-8
    * byte tokens ([[byteSeqOf]]); pairs/merged are hex strings. */
  def trainBytes(df: DataFrame, textCol: String, merges: Int,
                 minPairCount: Long = 2L): DataFrame =
    trainLoop(wordSeqsWith(df, textCol, byteSeqOf), merges, minPairCount)

  /** [[train]] from a precomputed [[wordCounts]] frame (multi-family
    * callers share the one corpus aggregate). */
  private[graft] def trainFromCounts(wc: DataFrame, merges: Int,
                                     minPairCount: Long): DataFrame =
    trainLoop(seqsOfCounts(wc, charSeqOf), merges, minPairCount)

  /** [[trainBytes]] from a precomputed [[wordCounts]] frame. */
  private[graft] def trainBytesFromCounts(wc: DataFrame, merges: Int,
                                          minPairCount: Long): DataFrame =
    trainLoop(seqsOfCounts(wc, byteSeqOf), merges, minPairCount)

  /** Re-materialize the lazily-chained rewrite every this many rounds:
    * keeps the per-round plan depth bounded in the merge count without
    * paying a vocab-sized materialization EVERY round. */
  private[operators] val TrainRechainEvery = 6

  private def trainLoop(words0: DataFrame, merges: Int,
                        minPairCount: Long): DataFrame = {
    require(merges >= 1, "at least one merge")
    val spark = words0.sparkSession
    var words = barrier(words0)
    // The chosen pair is MODEL-sized (1 row) — fetch it and fold the
    // rewrite in as literal expressions: the next round's aggregate
    // applies the pending replaces on the fly over the checkpointed
    // vocabulary instead of re-materializing the vocabulary per round
    // (round-17 guide-§2.4 rework; the replace-with-literals rewrite
    // is the broadcast-crossJoin rewrite with the join folded out, so
    // picks and counts are bit-identical). Once no pair reaches
    // minPairCount the vocabulary is a fixpoint — later rounds could
    // never pick again — so the loop stops early; both engines' rank
    // rows past that point vanish identically (the oracle's empty
    // b_i CTEs leave w_i = w_{i-1}).
    val picked = Seq.newBuilder[(Int, String, String, Long)]
    var chained = 0
    var i = 1
    var exhausted = false
    while (i <= merges && !exhausted) {
      val best = pairCounts(words)
        .filter(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(col("pair"),
          call_function("replace", col("pair"), lit(" "), lit("")).as("merged"),
          col("cnt"))
        .collect() // <= 1 row; the merge table is a driver-held MODEL anyway
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        val (p, m) = (r.getString(0), r.getString(1))
        picked += ((i, p, m, r.getLong(2)))
        words = words.select(col("word"),
          applyMerge(col("seq"), lit(p), lit(m)).as("seq"), col("wcount"))
        chained += 1
        if (chained >= TrainRechainEvery && i < merges) {
          words = barrier(words) // bound the replace-chain depth
          chained = 0
        }
      }
      i += 1
    }
    import spark.implicits._
    picked.result().toDF("merge_rank", "pair", "merged", "cnt")
  }


  /** Cross-session form of [[train]]: load the published merge table
    * for `(corpusKey, version)` if it exists, else train and publish.
    * The merge table is the MODEL — ≤ `merges` rows — so an encode
    * session loads a one-file artifact and never touches the training
    * corpus ([[graft.operators.Similarity.cellsPublished]] lifecycle). */
  def trainPublished(df: DataFrame, root: String, corpusKey: String,
                     version: String, textCol: String, merges: Int,
                     minPairCount: Long = 2L): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "bpe_merges", corpusKey, version))
      ArtifactStore.load(spark, root, "bpe_merges", corpusKey, version)
    else {
      val m = train(df, textCol, merges, minPairCount)
      ArtifactStore.save(m, root, "bpe_merges", corpusKey, version)
      ArtifactStore.load(spark, root, "bpe_merges", corpusKey, version)
    }
  }

  /** [[trainPublished]] for the byte-level family (artifact kind
    * `bpe_byte_merges`): the merge table is the model, the encode
    * session loads it and never touches the training corpus. */
  def trainBytesPublished(df: DataFrame, root: String, corpusKey: String,
                          version: String, textCol: String, merges: Int,
                          minPairCount: Long = 2L): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "bpe_byte_merges", corpusKey, version))
      ArtifactStore.load(spark, root, "bpe_byte_merges", corpusKey, version)
    else {
      val m = trainBytes(df, textCol, merges, minPairCount)
      ArtifactStore.save(m, root, "bpe_byte_merges", corpusKey, version)
      ArtifactStore.load(spark, root, "bpe_byte_merges", corpusKey, version)
    }
  }

  /** Tokenize with a trained merge table: per-document BPE token
    * counts. The merge table is a MODEL artifact (≤ `merges` rows) —
    * it is collected once and folded into a single codegen'd chain of
    * `replace` calls over the vocabulary (padding is maintained across
    * the chain, so one fold equals the per-iteration pad/trim), then
    * the word→token-count map joins back to the corpus (vocab-sized
    * build side — AQE broadcasts it). Returns (idCol, n_words,
    * n_tokens).
    *
    * OOV CONTRACT (spec-pinned; the published-merge-table
    * cross-session case): characters absent from the training
    * alphabet pass through as single-character tokens — no merge rule
    * references them, so no replace ever touches them. Encode is
    * TOTAL on any corpus; each unknown character costs one token
    * (the [[UnigramLm.encode]] UNK analog). */
  def encode(df: DataFrame, idCol: String, textCol: String,
             mergeTable: DataFrame): DataFrame =
    encodeLoop(df, idCol, textCol, mergeTable, charSeqOf)

  /** [[encode]] under byte-level seeding — total on ANY corpus with
    * no OOV contract at all: unseen characters decompose into their
    * UTF-8 byte tokens (1–4 tokens per character, merge rules
    * permitting), never an UNK. */
  def encodeBytes(df: DataFrame, idCol: String, textCol: String,
                  mergeTable: DataFrame): DataFrame =
    encodeLoop(df, idCol, textCol, mergeTable, byteSeqOf)

  private def encodeLoop(df: DataFrame, idCol: String, textCol: String,
                         mergeTable: DataFrame,
                         seedOf: Column => Column): DataFrame = {
    val perWord = encodePerWord(wordCounts(df, textCol), mergeTable, seedOf)
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__ntok")).as("n_tokens"))
  }

  /** (word, __ntok) under the collected merge table: the replace
    * chain folded over the seed as literal expressions. */
  private def encodePerWord(wc: DataFrame, mergeTable: DataFrame,
                            seedOf: Column => Column): DataFrame = {
    val ms = mergeTable.orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged")))
    val padded = ms.foldLeft(
      concat(lit(" "), seedOf(col("word")), lit(" ")): Column) {
      case (s, (p, m)) =>
        call_function("replace", s,
          lit(" " + p + " "), lit(" " + m + " "))
    }
    wc.select(col("word"), size(split(trim(padded), " ")).as("__ntok"))
  }

  /** Shared-frame encode: per-doc token counts from a precomputed
    * [[docWordCounts]] frame and its word totals — multi-family
    * callers (q167) pay the corpus explode once for all families.
    * Row-identical to [[encode]]: count(*) over word instances ≡
    * sum(__c) over (doc, word) multiplicities, and
    * sum(__ntok) over instances ≡ sum(__ntok × __c). */
  private[graft] def encodeFromShared(docWords: DataFrame, idCol: String,
                                      wc: DataFrame, mergeTable: DataFrame,
                                      bytes: Boolean = false): DataFrame = {
    val perWord = encodePerWord(wc, mergeTable,
      if (bytes) byteSeqOf else charSeqOf)
    encodeSharedAgg(docWords, idCol, perWord)
  }

  /** The shared final aggregate: join per-word token counts back to
    * the (doc, word, __c) multiplicities. */
  private[graft] def encodeSharedAgg(docWords: DataFrame, idCol: String,
                                     perWord: DataFrame): DataFrame =
    docWords.join(perWord, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_words"),
        sum(col("__ntok") * col("__c")).as("n_tokens"))

  // ---------------------------------------------------------------
  // DuckDB oracle twins. MATERIALIZED CTEs are load-bearing: the merge
  // chain references each stage 2-3 times and plain CTE inlining
  // re-evaluates the whole prefix exponentially.
  // ---------------------------------------------------------------

  /** Character seeding, DuckDB form. */
  private val charSeedSql = "regexp_replace(word, '(.)', '\\1 ', 'g') || '_'"

  /** Byte seeding, DuckDB form — encode() is DuckDB's VARCHAR→BLOB
    * (UTF-8), hex() its uppercase hex; lower() matches the engine. */
  private val byteSeedSql =
    "regexp_replace(lower(hex(encode(word))), '(..)', '\\1 ', 'g') || '_'"

  private def chainCtes(table: String, textExpr: String, merges: Int,
                        minPairCount: Long,
                        seedSql: String = charSeedSql): String = {
    val head =
      s"""wc AS MATERIALIZED (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word),
         |w_0 AS MATERIALIZED (SELECT word,
         |    $seedSql AS seq, wcount
         |  FROM wc)""".stripMargin
    val rounds = (1 to merges).map { i =>
      s"""p_$i AS MATERIALIZED (SELECT ws[i] || ' ' || ws[i + 1] AS pair,
         |    CAST(sum(wcount) AS BIGINT) AS cnt
         |  FROM (SELECT ws, wcount, unnest(generate_series(1, len(ws) - 1)) AS i
         |        FROM (SELECT string_split(seq, ' ') AS ws, wcount FROM w_${i - 1})
         |        WHERE len(ws) >= 2)
         |  GROUP BY pair HAVING sum(wcount) >= $minPairCount),
         |b_$i AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged, cnt
         |  FROM p_$i ORDER BY cnt DESC, pair LIMIT 1),
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
      s"SELECT CAST($i AS INTEGER) AS merge_rank, pair, merged, cnt FROM b_$i"
    }.mkString("\nUNION ALL ")
    s"WITH ${chainCtes(table, textExpr, merges, minPairCount)}\n$union"
  }

  /** Oracle twin of [[trainBytes]]. */
  def trainBytesSql(table: String, textExpr: String, merges: Int,
                    minPairCount: Long): String = {
    val union = (1 to merges).map { i =>
      s"SELECT CAST($i AS INTEGER) AS merge_rank, pair, merged, cnt FROM b_$i"
    }.mkString("\nUNION ALL ")
    s"WITH ${chainCtes(table, textExpr, merges, minPairCount, byteSeedSql)}\n$union"
  }

  /** Oracle twin of [[trainBytes]] + [[encodeBytes]] composed, with
    * an optionally distinct encode corpus (the published-artifact
    * lifecycle; under byte seeding "OOV" words simply seed as bytes). */
  def encodeBytesSql(table: String, idExpr: String, textExpr: String,
                     merges: Int, minPairCount: Long,
                     encodeTable: String): String = {
    val ehead =
      s"""ewc AS MATERIALIZED (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word
         |        FROM $encodeTable)
         |  WHERE word <> '' GROUP BY word),
         |ew_0 AS MATERIALIZED (SELECT word,
         |    $byteSeedSql AS seq
         |  FROM ewc)""".stripMargin
    val erounds = (1 to merges).map { i =>
      s"""ew_$i AS MATERIALIZED (SELECT word,
         |    CASE WHEN b.pair IS NULL THEN seq
         |         ELSE trim(replace(' ' || seq || ' ',
         |           ' ' || b.pair || ' ', ' ' || b.merged || ' ')) END AS seq
         |  FROM ew_${i - 1} LEFT JOIN b_$i b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${chainCtes(table, textExpr, merges, minPairCount, byteSeedSql)},
       |$ehead,
       |$erounds,
       |v AS MATERIALIZED (SELECT word,
       |    CAST(len(string_split(seq, ' ')) AS INTEGER) AS ntok
       |  FROM ew_$merges),
       |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
       |       FROM $encodeTable)
       |SELECT id AS doc_id, count(*) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM dw JOIN v USING (word) WHERE word <> ''
       |GROUP BY id""".stripMargin
  }

  /** Oracle twin of [[train]] + [[encode]] composed. `encodeTable`
    * (a table name or parenthesized subquery exposing
    * `$idExpr`/`$textExpr`) lets the encode corpus differ from the
    * train corpus — the published-merge-table lifecycle and the only
    * way OOV characters occur: the learned merges b_1..b_n are then
    * re-applied to the ENCODE corpus's words (ew chain), where
    * unknown characters simply never match a pair — the engine's
    * pass-through contract replayed. */
  def encodeSql(table: String, idExpr: String, textExpr: String,
                merges: Int, minPairCount: Long,
                encodeTable: String = ""): String =
    if (encodeTable.isEmpty)
      s"""WITH ${chainCtes(table, textExpr, merges, minPairCount)},
         |v AS MATERIALIZED (SELECT word,
         |    CAST(len(string_split(seq, ' ')) AS INTEGER) AS ntok FROM w_$merges),
         |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
         |       FROM $table)
         |SELECT id AS doc_id, count(*) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM dw JOIN v USING (word) WHERE word <> ''
         |GROUP BY id""".stripMargin
    else {
      val ehead =
        s"""ewc AS MATERIALIZED (SELECT word, count(*) AS wcount
           |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word
           |        FROM $encodeTable)
           |  WHERE word <> '' GROUP BY word),
           |ew_0 AS MATERIALIZED (SELECT word,
           |    regexp_replace(word, '(.)', '\\1 ', 'g') || '_' AS seq
           |  FROM ewc)""".stripMargin
      val erounds = (1 to merges).map { i =>
        s"""ew_$i AS MATERIALIZED (SELECT word,
           |    CASE WHEN b.pair IS NULL THEN seq
           |         ELSE trim(replace(' ' || seq || ' ',
           |           ' ' || b.pair || ' ', ' ' || b.merged || ' ')) END AS seq
           |  FROM ew_${i - 1} LEFT JOIN b_$i b ON TRUE)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${chainCtes(table, textExpr, merges, minPairCount)},
         |$ehead,
         |$erounds,
         |v AS MATERIALIZED (SELECT word,
         |    CAST(len(string_split(seq, ' ')) AS INTEGER) AS ntok
         |  FROM ew_$merges),
         |dw AS (SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
         |       FROM $encodeTable)
         |SELECT id AS doc_id, count(*) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM dw JOIN v USING (word) WHERE word <> ''
         |GROUP BY id""".stripMargin
    }
}
