package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier
import graft.functions.PortableHash

/** Trained document-quality classification — the fastText-style linear
  * scorer every LLM data pipeline runs as its quality gate (GPT-3's
  * WebText-vs-Common-Crawl filter, CCNet, RedPajama-v2's quality
  * signals all take this shape): logistic regression over hashed
  * n-gram features, trained full-batch INSIDE the engine and applied
  * to the same (or a larger) corpus.
  *
  * Training is parameter-broadcast gradient descent, the textbook
  * distributed shape for a model that fits on every executor:
  *
  *  - the feature matrix is a sparse (doc, bucket, x) table — hashed
  *    bigram COUNTS (raw, not length-normalized: a handful of
  *    full-batch steps needs un-shrunk gradients, and frequency
  *    features ~1/len were measured to leave the model at the base
  *    rate after any practical iteration count) plus a constant bias
  *    feature — built once and materialized; it is the only
  *    corpus-sized artifact, and every pass over it is a keyed
  *    aggregate, never a pairwise stage;
  *  - the weight vector is `buckets`+1 rows no matter the corpus
  *    size; each iteration broadcasts it to compute margins (one
  *    per-doc aggregate), then aggregates the gradient back by bucket
  *    (one per-bucket aggregate) — two linear shuffles per iteration,
  *    zero driver-side data movement;
  *  - weights are rounded to 9 decimals per iteration, the same
  *    compounding-noise firewall as [[Graph.pageRank]]'s per-round
  *    rounding: engine-specific float-sum association inside the two
  *    aggregates stays at last-ulp size instead of amplifying across
  *    iterations, which is what makes the unrolled-CTE DuckDB oracle
  *    ([[logisticQualitySql]]) bit-stable.
  *
  * Determinism: w_0 = 0, fixed iteration count, fixed learning rate —
  * no RNG anywhere. Documents with fewer than 2 words have no
  * features and are dropped (as in [[TextAnalysis.ngramLmScore]]).
  *
  * Returns (idCol, n_grams, score) with `score` = the trained model's
  * P(label) rounded to 6 decimals.
  */
object Classifier {

  /** Shared featurizer: the sparse (doc, bucket, x) hashed-bigram
    * matrix + bias feature (bucket id = `buckets`, constant 1.0),
    * checkpointed (the ONE corpus-sized artifact — every later pass
    * is a keyed aggregate over it, never a re-tokenize), and the
    * per-doc (id, y, n) frame. */
  /** Package-visible for the train+score roundtrip (q170): the feature
    * matrix is label-INDEPENDENT (`__y` lives only in `perDoc`, and the
    * scorer never reads it), so one featurize pass serves both the
    * training loop and the post-roundtrip scoring of the same corpus —
    * the [[Bpe.trainFromCounts]] shared-exchange discipline. */
  private[graft] def featurize(df: DataFrame, idCol: String, textCol: String,
                        label: Column, buckets: Int)
      : (DataFrame, DataFrame) = {
    val grams = df.select(col(idCol).as("__id"),
        when(label, 1.0).otherwise(0.0).as("__y"),
        split(col(textCol), " ").as("ws"))
      .select(col("__id"), col("__y"), explode(expr(
        """transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |  (w, i) -> concat(w, ' ', element_at(ws, i + 2)))""".stripMargin))
        .as("bg"))
    // ONE corpus explode (round 18, guide §2.4): the former shape ran
    // the bigram explode twice — once into the per-doc count, once
    // into the bucketed matrix. The matrix is materialized first
    // (carrying __y, constant per doc, through its grouping key) and
    // the per-doc frame DERIVES from it: count-over-instances ≡
    // sum-over-bucket-multiplicities, the Bpe.docWordCounts identity.
    val bucketed = GraftCheckpoint.partitionedBarrier(
      grams
        .withColumn("__b",
          pmod(PortableHash.hash60(col("bg")), lit(buckets)).cast("int"))
        .groupBy(col("__id"), col("__y"), col("__b"))
        .agg(count(lit(1)).as("__cnt")),
      Seq("__id"))
    val perDoc = GraftCheckpoint.partitionedBarrier(
      bucketed.groupBy(col("__id"), col("__y"))
        .agg(sum(col("__cnt")).as("__n")),
      Seq("__id"))
    // The statics are checkpointed PRE-PARTITIONED on __id (the
    // [[Graph.pageRank]] statics discipline, via the AQE-scoped
    // [[GraftCheckpoint.partitionedBarrier]] — a plain barrier
    // records UnknownPartitioning under AQE): every per-iteration pass
    // over the corpus-sized feature matrix is keyed by __id — the
    // margin aggregate, the error join, the gradient's probe side —
    // so hash-partitioning it once here removes the per-iteration
    // __id exchanges; only the bucket-keyed gradient aggregate still
    // shuffles, and that one carries `buckets` rows per map task
    // after partial aggregation, not the corpus (round-17 plan diff:
    // the margin aggregate's Exchange is gone from the scoring plan).
    // The union loses any recorded layout, so feats re-pins; its
    // input is the already-materialized matrix, never the corpus.
    val feats = GraftCheckpoint.partitionedBarrier(
      bucketed
        .select(col("__id"), col("__b"), col("__cnt").cast("double").as("__x"))
        .union(perDoc.select(col("__id"), lit(buckets).as("__b"),
          lit(1.0).as("__x"))),
      Seq("__id"))
    (feats, perDoc)
  }

  private def marginsOf(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w), Seq("__b"))
      .groupBy(col("__id")).agg(sum(col("__x") * col("__w")).as("__m"))

  /** The GD loop over a featurized corpus; returns the final weight
    * vector (`buckets`+1 rows incl. the bias). */
  private def gdLoop(feats: DataFrame, perDoc: DataFrame, buckets: Int,
                     iters: Int, learnRate: Double): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val spark = feats.sparkSession
    val labels = perDoc.select(col("__id"), col("__y"))
    // 1-row doc count rides a broadcast, never a driver fetch
    val nDocs = broadcast(labels.agg(count(lit(1)).as("__nd")))
    var w: DataFrame = spark.range(buckets + 1)
      .select(col("id").cast("int").as("__b"), lit(0.0).as("__w"))
    // shuffled-hash hints (round 18, guide §3.1 — the Graph loop
    // finding): the default SortMergeJoin re-SORTS the pinned feature
    // matrix every iteration; hinting the doc-sized side as the build
    // side streams the matrix sort-free on its recorded layout
    for (_ <- 1 to iters) {
      val err = marginsOf(feats, w).hint("shuffle_hash")
        .join(labels, Seq("__id"))
        .select(col("__id"),
          (lit(1.0) / (lit(1.0) + exp(-col("__m"))) - col("__y")).as("__e"))
      val grad = feats.join(err.hint("shuffle_hash"), Seq("__id"))
        .groupBy(col("__b")).agg(sum(col("__e") * col("__x")).as("__g"))
      // buckets+1 rows; truncates the lineage
      w = barrier(w.join(grad, Seq("__b"), "left").crossJoin(nDocs)
        .select(col("__b"),
          round(col("__w") - lit(learnRate) *
            coalesce(col("__g"), lit(0.0)) / col("__nd"), 9).as("__w")))
    }
    w
  }

  def logisticQuality(df: DataFrame, idCol: String, textCol: String,
                      label: Column, buckets: Int = 64, iters: Int = 3,
                      learnRate: Double = 0.5): DataFrame = {
    val (feats, perDoc) = featurize(df, idCol, textCol, label, buckets)
    val w = gdLoop(feats, perDoc, buckets, iters, learnRate)
    marginsOf(feats, w).hint("shuffle_hash").join(perDoc, Seq("__id"))
      .select(col("__id").as(idCol), col("__n").as("n_grams"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6).as("score"))
  }

  /** Train and return the MODEL: (bucket, weight), `buckets`+1 rows
    * (bias at bucket id = `buckets`) — the artifact a production
    * pipeline publishes once and scores every later crawl with
    * ([[graft.sources.ArtifactStore]]; kind `clf_weights` via
    * [[trainPublished]]). */
  def trainWeights(df: DataFrame, idCol: String, textCol: String,
                   label: Column, buckets: Int = 64, iters: Int = 3,
                   learnRate: Double = 0.5): DataFrame = {
    val (feats, perDoc) = featurize(df, idCol, textCol, label, buckets)
    trainWeightsFeats(feats, perDoc, buckets, iters, learnRate)
  }

  /** [[trainWeights]] from a pre-built [[featurize]] frame — the
    * shared-featurize entry for pipelines that also score the same
    * corpus (one explode + two corpus aggregates instead of two). */
  private[graft] def trainWeightsFeats(feats: DataFrame, perDoc: DataFrame,
                                       buckets: Int, iters: Int,
                                       learnRate: Double): DataFrame =
    gdLoop(feats, perDoc, buckets, iters, learnRate)
      .select(col("__b").as("bucket"), col("__w").as("weight"))

  /** Cross-session form of [[trainWeights]] ([[Bpe.trainPublished]]'s
    * lifecycle, kind `clf_weights`). */
  def trainPublished(df: DataFrame, root: String, corpusKey: String,
                     version: String, idCol: String, textCol: String,
                     label: Column, buckets: Int = 64, iters: Int = 3,
                     learnRate: Double = 0.5): DataFrame = {
    import graft.sources.ArtifactStore
    val spark = df.sparkSession
    if (ArtifactStore.exists(spark, root, "clf_weights", corpusKey, version))
      ArtifactStore.load(spark, root, "clf_weights", corpusKey, version)
    else {
      val w = trainWeights(df, idCol, textCol, label, buckets, iters, learnRate)
      ArtifactStore.save(w, root, "clf_weights", corpusKey, version)
      ArtifactStore.load(spark, root, "clf_weights", corpusKey, version)
    }
  }

  /** Score a corpus under a TRAINED weight vector (the inference-only
    * half: no labels needed) — featurize with the same hash/buckets
    * (`buckets` must match the training run; the bias row's id makes a
    * mismatch loud since margins would silently drop it otherwise),
    * one broadcast join + per-doc aggregate, sigmoid. Returns the
    * [[logisticQuality]] output shape (idCol, n_grams, score). */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, buckets: Int): DataFrame = {
    val (feats, perDoc) = featurize(df, idCol, textCol, lit(false), buckets)
    scoreWithFeats(feats, perDoc, idCol, weights)
  }

  /** [[scoreWith]] from a pre-built [[featurize]] frame (see
    * [[trainWeightsFeats]]). */
  private[graft] def scoreWithFeats(feats: DataFrame, perDoc: DataFrame,
                                    idCol: String,
                                    weights: DataFrame): DataFrame = {
    val w = weights.select(col("bucket").as("__b"), col("weight").as("__w"))
    marginsOf(feats, w).hint("shuffle_hash").join(perDoc, Seq("__id"))
      .select(col("__id").as(idCol), col("__n").as("n_grams"),
        round(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6).as("score"))
  }

  /** Oracle twin of [[logisticQuality]] (md5 hash backend only): the
    * same w_0 = 0, per-iteration 9-decimal rounding, and bias bucket,
    * unrolled as chained CTEs. */
  def logisticQualitySql(table: String, idExpr: String, textExpr: String,
                         labelExpr: String, buckets: Int, iters: Int,
                         learnRate: Double): String = {
    val rounds = (0 until iters).map { i =>
      s"""m_$i AS (SELECT id, sum(x * w) AS m
         |  FROM fx JOIN w_$i USING (b) GROUP BY id),
         |e_$i AS (SELECT id, (1.0 / (1.0 + exp(-m)) - y) AS err
         |  FROM m_$i JOIN lbl USING (id)),
         |g_$i AS (SELECT b, sum(err * x) AS g
         |  FROM fx JOIN e_$i USING (id) GROUP BY b),
         |w_${i + 1} AS (SELECT w_$i.b,
         |    round(w_$i.w - $learnRate * coalesce(g_$i.g, 0.0) / nn.n_docs, 9) AS w
         |  FROM w_$i LEFT JOIN g_$i ON w_$i.b = g_$i.b CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT $idExpr AS id,
       |    CASE WHEN $labelExpr THEN 1.0 ELSE 0.0 END AS y,
       |    string_split($textExpr, ' ') AS ws FROM $table),
       |bgs AS (SELECT id, y, ws[i] || ' ' || ws[i + 1] AS bg
       |  FROM (SELECT id, y, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |        FROM d WHERE len(ws) >= 2)),
       |ng AS (SELECT id, count(*) AS n FROM bgs GROUP BY id),
       |lbl AS (SELECT id, any_value(y) AS y FROM bgs GROUP BY id),
       |fx AS (
       |  SELECT id, b, CAST(cnt AS DOUBLE) AS x FROM (
       |    SELECT id, ${PortableHash.hash60Sql("bg")} % $buckets AS b,
       |      count(*) AS cnt FROM bgs GROUP BY id, b)
       |  UNION ALL SELECT id, $buckets AS b, 1.0 AS x FROM ng),
       |nn AS (SELECT count(*) AS n_docs FROM ng),
       |w_0 AS (SELECT CAST(unnest(generate_series(0, $buckets)) AS INTEGER) AS b,
       |    0.0 AS w),
       |$rounds,
       |m_F AS (SELECT id, sum(x * w) AS m
       |  FROM fx JOIN w_$iters USING (b) GROUP BY id)
       |SELECT m_F.id AS doc_id, ng.n AS n_grams,
       |  round(1.0 / (1.0 + exp(-m)), 6) AS score
       |FROM m_F JOIN ng ON m_F.id = ng.id""".stripMargin
  }
}
