package graft.tools

import org.apache.spark.sql.functions._

/** Scale-up generator for the `documents` table: builds an N-times
  * corpus from an existing scale factor by stacking N
  * structure-preserving copies.
  *
  * Why copies and not fresh synthesis: the driver's generator
  * (TESTDATA.md, seed=42) is not available in this repo, and the
  * scaling measurement needs the LARGER corpus to have the SAME
  * duplicate-cluster shape as the base one — same cluster size
  * distribution, same diameter — so that super-linear growth in
  * wall-time can only come from the engine, never from the data
  * getting structurally harder. Copying preserves the shape exactly:
  *
  *  - `doc_id` is shifted by `copy * 1e6` (far above any real id), so
  *    ids stay unique and per-copy id order matches the base corpus.
  *  - every WORD of copies 1..N-1 gets a per-copy suffix (`_c3`), so
  *    the word/shingle sets of different copies are DISJOINT — MinHash
  *    Jaccard across copies is 0 and LSH can never band two copies
  *    into one bucket. Each copy reproduces the base corpus's dup
  *    clusters privately; a 10x corpus has exactly 10x the clusters
  *    at the same size/diameter. (Merely salting the whole doc with
  *    one token would leave cross-copy Jaccard ≈ |S|/(|S|+1) and
  *    near-MERGE all copies of a doc into one giant cluster — the
  *    opposite of structure-preserving.)
  *  - `lang`/`source` carry over; `n_chars` is recomputed from the
  *    rewritten text.
  *
  * The optional 4th arg picks the tables ("documents", "events", or a
  * comma list; default documents). The `events` scale-up follows the
  * same structure-preserving rule for STREAMING state: copy c shifts
  * `event_id` and `user_id` by a stride that clears the base ranges,
  * and keeps `ts` UNTOUCHED — so the event-time axis (window count,
  * watermark frontier, session gap structure) is identical at every
  * scale and only the KEY cardinality grows N×. Super-linear growth in
  * a streaming drain can then only come from state-store behavior,
  * never from the data getting temporally harder.
  *
  * Usage: runMain graft.tools.DataGen <srcSfDir> <outDir> <copies> [tables]
  */
object DataGen {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val copies = args(2).toInt
    require(copies >= 1, "copies must be >= 1")
    val tables: Seq[String] =
      (if (args.length > 3) args(3) else "documents").split(",").toSeq
    val spark = graft.core.GraftSession.build("graft-datagen",
      graft.core.GraftSession.envCores)
    if (tables.contains("documents")) scaleDocuments(spark, src, out, copies)
    if (tables.contains("events")) scaleEvents(spark, src, out, copies)
    if (tables.contains("part")) scalePart(spark, src, out, copies)
    if (tables.contains("lineitem")) scaleLineitem(spark, src, out, copies)
    if (tables.contains("embeddings")) scaleEmbeddings(spark, src, out, copies)
    spark.stop()
  }

  /** `part` scale-up for the fuzzy-join sweep (q111): copy c shifts
    * `p_partkey` by a range-clearing stride and suffixes `p_name` with
    * `_c<c>`, so deletion neighborhoods of different copies stay
    * DISJOINT — each copy reproduces the base corpus's match structure
    * privately and candidate volume can only grow linearly unless the
    * ENGINE goes super-linear. */
  private def scalePart(spark: org.apache.spark.sql.SparkSession,
                        src: String, out: String, copies: Int): Unit = {
    val base = graft.core.Tables.load(spark, src, "part")
    val maxId = base.agg(max(col("p_partkey"))).first().getLong(0)
    val stride = math.max(1000000L, maxId + 1)
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else base.select(
        (col("p_partkey") + lit(c * stride)).as("p_partkey"),
        concat(col("p_name"), lit(s"_c$c")).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }.reduce(_ union _)
    all.repartition(math.max(32, copies))
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "part.parquet").getAbsolutePath)
    val n = spark.read.parquet(
      new java.io.File(out, "part.parquet").getAbsolutePath).count()
    println(s"DATAGEN wrote $n parts ($copies copies) to $out")
  }

  /** `lineitem` scale-up for the link-graph sweep (q115): copy c shifts
    * `l_suppkey` and `l_partkey` by range-clearing strides, producing N
    * DISJOINT copies of the base bipartite graph — same degree
    * distribution, same component structure, N× the nodes/edges, so
    * per-copy PageRank vectors are identical to the base and wall-time
    * growth is purely the engine's. Strides stay below the
    * q115 part-node offset (1e7) so part and supplier node-id ranges
    * cannot collide at any generated scale up to 10 copies. */
  private def scaleLineitem(spark: org.apache.spark.sql.SparkSession,
                            src: String, out: String, copies: Int): Unit = {
    val base = graft.core.Tables.load(spark, src, "lineitem")
    val stats = base.agg(max(col("l_suppkey")), max(col("l_partkey")),
      max(col("l_orderkey"))).first()
    val sStride = math.max(100000L, stats.getLong(0) + 1)
    val pStride = math.max(100000L, stats.getLong(1) + 1)
    val oStride = math.max(10000000L, stats.getLong(2) + 1)
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else base.select(
        (col("l_orderkey") + lit(c * oStride)).as("l_orderkey"),
        (col("l_partkey") + lit(c * pStride)).as("l_partkey"),
        (col("l_suppkey") + lit(c * sStride)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ union _)
    all.repartition(math.max(32, copies * 2))
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "lineitem.parquet").getAbsolutePath)
    val n = spark.read.parquet(
      new java.io.File(out, "lineitem.parquet").getAbsolutePath).count()
    println(s"DATAGEN wrote $n lineitems ($copies copies) to $out")
  }

  /** `embeddings` scale-up for the ANN/SemDeDup sweep (q37/q38/q114):
    * copy c shifts `vec_id` by a range-clearing stride and CIRCULARLY
    * ROTATES every embedding by c positions. Rotation is a coordinate
    * permutation, so all within-copy inner products — and therefore
    * every within-copy cosine, duplicate pair, and cluster — are
    * preserved EXACTLY, while cross-copy cosines are decorrelated
    * (rotated axes), keeping the N copies' duplicate structure private
    * the same way the document scaler keeps shingle sets disjoint. */
  private def scaleEmbeddings(spark: org.apache.spark.sql.SparkSession,
                              src: String, out: String, copies: Int): Unit = {
    val base = graft.core.Tables.load(spark, src, "embeddings")
    val maxId = base.agg(max(col("vec_id"))).first().getLong(0)
    val stride = math.max(1000000L, maxId + 1)
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else {
        val e = col("embedding"); val n = size(e)
        val k = lit(c) % n // rotation < dim for any copy count
        base.select(
          (col("vec_id") + lit(c * stride)).as("vec_id"),
          concat(slice(e, k + 1, n - k), slice(e, lit(1), k))
            .as("embedding"),
          col("label"))
      }
    }.reduce(_ union _)
    all.repartition(math.max(32, copies))
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "embeddings.parquet").getAbsolutePath)
    val n = spark.read.parquet(
      new java.io.File(out, "embeddings.parquet").getAbsolutePath).count()
    println(s"DATAGEN wrote $n embeddings ($copies copies) to $out")
  }

  private def scaleEvents(spark: org.apache.spark.sql.SparkSession,
                          src: String, out: String, copies: Int): Unit = {
    val base = graft.core.Tables.load(spark, src, "events")
    val stats = base.agg(count(lit(1)), max(col("event_id")), max(col("user_id"))).first()
    val baseCount = stats.getLong(0)
    val idStride = math.max(1000000L, stats.getLong(1) + 1)
    val userStride = math.max(1000000L, stats.getLong(2) + 1)
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else base.select(
        (col("event_id") + lit(c * idStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
    val nFiles = math.max(32, (copies * baseCount / 200000L).toInt + 1)
    all.repartition(nFiles)
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "events.parquet").getAbsolutePath)
    val n = spark.read.parquet(
      new java.io.File(out, "events.parquet").getAbsolutePath).count()
    // the broadcast dimension stays base-sized on purpose: at 100 TB
    // the fact stream grows, the dimension doesn't — stream-static
    // enrichment must be measured against a FIXED dim
    graft.core.Tables.load(spark, src, "customer")
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "customer.parquet").getAbsolutePath)
    println(s"DATAGEN wrote $n events ($copies copies) to $out")
  }

  private def scaleDocuments(spark: org.apache.spark.sql.SparkSession,
                             src: String, out: String, copies: Int): Unit = {
    val base = graft.core.Tables.load(spark, src, "documents")
    val baseStats = base.agg(count(lit(1)), max(col("doc_id"))).first()
    val baseCount = baseStats.getLong(0)
    val maxId = baseStats.getLong(1)
    // stride must clear every base id or copies would collide and
    // silently break the structure-preservation guarantee
    val stride = math.max(1000000L, maxId + 1)
    val all = (0 until copies).map { c =>
      if (c == 0) base
      else base.select(
        (col("doc_id") + lit(c * stride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_c$c"))), " ").as("text"),
        col("lang"), col("source"),
        lit(0L).as("n_chars") // placeholder, recomputed below
      ).withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ union _)
    // one output file per ~50k docs (from the OBSERVED base count, not
    // an assumed one) keeps scan parallelism reasonable at every
    // generated size without thousands of tiny files. FLOOR = 32, the
    // local core count: round 11 measured the old floor of 4 making
    // the 10x composed-crawl sweep SLOWER than the 100x one (546s vs
    // 476s) — every scan-bound stage ran 4-wide on a 32-core box.
    // Input partition count is a first-class throughput knob
    // (SCALE.md round 11, the read-side partition law).
    val nFiles = math.max(32, (copies * baseCount / 50000L).toInt + 1)
    all.repartition(nFiles)
      .write.mode("overwrite")
      .parquet(new java.io.File(out, "documents.parquet").getAbsolutePath)
    val n = spark.read.parquet(
      new java.io.File(out, "documents.parquet").getAbsolutePath).count()
    println(s"DATAGEN wrote $n docs ($copies copies) to $out")
  }
}
