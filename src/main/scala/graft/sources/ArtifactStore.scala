package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent store for TRAINED MODEL ARTIFACTS — the k-means coarse
  * quantizer ([[graft.operators.Similarity.cellsOf]]), PQ codebooks +
  * code tables ([[graft.operators.Similarity.pqOf]]), BPE merge
  * tables ([[graft.operators.Bpe.train]]), vocabularies
  * ([[graft.operators.TextAnalysis.buildVocab]]) — as versioned
  * partitioned parquet tables.
  *
  * The session-scoped memos (`Similarity.cellsMemo`/`pqMemo`, each a
  * [[graft.core.Memo]]) model "train once per corpus snapshot, probe
  * many times" WITHIN one application; at 100 TB you train once and
  * probe for months across sessions, so the artifact must outlive the
  * JVM. This store is that lifecycle rung:
  * one parquet table per artifact KIND, partitioned by
  * `(corpus_key, version)`, so
  *  - every load prunes to one partition pair (the plan shows
  *    `PartitionFilters`, zero data files of other snapshots touched);
  *  - re-publishing one snapshot is a DYNAMIC partition overwrite —
  *    other corpora/versions are untouched (the writer's
  *    `partitionOverwriteMode=dynamic` option, so it holds regardless
  *    of session conf, as the alert history table's static-partition
  *    overwrite does);
  *  - an artifact table is append-only in versions: publish `v2`,
  *    flip consumers, keep `v1` for rollback — the
  *    snapshot-versioning contract the memo's `corpusKey` CALLER
  *    CONTRACT documents, now durable.
  *
  * Scale shape: model-sized artifacts (codebooks, merges, vocab)
  * write as one file; corpus-sized ones (cell/code assignments — one
  * row per vector) take `numFiles` so the write parallelizes and the
  * read gets splittable parquet. Nothing here is driver-materialized.
  */
object ArtifactStore {

  /** The `corpus_key` partition value may be a path or URI; Spark's
    * partition writer escapes it, but a stable, readable key beats an
    * escaped path in the table layout. Callers may pass anything —
    * this normalizes to `[A-Za-z0-9._-]` with md5 disambiguation so
    * distinct raw keys can never collide after sanitization. */
  def normKey(raw: String): String = {
    val safe = raw.replaceAll("[^A-Za-z0-9._-]+", "_")
      .replaceAll("^_+|_+$", "").takeRight(48)
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    if (safe.isEmpty) dig else s"${safe}_$dig"
  }

  private def kindPath(root: String, kind: String): String = {
    require(kind.matches("[A-Za-z0-9_]+"), s"bad artifact kind: $kind")
    s"$root/$kind"
  }

  /** Versions are path-safe BY CONTRACT (enforced in [[save]]), so the
    * partition directory name needs no escaping and every metadata
    * question below is answerable from the directory tree alone. */
  private def requireVersion(version: String): Unit =
    require(version.matches("[A-Za-z0-9._-]+"), s"bad version: $version")

  private def corpusPath(root: String, kind: String,
                         corpusKey: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"${kindPath(root, kind)}/corpus_key=${normKey(corpusKey)}")

  private def partitionPath(root: String, kind: String, corpusKey: String,
                            version: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(corpusPath(root, kind, corpusKey),
      s"version=$version")

  /** A half-finished [[compact]] must be detectable, or a reader
    * between the snapshot save and the delta deletes would union BOTH
    * and double-count (harmless only for set-semantics kinds). The
    * marker `_compact_into_<v>` lives directly under the corpus
    * directory (a `_`-prefixed FILE — invisible to Spark's partition
    * discovery) and is ACTIVE once the `version=<v>` snapshot exists:
    * from that moment every version sorting before `<v>` is retired,
    * whether or not its directory has been deleted yet. Before the
    * snapshot lands the marker is inert, so the compactor's own union
    * read still sees the deltas it is merging. */
  private def compactFloor(spark: SparkSession, root: String, kind: String,
                           corpusKey: String): Option[String] = {
    val cp = corpusPath(root, kind, corpusKey)
    val fs = fsOf(spark, cp)
    if (!fs.exists(cp)) None
    else fs.listStatus(cp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_compact_into_"))
      .map(_.stripPrefix("_compact_into_"))
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(cp, s"version=$v")))
      .maxOption
  }

  /** Version directories as they sit on disk, floor-unaware — the
    * resume path needs to see retired leftovers to finish deleting
    * them. */
  private def rawVersions(spark: SparkSession, root: String, kind: String,
                          corpusKey: String): Seq[String] = {
    val k = normKey(corpusKey)
    listPairs(spark, root, kind).collect { case (ck, v) if ck == k => v }
      .sorted
  }

  private def fsOf(spark: SparkSession,
                   p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Driver-side partition listing: `(corpus_key, version)` pairs read
    * from the directory tree — zero Spark jobs, zero parquet footers.
    * The pair count is the store's snapshot count (months of
    * publishes ≪ thousands), so driver-side is the correct side. */
  private def listPairs(spark: SparkSession, root: String,
                        kind: String): Seq[(String, String)] = {
    val base = new org.apache.hadoop.fs.Path(kindPath(root, kind))
    val fs = fsOf(spark, base)
    if (!fs.exists(base)) Seq.empty
    else for {
      ck <- fs.listStatus(base).toSeq
      if ck.isDirectory && ck.getPath.getName.startsWith("corpus_key=")
      v <- fs.listStatus(ck.getPath).toSeq
      if v.isDirectory && v.getPath.getName.startsWith("version=")
    } yield (ck.getPath.getName.stripPrefix("corpus_key="),
      v.getPath.getName.stripPrefix("version="))
  }

  /** Publish `df` as artifact `(kind, corpusKey, version)` under the
    * store `root`. Dynamic partition overwrite: exactly the
    * `(corpus_key, version)` partitions present in `df` (here: one)
    * are replaced; every other snapshot in the table is untouched.
    * Idempotent — re-publishing the same snapshot replaces it.
    *
    * CONCURRENT-PUBLISHER SEMANTICS (documented, not guarded): two
    * sessions publishing the SAME `(corpus_key, version)` race as
    * last-writer-wins — dynamic overwrite swaps the partition
    * directory, so the store converges to one complete snapshot
    * (never a merge of both), but a reader that listed files mid-swap
    * can fail on a vanished file; the published-version protocol
    * (writers bump `version`, readers pin one) is the isolation
    * mechanism, and the train-or-load wrappers (`cellsPublished` et
    * al.) accept the benign double-train under a lost race. */
  def save(df: DataFrame, root: String, kind: String, corpusKey: String,
           version: String, numFiles: Int = 1): Unit = {
    require(numFiles >= 1)
    requireVersion(version)
    require(!df.columns.contains("corpus_key") && !df.columns.contains("version"),
      "artifact frame must not already carry the partition columns")
    df.repartition(numFiles)
      .withColumn("corpus_key", lit(normKey(corpusKey)))
      .withColumn("version", lit(version))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("corpus_key", "version")
      .parquet(kindPath(root, kind))
  }

  /** Load one artifact snapshot. Partition pruning does the work: the
    * scan's `PartitionFilters` pin `(corpus_key, version)`, so only
    * that snapshot's files are listed and read. Returns the artifact
    * in its as-trained schema (partition columns dropped). A missing
    * snapshot (never published, or pruned) fails LOUDLY here — the
    * base-path filter alone would return an empty frame, and a probe
    * session quietly scoring against zero centroids is the worst
    * failure mode a model store can have. */
  def load(spark: SparkSession, root: String, kind: String,
           corpusKey: String, version: String): DataFrame = {
    require(exists(spark, root, kind, corpusKey, version),
      s"artifact not found: kind=$kind corpus_key=${normKey(corpusKey)} " +
        s"version=$version under $root")
    spark.read.parquet(kindPath(root, kind))
      .filter(col("corpus_key") === normKey(corpusKey) &&
        col("version") === version)
      .drop("corpus_key", "version")
  }

  /** One corpus's LIVE published versions (sorted ascending) — the
    * same driver-side directory listing as [[versions]], filtered to
    * the corpus, with versions retired by an (possibly half-finished)
    * [[compact]] excluded: once a compaction snapshot exists, the
    * deltas it merged are logically gone even if their directories
    * outlive a crash mid-delete. */
  def listVersions(spark: SparkSession, root: String, kind: String,
                   corpusKey: String): Seq[String] = {
    val raw = rawVersions(spark, root, kind, corpusKey)
    compactFloor(spark, root, kind, corpusKey) match {
      case Some(floor) => raw.filter(_ >= floor)
      case None => raw
    }
  }

  /** DELTA-STATE read: the union of every version ≤ `upTo`
    * (lexicographic — the store's snapshot order) for one corpus, as
    * ONE pruned scan (`corpus_key = k AND version <= upTo` are both
    * partition filters, so only the matching partition directories
    * are listed or read). This is the accumulating-state counterpart
    * of [[load]]: a kind whose publishers append per-run DELTAS
    * (e.g. a crawl frontier's newly-seen digests) reads its full
    * state without any run ever rewriting history. None when no
    * version sorts ≤ `upTo` — the state AS OF the pin is legitimately
    * empty (a first run, or an idempotent re-run pinned before its
    * own later publishes). The ONE case that must not read as empty:
    * a pin below a COMPACTION floor — the versions it names were
    * folded into a later snapshot, and a frontier drain silently
    * reading that as first-run state would re-emit everything; it
    * fails loudly instead (the permanent `_compact_into_` marker is
    * the durable history record that makes the two cases
    * distinguishable). */
  def loadUpTo(spark: SparkSession, root: String, kind: String,
               corpusKey: String, upTo: String): Option[DataFrame] = {
    requireVersion(upTo)
    val k = normKey(corpusKey)
    val floor = compactFloor(spark, root, kind, corpusKey)
    floor.foreach(f => require(upTo >= f,
      s"pin upTo=$upTo predates the compaction floor $f of kind=$kind " +
        s"corpus_key=$k — the state it names was folded into $f; " +
        "re-pin at a live version"))
    val vs = listVersions(spark, root, kind, corpusKey)
    if (!vs.exists(_ <= upTo)) None
    else {
      // the floor also excludes retired directories a crashed compact
      // left behind: without it the union would double-count them
      val floored = floor.map(f => col("version") >= f).getOrElse(lit(true))
      Some(spark.read.parquet(kindPath(root, kind))
        .filter(col("corpus_key") === k && col("version") <= upTo && floored)
        .drop("corpus_key", "version"))
    }
  }

  /** Compact one corpus's delta versions into a single snapshot:
    * union every version ≤ the current maximum into `into` (which
    * must sort strictly AFTER every existing version, so readers
    * pinned ≤ an old version fail loudly on the vanished partition
    * rather than silently reading half a state), then delete the
    * merged partition directories. Returns the retired versions.
    * The months-long-crawl cadence rung: per-drain publishes stay
    * O(new digests), and a weekly compact bounds the version count
    * the union scan lists. Same concurrent-reader caveat as [[save]]
    * (the published-version protocol is the isolation mechanism).
    *
    * RECOVERABLE: the compactor writes a `_compact_into_<into>` marker
    * before the snapshot save; the marker activates the moment the
    * snapshot partition exists, from which point [[listVersions]] /
    * [[loadUpTo]] treat every version < `into` as retired REGARDLESS
    * of whether its directory was deleted yet — a crash anywhere
    * mid-delete can never make a reader union the snapshot with
    * leftover deltas (the double-count a non-set-semantics kind
    * cannot absorb). A re-run of compact with the same `into` resumes:
    * it skips the save and finishes the deletes. */
  def compact(spark: SparkSession, root: String, kind: String,
              corpusKey: String, into: String): Seq[String] = {
    requireVersion(into)
    val cp = corpusPath(root, kind, corpusKey)
    val fs = fsOf(spark, cp)
    val marker = new org.apache.hadoop.fs.Path(cp, s"_compact_into_$into")
    val resumable = fs.exists(marker) &&
      fs.exists(partitionPath(root, kind, corpusKey, into))
    if (!resumable) {
      val old = listVersions(spark, root, kind, corpusKey)
      require(old.nonEmpty, s"nothing to compact for ${normKey(corpusKey)}")
      require(old.forall(_ < into),
        s"compaction target $into must sort after every existing version " +
          s"(have ${old.mkString(",")})")
      // marker first: it stays inert until the snapshot lands (so the
      // union read below still sees the deltas), then flips the store
      // to snapshot-only semantics atomically with the save
      fs.create(marker, true).close()
      val merged = loadUpTo(spark, root, kind, corpusKey, old.last).get
      save(merged, root, kind, corpusKey, into) // executes the union read
    }
    // retire the merged deltas (raw listing: the floor already hides
    // them from readers; this walk must still SEE them to delete them)
    val retired = rawVersions(spark, root, kind, corpusKey)
      .filter(_ < into)
    retired.foreach { v =>
      val p = partitionPath(root, kind, corpusKey, v)
      fsOf(spark, p).delete(p, true)
    }
    // the marker is PERMANENT — it is the durable record that versions
    // below `into` once existed and were folded away, which is what
    // lets loadUpTo fail loudly on a compaction-retired pin while
    // still returning empty-as-of-pin for pins that simply predate a
    // corpus's publishes (idempotent re-runs). One empty file per
    // compaction; a later compact's higher marker supersedes it.
    retired
  }

  /** All published `(corpus_key, version)` pairs of a kind — TRULY
    * metadata-only: a driver-side directory listing (no Spark job, no
    * parquet footer reads; a projection of the partition columns
    * would still plan a scan). Empty frame — not an exception — for a
    * kind never published. */
  def versions(spark: SparkSession, root: String, kind: String): DataFrame = {
    import spark.implicits._
    listPairs(spark, root, kind).toDF("corpus_key", "version")
  }

  /** Latest version string for a corpus under LEXICOGRAPHIC order —
    * callers version like table snapshots ("v0007", "2026-08-15", a
    * zero-padded commit ordinal), which makes lexicographic =
    * temporal. None for an unpublished corpus OR a kind never
    * published (no exception: the empty store is a normal state). */
  def latest(spark: SparkSession, root: String, kind: String,
             corpusKey: String): Option[String] = {
    val k = normKey(corpusKey)
    listPairs(spark, root, kind).collect {
      case (ck, v) if ck == k => v
    }.maxOption
  }

  /** True iff the snapshot exists — the partition DIRECTORY check
    * (one fs.exists, no Spark job; the old `load(...).isEmpty` form
    * scheduled a scan over the pruned partition). */
  def exists(spark: SparkSession, root: String, kind: String,
             corpusKey: String, version: String): Boolean = {
    requireVersion(version)
    val p = partitionPath(root, kind, corpusKey, version)
    fsOf(spark, p).exists(p)
  }

  /** Retire old snapshots: keep each corpus's `keepLast` latest
    * versions (lexicographic) of `kind`, delete the rest's partition
    * directories. Returns the deleted `(corpus_key, version)` pairs.
    * Deletion is per-partition-directory and atomic per snapshot on a
    * rename-based fs; a reader pinned to a pruned version fails its
    * next load loudly (path gone) rather than reading a half-deleted
    * snapshot's tail. */
  def prune(spark: SparkSession, root: String, kind: String,
            keepLast: Int): Seq[(String, String)] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val doomed = listPairs(spark, root, kind)
      .groupBy(_._1).toSeq
      .flatMap { case (_, pairs) =>
        pairs.sortBy(_._2).dropRight(keepLast)
      }
    doomed.foreach { case (ck, v) =>
      val p = new org.apache.hadoop.fs.Path(
        s"${kindPath(root, kind)}/corpus_key=$ck/version=$v")
      fsOf(spark, p).delete(p, true)
    }
    doomed
  }

  /** Register the kind's table in the session catalog as an external
    * partitioned parquet table and recover its partitions, so SQL
    * consumers (`SELECT ... FROM db.kind WHERE corpus_key=... AND
    * version=...`) get the same pruned scan the path API gets. */
  def registerTable(spark: SparkSession, root: String, kind: String,
                    db: String): Unit = {
    // no explicit column list → partitioning is INFERRED from the
    // (corpus_key=…/version=…) directory layout (Spark rejects an
    // explicit PARTITIONED BY without one); RECOVER picks up
    // partitions published after creation
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $db.$kind
         |USING parquet
         |LOCATION '${kindPath(root, kind)}'""".stripMargin)
    spark.sql(s"ALTER TABLE $db.$kind RECOVER PARTITIONS")
  }
}
