package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkTestBase {

  test("connected components: chains merge, minimum id labels the cluster (driver fast path)") {
    import spark.implicits._
    // components {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}; pair list
    // never links the two clusters. 4 edges → driver union-find path.
    val pairs = Seq((1, 2), (2, 3), (3, 7), (10, 11)).toDF("id_a", "id_b")
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(comp == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 1, 10 -> 10, 11 -> 10))
    assert(graft.operators.Dedup.lastCcRounds == 0, "expected the driver path")
  }
  test("connected components with a reliable checkpoint dir: same labels (distributed path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1, 2), (2, 3), (3, 7), (10, 11)).toDF("id_a", "id_b")
    val comp = withCheckpointDir(dir) {
      graft.operators.Dedup.connectedComponentsStats(pairs, "id_a", "id_b",
          driverThreshold = 0)._1
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    }
    assert(comp == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 1, 10 -> 10, 11 -> 10))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    // the reliable path actually wrote checkpoint data to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "expected reliable checkpoint files under the dir")
  }
  test("driver union-find and distributed propagation label identically") {
    import spark.implicits._
    // star + chain + singletons-in-pairs mix with shuffled edge order
    val edges = Seq((5, 9), (9, 2), (14, 2), (3, 14), (20, 21), (8, 8),
      (30, 25), (25, 31), (40, 41), (41, 40))
    val pairs = scala.util.Random.shuffle(edges).toDF("id_a", "id_b")
    val viaDriver = graft.operators.Dedup
      .connectedComponentsStats(pairs, "id_a", "id_b")._1
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(graft.operators.Dedup.lastCcRounds == 0)
    val viaDistributed = graft.operators.Dedup
      .connectedComponentsStats(pairs, "id_a", "id_b", driverThreshold = 0)._1
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(viaDriver == viaDistributed)
    assert(viaDriver(3) == 2 && viaDriver(5) == 2 && viaDriver(30) == 25)
  }

  test("connected components: adversarial long chain converges in O(log n) rounds") {
    import spark.implicits._
    // a 128-node path graph (diameter 127): naive min-label
    // propagation moves the minimum ONE hop per round and would need
    // ~127 rounds — far past the default maxIter=20. The fused
    // pointer-jumping must (at least) halve remaining chain length
    // per round, so convergence within the default budget at
    // ceil(log2) + small-constant rounds is the structural proof the
    // halving actually happens, not just that this graph converged.
    val n = 128
    // worst-case orientation: edges descend (i+1 -> i), so labels must
    // travel the full chain length against the edge direction
    val pairs = (0 until n - 1).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val (labels, rounds) = graft.operators.Dedup
      .connectedComponentsStats(pairs, "id_a", "id_b", driverThreshold = 0)
    val comp = labels.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(comp == (0 until n).map(_ -> 0).toMap)
    // log2(128)=7; allow the fuse's constant factor but stay an order
    // of magnitude below the 127 rounds naive propagation would need
    assert(rounds <= 14, s"pointer jumping degraded: $rounds rounds for diameter ${n - 1}")
  }

  test("minhash pipeline is partition-invariant under BOTH hash backends") {
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
      (i, s"w${i % 7} w${i % 11} w${i % 13} w${i % 5} shared common tokens"))
      .toDF("doc_id", "text")
    val prop = graft.functions.PortableHash.BackendProp
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.minhashCandidatePairs(
          Dedup.minhashSignatures(df, "doc_id", "text", 8), "doc_id", 8, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(): Set[(Long, Long)] = {
      val a = pairs(docs)
      val b = pairs(docs.repartition(9))
      assert(a == b, "candidate pairs must not depend on partitioning")
      spark.catalog.clearCache()
      a
    }
    val viaMd5 =
      try { System.setProperty(prop, "md5"); run() }
      finally System.clearProperty(prop)
    val viaXx =
      try { System.setProperty(prop, "xxhash64"); run() }
      finally System.clearProperty(prop)
    // same topology, different hash function: both behave, both
    // produce plausible banded candidates (not asserted equal — the
    // band signatures legitimately differ between backends)
    assert(viaMd5.nonEmpty && viaXx.nonEmpty)
  }

  test("exactSubstringDedup output is backend-invariant (120-bit digests group only identical text)") {
    val docs = docsDf(
      1L -> "a b c d e f g h i j k l",
      2L -> "x y a b c d e f g h i j", // 10-token repeat of 1's prefix
      3L -> "p q r s t u v w z0 z1 z2 z3")
    val prop = graft.functions.PortableHash.BackendProp
    def run(): Map[Long, String] = {
      val m = Dedup.exactSubstringDedup(docs, "doc_id", "text", 10)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.catalog.clearCache(); m
    }
    val viaMd5 = try { System.setProperty(prop, "md5"); run() }
      finally System.clearProperty(prop)
    val viaXx = try { System.setProperty(prop, "xxhash64"); run() }
      finally System.clearProperty(prop)
    // the digest is engine-internal: BOTH backends must group exactly
    // the identical shingles, so the cleaned text is equal, not just
    // similar (this is what the 120-bit width buys at scale — the
    // grouping cannot merge distinct spans)
    assert(viaMd5 == viaXx)
    assert(viaMd5(2L) == "x y", s"repeat span must drop: ${viaMd5(2L)}")
    assert(viaMd5(3L) == "p q r s t u v w z0 z1 z2 z3")
  }

  import scala.jdk.CollectionConverters._

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exactSubstringDedup removes repeated >=w spans exactly, keep-first") {
    val w = 4
    def run(rows: (Long, String)*): Map[Long, (String, Long, Long)] =
      Dedup.exactSubstringDedup(docsDf(rows: _*), "doc_id", "text", w)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
    // a 6-token span repeated across docs: the later doc loses exactly
    // the span (all 6 tokens — sliding windows cover the full span,
    // not just aligned tiles), the first keeps it
    val out = run(
      1L -> "p q r s t u v w",
      2L -> "a b p q r s t u c d")
    assert(out(1L) == ("p q r s t u v w", 8L, 0L))
    assert(out(2L) == ("a b c d", 10L, 6L))
    // tile-straddling repeat: segmentDedup's fixed 10-word tiles would
    // miss a span crossing a tile boundary; the sliding window cannot
    val tile = (1 to 10).map(i => s"x$i").mkString(" ") // one full tile
    val span = "s1 s2 s3 s4 s5"
    val straddle = run(
      1L -> s"$tile $span y1 y2 y3",
      2L -> s"z1 z2 z3 $span z4 z5") // span sits at tile offset 3
    assert(straddle(2L) == ("z1 z2 z3 z4 z5", 10L, 5L))
    // intra-doc repeat: the SECOND occurrence inside one doc drops
    val intra = run(3L -> "m n o p k m n o p")
    assert(intra(3L) == ("m n o p k", 9L, 4L))
    // shorter than w: no shingles, row passes through
    val short = run(4L -> "a b c")
    assert(short(4L) == ("a b c", 3L, 0L))
    // full duplicate: later doc empties but its row SURVIVES
    val dup = run(5L -> "d1 d2 d3 d4 d5", 6L -> "d1 d2 d3 d4 d5")
    assert(dup(5L) == ("d1 d2 d3 d4 d5", 5L, 0L))
    assert(dup(6L) == ("", 5L, 5L))
  }

  test("exact dedup groups identical content, keeps min id") {
    val df = docsDf(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("keep_id") == 3L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("identical docs always become minhash LSH candidates; disjoint never") {
    val df = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta", // identical → all bands match
      3L -> "one two three four five six")         // disjoint vocab
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 16)
    val pairs = Dedup.minhashCandidatePairs(sigs, "doc_id", 16, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(Dedup.minhashOverCapBuckets(sigs, "doc_id", 16, 2).isEmpty)
  }

  test("minhash pair surface: bucket cap drops flooded buckets; census names them") {
    // 12 identical docs share every band bucket; with maxBucket = 10
    // both bands go over-cap and the quadratic 12x11/2 pair set is
    // suppressed — simhashPairs' flood contract on the minhash
    // surface (the registry default 1000 never triggers at oracle
    // scale, but the rule is spec on both engine and oracle sides).
    // The diagnostic census reports exactly the dropped buckets.
    val flood = docsDf((1L to 12L).map(i => i -> "same text every doc"): _*)
    val sigs = Dedup.minhashSignatures(flood, "doc_id", "text", 16)
    val pairs = Dedup.minhashCandidatePairs(
      sigs, "doc_id", 16, 2, maxBucket = 10)
    assert(pairs.isEmpty)
    assert(Dedup.minhashOverCapBuckets(sigs, "doc_id", 16, 2, maxBucket = 10)
      .count() == 2L)
  }

  test("simhash of identical texts is identical; permuted word order too (set semantics)") {
    val df = docsDf(1L -> "a b c d", 2L -> "d c b a", 3L -> "q r s t")
    val sigs = Dedup.simhash60(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhashPairs pairs identical docs; bucket cap drops flooded buckets; census names them") {
    val df = docsDf(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "q r s t u v")
    val sigs = Dedup.simhash60(df, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sigs, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    assert(Dedup.simhashOverCapBuckets(sigs, "doc_id").isEmpty)

    // flood: 12 identical docs share every (chunk, value) bucket; with
    // maxBucket = 10 all four of their buckets are over-cap, so the
    // quadratic 12×11/2 pair set is suppressed; the diagnostic census
    // reports exactly the four dropped buckets
    val flood = docsDf((1L to 12L).map(i => i -> "same text every doc"): _*)
    val floodSigs = Dedup.simhash60(flood, "doc_id", "text")
    val floodPairs = Dedup.simhashPairs(
      floodSigs, "doc_id", maxHamming = 3, maxBucket = 10)
    assert(floodPairs.isEmpty)
    assert(Dedup.simhashOverCapBuckets(floodSigs, "doc_id", maxBucket = 10)
      .count() == 4L)
  }

  test("verified components: bucket co-membership alone does not merge docs") {
    // doc 3 is engineered to share MOST of its words with docs 1/2 so
    // some band (r=4 of k=8) almost surely collides, while true
    // Jaccard stays moderate — with verification ON (agreement >= 7/8
    // ~ J >= 0.8) the moderate doc must NOT join the near-dup cluster
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val nearDup = (0 until 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val moderate = (0 until 20).map(i => s"w$i").mkString(" ") +
      " " + (0 until 20).map(i => s"z$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> nearDup, 3L -> moderate)
    // r=1 (8 bands of one hash): a single matching component is a
    // bucket collision, so the J≈0.33 doc chains in UNVERIFIED — the
    // exact percolation failure — and verification must sever it
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 8)
    val unverified = Dedup.minhashComponents(sigs, "doc_id", 8, 8)
      .collect().map(r => r.getLong(0)).toSet
    assert(unverified == Set(1L, 2L, 3L),
      s"planted corpus should chain ALL docs unverified, got $unverified")
    val verified = Dedup.minhashComponents(sigs, "doc_id", 8, 8,
        minAgree = Some(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the true near-dup pair always survives verification
    assert(verified.get(1L).contains(1L) && verified.get(2L).contains(1L),
      s"near-dup pair must stay clustered, got $verified")
    // the moderate doc is severed even though its bucket edge exists
    assert(!verified.contains(3L),
      s"moderate-similarity doc merged through an unverified edge: $verified")
    spark.catalog.clearCache()
  }

  test("ngram jaccard of identical docs is 1.0") {
    val df = docsDf(1L -> "a b c d e", 2L -> "a b c d e")
    val out = Dedup.ngramJaccard(df, "doc_id", "text", 3, 100, 0.0).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("jaccard") == 1.0)
  }

  test("incrementalDedup drops exact and near dups vs the seen state, keeps new") {
    val seen = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six")
    val newBatch = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta", // exact dup of 1
      // permutation of 2's words: not an exact dup (different md5) but
      // the identical distinct-word SET → identical signature, every
      // band matches — the deterministic near-dup
      11L -> "six five four three two one",
      12L -> "totally different fresh content here now", // genuinely new
      14L -> "totally different fresh content here now") // within-batch dup of 12
    val (digests, bands) = Dedup.dedupState(seen, "doc_id", "text", 16, 2)
    val out = Dedup.incrementalDedup(newBatch, "doc_id", "text",
        digests, bands, 16, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!out.contains(10L), "exact dup must be dropped")
    assert(!out.contains(11L), "near dup sharing an LSH band must be dropped")
    assert(!out.contains(14L), "within-batch dup must lose to the min id")
    assert(out == Set(12L))
  }

  test("incrementalDedup and ngramJaccard reliable-checkpoint paths match local") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dd-ckpt").toString
    val seen = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six")
    val newBatch = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta",
      11L -> "six five four three two one",
      12L -> "totally different fresh content here now")
    val (digests, bands) = Dedup.dedupState(seen, "doc_id", "text", 16, 2)
    def dedup() = Dedup.incrementalDedup(newBatch, "doc_id", "text",
        digests, bands, 16, 2, minAgree = Some(13))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val jacDocs = docsDf(1L -> "a b c d e", 2L -> "a b c d e",
      3L -> "p q r s t")
    def jaccard() = Dedup.ngramJaccard(jacDocs, "doc_id", "text", 3, 100, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the other barrier users ride the same scope: prefixFilterJoin's
    // three barriers, and semanticContamination's Lloyd rounds
    // (kmeansCells)
    val pfDocs = docsDf(1L -> "a b c d", 2L -> "a b c e", 3L -> "a f g h")
    def prefix() = Dedup.prefixFilterJoin(pfDocs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def contamination() = {
      import spark.implicits._
      def oneHot(i: Int) = Array.tabulate(64)(j => if (j == i) 1f else 0f)
      val train = Seq((100L, oneHot(0)), (101L, oneHot(1)),
        (102L, oneHot(2))).toDF("vec_id", "embedding")
      val bench = Seq((1L, oneHot(0)), (2L, oneHot(10)))
        .toDF("vec_id", "embedding")
      Similarity.semanticContamination(bench, train, "vec_id", "embedding",
          threshold = 0.9, k = 2, iters = 2, nProbe = 2)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    }
    val (viaLocal, viaLocalJ, viaLocalP, viaLocalS) =
      (dedup(), jaccard(), prefix(), contamination())
    val (viaReliable, viaReliableJ, viaReliableP, viaReliableS) =
      withCheckpointDir(dir)((dedup(), jaccard(), prefix(), contamination()))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(viaReliable == viaLocal && viaLocal == Set(12L))
    assert(viaReliableJ == viaLocalJ && viaLocalJ == Set((1L, 2L)))
    assert(viaReliableP == viaLocalP && viaLocalP == Set((1L, 2L)))
    assert(viaReliableS == viaLocalS && viaLocalS == Map(1L -> true, 2L -> false))
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "expected reliable checkpoint files under the dir")
  }

  test("registered queries over every routed barrier site: reliable fingerprints match local") {
    // one query (or more) per file whose barriers go through
    // GraftCheckpoint.barrier; each runs once with local barriers and
    // once under its own checkpoint dir, which must receive files
    val names = Seq("q33_minhash_lsh_pairs", "q35_simhash_pairs",
      "q57_ann_lsh", "q67_dedup_clusters", "q111_fuzzy_join",
      "q119_quality_classifier", "q122_bpe_train", "q129_epoch_shuffle",
      "q134_pq_search", "q159_unigram_train", "q163_wordpiece_train",
      "q61_corpus_clean", "q114_semantic_dedup", "q171_stream_frontier",
      "q173_crawl_gate_gz", "q198_http_gate")
    // (rows, sum of a per-row xxhash64 over every column); doubles are
    // rounded so the last bits of a float sum cannot flip it
    def fingerprint(q: String): (Long, java.math.BigDecimal) = {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val c = df.col(s"`${f.name}`")
        f.dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => round(c, 6).as(s"c$i")
          case _ => c.as(s"c$i")
        }
      }
      val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), r.getDecimal(1))
    }
    def releaseMemos(): Unit = {
      Similarity.releaseCells(); Similarity.releasePq(); Dedup.releaseComponents()
    }
    val root = java.nio.file.Files.createTempDirectory("graft-routed-ckpt")
    releaseMemos()
    val local = names.map(q => q -> fingerprint(q)).toMap
    releaseMemos() // a memo hit would return the local artifact
    val reliable = names.map { q =>
      q -> withCheckpointDir(root.resolve(q).toString)(fingerprint(q))
    }.toMap
    releaseMemos() // later specs get local artifacts again
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    names.foreach { q =>
      assert(reliable(q) == local(q), s"$q: reliable ${reliable(q)} vs local ${local(q)}")
      val dir = root.resolve(q)
      val wrote = if (!java.nio.file.Files.isDirectory(dir)) 0L
        else java.nio.file.Files.walk(dir)
          .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"$q: expected reliable checkpoint files under $dir")
    }
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 2.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      round(Similarity.cosine(col("a"), col("b")), 9).as("same"),
      round(Similarity.cosine(col("a"), col("c")), 9).as("orth")).head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("contamination: exact containment fraction of train n-grams in bench") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e"),       // grams: "a b c","b c d","c d e" — 2 of 3 in bench
      (2L, "x y z w q"),       // none in bench
      (3L, "a b"))             // shorter than n → absent from result
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a b c d zz"),    // contributes "a b c","b c d","c d zz"
      (101L, "unrelated words here entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.contamination(train, bench, "doc_id", "text", 3)
      .select("doc_id", "total", "matched", "overlap")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, 0.666667)))
    assert(out(2L) == ((2L, 3L, 0L, 0.0)))
    assert(!out.contains(3L))
  }

  test("canonicalPerCluster keeps longest-then-lowest-id per component") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "component")
    val docs = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "mid length"),
      (7L, "same size"), (8L, "same size")) // tie → lowest id wins
      .toDF("doc_id", "text")
    val out = Dedup.canonicalPerCluster(comps, docs, "doc_id",
        Seq(length(col("text")).desc, col("doc_id").asc))
      .select("component", "doc_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 3L), (7L, 7L, 2L)))
  }

  test("segmentDedup: first occurrence survives, docs reassemble in order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def seg(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    // doc 1: segments A B; doc 2: repeats A then fresh C; doc 3: all
    // repeats (must vanish); doc 4: a 4-word tail segment D
    val docs = Seq(
      (1L, s"${seg("a")} ${seg("b")}"),
      (2L, s"${seg("a")} ${seg("c")}"),
      (3L, s"${seg("b")} ${seg("a")}"),
      (4L, s"${seg("b")} d1 d2 d3 d4")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.segmentDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L) == ((s"${seg("a")} ${seg("b")}", 2L, 2)))
    assert(out(2L) == ((seg("c"), 1L, 2)))       // A was seen in doc 1
    assert(!out.contains(3L))                    // nothing survived
    assert(out(4L) == (("d1 d2 d3 d4", 1L, 2))) // partial tail window kept
  }

  test("bruteForceTopK finds the planted nearest neighbor first") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        col("vec_id") === 0, 2).collect()
      .sortBy(_.getAs[Int]("rn"))
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("prefixFilterJoin equals brute-force exact jaccard (lossless candidates)") {
    import spark.implicits._
    // crafted around the t=0.6 boundary: (1,2) jaccard 3/5=0.6 (kept,
    // boundary-exact), (1,3) 2/6=0.333 (dropped in VERIFY — its pair
    // may still be a candidate), (4,5) identical sets => 1.0, doc 6
    // disjoint, doc 7 repeated tokens (set semantics: n counts
    // distinct), (8,9) 0.5 just under t
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a f g h"),
      (4L, "k l m"), (5L, "m l k"), (6L, "z y x w"),
      (7L, "a a b b c c d d"), (8L, "p q"), (9L, "q r")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // brute-force truth: every pair with exact jaccard >= 0.6
    val sets = Seq(1L -> "abcd", 2L -> "abce", 3L -> "afgh", 4L -> "klm",
      5L -> "mlk", 6L -> "zyxw", 7L -> "abcd", 8L -> "pq", 9L -> "qr")
      .map { case (i, s) => i -> s.toSet }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      sh = (sa & sb).size
      j = sh.toDouble / (sa.size + sb.size - sh) if j >= 0.6
    } yield (ia, ib) -> (sa.size.toLong, sb.size.toLong, sh.toLong,
      math.rint(j * 1e6) / 1e6)).toMap
    assert(got == want, s"got $got\nwant $want")
    // the boundary pair survived the float discipline
    assert(got.contains((1L, 2L)) && got((1L, 2L))._4 == 0.6)
    // set semantics: repeated tokens collapse, (1,7) is identical-set
    assert(got((1L, 7L)) == ((4L, 4L, 4L, 1.0)))
  }

  test("intraDocDedup keeps first occurrences per doc and never shuffles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y z"),    // segs [x y][x y][z] -> keep [x y][z]
      (2L, "a b c d"),      // no repeats -> untouched
      (3L, "p q p q p q")   // [p q]x3 -> keep one
    ).toDF("doc_id", "text")
    val out = Dedup.intraDocDedup(docs, "doc_id", "text", windowWords = 2)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ("x y z", 2L, 1L))
    assert(got(2L) == ("a b c d", 2L, 0L))
    assert(got(3L) == ("p q", 1L, 2L))
    // the dedup scope is one row: the plan must contain no exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"intra-doc dedup shuffled:\n$plan")
    // cross-doc duplicates are deliberately NOT touched (that's
    // segmentDedup's job): two docs sharing a segment both keep it
    val cross = Dedup.intraDocDedup(
      Seq((1L, "m n o p"), (2L, "m n o p")).toDF("doc_id", "text"),
      "doc_id", "text", windowWords = 2).collect()
    assert(cross.forall(_.getLong(3) == 0L))
  }
}
