package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraftCheckpoint.{barrier, partitionedBarrier}

/** Link-graph operators for crawl-corpus curation. A web-scale corpus
  * pipeline ranks hosts/pages by link centrality (the Common Crawl
  * ranking files are exactly this) to weight or gate documents; the
  * engine ships the batch PageRank that produces such a signal.
  */
object Graph {

  /** Fixed-iteration PageRank with damping `d`:
    * `rank(v) = (1-d) + d * Σ_{u→v} rank(u) / outdeg(u)`, the
    * classic per-node (non-normalized) form. Dangling nodes keep their
    * base `(1-d)` and simply leak their mass — the deterministic
    * simplification every bulk implementation (GraphX's `staticPageRank`
    * included) defaults to.
    *
    * Determinism for the cross-engine oracle: ranks are rounded to 6
    * decimals AFTER EVERY ITERATION, so engine-specific float-sum
    * association inside the contribution aggregate (last-ulp noise)
    * cannot compound across rounds; the oracle unrolls the same
    * iterations as chained CTEs with the same rounding.
    *
    * Scale shape: per iteration, one shuffle for the contribution
    * aggregate and one join back to the node list — both keyed on the
    * node id, no all-pairs anything. The deduped edge list, out-degree
    * table, and node list are computed once and reused every round
    * (eager localCheckpoint: recomputing them per round would rescan
    * the source `iters` times, and the truncated lineage keeps the
    * final plan from growing with the round count — same discipline as
    * [[Dedup.connectedComponents]]).
    *
    * The statics are checkpointed PRE-PARTITIONED on their join keys
    * (edge list on src, node list on node — localCheckpoint preserves
    * the partitioning in the LogicalRDD), so each round's joins
    * exchange only the rank/contribution side; the edge list — the
    * largest frame in the loop — never crosses the wire again after
    * round 0 (round 9, measured: 3.5 → ~2.5s at sf0.1, the removed
    * exchanges being iters × |edges|). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e0 = barrier(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // partitionedBarrier (round 17): Dataset.localCheckpoint under AQE
    // records UnknownPartitioning, so the plain repartition+barrier
    // form silently re-exchanged BOTH statics every round on Spark 4 —
    // the AQE-scoped barrier restores the recorded HashPartitioning
    // this loop's shape was measured on (round 9)
    val nodes = partitionedBarrier(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .distinct(),
      Seq("node"))
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // out-degree folded onto the edge list ONCE: the per-round plan
    // then joins ranks only, one join instead of two per iteration
    // (the division stays per-row — rank / deg, bit-identical to the
    // unfolded form and to the oracle's)
    val e = partitionedBarrier(e0.join(deg, Seq("src")), Seq("src"))
    // Deliberate SHUFFLED-HASH joins in the loop (round 18, guide
    // §3.1): with the statics pinned, the planner's default
    // SortMergeJoin satisfies its distribution from the recorded
    // layout but still SORTS the edge list EVERY iteration (measured
    // at 100×: 204 s pinned/SMJ vs 100 s unpinned — the sort, not the
    // exchange, was the iteration cost). Hinting the rank-sized side
    // as the shuffled-hash BUILD side makes the static STREAM with
    // zero sort and zero exchange; only the nodes-sized rank vector
    // moves per iteration. The build side is one row per node,
    // sliced across the static's width — the "moderately small per
    // partition" case shuffled-hash exists for.
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("__deg")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      ranks = nodes.join(contribs.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) +
            lit(damping) * coalesce(col("__in"), lit(0.0)), 6).as("rank"))
      // truncate lineage every few rounds so the plan depth stays
      // bounded in the iteration count (values are unchanged)
      if (i % 3 == 0 && i < iters) ranks = barrier(ranks)
    }
    ranks
  }

  /** Fixed-iteration HITS (Kleinberg, JACM 1999): hubs point to good
    * authorities, authorities are pointed to by good hubs. Kleinberg's
    * in-place update order per iteration — authorities first from the
    * previous hubs, then hubs from the NEW authorities:
    * `auth(v) = Σ_{u→v} hub(u)`, `hub(u) = Σ_{u→v} auth(v)` — with
    * each score vector normalized by its MAX. (Max-normalization
    * converges to the same principal-eigenvector direction as the
    * textbook L2 norm and is exactly reproducible cross-engine; an L2
    * norm would put a sqrt-of-float-sum on every score.)
    *
    * Determinism: the same discipline as [[pageRank]] — every
    * aggregate and every normalized score rounds to 6 decimals, each
    * iteration, so float-sum association noise cannot compound; the
    * oracle unrolls identical CTEs.
    *
    * The per-round auth normalization is FACTORED OUT of the loop:
    * dividing every auth by max(auth) before the hub sum only scales
    * hRaw uniformly, and the hub's own max-normalization cancels any
    * uniform scale — so the recurrence carries the UN-normalized
    * auth aggregate into the hub sum and normalizes hubs once per
    * round (the only normalization the next round's input needs).
    * Auths are normalized ONCE, from the final round's aggregate.
    * Round-10 measured the inlined form's cost: two
    * broadcast-of-own-aggregate maxNorms + two nodes-joins + two
    * barriers per round; this form runs one scalar max, zero
    * nodes-joins, and one barrier per round on the same two
    * structural shuffles. (Magnitudes stay bounded — auth ≤
    * in-degree, hub ∈ [0,1] — so the 6-decimal rounding still
    * genuinely quantizes and the unrolled-CTE oracle stays
    * bit-stable.)
    *
    * Scale shape: the deduped edge list is checkpointed TWICE,
    * pre-partitioned on src for the hub-side join and on dst for the
    * authority-side join, so neither per-round join re-exchanges the
    * edges — each iteration moves only the score vector (two
    * shuffles: the dst and src aggregates; the max is a scalar
    * broadcast). Output: (node, hub, auth). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e0 = barrier(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // partitionedBarrier (round 17): see [[pageRank]] — the plain
    // repartition+localCheckpoint form lost its recorded partitioning
    // under AQE and re-exchanged both edge copies every round
    val nodes = partitionedBarrier(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .distinct(),
      Seq("node"))
    val eBySrc = partitionedBarrier(e0, Seq("src"))
    val eByDst = partitionedBarrier(e0, Seq("dst"))
    var hubs = nodes.withColumn("hub", lit(1.0))
    var aRaw: DataFrame = null
    // shuffled-hash hints: see [[pageRank]]'s loop note — the score
    // vector builds, the pinned edge copies stream sort-free
    for (i <- 1 to iters) {
      aRaw = eBySrc
        .join(hubs.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(round(sum(col("hub")), 6).as("__ar"))
      // the final round's aggregate has TWO consumers (the hub sum
      // and the auth output) — barrier it there so the dst aggregate
      // runs once, not per consumer; mid-loop it has one consumer
      // and rides the barriered hubs' short lineage
      if (i == iters) aRaw = barrier(aRaw)
      val hRaw = eByDst
        .join(aRaw.withColumnRenamed("node", "dst").hint("shuffle_hash"),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(round(sum(col("__ar")), 6).as("__hr"))
      val mH = hRaw.agg(max(col("__hr")).as("__m"))
      // barrier every round: hubs feed the next round's join AND the
      // max aggregate — the same two-consumers-of-own-lineage growth
      // the round-10 form barriered against (829 exchanges measured
      // unbarriered at iters=3); the frame is one row per node
      hubs = barrier(hRaw.crossJoin(broadcast(mH))
        .select(col("node"), round(col("__hr") / col("__m"), 6).as("hub")))
    }
    val mA = aRaw.agg(max(col("__ar")).as("__m"))
    val auths = aRaw.crossJoin(broadcast(mA))
      .select(col("node"), round(col("__ar") / col("__m"), 6).as("auth"))
    nodes.join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }
}
