package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Approximate-string (edit-distance) joins, scale-first.
  *
  * The naive formulation — cross join + `levenshtein(a, b) <= d` — is
  * O(|L|·|R|) candidate pairs and unusable beyond toy sizes. The engine's
  * shape is FastSS-style **deletion-neighborhood blocking** (Bocek et al.,
  * "Fast Similarity Search in Large Dictionaries", 2007): each string is
  * expanded to the set of strings reachable by deleting up to `d`
  * characters, candidates are the pairs whose neighborhoods share a
  * member (an equi-join on the variant string), and the exact, codegen'd
  * `levenshtein` verifies each candidate. No all-pairs product ever forms;
  * the shuffle carries (variant, id) rows — |s|^d per string of length
  * |s| — and the verify join touches only bucket co-members, the same
  * prefilter-then-verify topology as the MinHash/SimHash dedup family
  * ([[Dedup]]).
  *
  * Blocking is EXACT, not heuristic: lev(a,b) <= d implies the two
  * d-deletion neighborhoods intersect (delete the edited positions from
  * both sides of an optimal alignment), so no qualifying pair is missed;
  * the converse only bounds lev <= 2d, which is why every candidate is
  * re-checked with the true distance.
  */
object Fuzzy {

  /** Candidate pairs within edit distance `maxDist` (1 or 2) between
    * `left(leftStr)` and `right(rightStr)`, verified exactly.
    *
    * Output: (leftId, rightId, dist) for every pair with
    * `levenshtein <= maxDist`. Identical id pairs are kept when the two
    * inputs genuinely share ids — callers joining a table to itself
    * should pre-filter.
    *
    * Scale: shuffle size is Σ|s|^d variant rows per side (d=1: one row
    * per character — the price of never forming the cross product);
    * skewed variant buckets (e.g. a corpus of near-identical strings)
    * surface as hot join keys and are bounded by `maxBucket`, dropping
    * pathological buckets with a logged count rather than going
    * quadratic silently — the same guard as [[Dedup.simhashPairs]].
    */
  @volatile var lastFuzzyDroppedBuckets: Long = -1

  def editDistanceJoin(left: DataFrame, leftId: String, leftStr: String,
                       right: DataFrame, rightId: String, rightStr: String,
                       maxDist: Int = 1, maxBucket: Int = 10000): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"deletion-neighborhood blocking is practical for d in {1,2}, got $maxDist")
    val lVar = explodedVariants(left, leftId, leftStr, maxDist, "l_id")
    // materialized once: the bucket-cap census below is an eager action,
    // and without truncation the join would re-run the whole explode a
    // second time — at scale that doubles the dominant cost
    val rVar = barrier(
      explodedVariants(right, rightId, rightStr, maxDist, "r_id"))
    // quadratic-blowup guard on the variant key (same contract as
    // Dedup.simhashPairs): a flood of identical/near-identical strings
    // concentrates in one variant bucket; over-cap buckets are dropped
    // from candidate generation with a logged count, costing recall
    // only on the flooded value instead of O(bucket²) pairs everywhere
    val overCap = rVar.groupBy(col("variant")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select(col("variant"))
    val dropped = overCap.count()
    lastFuzzyDroppedBuckets = dropped
    if (dropped > 0)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"editDistanceJoin: dropped $dropped over-cap variant buckets (> $maxBucket members)")
    val rBounded =
      if (dropped == 0) rVar
      else rVar.join(broadcast(overCap), Seq("variant"), "left_anti")
    val cand = lVar.join(rBounded, Seq("variant"))
      .select(col("l_id"), col("r_id")).distinct()
    val lKeyed = left.select(col(leftId).as("l_id"), col(leftStr).as("__ls"))
    val rKeyed = right.select(col(rightId).as("r_id"), col(rightStr).as("__rs"))
    val (lOut, rOut) =
      if (leftId == rightId) (leftId + "_l", rightId + "_r")
      else (leftId, rightId)
    cand.join(lKeyed, Seq("l_id")).join(rKeyed, Seq("r_id"))
      .withColumn("dist", levenshtein(col("__ls"), col("__rs")))
      .filter(col("dist") <= maxDist)
      .select(col("l_id").as(lOut), col("r_id").as(rOut), col("dist"))
  }

  /** (id, variant) rows: the string itself plus every <=`d`-deletion
    * form, deduplicated per id. */
  private def explodedVariants(df: DataFrame, idCol: String, strCol: String,
                               d: Int, outId: String): DataFrame = {
    val s = col(strCol)
    val del1: Column => Column = v =>
      transform(sequence(lit(1), length(v)),
        i => concat(v.substr(lit(1), i - 1), v.substr(i + 1, length(v))))
    val level1 = del1(s)
    val all =
      if (d == 1) array_distinct(concat(array(s), level1))
      else {
        // d=2: flatten the 1-deletions of every 1-deletion
        val level2 = flatten(transform(level1, v => del1(v)))
        array_distinct(concat(array(s), level1, level2))
      }
    df.select(col(idCol).as(outId), explode(all).as("variant"))
  }
}
