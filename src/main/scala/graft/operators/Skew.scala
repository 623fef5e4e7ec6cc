package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join patterns for the 100 TB path.
  *
  * AQE's skew-join splitting handles most cases at runtime; explicit
  * salting remains the tool when one build-side key is so hot that even
  * split shuffle partitions overwhelm a task (the classic power-law
  * key). Semantics are identical to the plain join — provable, so the
  * salted form carries the plain join's oracle.
  *
  * MEASURED LAW (round 12: 20M-row fact, one key holding 50%, 100k-key
  * dim, local[32] — SCALE.md "Round 12: AQE skew-join vs manual salt"
  * has the full table and the retired probe's commit): broadcast 0.41s /
  * AQE-at-defaults 5.04s / AQE tuned 1.73s / salted(32) 1.97s / no
  * mitigation 3.68s. The operator guidance that follows:
  *  1. BROADCAST FIRST. When the dim fits, there is no shuffle of the
  *     fact by key and skew is moot — 4-10x ahead of every
  *     mitigation. Salting a broadcastable join is a bug.
  *  2. AQE's skew split is the default answer for shuffle joins — but
  *     it triggers on BYTES (256 MB threshold, 5x median factor). A
  *     hot partition below threshold splits NOTHING, and AQE's
  *     partition coalescing then makes the straggler WORSE than a
  *     plain shuffle (5.04s vs 3.68s measured). At real cluster
  *     partition sizes the default triggers; in smaller jobs set
  *     skewedPartitionThresholdInBytes / advisoryPartitionSizeInBytes
  *     down (8m/4m in the probe) — tuned AQE matched-or-beat the
  *     manual salt with zero code change.
  *  3. [[saltedJoin]] remains for what AQE cannot split: skewed
  *     AGGREGATIONS (skewJoin handles joins only — pre-aggregate on
  *     (key, salt) then re-aggregate), hot keys the runtime cannot
  *     observe (skew created by an explode AFTER the exchange), and
  *     engines/paths with AQE off (streaming joins).
  *  4. Mild skew (hot key at 10%) is NOISE: every variant measured
  *     2.2-2.4s — do not spend a salt (or a threshold tune) until the
  *     straggler actually dominates the stage.
  */
object Skew {

  /** Salted inner equi-join of a skewed fact against a dimension:
    * fact rows get a random-ish (here: deterministic modulo) salt in
    * [0, buckets); the dimension is replicated `buckets` times; the
    * join key becomes (key, salt), spreading each hot key over
    * `buckets` shuffle partitions.
    *
    * The salt MUST be deterministic here for oracle comparability —
    * production would use `pmod(hash(monotonically_increasing_id), n)`
    * or `rand()`; the topology (explode dim × salt, join on key+salt)
    * is identical.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, saltSource: Column, buckets: Int): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(saltSource, lit(buckets)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated,
        salted(factKey) === replicated(dimKey) &&
          salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Semi join with an explicit Bloom-filter pre-pass — the manual
    * form of Spark's runtime row-level filter (InjectRuntimeFilter),
    * for when the dimension is too big to broadcast but its KEY SET
    * compresses into a sketch: build a Bloom filter over the dim keys
    * (a tree-aggregated fixed-size sketch, never the rows), embed it
    * in a codegen'd scan-side predicate, and shuffle only the fact
    * rows that might match. The exact semi join afterwards removes
    * the sketch's false positives, so the result is provably equal to
    * the plain semi join — which is therefore its oracle.
    *
    * At 100 TB this turns "shuffle every fact row" into "shuffle the
    * ~selectivity fraction that survives two hash probes"; the sketch
    * costs one scan of the dimension keys and O(MB) of driver/task
    * memory regardless of dim row count.
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    // Key-type-agnostic: both build and probe hash the STRING form of
    // the key (a bare cast-to-long would yield NULL for string keys,
    // fail every sketch probe, and silently return an empty result —
    // and hashing the raw column would break on mixed integral widths,
    // since xxhash64 of the same value as int vs long differs). The
    // string cast normalizes int/long/short/string keys to one
    // representation, so equal-comparing keys hash equally and no true
    // match is dropped; collisions only add false positives, which the
    // exact semi join below removes. Caveat (documented contract): the
    // two key columns must render equal values to equal strings —
    // int-vs-double key pairs ("5" vs "5.0") are out of scope.
    val bloom = dim.select(xxhash64(col(dimKey).cast("string")).as("__bk"))
      .stat.bloomFilter("__bk", expectedItems, fpp)
    val bytes = org.apache.spark.sql.graftext.BloomColumns.serialize(bloom)
    fact
      .filter(org.apache.spark.sql.graftext.BloomColumns.mightContain(
        xxhash64(col(factKey).cast("string")), bytes))
      .join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left_semi")
  }
}
