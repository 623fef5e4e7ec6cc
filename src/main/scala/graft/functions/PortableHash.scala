package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic hashes behind a switchable backend:
  *
  *  - `md5` (default): the md5 hex prefix reinterpreted as an integer.
  *    Engine-PORTABLE — identical values are computable in Spark
  *    (`conv(substr(md5(x),1,n),16,10)`) and DuckDB
  *    (`CAST('0x'||substr(md5(x),1,n) AS BIGINT)`), which is what lets
  *    the dedup/similarity/sampling operators carry exact SQL oracles.
  *  - `xxhash64`: the hot-path backend for production runs where
  *    oracle parity is not required — same bit widths, same
  *    positivity invariants, same operator topology (what gets
  *    shuffled/grouped is unchanged), ~3x less per-row hash CPU via
  *    Spark's codegen'd XxHash64 expression.
  *
  * Select with `-Dgraft.hash.backend=xxhash64`; the correctness gate
  * and bench harness run the default md5 so results stay
  * oracle-comparable. The choice is read per expression build, so a
  * test can exercise both backends in one JVM; it is process-global,
  * not per-query.
  *
  * Both backends keep the same invariants the operators rely on:
  * [[hash60]] ∈ [0, 2^60) and [[hash32]] ∈ [0, 2^32) — positive,
  * stable under any partitioning, identical for identical input.
  */
object PortableHash {

  final val BackendProp = "graft.hash.backend"

  private def xxBackend: Boolean =
    sys.props.get(BackendProp).contains("xxhash64")

  /** 60-bit positive hash (md5: 15 hex chars — fits a signed 64-bit
    * long; xxhash64: top 60 bits of the unsigned value). */
  def hash60(c: Column): Column =
    if (xxBackend) shiftrightunsigned(xxhash64(c), 4)
    else conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Oracle twin of [[hash60]] — md5 form ONLY: under the xxhash64
    * backend the Spark side intentionally diverges from any SQL oracle
    * (that is the trade the flag buys); harnesses that compare against
    * DuckDB must run the default backend. */
  def hash60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** 120-bit digest as a (d1, d2) struct of two independent 60-bit
    * halves — for groupings whose CONTRACT is exactness (e.g.
    * [[graft.operators.Dedup.exactSubstringDedup]], round-9 ADVICE:
    * a 60-bit digest is statistically expected to collide somewhere
    * in 10^12 production shingles, and a collision there silently
    * deletes a non-duplicate span). Expected collisions over n items
    * are ~n²/2^121: ≈ 4×10^-13 at n = 10^12 — negligible where 60
    * bits (~4×10^5 expected) is not. md5: both halves of the one
    * digest (subexpression elimination computes md5 once per row);
    * xxhash64: a second pass over a sentinel-prefixed copy. Costs 8
    * extra bytes per shuffled row vs [[hash60]]. */
  def hash120(c: Column): Column =
    if (xxBackend) struct(
      shiftrightunsigned(xxhash64(c), 4).as("d1"),
      shiftrightunsigned(xxhash64(concat(lit("\u0001"), c)), 4).as("d2"))
    else struct(
      conv(substring(md5(c), 1, 15), 16, 10).cast("long").as("d1"),
      conv(substring(md5(c), 17, 15), 16, 10).cast("long").as("d2"))

  /** 32-bit hash for simhash bit sampling. */
  def hash32(c: Column): Column =
    if (xxBackend) shiftrightunsigned(xxhash64(c), 32)
    else conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def hash32Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"

  /** Seeded variant: hash of `value # seed`. */
  def seeded(c: Column, seed: Int): Column =
    hash60(concat(c, lit("#" + seed)))

  def seededSql(e: String, seed: Int): String =
    hash60Sql(s"concat($e, '#$seed')")

  /** Per-function mixing constants for [[hashFamily]]: fixed odd
    * 29-bit multipliers derived from the Knuth/Fibonacci multipliers,
    * ONE source of truth for the Scala columns and the generated
    * oracle SQL (the literals are interpolated into both). */
  private[graft] def familyConsts(i: Int): (Long, Long, Long) = {
    val m = (1L << 29) - 1
    (((2654435761L * (2 * i + 1)) & m) | 1L,
     ((40503L * 7919L * (2 * i + 3)) & m) | 1L,
     (9176L * (i + 1)) & m)
  }

  /** `k` hash functions from ONE digest evaluation: split the 60-bit
    * md5-prefix word hash u into 30-bit halves (u1, u2) and mix each
    * with per-function odd constants,
    * `h_i = (A_i·u1 + B_i·u2 + C_i) mod 2^40`.
    * One md5 per input replaces the k per-input md5 calls of k
    * independent [[seeded]] columns — at k=16 that is the difference
    * between the minhash signature aggregate being ~90% of q33's
    * wall time and a footnote (measured round 9: 3.8s → 0.6s for the
    * sf0.1 signature build).
    *
    * Family-quality contract: each h_i is a multiply-mod universal
    * hash of (u1, u2) with INDEPENDENT constants per i, so the argmin
    * word DECORRELATES across functions — plain Kirsch–Mitzenmacher
    * `h1 + i·h2` was measured here to correlate the winning word
    * across all k functions (the per-band match probability rises
    * from J^r toward J), inflating the sf0.01 candidate-pair surface
    * 25% and collapsing verified-dedup clusters. The mod-2^40 wrap
    * (products reach 2^59, so every value wraps ~2^19 times) is what
    * breaks the monotonicity in (u1, u2) that would otherwise
    * re-correlate the argmins.
    *
    * Overflow contract: A_i, B_i < 2^29 and u1, u2 < 2^30, so each
    * product is < 2^59 and the sum < 2^60.6 — exact on a signed
    * 64-bit in both engines, no wrap, and the DuckDB oracle
    * ([[hashFamilySql]]) replays identical longs. */
  def hashFamily(c: Column, k: Int): Seq[Column] = {
    val u = hash60(c)
    val u1 = shiftrightunsigned(u, 30)
    val u2 = u.bitwiseAND(lit((1L << 30) - 1))
    (0 until k).map { i =>
      val (a, b, cc) = familyConsts(i)
      (lit(a) * u1 + lit(b) * u2 + lit(cc)) % lit(1L << 40)
    }
  }

  /** Oracle twin of [[hashFamily]](c, _)(i) — md5 form ONLY (the
    * xxhash64 backend intentionally has no oracle; see
    * [[hash60Sql]]). */
  def hashFamilySql(e: String, i: Int): String = {
    val (a, b, cc) = familyConsts(i)
    val u = hash60Sql(e)
    s"(($a * ($u >> 30) + $b * ($u & ${(1L << 30) - 1}) + $cc) " +
      s"% ${1L << 40})"
  }
}
