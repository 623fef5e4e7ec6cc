package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** -1.0 marks a FAILED pass; it must never win a min against a
    * successful timed pass (one transient crash would otherwise
    * report a working query as broken and drag the summed total
    * negative). A query reads -1.0 only when EVERY pass failed.
    * (Unit-tested by HonestySpec.) */
  def minOk(times: Seq[Double]): Double = {
    val ok = times.filter(_ >= 0.0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** The headline total sums PASSING queries only: a -1.0 failure
    * sentinel must never subtract from the total (a breakage would
    * otherwise read as a speedup in the round-over-round comparison).
    * Failures are reported explicitly via n_failed + failed[] so a
    * partially-broken run can't be mistaken for a faster one.
    * (Unit-tested by HonestySpec.) */
  def summarize(results: Seq[(String, Double)]): (Double, Seq[String]) =
    (results.collect { case (_, v) if v >= 0.0 => v }.sum,
     results.collect { case (k, v) if v < 0.0 => k })

  /** Calib-normalized cell (time / calib_s, 4 decimals): the
    * round-over-round comparison surface — raw cells swing 2-3× with
    * this shared VM's state. A -1.0 failure sentinel passes through
    * UNSCALED so a breakage can never read as a (normalized) speedup.
    * (Unit-tested by HonestySpec.) */
  def normCell(v: Double, calib: Double): Double =
    if (v < 0.0) -1.0 else math.rint(v / calib * 10000) / 10000

  /** One timed pass; a FAILED query returns -1.0, not its
    * elapsed-until-crash time — a breakage must read as a visibly
    * negative entry in the JSON, never as a fake speedup.
    *
    * Method note: count() lets Catalyst prune computed columns on
    * projection-only queries, so their cells measure scan+count, not
    * the per-row work. Kept deliberately — every recorded round (and
    * the round-2 baseline the gate compares against) measured the
    * same way, so cells stay comparable; full-evaluation timings come
    * from tools.Scale, which hashes every output column. */
  def timeOnce(spark: SparkSession, sfDir: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }
  }

  /** Machine-speed witness: a fixed 200M-step LCG, single-threaded,
    * pure JVM — no IO, no Spark, no allocation. Identical code on
    * identical hardware should produce the same number every run, so
    * when two rounds' totals differ the calib cell says how much is
    * the MACHINE (round 10 measured the same commit's warm q01 cell
    * at 0.16s and 0.48s hours apart on this shared VM — a 3× swing
    * pure host state). Min of 3 reps; published as "calib_s". */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 1442695040888963407L
      var i = 0L
      while (i < 200000000L) {
        acc = acc * 6364136223846793005L + i; i += 1L
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) println("") // defeat dead-code elimination
      dt
    }
    (1 to 3).map(_ => once()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val calib = calibrate()
    val spark = graft.core.GraftSession.build("graft-bench", graft.core.GraftSession.envCores)
    // Several operators cache internal fan-out frames that escape into
    // the returned plan (documented caller-must-unpersist: Dedup
    // minhash candidates, Similarity.lshNearDup, CorpusPipeline.clean).
    // Over 110 queries × 3 passes in one JVM those blocks would
    // accumulate and squeeze execution memory for every later query
    // (the round-3 bench-inflation aggravator), so the harness clears
    // ALL cached data between queries — same discipline as the
    // reference's per-run sqlCtx.clearCache (jobs.py:285).
    def clean(): Unit = { spark.catalog.clearCache() }
    // Warmup pass: JIT + Janino codegen + parquet footer caches, so the
    // timed pass measures steady-state query time, not JVM warmup.
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      clean()
    }
    // min of three timed passes per query: steady-state time, robust to
    // the multi-second noise spikes this shared VM lands on random
    // queries (observed 20x outliers on otherwise-sub-second queries;
    // spikes last long enough to cover two back-to-back passes, so two
    // passes occasionally both land inside one — a third is cheap
    // insurance and min-of-N keeps round-over-round comparability).
    // Cache state is cleared BEFORE each query (not between its
    // passes): every query starts from the same clean slate, and later
    // passes measure the warm-internal-cache steady state.
    val consecutive = SparkEntry.queries.map { case (name, fn) =>
      val times = (1 to 3).map(_ => timeOnce(spark, sfDir, fn))
      clean()
      name -> minOk(times)
    }
    // one DECORRELATED sweep: the VM's stalls last multiple seconds, so
    // they can cover all three back-to-back passes of one query; a
    // fourth sample taken minutes later (after the rest of the
    // registry) almost never lands in the same stall. min across both.
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t = timeOnce(spark, sfDir, fn)
      clean()
      name -> minOk(Seq(consecutive(name), t))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // calib-NORMALIZED cells (time / calib_s): the shared VM drifts 2-3x
    // between rounds (round-10 adjudication), so raw cells are only
    // comparable within one run — the normalized cells are the
    // round-over-round per-query comparison surface (the 2x letter is
    // evaluated on these; see VERDICT r10 item 5). Failures stay -1.
    val qsNorm = results.map { case (k, v) =>
      s"\"" + k + "\":" + normCell(v, calib)
    }.mkString("{", ",", "}")
    val (total, failed) = summarize(results.toSeq)
    val totalNorm = normCell(total, calib)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","calib_s":$calib,"value_norm":$totalNorm,"n_failed":${failed.size},"failed":$failedJson,"queries":$qs,"queries_norm":$qsNorm,"sf":"$sfDir"}"""
    // Full per-query JSON to a file as well: the driver keeps only the
    // last 2000 chars of stdout, which truncates ~25 of the 110+ query
    // timings — the file makes round-over-round comparison possible on
    // the complete registry. The default name carries the core count
    // (bench_full_c32.json / bench_full_c8.json): the driver runs the
    // bench twice for its scaling measurement, and a shared name let
    // the second (low-core) run clobber the canonical 32-core record
    // (the round-17 adjudication had to reconstruct it from truncated
    // stdout tails).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c${graft.core.GraftSession.envCores}.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line)
    catch { case _: Throwable => () }
    // Stop Spark BEFORE printing so no shutdown logging lands after the
    // JSON line — the harness parses the final line of output, and
    // build.sbt suppresses sbt's own "[success]" trailer (showSuccess).
    // A failing stop() (shutdown race, listener error) must not eat the
    // already-computed results.
    try spark.stop() catch { case _: Throwable => () }
    println(line)
    // The driver keeps only the LAST 2000 stdout chars; the full line's
    // per-query map overflows that, leaving the driver's parsed record
    // null (seen in BENCH_r07). Print a short summary line LAST — it
    // always fits the tail, and carries every headline field; the
    // complete per-query record lives in bench_full.json above.
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib_s":$calib,"value_norm":$totalNorm,"n_failed":${failed.size},"failed":$failedJson,"n_queries":${results.size},"sf":"$sfDir","queries_in":"$outFile"}""")
    // forked JVM: exit deterministically once the JSON line is out —
    // leftover non-daemon threads from streaming drains otherwise keep
    // the process alive long after the harness has its result
    sys.exit(0)
  }
}
