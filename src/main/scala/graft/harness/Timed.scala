package graft.harness

import org.apache.spark.sql.SparkSession

/** Wall-clock phase timing for the alert lifecycle, mirroring the
  * reference's `Timer` context manager (src/alertas/timer.py:5-13,
  * wrapped around every alert build and table write at
  * jobs.py:189,260,286): each phase reports its elapsed seconds through
  * a pluggable sink, so the slow detector in a 16-alert run is visible
  * from the logs without a profiler.
  *
  * [[AlertRegistry.runAll]] runs its detectors, and then its table
  * writes, side by side. A phase's seconds are therefore its latency
  * under contention from the phases beside it (one traced 4-core
  * alerts benchmark run measured MVVD at 1.8 s alone and 8.9 s among
  * the other detectors), and the phases of one run no longer sum to
  * its wall-clock. [[described]] tells which Spark jobs belong to
  * which phase.
  *
  * The default sink prints to driver stdout like the reference's
  * `print("Elapsed ...")` — NOT slf4j INFO, which GraftSession's
  * `setLogLevel("WARN")` would silently suppress in every session this
  * engine builds. Tests substitute a recording sink to assert the hook
  * fires per phase.
  */
object Timed {
  /** (phase name, elapsed seconds) */
  type Sink = (String, Double) => Unit

  val logSink: Sink = (name, secs) =>
    println(f"[timed] $name%s: $secs%.3f s")

  /** Run `body`, reporting its wall-clock to `sink` even on failure
    * (a phase that dies after 40 minutes should still say so). */
  def phase[T](name: String, sink: Sink = logSink)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally sink(name, (System.nanoTime() - t0) / 1e9)
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** Run `body` with the Spark job description `graft:<name>` on this
    * thread, restoring the previous description afterwards. Every job
    * `body` starts carries it, including AQE stage and broadcast jobs,
    * whose threads copy the caller's local properties
    * (`SQLExecution.withThreadLocalCaptured`); so phases that run side
    * by side stay apart in the Spark UI, the event log and listeners. */
  def described[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"graft:$name")
    try body
    finally sc.setLocalProperty(JobDescription, previous)
  }
}
