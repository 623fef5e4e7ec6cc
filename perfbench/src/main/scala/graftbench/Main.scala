package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a workload: `run` fully evaluates it (timed),
  * `check` then says whether its output is right (untimed). */
final case class Op(name: String, group: String, run: () => Unit, check: () => Boolean)

final case class Record(name: String, group: String, wall: Double, ok: Boolean,
                        layers: Map[String, Double])

/** A workload: inputs and warm-up in set-up, then rounds of operations
  * in a closed loop until the measuring window is spent. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  /** The operations of one round, in run order. */
  def round(): Seq[Op]
  /** Rounds measured even when the window is spent sooner. */
  def minRounds: Int = 1
  /** Per-layer numbers the operation itself produced (read once, after
    * it ran). */
  def opLayers(): Map[String, Double] = Map.empty
  /** Run after each operation, outside its timed wall. */
  def afterOp(): Unit = ()
  /** Bytes of the input data set on disk (the denominator of
    * spark.scan_amp); read after `prepare`. */
  def inputBytes: Double
  /** Run once after the last round. */
  def finish(): Unit = ()
  /** Workload-level per-layer numbers over all timed operations. */
  def layers(records: Seq[Record], rounds: Int): Map[String, Double] = Map.empty
}

/** Benchmark JVM: one workload, one seed, one measuring window.
  *
  *   graftbench.Main --workload registry|alerts|crawl --seed N
  *     --seconds S --trace 0|1 --inputs DIR --expected DIR --root DIR
  *     --spans FILE [--only q1,q2] [--record FILE]
  *
  * Prints one line `GRAFTBENCH {...}` with the run's numbers; the
  * launcher adds what only the outside can see (peak RSS, the JVM's
  * start) and prints the benchmark's result. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val inputs = a("inputs")
    val root = a("root")
    val spans = new Spans
    val cores = graft.core.GraftSession.envCores

    // machine-speed witness, recorded beside the metrics (not one)
    val c0 = System.nanoTime()
    val calibStart = spans("calibrate")(graft.Bench.calibrate())
    val calibSecs = (System.nanoTime() - c0) / 1e9

    val spark = spans("setup session") {
      graft.core.GraftSession.build("graft-perfbench", cores)
    }
    val baseThreads = nonDaemonThreads()
    val trace = if (traced) Some(new Trace(spark, spans, cores)) else None
    val w: Workload = workload match {
      case "registry" => new Registry(spark, spans, trace, inputs, a("expected"), seed,
        a.get("only").map(_.split(",").toSeq), a.get("record"))
      case "alerts" => new Alerts(spark, spans, seed)
      case "crawl" => new Crawl(spark, inputs, root, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    spans("setup inputs")(w.prepare())
    spans("setup warmup")(w.warmup())
    spark.catalog.clearCache()
    stopStreams(spark)
    val setupEnd = spans.now

    val records = mutable.ArrayBuffer[Record]()
    // the program's own memory: the largest heap still in use at the end
    // of a round
    var liveHeapMb = 0.0
    val roundWalls = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a round's wall is the sum of its operations' walls: the
    // benchmark's own bookkeeping between operations stays out of it
    do {
      val done = w.round().map(op => runOp(spark, spans, trace, w, op, baseThreads))
      records ++= done
      roundWalls += done.map(_.wall).sum
      liveHeapMb = math.max(liveHeapMb, settledHeapMb())
    } while (elapsed < seconds || roundWalls.size < w.minRounds)
    w.finish()

    val calibEnd = spans("calibrate")(graft.Bench.calibrate())
    // an operation's latency is its median over the run's rounds
    val latencies = records.groupBy(_.name).values.map(rs => median(rs.map(_.wall).toSeq)).toSeq
    val failed = records.count(!_.ok)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val keys = records.flatMap(_.layers.keys).distinct
        val n = records.size.toDouble
        val perOp = keys.map(k => k -> records.map(_.layers.getOrElse(k, 0.0)).sum / n).toMap
        val derived = Map(
          "spark.input_mb" -> perOp.getOrElse("spark.input_bytes", 0.0) / 1048576.0,
          "spark.scan_amp" -> perOp.getOrElse("spark.input_bytes", 0.0) / w.inputBytes,
          "spark.output_mb" -> perOp.getOrElse("spark.output_bytes", 0.0) / 1048576.0,
          "spark.shuffle_write_mb" -> perOp.getOrElse("spark.shuffle_write_bytes", 0.0) / 1048576.0,
          "spark.shuffle_read_mb" -> perOp.getOrElse("spark.shuffle_read_bytes", 0.0) / 1048576.0,
          "spark.spill_mb" -> perOp.getOrElse("spark.spill_bytes", 0.0) / 1048576.0,
          "spark.peak_exec_mem_mb" -> records.map(_.layers.getOrElse("spark.peak_exec_mem_mb", 0.0)).max,
          "failed_frac" -> failed / n,
          "traced.run_s" -> median(roundWalls.toSeq))
        perOp ++ derived ++ w.layers(records.toSeq, roundWalls.size)
      }
    trace.foreach(_.close())
    val result = Json.obj(Seq(
      "setup_end_ms" -> Json.num(setupEnd),
      "calib_s" -> Json.num(calibSecs),
      "calib_start" -> Json.num(calibStart),
      "calib_end" -> Json.num(calibEnd),
      "attempted" -> records.size.toString,
      "failed" -> failed.toString,
      "rounds" -> roundWalls.size.toString,
      "run_s" -> Json.num(median(roundWalls.toSeq)),
      "query_p50_s" -> Json.num(median(latencies)),
      "query_p95_s" -> Json.num(nearestRank(latencies, 0.95)),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "failures" -> records.filter(!_.ok).map(r => Json.str(r.name)).distinct.mkString("[", ",", "]"),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    spans.dump(Paths.get(a("spans")))
    System.out.println("GRAFTBENCH " + result)
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    // leaked non-daemon threads (streaming drains) must not keep the
    // benchmark alive once its numbers are out
    System.exit(0)
  }

  private def runOp(spark: SparkSession, spans: Spans, trace: Option[Trace],
                    w: Workload, op: Op, baseThreads: Int): Record = {
    spans.op += 1
    spans(s"op ${op.name}") {
      trace.foreach(_.begin())
      val s0 = spans.now
      val t0 = System.nanoTime()
      val ran = try { op.run(); true } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = spans.now
      val layers = trace match {
        case None => Map.empty[String, Double]
        case Some(t) =>
          val streams = spark.streams.active.length
          val threads = nonDaemonThreads() - baseThreads
          val rdds = spark.sparkContext.getPersistentRDDs.size
          val scratch = dirBytes(Paths.get(System.getProperty("java.io.tmpdir"))) / 1048576.0
          t.end(s0, s1) ++ w.opLayers() ++ Map(
            "hygiene.streams_left" -> streams.toDouble,
            "hygiene.threads_left" -> threads.toDouble,
            "hygiene.rdds_left" -> rdds.toDouble,
            "hygiene.scratch_mb_left" -> scratch)
      }
      val ok = ran && (try spans("check")(op.check()) catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} check failed: $e")
        false
      })
      stopStreams(spark)
      w.afterOp()
      // collect now, between operations, not inside the next one's wall
      System.gc()
      Record(op.name, op.group, wall, ok, layers)
    }
  }

  def stopStreams(spark: SparkSession): Unit =
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })

  /** Heap in use once full collections stop freeing more. Spark drops
    * some of an operation's objects (the broadcasts and shuffles its
    * ContextCleaner is handed) only after a collection found them
    * unreachable, so one collection can leave up to 85 MB that the next
    * one frees. */
  private def settledHeapMb(): Double = {
    def used(): Double = {
      Thread.sleep(200)
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var next = used()
    var tries = 2
    while (last - next > 1.0 && tries < 6) { last = next; next = used(); tries += 1 }
    next
  }

  private def nonDaemonThreads(): Int = {
    val it = Thread.getAllStackTraces.keySet.iterator
    var n = 0
    while (it.hasNext) { val t = it.next(); if (t.isAlive && !t.isDaemon) n += 1 }
    n
  }

  def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val walk = Files.walk(p)
      try {
        var total = 0L
        walk.forEach(f => total += (try if (Files.isRegularFile(f)) Files.size(f) else 0L
                                    catch { case _: Throwable => 0L }))
        total.toDouble
      } finally walk.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def nearestRank(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0)) }
}
