package graftbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Nested wall-clock spans on the benchmark's own clock (epoch ms with
  * nanoTime resolution). One closed-loop client, so a stack gives every
  * span its parent; `op` is the operation the span belongs to (0 during
  * set-up). */
final class Spans {
  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, op: Int)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Double)]()
  private var nextId = 1
  var op = 0

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String)(body: => T): T = {
    val id = synchronized { val id = nextId; nextId += 1; open.push((id, name, now)); id }
    try body finally synchronized {
      val (_, _, start) = open.pop()
      done += Span(id, name, start, now, parentId, op)
    }
  }

  /** A span timed elsewhere (a Spark job, a harness phase read from the
    * program's log), parented to the innermost open span. */
  def add(name: String, start: Double, end: Double): Unit = synchronized {
    val id = nextId; nextId += 1
    done += Span(id, name, start, end, parentId, op)
  }

  private def parentId: Int = if (open.isEmpty) 0 else open.top._1

  def dump(path: java.nio.file.Path): Unit = {
    val lines = synchronized(done.sortBy(_.start).toList).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},""" +
        s""""end":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Per-layer counters gathered from outside the engine: a SparkListener
  * (jobs, stages, tasks and their metrics), a QueryExecutionListener
  * (actions and their planning phases) and a StreamingQueryListener
  * (triggers and their phases). The benchmark is the only client, so
  * every event between an operation's start and end belongs to it. */
final class Trace(spark: SparkSession, spans: Spans, cores: Int) {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val tasks = mutable.ArrayBuffer[(Long, Long)]()
  private val stageFile = mutable.Map[Int, String]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val submitted = mutable.Set[Int]()
  private val stateRows = mutable.Map[java.util.UUID, Long]()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val jobTimes = mutable.ArrayBuffer[Long]()
  private var peakExecMem = 0L

  private def add(k: String, v: Double): Unit = c(k) += v

  /** Spark counters reported for every operation, 0 when no event
    * added to them (no failed task, no skipped stage). */
  private val sparkCounters = Seq("spark.jobs", "spark.stages", "spark.stages_skipped",
    "spark.tasks", "spark.failed_tasks", "spark.task_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.sched_wait_s",
    "spark.aqe_updates", "spark.actions", "spark.plan_s")

  /** The program file a job is charged to: the innermost engine frame
    * (package graft) of the call site that started it. A job started by
    * the benchmark's own evaluating action is charged to "perfbench";
    * one with no engine or benchmark frame (streaming micro-batches,
    * AQE stage threads without an SQL execution) to "other". */
  private def sourceFile(longForm: String): String =
    longForm.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graftbench.") => "perfbench"
      case l if l.startsWith("graft.") && l.contains("(") =>
        l.substring(l.lastIndexOf('(') + 1).takeWhile(_ != '.')
    }.getOrElse("other")

  private val executionFile = mutable.Map[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      add("spark.jobs", 1)
      jobTimes += e.time
      jobStages(e.jobId) = e.stageInfos.map(_.stageId)
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val file = execution.flatMap(executionFile.get).getOrElse(
        sourceFile(e.stageInfos.headOption.map(_.details).getOrElse("")))
      e.stageInfos.foreach(s => stageFile(s.stageId) = file)
      jobStart(e.jobId) = (e.time, e.stageInfos.headOption.map(_.name).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, site) =>
        spans.add(s"job ${e.jobId}: $site", t.toDouble, e.time.toDouble)
      }
      jobStages.remove(e.jobId).foreach { ids =>
        add("spark.stages_skipped", ids.count(id => !submitted(id)).toDouble)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      submitted += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val info = e.taskInfo
      add("spark.tasks", 1)
      if (!info.successful) add("spark.failed_tasks", 1)
      tasks += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        val durMs = (info.finishTime - info.launchTime).toDouble
        add("spark.task_s", durMs / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // the web UI's scheduler delay: task wall minus everything the
        // executor accounts for
        val fetchingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        add("spark.sched_wait_s", math.max(0L, info.finishTime - info.launchTime -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetchingResult) / 1e3)
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        add("callsite." + stageFile.getOrElse(e.stageId, "other") + ".task_s", durMs / 1e3)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized(executionFile(s.executionId) = sourceFile(s.details))
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Trace.this.synchronized(add("spark.aqe_updates", 1))
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      add("spark.actions", 1)
      add("spark.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Trace.this.synchronized(add("streaming.queries", 1))
    override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("streaming.triggers", 1)
      if (p.numInputRows == 0) add("streaming.empty_triggers", 1)
      add("streaming.trigger_s", ms("triggerExecution"))
      add("streaming.plan_s", ms("queryPlanning"))
      add("streaming.add_batch_s", ms("addBatch"))
      add("streaming.commit_s", ms("walCommit") + ms("commitOffsets"))
      stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Everything posted so far has been delivered. */
  def drain(): Unit = BenchAccess.drain(spark.sparkContext)

  /** Start of an operation: forget what set-up or the previous
    * operation left in the buffers. */
  def begin(): Unit = {
    drain()
    synchronized { c.clear(); tasks.clear(); jobTimes.clear(); stateRows.clear(); peakExecMem = 0L }
  }

  /** Jobs of the current operation that started before `t` (epoch ms);
    * valid after `end`. */
  def jobsStartedBefore(t: Double): Int = synchronized(jobTimes.count(_ <= t))

  /** End of an operation that ran over [startMs, endMs] (epoch ms):
    * returns this operation's counters and clears them. */
  def end(startMs: Double, endMs: Double): Map[String, Double] = {
    drain()
    synchronized {
      val wall = math.max(endMs - startMs, 1e-3)
      // union of task intervals inside the operation: the rest of its
      // wall is time with no task running on any core
      val busy = tasks.map { case (s, e) => (math.max(s.toDouble, startMs), math.min(e.toDouble, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0.0; var reach = startMs
      busy.foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
      val taskMs = tasks.map { case (s, e) => (e - s).toDouble }.sum
      val out = sparkCounters.map(_ -> 0.0).toMap ++ c.toMap ++ Map(
        "spark.no_task_s" -> (wall - covered) / 1e3,
        "spark.core_busy_frac" -> taskMs / (cores * wall),
        "spark.peak_exec_mem_mb" -> peakExecMem / 1048576.0,
        "streaming.state_rows" -> stateRows.values.sum.toDouble)
      c.clear(); tasks.clear(); stateRows.clear(); peakExecMem = 0L
      out
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
