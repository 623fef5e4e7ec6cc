package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming over the `events` table (an engine extension —
  * the reference is batch-only, SURVEY.md §2.9).
  *
  * Patterns covered:
  *  - file-source `readStream` with explicit schema (streaming sources
  *    cannot infer), watermarking on the event time
  *  - hourly tumbling-window aggregation (`window()` + groupBy) — the
  *    scale path for streaming rollups: state is bounded by watermark,
  *    partial aggregation happens map-side exactly as in batch
  *  - `flatMapGroupsWithState` sessionization — custom per-key state
  *    with processing-time-independent logic
  *
  * `Trigger.AvailableNow` drains the source then stops, which makes
  * the streaming path runnable (and oracle-checkable against a batch
  * GROUP BY) inside the batch Verify harness.
  */
object EventStream {

  /** Run `writer` as one AvailableNow drain — every stream in graft
    * does — like a batch query: start it, wait for it, unload its state
    * stores and return the finished query. Generic in the row type, so
    * typed Datasets drain as they are.
    *
    * It starts with `spark.sql.shuffle.partitions` = [[StatePartitions]]
    * (the stream clones the session conf at `start`, so the conf is
    * set around `start` only). Stateful operators pin their store count
    * from it at query start (captured into the checkpoint's offset
    * metadata — AQE never coalesces state stores or streaming
    * shuffles), so it tracks STATE SIZE, not core count; resuming
    * checkpoints keep their recorded width. At the session default
    * (one per core) every micro-batch committed one store file per core
    * per stateful operator. A foreachBatch drain's batch function runs
    * its shuffles at the same width. */
  def drain[T](spark: SparkSession)(writer: DataStreamWriter[T]): StreamingQuery = {
    writer.trigger(Trigger.AvailableNow())
    // `start` only clones the conf and launches the query thread, so
    // no Spark job runs under the lock; it keeps concurrent starts
    // from interleaving their set/restore pairs
    val q = startLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, StatePartitions.toString)
      try writer.start() finally spark.conf.set(key, old)
    }
    q.awaitTermination()
    unloadStateStores(q.runId)
    q
  }

  /** Unload, after a last maintenance pass, the state-store providers
    * of the finished run `runId`: Spark unloads them only from its 60 s
    * maintenance task, so each drain's state stayed on the heap until
    * then. Only `StateStore`'s private `loadedProviders` lists them.
    * `spark.sql.streaming.stateStore.unloadOnCommit` is no substitute:
    * its stores are never reported active, so a maintenance task
    * started by any other query closes them under a running drain. */
  private def unloadStateStores(runId: java.util.UUID): Unit = {
    val field = StateStore.getClass.getDeclaredField("loadedProviders")
    field.setAccessible(true)
    val loaded = field.get(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, _]]
    loaded.synchronized(loaded.keys.filter(_.queryRunId == runId).toList)
      .foreach(StateStore.doMaintenanceAndUnload)
  }

  private object startLock

  /** State-store partition count for the drains. 8 tracks the tiny
    * test-SF state; unlike shuffle partitions it CANNOT be
    * AQE-coalesced after the fact (state stores pin their
    * partitioning at first checkpoint), so at 100 TB it is sized to
    * state volume up front (see SCALE.md "Streaming state"). */
  val StatePartitions = 8

  private val drainSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Last drain view per prefix (see [[drainToMemory]]). */
  private val lastDrain =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** [[drain]] `ds` into a memory sink and return the drained table.
    *
    * Each drain's query (and so its temp view) is named
    * `<prefix>_<n>`, unique in the JVM: Spark refuses a second active
    * query under one name, so two threads draining one function on one
    * session, or a registry walk repeating a drain while the prior
    * one's teardown is in flight, would otherwise collide. When a newer
    * same-prefix drain finishes, the older view is dropped, so repeated
    * drains do not pin one result copy each; a caller still holding the
    * older DataFrame keeps it, its plan already resolved to the
    * in-memory relation. The result resolves BEFORE its name is
    * published in `lastDrain`, the only place a later drain can drop it
    * from — so a sibling's `dropTempView` cannot land between this
    * drain's end and its table lookup. */
  def drainToMemory[T](ds: Dataset[T], prefix: String,
                       mode: OutputMode = OutputMode.Append()): DataFrame = {
    val spark = ds.sparkSession
    val name = s"${prefix}_${drainSeq.incrementAndGet()}"
    drain(spark)(ds.writeStream.format("memory").queryName(name)
      .outputMode(mode))
    val drained = spark.table(name)
    val old = lastDrain.put(prefix, name)
    if (old != null) spark.catalog.dropTempView(old)
    drained
  }

  /** Streaming source with the event-time column normalized to
    * TimestampType (watermarks and `window()` require it), handling
    * both on-disk encodings — see core/Tables.load. The file source
    * requires a directory or glob, so address the single parquet file
    * via a glob with the table dir as basePath. */
  def source(spark: SparkSession, dir: String,
             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // raw parquet schema: ts arrives as a nano-long (nanosAsLong) or
    // as TIMESTAMP_NTZ from micros-encoded testdata
    val raw = spark.read.parquet(s"$dir/events.parquet").schema
    val reader = spark.readStream
      .schema(raw)
      .option("basePath", dir)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n))
    val base = reader.parquet(s"$dir/events.parque*")
    raw("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        base.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => base
    }
  }

  /** Hourly tumbling-window counts per event type, drained to a memory
    * sink. Complete output mode so every window is emitted on drain. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = source(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("total"))
    drainToMemory(agg, "graft_stream_hourly", OutputMode.Complete())
  }

  /** Stream-static enrichment: the streaming micro-batches probe the
    * static dimension as an ordinary broadcast join per batch — the
    * canonical pattern for dimension lookups in a 100 TB streaming
    * ingest (no state store involved; stateless append mode). */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = source(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    drainToMemory(agg, "graft_stream_enriched", OutputMode.Complete())
  }

  /** Streaming idempotency-key dedup: `dropDuplicatesWithinWatermark`
    * on (user_id, event_type, value) — the retry-duplicate key — keeps
    * dedup state only until the event-time watermark expires it, which
    * is the scale-safe form of streaming dedup (unbounded-state
    * `dropDuplicates` would grow with the corpus). Survivors drain
    * append-mode to the sink; unique counts fold per type in batch. */
  def dedupedCounts(spark: SparkSession, dir: String): DataFrame = {
    val unique = source(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")
      .select(col("user_id"), col("event_type"), col("value"))
    drainToMemory(unique, "graft_stream_dedup").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
  }

  /** Stream-stream interval join: clicks join views by the same user
    * within the preceding 10 minutes. BOTH sides are watermarked and
    * the join carries event-time bounds — that pair is what lets the
    * state store EVICT rows once they can no longer match (an
    * unbounded stream-stream join would buffer both streams forever).
    * State per side is O(events within watermark + interval). */
  def clickViewJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = source(spark, dir).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = source(spark, dir).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val pairs = clicks.join(views,
        col("c_user") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("click_id"), col("view_id"))
    drainToMemory(pairs, "graft_stream_join")
  }

  /** Epoch micros at FULL precision. `getTime` alone carries only
    * milliseconds; the sub-ms residue lives in `getNanos` (nanos
    * within the second). Batch kernels and the DuckDB oracles compare
    * `unix_micros`, so every streaming kernel that feeds the same
    * oracle must use this, not `getTime * 1000`. */
  private[graft] def tsMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  case class FunnelBuf(maxLevel: Int, ms: Seq[Long], ts: Seq[String])
  case class FunnelOut(user_id: Long, max_level: Int)

  /** Streaming sliding-anchor funnel — the continuous form of
    * [[graft.operators.Relational.funnelSliding]], same per-anchor
    * greedy semantics via the SAME shared frontier-scan kernel
    * (`Relational.frontierScan`), maintained per user with
    * flatMapGroupsWithState and emitted as (user, max_level) updates
    * per micro-batch.
    *
    * State is WATERMARK-BOUNDED, not corpus-bounded: the buffer keeps
    * only events with `m ≥ watermark − W`, because a chain's events
    * all lie in [anchor, anchor + W] and a future event is ≥ the
    * watermark — so any chain still extensible has its anchor (hence
    * ALL its events) ≥ watermark − W, and reaches already achieved by
    * older chains are folded into the scalar `maxLevel` before their
    * events are dropped. Out-of-order arrival inside the retention
    * window is handled for free: the kernel re-sorts the buffer each
    * batch, so a late event slots into its true position (the batch
    * path has no such window — drained results match it exactly,
    * which IncrementalAlertsSpec-style assertions in
    * StreamingSinkSpec pin).
    *
    * [[funnelCounts]] drains with AvailableNow and folds the per-user
    * levels to the q154 output shape for the oracle gate. */
  def funnelLevels(spark: SparkSession, dir: String, steps: Seq[String],
                   windowMicros: Long,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val stepsArr = steps.toArray
    val events = source(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .filter(col("event_type").isin(steps.distinct: _*))
      .select(col("user_id"), col("event_type"), col("ts"))
    val levels = events.as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelBuf]) =>
          val prev = state.getOption.getOrElse(FunnelBuf(-1, Nil, Nil))
          // full-precision micros (getTime alone truncates to ms;
          // the batch kernel and the shared q154/q157 oracle compare
          // unix_micros, so sub-ms ties would diverge stream vs batch)
          val fresh = rows.map(r => (tsMicros(r._3), r._2)).toArray
          val all = (prev.ms.zip(prev.ts) ++ fresh).toArray
          val lvl = math.max(prev.maxLevel,
            graft.operators.Relational.frontierScan(all, stepsArr,
              windowMicros))
          // retention cut: watermark − W (micros); 0 watermark = keep all
          val cut = state.getCurrentWatermarkMs() * 1000L - windowMicros
          val kept = all.filter(_._1 >= cut)
          state.update(FunnelBuf(lvl, kept.map(_._1).toSeq,
            kept.map(_._2).toSeq))
          Iterator(FunnelOut(user, lvl))
      }
    drainToMemory(levels, "graft_stream_funnel", OutputMode.Update())
  }

  /** Drained [[funnelLevels]] folded to the batch funnel's output
    * shape (step_idx, step, users) — users at their LAST emitted
    * level; rows only for non-empty steps (the q154 contract, so the
    * two share one oracle). */
  def funnelCounts(spark: SparkSession, dir: String, steps: Seq[String],
                   windowMicros: Long,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val perUser = funnelLevels(spark, dir, steps, windowMicros,
      maxFilesPerTrigger)
      .groupBy(col("user_id"))
      .agg(max(col("max_level")).as("lvl"))
    val hist = perUser.filter(col("lvl") >= 0)
      .groupBy(col("lvl")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = steps.indices.map { i =>
      (i, steps(i), hist.filter(_._1 >= i).values.sum)
    }.filter(_._3 > 0)
    spark.createDataFrame(rows).toDF("step_idx", "step", "users")
  }

  case class SessionState(nEvents: Long, total: Double, lastTsMicros: Long)
  case class SessionOut(user_id: Long, n_events: Long, total: Double)

  /** Per-user running session via flatMapGroupsWithState: emits one
    * summary row per user per drain. Demonstrates custom keyed state;
    * state size is O(#users), partitioned by key across executors. */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = source(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
    val sessions = events.as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
          val (n, tot, maxTs) = rows.foldLeft((prev.nEvents, prev.total, prev.lastTsMicros)) {
            case ((cn, ct, mt), (_, ts, v)) =>
              (cn + 1, ct + v, math.max(mt, tsMicros(ts)))
          }
          state.update(SessionState(n, tot, maxTs))
          // rounded at emission so the result is independent of the
          // (shuffle-order-dependent) fold order of the double sum
          Iterator(SessionOut(user, n,
            BigDecimal(tot).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    drainToMemory(sessions, "graft_stream_sessions", OutputMode.Update())
  }
}
