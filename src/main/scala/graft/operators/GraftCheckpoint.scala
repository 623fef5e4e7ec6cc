package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftext.DatasetFactory

/** Every lineage barrier in graft. The mode comes from the
  * SparkContext, not from the caller: when a checkpoint dir is set
  * (`--conf spark.checkpoint.dir=…` or `sc.setCheckpointDir`), every
  * barrier is a reliable `checkpoint()` that survives executor loss;
  * otherwise it is a `localCheckpoint()`, whose executor-local blocks
  * are fast but die with their executor. This is the only file that
  * calls either (HonestySpec checks it).
  */
object GraftCheckpoint {

  /** Eagerly materialize `ds` and truncate its lineage, reliably when
    * the context has a checkpoint dir. */
  def barrier[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** Materialize `df` hash-partitioned on `keys` so that DOWNSTREAM
    * keyed operators (joins, aggregates on the same keys) reuse the
    * layout instead of re-exchanging the frame — the "pre-partitioned
    * statics" barrier the iterative operators ([[Graph.pageRank]],
    * [[Graph.hits]], [[graft.operators.Classifier]]'s GD loop) lean on.
    *
    * Why the re-declared layout: `Dataset.localCheckpoint`/`checkpoint`
    * record the physical plan's `outputPartitioning` in the resulting
    * LogicalRDD, but under adaptive execution the captured plan is the
    * `AdaptiveSparkPlanExec` wrapper, whose reported partitioning is
    * `UnknownPartitioning` — so every checkpointed static silently
    * lost its layout on Spark 4 and each iteration re-exchanged it
    * (round-17 finding; plan-asserted by GraphSpec's
    * partitioned-barrier test). The pin therefore materializes
    * `repartition(n, keys)` under AQE — whose coalescing never touches
    * a repartition-by-number shuffle, so the checkpoint holds exactly
    * the `n` hash buckets — and then declares that shuffle's
    * `HashPartitioning` on the checkpoint's LogicalRDD. Consumers see
    * 0 exchanges on the keyed path, and no session conf is touched.
    * Both materializations are [[barrier]]s, so a reliable checkpoint
    * keeps the same one-to-one partition layout and the same pin. */
  def partitionedBarrier(df: DataFrame, keys: Seq[String],
                         pinMin: Int = PinMinPartitions): DataFrame = {
    val spark = df.sparkSession
    // Materialize ONCE under AQE: its coalescing picks a width that
    // tracks the frame's actual bytes (the scale-adaptive sizing
    // rule). Whether to PIN a hash(keys) layout is then a size
    // decision, not a constant:
    //  - a SMALL static (few post-coalesce partitions) is re-exchanged
    //    per iteration essentially for free — the exchange is a few
    //    local blocks — while pinning it would cost an extra
    //    materialization AND freeze downstream zero-exchange stages at
    //    the pinned width (no AQEShuffleRead exists to re-coalesce
    //    them); measured at sf0.1: pinning small statics cost +0.4-1.1s
    //    per iterative query for nothing.
    //  - a LARGE static is exactly the round-9 regime: re-exchanging
    //    it every round is iters × |frame| over the wire, so one extra
    //    statics-sized pass to record the layout pays for itself in
    //    the first iteration.
    // A frame that IS already a bare checkpoint (LogicalRDD — e.g.
    // HITS passing its shared edge checkpoint in twice for two
    // layouts) needs no pre-gate materialization: localCheckpoint on
    // it would copy every block just to read the partition count.
    // Below the gate the caller then shares ONE copy instead of
    // paying a redundant copy per requested layout (round 18).
    val bare = df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    val once = if (bare) df else barrier(df)
    val n = math.max(1, once.rdd.getNumPartitions)
    if (n < pinMin) return once
    val shuffle = once.repartition(n, keys.map(col): _*)
    val pinned = barrier(shuffle)
    (shuffle.queryExecution.analyzed, pinned.queryExecution.analyzed) match {
      case (r: RepartitionByExpression, ck: LogicalRDD)
          if ck.rdd.getNumPartitions == n =>
        DatasetFactory.withPartitioning(spark, ck, r.partitioning)
      case _ => pinned
    }
  }

  /** Pin the layout once the AQE-coalesced static spans this many
    * partitions (~4 × advisoryPartitionSizeInBytes ≈ a quarter GB by
    * default — below that an iteration's re-exchange is local-block
    * cheap and pinning is pure overhead; above it the per-iteration
    * exchange grows linearly while the pin stays one pass). */
  private[graft] val PinMinPartitions = 4
}
