package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Relational

/** Streaming keyed upsert — the foreachBatch MERGE pattern: each
  * micro-batch merges into a managed keyed table, last-writer-wins by
  * an event-time ordering column (NOT arrival order).
  *
  * The merge is `latestPerGroup` over (current ∪ batch), which makes
  * the sink REPLAY-IDEMPOTENT: foreachBatch delivers at-least-once
  * after a checkpoint recovery, and re-merging rows that already won
  * (or already lost) changes nothing — the exactly-once contract is a
  * property of the merge algebra, not of delivery counting. Late rows
  * behind the current winner never regress the table.
  *
  * Writes stage into a `_stage` table then rewrite the target (a
  * table being read cannot be overwritten in the same plan) — the
  * same staging discipline as the harness history merge. At 100 TB
  * the managed-parquet rewrite becomes a MERGE INTO on a
  * transactional table format; the contract tested here (replay
  * idempotency, event-time wins, within-batch dedup) is exactly what
  * that MERGE must preserve, and the sink's surface doesn't change.
  */
object UpsertSink {

  /** Merge one batch into `table`, last-writer-wins by `ord` desc
    * (ties broken by `tieBreak` then arbitrarily-but-deterministically
    * by the key — supply tieBreak if (key, ord) can collide with
    * different payloads). Safe to call repeatedly with the same batch. */
  def upsertBatch(batch: DataFrame, table: String, key: String,
                  ord: String, tieBreak: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val order = col(ord).desc +: tieBreak.map(col(_).desc)
    val merged =
      if (spark.catalog.tableExists(table)) {
        val cur = spark.table(table)
        val all = cur.unionByName(
          batch.select(cur.columns.map(col).toIndexedSeq: _*))
        Relational.latestPerGroup(all, Seq(key), order)
      } else Relational.latestPerGroup(batch, Seq(key), order)
    stagedOverwrite(merged, table)
  }

  /** Overwrite managed parquet `table` with `df`, which may read
    * `table` itself, through a dropped-after `<table>_stage` copy. */
  def stagedOverwrite(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${table}_stage")
    spark.table(s"${table}_stage").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(table)
    spark.sql(s"DROP TABLE ${table}_stage")
  }

  /** Drain a stream into the upsert table ([[EventStream.drain]]:
    * the current backlog, then stop) and return the finished query. */
  def run(stream: DataFrame, table: String, key: String, ord: String,
          checkpoint: String, tieBreak: Seq[String] = Nil): StreamingQuery =
    EventStream.drain(stream.writeStream
      .foreachBatch((b: DataFrame, _: Long) =>
        upsertBatch(b, table, key, ord, tieBreak))
      .option("checkpointLocation", checkpoint))
}
