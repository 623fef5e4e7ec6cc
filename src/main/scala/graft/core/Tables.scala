package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table catalog over the driver-generated parquet test data
  * (TPC-H-ish star schema + documents/embeddings/events; see TESTDATA.md).
  *
  * Mirrors the reference's metastore-scan pattern (reference
  * src/alertas/jobs.py:190,195 `spark.table(...)`) over plain parquet
  * directories: at 100 TB these would be catalog tables with partition
  * pruning; here each table is one parquet file per scale factor.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table. Column pruning + predicate pushdown reach the
    * parquet scan because this is a plain declarative read.
    *
    * `events.ts` has shipped under two parquet encodings across
    * testdata generations, and the loader must keep both working:
    *   - TIMESTAMP(NANOS), which Spark's vectorized reader rejects —
    *     read as nano-since-epoch longs
    *     (`spark.sql.legacy.parquet.nanosAsLong`, set once by
    *     [[GraftSession.build]]) and rebuild a
    *     timestamp, truncating to Spark's native microsecond precision
    *   - TIMESTAMP(MICROS) without UTC adjustment, which Spark reads
    *     as TIMESTAMP_NTZ — cast to the session-zone TimestampType
    *     (value-preserving under the UTC session timezone) so
    *     event-time functions (`unix_micros`, watermarks, `window()`)
    *     that require TimestampType keep analyzing. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }

  /** Register every table as a temp view (reference jobs.py:191,196
    * `createOrReplaceTempView`) so SQL-form queries can run. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
