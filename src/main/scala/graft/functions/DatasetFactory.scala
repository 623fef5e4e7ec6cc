package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** DataFrames over hand-built logical plans. `Dataset.ofRows` is
  * `private[sql]`, so graft reaches it from inside that package. */
object DatasetFactory {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `rdd` re-declared with `partitioning` (the caller vouches that the
    * rows are laid out that way); output, ordering, statistics and
    * constraints are carried over unchanged. */
  def withPartitioning(spark: SparkSession, rdd: LogicalRDD,
                       partitioning: Partitioning): DataFrame =
    ofRows(spark, LogicalRDD(rdd.output, rdd.rdd, partitioning,
      rdd.outputOrdering, rdd.isStreaming, rdd.stream)(
      spark.asInstanceOf[classic.SparkSession], Some(rdd.stats),
      Some(rdd.constraints)))
}
