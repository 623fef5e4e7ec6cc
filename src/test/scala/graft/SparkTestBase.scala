package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs; one JVM-wide session (getOrCreate)
  * so the suite doesn't pay a session bootstrap per spec class. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.build("graft-test", 4)
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `dir` as the context's checkpoint dir, so every
    * [[graft.operators.GraftCheckpoint]] barrier inside it is reliable;
    * the dir is cleared afterwards, and later specs get local barriers
    * again. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.sparkContext.setCheckpointDir(dir)
    try body finally spark.sparkContext.setCheckpointDir(null)
  }
}
