package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import graft.streaming.EventStream

/** [[EventStream.drain]] acts like a batch query: it finishes and keeps
  * nothing — no state store loaded after it, and no name shared with a
  * concurrent drain of the same function. */
class DrainSpec extends SparkTestBase {

  /** Ids of the state-store providers loaded in this JVM, read from
    * `StateStore`'s private registry (it has no public accessor). */
  private def loadedProviders(): Set[Any] = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val f = cls.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    val m = f.get(cls.getField("MODULE$").get(null))
      .asInstanceOf[scala.collection.mutable.HashMap[Any, Any]]
    m.synchronized(m.keySet.toSet)
  }

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a drain leaves none of its state stores loaded") {
    val before = loadedProviders()
    val out = EventStream.dedupedCounts(spark, sfDir)
    val left = loadedProviders() -- before
    assert(left.isEmpty, s"providers still loaded after the drain: $left")
    assert(counts(out).values.sum > 0)
  }

  test("four threads draining one function on one session get the " +
      "single-thread result and leave one view, no active query") {
    val single = counts(EventStream.dedupedCounts(spark, sfDir))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map(_ => pool.submit(new Callable[Map[String, Long]] {
        def call(): Map[String, Long] =
          counts(EventStream.dedupedCounts(spark, sfDir))
      }))
      runs.foreach(r => assert(r.get(5, TimeUnit.MINUTES) == single))
    } finally pool.shutdown()
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_dedup_"))
    assert(views.length <= 1, views.map(_.name).mkString(", "))
    assert(spark.streams.active.isEmpty)
  }
}
