package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

/** Session-scoped memo of trained or materialized artifacts — the
  * in-session analog of "build once per corpus snapshot, read many
  * times" ([[graft.operators.Dedup.componentsOf]],
  * [[graft.operators.Similarity.cellsOf]] and `refinedCellsOf`,
  * [[graft.operators.Similarity.pqOf]]).
  *
  * Lifecycle: the memoized value is typically an eager
  * [[graft.operators.GraftCheckpoint.barrier]] (plan truncated to a
  * block scan), whose blocks die with the SparkContext that wrote
  * them. Callers therefore start every key with the context's
  * `applicationId`: a restarted context recomputes instead of
  * scanning dead blocks
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, seen when one test suite stops
  * the session and a later one rebuilds it), and the few dead entries
  * a restart strands hold only unreachable plans.
  * `spark.catalog.clearCache()` does not drop entries (RDD blocks,
  * not catalog cache), so per-query cache hygiene does not defeat the
  * sharing; [[clear]] does, and the ContextCleaner reclaims the blocks
  * once the frames are unreferenced.
  *
  * Concurrency: the map holds a lazy holder per key, published with
  * `putIfAbsent` and evaluated OUTSIDE the map, so no map lock is held
  * while the (Spark-job) evaluation runs. Concurrent callers of one key
  * share one evaluation; other keys never wait on it, and an evaluation
  * may look up other keys of the same memo (`computeIfAbsent` would
  * block the whole bin and throw "Recursive update" on such a nested
  * call). An evaluation that throws removes its holder, so the next
  * call evaluates again. */
final class Memo[K, V] {
  private final class Holder(compute: => V) { lazy val result = Try(compute) }

  private val holders = new ConcurrentHashMap[K, Holder]()

  def apply(key: K)(compute: => V): V = {
    val mine = new Holder(compute)
    val held = Option(holders.putIfAbsent(key, mine)).getOrElse(mine)
    held.result.failed.foreach(_ => holders.remove(key, held))
    held.result.get
  }

  def remove(key: K): Unit = holders.remove(key)

  def clear(): Unit = holders.clear()
}
