package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Mirrors the role of the reference's session bootstrap (reference
  * src/alertas/base.py:8-16 + alertas.sh:15-26) re-tuned for Spark 4:
  *   - AQE on (runtime shuffle coalescing + skew-join splitting replace
  *     the reference's hand-set parallelism / skew workarounds)
  *   - shuffle partitions sized to the local core count (the reference
  *     hardcoded 100 for its 75-core cluster; at 100 TB this would be
  *     set ~2-3x total cores and AQE coalesces down)
  *   - UTC session timezone so date/timestamp semantics are stable
  *     across engines (oracle comparisons, cluster nodes)
  *   - nanosAsLong so TIMESTAMP(NANOS) parquet (events.ts) is readable;
  *     Tables.load rebuilds a proper timestamp column.
  *   - state stores at `EventStream.StatePartitions`, apart from the
  *     shuffle width: streaming state tracks state size, not cores.
  *
  * Scale override: `--conf spark.sql.shuffle.partitions=n` (or
  * `-Dspark.sql.shuffle.partitions=n`) replaces the per-core width.
  */
object GraftSession {
  /** `hive = true` mirrors the reference's Hive-enabled bootstrap
    * (base.py:10-14): persistent metastore catalog for the entity
    * tables. Default off — the library itself is catalog-agnostic and
    * tests run against the in-memory catalog. Only honored by the
    * first session built in a JVM (catalog choice is a static conf). */
  def build(appName: String, cores: Int, hive: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      // library SQL surface: slugify / cosine_sim as native functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // one shuffle partition per core unless Spark's conf names a
      // width (a builder option would override it); AQE coalesces down
      .config("spark.sql.shuffle.partitions",
        new SparkConf().get("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // deliberate scale choice (not left to version defaults): inject
      // a bloom filter built from the small side of a shuffle join to
      // prune the probe side's scan/shuffle — the runtime complement
      // to static predicate pushdown for selective joins on big facts
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark copies the shuffle width into this key at query start
      // only when it is unset; set, it sizes every state store alone
      .config("spark.sql.streaming.internal.stateStore.partitions",
        graft.streaming.EventStream.StatePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    val spark = (if (hive) builder.enableHiveSupport() else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // UDAFs can't ride the SparkSessionExtensions function injector
    // (it takes expression builders), so the centroid aggregate is
    // registered per-session here; idempotent under getOrCreate reuse
    graft.functions.Centroid.register(spark)
    spark
  }

  /** Core count from the env the driver exports, default 32 (= local[32]). */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
