package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a frame, computed in ONE action that
  * evaluates every column of every row: (rows, low and high 32-bit sums
  * of a per-row xxhash64). Doubles are rounded to 6 decimals (so the
  * last bits of a float sum, which depend on partition order, cannot
  * flip it) and maps are hashed as key-sorted entry arrays. */
object Fingerprint {
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      when(c.isNull, lit(null).cast(structOf(st))).otherwise(
        struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _: NumericType | StringType | BinaryType | BooleanType | DateType |
         TimestampType | TimestampNTZType => c
    case _ => c.cast(StringType)
  }

  /** The normalized type `norm` produces for a struct (for typed nulls). */
  private def structOf(st: StructType): DataType = StructType(st.fields.map { f =>
    f.copy(dataType = f.dataType match {
      case s: StructType => structOf(s)
      case FloatType => DoubleType
      case other => other
    })
  })

  def apply(df: DataFrame): (Long, Long, Long) = {
    val n = df.columns.length
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val h =
      if (n == 0) lit(0L)
      else xxhash64(named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** `registry`: one operation is one registered query, built through
  * `SparkEntry.queries` and fully evaluated by its fingerprint, which
  * must match the committed one. A round is the query panel in an
  * order the seed fixes. */
final class Registry(spark: SparkSession, spans: Spans, trace: Option[Trace],
                     inputs: String, expectedDir: String, seed: Long,
                     only: Option[Seq[String]], record: Option[String]) extends Workload {

  import Registry._

  private val queries = graft.SparkEntry.queries
  private val names: Seq[String] =
    new scala.util.Random(seed).shuffle(only.getOrElse(Panel).sorted)
  private val expected: Map[String, (Long, Long, Long)] = loadExpected(expectedDir)
  private val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
  private var buildS = 0.0
  private var buildEnd = 0.0

  def prepare(): Unit = names.foreach(n => require(queries.contains(n), s"no query $n"))

  lazy val inputBytes: Double = Main.dirBytes(Paths.get(inputs))

  /** Every panel query once: codegen, parquet footers and the queries'
    * memoized fixtures, so the timed rounds measure steady state. */
  def warmup(): Unit = names.foreach { n =>
    try Fingerprint(queries(n)(spark, inputs)) catch { case _: Throwable => () }
    spark.catalog.clearCache()
    Main.stopStreams(spark)
  }

  /** Three rounds at least: each query's latency is the median of its
    * timings, so one slow timing does not move it. */
  override def minRounds: Int = 3

  def round(): Seq[Op] =
    names.map(n => Op(n, familyOf(n), () => runQuery(n), () => expected.get(n) == recorded.get(n)))

  private def runQuery(n: String): Unit = {
    val t0 = System.nanoTime()
    val df = spans("build")(queries(n)(spark, inputs))
    buildS = (System.nanoTime() - t0) / 1e9
    buildEnd = spans.now
    recorded(n) = spans("evaluate")(Fingerprint(df))
  }

  override def opLayers(): Map[String, Double] = Map(
    "queries.build_s" -> buildS,
    "queries.build_jobs" -> trace.map(_.jobsStartedBefore(buildEnd)).getOrElse(0).toDouble)

  override def afterOp(): Unit = spark.catalog.clearCache()

  override def finish(): Unit = record.foreach { path =>
    val lines = recorded.toSeq.sortBy(_._1).map { case (n, (r, lo, hi)) => s"$n\t$r\t$lo\t$hi" }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  override def layers(records: Seq[Record], rounds: Int): Map[String, Double] =
    Families.map { case (fam, _) =>
      s"queries.$fam.run_s" -> records.filter(_.group == fam).map(_.wall).sum / rounds
    }.toMap
}

object Registry {
  /** The query families, one per registry module. */
  val Families: Seq[(String, Map[String, _])] = Seq(
    "relational" -> graft.queries.RelationalQueries.registry,
    "pipeline" -> graft.queries.PipelineQueries.registry,
    "harness" -> graft.queries.HarnessQueries.registry,
    "extension" -> graft.queries.ExtensionQueries.registry,
    "scale" -> graft.queries.ScaleQueries.registry,
    "sqlfeature" -> graft.queries.SqlFeatureQueries.registry)

  def familyOf(n: String): String =
    Families.collectFirst { case (f, reg) if reg.contains(n) => f }.getOrElse("other")

  /** Committed fingerprints: `name rows lo hi`, tab-separated. */
  def loadExpected(dir: String): Map[String, (Long, Long, Long)] = {
    val p = Paths.get(dir, "registry.tsv")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      f(0) -> ((f(1).toLong, f(2).toLong, f(3).toLong))
    }.toMap
  }

  /** The timed panel (see the benchmark's README for how it was drawn). */
  val Panel: Seq[String] = Seq(
    "q99_token_budget", "q143_link_graph", "q62_stream_dedup", "q09_join_semi",
    "q77_sessionize", "q49_salted_join", "q70_active_spine")
}
