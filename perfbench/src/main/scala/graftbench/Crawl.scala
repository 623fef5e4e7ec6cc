package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `crawl`: one operation is the composed crawl sweep
  * `tools.CrawlScale.sweep(plain)` over a documents corpus of `Copies`
  * structure-preserving copies of the base corpus, built the way
  * `tools.DataGen` builds its N× documents (copy c shifts doc_id by
  * c * stride and suffixes every word with `_c<c>`). The seed fixes the
  * physical row order and file layout; the default seed writes
  * DataGen's layout. The pack census is order-invariant, so it must
  * equal the committed one for every seed. */
final class Crawl(spark: SparkSession, inputs: String, root: String, seed: Long)
    extends Workload {
  import Crawl._

  private val dir = s"$root/crawl_docs"

  def prepare(): Unit = {
    val base = graft.core.Tables.load(spark, inputs, "documents")
    val stats = base.agg(count(lit(1)), max(col("doc_id"))).first()
    val stride = math.max(1000000L, stats.getLong(1) + 1)
    val all = (0 until Copies).map { c =>
      if (c == 0) base
      else base.select(
        (col("doc_id") + lit(c * stride)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_c$c"))), " ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ union _)
    val nFiles = math.max(32, (Copies * stats.getLong(0) / 50000L).toInt + 1)
    val laid =
      if (seed == DefaultSeed) all.repartition(nFiles)
      else all.repartition(nFiles, xxhash64(col("doc_id"), lit(seed)))
        .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed + 1)))
    laid.write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  lazy val inputBytes: Double = Main.dirBytes(java.nio.file.Paths.get(dir))

  def warmup(): Unit = graft.tools.CrawlScale.sweep(spark, dir, false)

  private var census = Option.empty[(Long, Long, Long)]

  def round(): Seq[Op] = Seq(Op("CrawlScale.sweep", "crawl",
    () => {
      census = None
      val (_, packs, chunks, tokens) = graft.tools.CrawlScale.sweep(spark, dir, false)
      census = Some((packs, chunks, tokens))
    },
    () => census.contains(Census)))

  override def afterOp(): Unit = spark.catalog.clearCache()
}

object Crawl {
  val Copies = 10
  val DefaultSeed = 0L
  /** (packs, chunks, tokens) of the `Copies`-fold corpus. */
  val Census: (Long, Long, Long) = (499L, 2851L, 124705L)
}
