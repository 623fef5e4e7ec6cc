package graft.tools

import org.apache.spark.sql.functions._

/** Cap tuning law for the three flood-guarded candidate generators
  * (q33 minhash-LSH, q35 simhash, q57 SRP-LSH) — the round-15 verdict
  * ask: sweep `maxBucket` at scale with the recall gates as the
  * quality constraint, and either find a dominating setting or prove
  * the registry setting Pareto-optimal. Wall time + emitted rows per
  * (query, cap); rows are the recall proxy (candidates at cap c are a
  * strict subset of candidates at cap c' > c, so rows@cap / rows@max
  * IS candidate recall relative to the loosest setting measured —
  * the precision side is pinned separately by verification:
  * LshRecallSpec / DedupSpec / SimilarityRecallSpec).
  *
  * Usage: runMain graft.tools.TuneCaps <reps> <dir> [cap1,cap2,...] [q33_minhash,q35_simhash,q57_srp_lsh]
  */
object TuneCaps {
  def main(args: Array[String]): Unit = {
    import graft.operators.{Dedup, Similarity}
    import graft.queries.PipelineQueries._
    val reps = args(0).toInt
    val dir = args(1)
    val caps = (if (args.length > 2) args(2) else "250,1000,4000")
      .split(",").map(_.toInt).toSeq
    val only = (if (args.length > 3) args(3)
      else "q33_minhash,q35_simhash,q57_srp_lsh").split(",").toSet
    println(f"SCALE_CALIB ${graft.Bench.calibrate()}%.3f s")
    val spark = graft.core.GraftSession.build("graft-tune-caps",
      graft.core.GraftSession.envCores)
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val embs = graft.core.Tables.load(spark, dir, "embeddings")
    val cases: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "q33_minhash" -> ((cap: Int) => Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs, "doc_id", "text", MinhashK),
        "doc_id", MinhashK, MinhashBands, cap)),
      "q35_simhash" -> ((cap: Int) => Dedup.simhashPairs(
        Dedup.simhash60(docs, "doc_id", "text"),
        "doc_id", SimhashMaxHamming, cap)),
      "q57_srp_lsh" -> ((cap: Int) => Similarity.lshNearDupAuto(
        embs, "vec_id", "embedding", EmbeddingDim, NearDupMinCos,
        LshTables, targetBucket = 2, minPlanes = LshPlanes,
        maxBucket = cap))).filter { case (n, _) => only(n) }
    // warmup at the smallest cap so no measured cell pays JIT
    cases.foreach { case (_, f) =>
      try f(caps.head).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val cells = for ((name, f) <- cases; cap <- caps) yield {
      var rows = 0L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = f(cap).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"TUNE $dir $name%-14s cap=$cap%-5d min=${times.min}%.2f " +
        f"reps=${times.map(t => f"$t%.2f").mkString(",")} rows=$rows")
      s""""$name|$cap":{"min":${times.min},"rows":$rows}"""
    }
    println(cells.mkString("{", ",", "}"))
    spark.stop()
  }
}
