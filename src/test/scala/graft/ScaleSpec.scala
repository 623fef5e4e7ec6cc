package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.core.Tables
import graft.operators.Skew

/** Scale-path invariants: salting preserves semantics, sketches stay
  * within tolerance, bucketed co-located joins eliminate the shuffle. */
class ScaleSpec extends SparkTestBase {

  test("salted join result == plain join result") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val p = Tables.load(spark, sfDir, "part")
    val plain = li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").agg(sum("l_quantity").as("q"))
    val salted = Skew.saltedJoin(li, p, "l_partkey", "p_partkey",
        col("l_orderkey"), 8)
      .groupBy("p_brand").agg(sum("l_quantity").as("q"))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in final plan)") {
    import spark.implicits._
    // one pathological key owning ~all rows: the shape AQE's
    // OptimizeSkewedJoin exists for. Thresholds lowered so the tiny
    // test partition qualifies as skewed; restored after. This is the
    // runtime half of the skew story — Skew.saltedJoin covers the
    // static half when even split partitions overwhelm a task.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 99% of rows on key 0, the remaining 1% spread over keys 1..49
      // ((i/100) % 49 + 1 — never 0, so the spread is really non-skew
      // keys; a bare i % 50 would collapse back onto key 0)
      val fact = (1 to 200000)
        .map(i => (if (i % 100 == 0) (i / 100).toLong % 49 + 1 else 0L, s"payload_$i"))
        .toDF("k", "v")
      val dim = (0L to 50L).map(k => (k, s"dim_$k")).toDF("k", "d")
      val joined = fact.hint("merge").join(dim.hint("merge"), Seq("k"))
      // materialize THIS QueryExecution (count() would build its own),
      // so the inspected plan is AQE's finalized one
      joined.collect()
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("skew=true"),
        s"expected AQE skew-split markers in the final plan:\n$planStr")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffle width: a width in Spark's conf replaces the per-core default") {
    // -Dspark.sql.shuffle.partitions and spark-submit's --conf land in
    // SparkConf; a builder option would override them. getOrCreate
    // re-applies build's runtime options to this session, so the
    // width is restored afterwards
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    try {
      sys.props(key) = "7"
      try assert(graft.core.GraftSession.build("graft-test", 4).conf.get(key) == "7")
      finally sys.props -= key
      assert(graft.core.GraftSession.build("graft-test", 4).conf.get(key) == "4")
    } finally spark.conf.set(key, old)
  }

  test("bloom semi join == exact semi join; probe sits before the join") {
    val o = Tables.load(spark, sfDir, "orders")
    val dim = Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
    val bloomed = Skew.bloomSemiJoin(o, "o_custkey", dim, "c_custkey",
      expectedItems = 10000L, fpp = 0.03)
    val exact = o.join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty)
    // the sketch probe must survive optimization as a fact-side filter
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"bloom probe missing from physical plan:\n$plan")
  }

  test("bloom probe never rejects a true member (planted keys)") {
    import spark.implicits._
    val dim = (1L to 500L).filter(_ % 7 == 0).toDF("k")
    val fact = (1L to 500L).toDF("fk")
    val out = Skew.bloomSemiJoin(fact, "fk", dim, "k", 100L, 0.01)
      .select("fk").as[Long].collect().toSet
    assert(out == (1L to 500L).filter(_ % 7 == 0).toSet)
  }

  test("quality audit: violated constraints fail, satisfied ones pass") {
    import spark.implicits._
    import graft.operators.QualityChecks._
    val df = Seq(
      (1, Some("a"), 10.0), (2, Some("b"), 20.0),
      (2, None, 500.0), (3, Some("z"), 30.0)) // dup key, null, out-of-range, off-set
      .toDF("k", "cat", "amt")
    val out = graft.operators.QualityChecks.audit(df, Seq(
        Complete("cat"),                          // 3/4 -> fail at 1.0
        Unique("k"),                              // 3/4 -> fail at 1.0
        InRange("amt", 0.0, 100.0, 0.7),          // 3/4 -> pass at 0.7
        InSet("cat", Seq("a", "b"), 0.5)))        // 3/4 (null ok, z not) -> pass
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(out == Map(
      "complete(cat)" -> false, "unique(k)" -> false,
      "in_range(amt)" -> true, "in_set(cat)" -> true))
  }

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val r = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx"),
      countDistinct(col("l_orderkey")).as("exact")).head
    val (approx, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("approx_percentile within 2% of the exact interpolated quantile") {
    val o = Tables.load(spark, sfDir, "orders")
    val r = o.agg(
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx"),
      expr("percentile(o_totalprice, 0.5)").as("exact")).head
    val (approx, exact) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02)
  }

  test("stored HLL sketches: batch-merge equals the one-shot estimate exactly") {
    import graft.operators.Sketches
    val ev = Tables.load(spark, sfDir, "events")
    // per-day sketches merged per type must equal the single sketch
    // built over all days at once — DataSketches HLL union is lossless
    // over its own sketches, which is WHY the stored-batch design can
    // answer range queries without rescanning raw history
    val merged = Sketches.hllMergeEstimate(
        Sketches.hllBatchSketches(ev, to_date(col("ts")),
          Seq("event_type"), "user_id"),
        Seq("event_type"))
      .select(col("event_type"), col("approx_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("approx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == oneShot)
    // and the estimate is within the q125 gate vs exact
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.foreach { case (k, a) =>
      assert(math.abs(a.toDouble - exact(k)) / exact(k) < 0.05, k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle in the plan") {
    // fresh physical location every run (stale managed dirs from a
    // previous JVM would fail saveAsTable)
    spark.sql("DROP DATABASE IF EXISTS b_test CASCADE")
    val loc = java.nio.file.Files.createTempDirectory("graft_bucketed")
    spark.sql(s"CREATE DATABASE b_test LOCATION '$loc'")
    Tables.load(spark, sfDir, "lineitem")
      .write.mode("overwrite").format("parquet")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_test.b_lineitem")
    Tables.load(spark, sfDir, "orders")
      .write.mode("overwrite").format("parquet")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_test.b_orders")
    val joined = spark.table("b_test.b_lineitem")
      .join(spark.table("b_test.b_orders"),
        col("l_orderkey") === col("o_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"expected shuffle-free co-located join, found ${shuffles.size} exchanges")
    assert(joined.count() > 0)
  }

  test("cmsSketch: one-sided bound under forced collisions; " +
    "batch matrices merge cell-wise to the whole-corpus matrix") {
    import spark.implicits._
    import graft.operators.Sketches
    val (d, w) = (3, 8) // tiny width FORCES collisions
    val items = (1 to 40).map(i => (s"item$i", (i * 3 + 1).toLong))
    val cnt = items.toDF("item", "n")
    val sk = Sketches.cmsSketch(cnt, "item", "n", d, w)
    val est = Sketches.cmsEstimate(sk, cnt, "item", d, w)
      .join(cnt, Seq("item"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.length == 40)
    est.foreach { case (it, e, n) =>
      assert(e >= n, s"$it: CMS must never underestimate ($e < $n)") }
    // at w=8 with 40 items some bucket MUST collide: at least one
    // estimate strictly over — otherwise the test proves nothing
    assert(est.exists { case (_, e, n) => e > n })
    // mergeability: split every item's count across two batches,
    // sketch each, cell-wise sum == the whole-corpus matrix, and the
    // merged estimates match exactly
    val b1 = items.map { case (it, n) => (it, n / 2) }.toDF("item", "n")
    val b2 = items.map { case (it, n) => (it, n - n / 2) }.toDF("item", "n")
    val merged = Sketches.cmsSketch(b1, "item", "n", d, w)
      .union(Sketches.cmsSketch(b2, "item", "n", d, w))
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
    val mm = merged.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ss = sk.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(mm == ss, "cell-wise summed batch matrices must equal the whole-corpus matrix")
  }
}
