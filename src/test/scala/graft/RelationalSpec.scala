package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational
import scala.jdk.CollectionConverters._

class RelationalSpec extends SparkTestBase {

  test("maxPerGroupJoinBack keeps ALL tied rows (reference J7 semantics)") {
    import spark.implicits._
    val df = Seq(("a", 1, "x"), ("a", 3, "y"), ("a", 3, "z"), ("b", 2, "w"))
      .toDF("k", "v", "payload")
    val out = Relational.maxPerGroupJoinBack(df, "k", "v")
      .select("k", "v", "payload").as[(String, Int, String)].collect().toSet
    assert(out == Set(("a", 3, "y"), ("a", 3, "z"), ("b", 2, "w")))
  }

  test("latestPerGroup breaks ties deterministically, one row per group") {
    import spark.implicits._
    val df = Seq(("a", 3, "y"), ("a", 3, "z"), ("a", 1, "x"), ("b", 2, "w"))
      .toDF("k", "v", "payload")
    val out = Relational.latestPerGroup(df, Seq("k"),
        Seq(col("v").desc, col("payload").asc))
      .select("k", "v", "payload").as[(String, Int, String)].collect().toSet
    assert(out == Set(("a", 3, "y"), ("b", 2, "w")))
  }

  test("unpivot emits one row per (id, measure) pair") {
    import spark.implicits._
    val df = Seq((1, 10.0, 20.0), (2, 30.0, 40.0)).toDF("id", "m1", "m2")
    val out = Relational.unpivot(df, Seq("id"), Seq("one" -> "m1", "two" -> "m2"))
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set((1, "one", 10.0), (1, "two", 20.0),
      (2, "one", 30.0), (2, "two", 40.0)))
  }

  test("asofJoin attaches latest right row at or before left ts") {
    import spark.implicits._
    val left = Seq((1L, "u1", 100L), (2L, "u1", 250L), (3L, "u2", 50L))
      .toDF("event_id", "key", "t")
    val right = Seq(("u1", 100L, "a"), ("u1", 200L, "b"), ("u2", 300L, "c"))
      .toDF("key", "t", "payload")
    val out = Relational.asofJoin(left, right, "key", "t", Seq("payload"))
      .select("event_id", "r_payload").as[(Long, Option[String])]
      .collect().toMap
    assert(out(1L).contains("a"))  // tie: right at same ts is inclusive
    assert(out(2L).contains("b"))  // latest of the two earlier rights
    assert(out(3L).isEmpty)        // no right row at or before → null
  }

  test("asofJoin plans exactly one shuffle, even under heavy key skew") {
    import spark.implicits._
    // 2 hot keys over 2000 left rows: the union+window carry is ONE
    // hash shuffle on the key regardless of skew — a range-join
    // formulation would instead blow up candidates per hot key. This
    // pins the plan shape so a refactor can't silently reintroduce a
    // join (q91_asof_skew carries the cross-engine oracle).
    val left = (1 to 2000).map(i => (i.toLong, i % 2, i.toLong * 3))
      .toDF("event_id", "k", "t")
    val right = (1 to 500).map(i => (i % 2, i.toLong * 7, s"p$i"))
      .toDF("k", "t", "payload")
    val joined = Relational.asofJoin(left, right, "k", "t", Seq("payload"))
    // string-match the tree: AQE wraps the plan, so a node collect on
    // executedPlan would not descend into the adaptive subtree
    val planStr = joined.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(planStr).size
    assert(shuffles == 1, s"expected 1 shuffle:\n$planStr")
    assert(!planStr.contains("Join"), s"asofJoin must not plan a join:\n$planStr")
  }

  test("sessionize: gap starts a new session, within-gap rows share one") {
    import spark.implicits._
    val df = Seq(
      ("u1", "2024-01-01 00:00:00", 1L),
      ("u1", "2024-01-01 00:10:00", 2L), // within 30 min → session 1
      ("u1", "2024-01-01 01:00:00", 3L), // 50 min gap → session 2
      ("u2", "2024-01-01 00:00:00", 4L)) // separate key → own session 1
      .toDF("uid", "ts_s", "eid")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = Relational.sessionize(df, "uid", "ts", 1800L, Seq("eid"))
      .select("eid", "session_seq").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 1))
  }

  test("sessionize gap compare is microsecond-exact across a second edge") {
    import spark.implicits._
    // gap of exactly 2.000001s vs 1.999999s around a 2s threshold: a
    // second-truncating diff would classify both as equal
    val df = Seq(
      ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:00.500"), 1L),
      ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:02.499"), 2L), // 1.999s → same
      ("u", java.sql.Timestamp.valueOf("2024-01-01 00:00:04.500"), 3L)) // 2.001s → new
      .toDF("uid", "ts", "eid")
    val out = Relational.sessionize(df, "uid", "ts", 2L, Seq("eid"))
      .select("eid", "session_seq").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("scd2 collapses no-change rows and chains effective ranges") {
    import spark.implicits._
    val df = Seq(
      (1, "2024-01-01", 10, "A"),
      (1, "2024-02-01", 11, "A"), // no change → collapsed
      (1, "2024-03-01", 12, "B"), // change → new version
      (1, "2024-04-01", 13, "B"), // no change → collapsed
      (2, "2024-01-15", 20, "X"))
      .toDF("k", "d_s", "seq", "status")
      .withColumn("d", col("d_s").cast("date"))
    val out = Relational.scd2(df, "k", "d", Seq("status"), Seq("seq"))
      .select("k", "status", "valid_from", "valid_to", "is_current")
      .as[(Int, String, java.sql.Date, Option[java.sql.Date], Boolean)]
      .collect().toSet
    def d(s: String) = java.sql.Date.valueOf(s)
    assert(out == Set(
      (1, "A", d("2024-01-01"), Some(d("2024-03-01")), false),
      (1, "B", d("2024-03-01"), None, true),
      (2, "X", d("2024-01-15"), None, true)))
  }

  test("scd2 treats consecutive NULL attributes as unchanged") {
    import spark.implicits._
    val df = Seq(
      (1, "2024-01-01", 1, Some("A")),
      (1, "2024-02-01", 2, None), // A → NULL: change
      (1, "2024-03-01", 3, None)) // NULL → NULL: no change
      .toDF("k", "d_s", "seq", "status")
      .withColumn("d", col("d_s").cast("date"))
    val out = Relational.scd2(df, "k", "d", Seq("status"), Seq("seq"))
    assert(out.count() == 2)
  }

  test("latestPerGroup plans map-side WindowGroupLimit before the shuffle") {
    // Spark's rank-limit pushdown must keep firing on this pattern: each
    // input partition pre-prunes to rank<=1 BEFORE the exchange, so the
    // shuffle carries ~one row per (group x input partition), not the
    // full table — the property that makes window top-k viable at 100 TB
    val df = Relational.latestPerGroup(
      graft.core.Tables.load(spark, sfDir, "orders"), Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").asc))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val hits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(hits >= 2, s"expected partial+final WindowGroupLimit, got $hits:\n$plan")
  }

  test("snapshotDiff classifies insert/update/delete; drops unchanged") {
    import spark.implicits._
    val oldSnap = Seq(
      (1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0), (4, null.asInstanceOf[String], 40.0))
      .toDF("k", "status", "amt")
    val newSnap = Seq(
      (1, "A", 10.0),   // unchanged → dropped
      (2, "B2", 20.0),  // update (attr change)
      (4, "D", 40.0),   // update (NULL → value)
      (5, "E", 50.0))   // insert; 3 deleted
      .toDF("k", "status", "amt")
    val out = Relational.snapshotDiff(oldSnap, newSnap, "k", Seq("status", "amt"))
      .select("k", "change_type", "status")
      .as[(Int, String, String)].collect().toSet
    assert(out == Set(
      (2, "update", "B2"),
      (3, "delete", "C"),   // delete carries the OLD attributes
      (4, "update", "D"),
      (5, "insert", "E")))
  }

  test("intervalJoin equals the naive overlap predicate, each pair once") {
    import spark.implicits._
    // intervals spanning 0-3 bins at width 10, incl. exact boundary
    // touches, containment, identical intervals, and a reversed
    // (invalid) interval that must vanish
    val a = Seq((1L, 0L, 5L), (2L, 8L, 31L), (3L, 15L, 15L), (4L, 40L, 35L))
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 5L, 9L), (11L, 30L, 50L), (12L, 15L, 15L), (13L, 0L, 100L))
      .toDF("b_id", "b_s", "b_e")
    val got = graft.operators.Relational
      .intervalJoin(a, "a_s", "a_e", b, "b_s", "b_e", binWidth = 10L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    val want = (for {
      (ai, as_, ae) <- Seq((1L, 0L, 5L), (2L, 8L, 31L), (3L, 15L, 15L))
      (bi, bs, be) <- Seq((10L, 5L, 9L), (11L, 30L, 50L), (12L, 15L, 15L), (13L, 0L, 100L))
      if as_ <= be && bs <= ae
    } yield (ai, bi)).sorted
    assert(got == want)
    // the multi-bin pair (2, 13) shares bins 0..3 yet appears once
    assert(got.count(_ == (2L, 13L)) == 1)
  }

  test("intervalJoin never plans a cartesian product") {
    import spark.implicits._
    val a = (0L until 200L).map(i => (i, i * 7L, i * 7L + 20L))
      .toDF("a_id", "a_s", "a_e")
    val b = (0L until 200L).map(i => (i, i * 11L, i * 11L + 15L))
      .toDF("b_id", "b_s", "b_e")
    val df = graft.operators.Relational
      .intervalJoin(a, "a_s", "a_e", b, "b_s", "b_e", binWidth = 16L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"interval join fell back to an all-pairs plan:\n$plan")
  }

  test("every registered query runs on sf0.001 and keeps its column names") {
    // and leaves no stream running and no non-daemon thread behind:
    // either would keep a main's JVM alive after its last line. The
    // baseline is taken after the first query, once Spark's own
    // threads are up; a thread gets 5 s to finish ending
    def nonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    var baseline = Option.empty[Set[Thread]]
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, s"$name produced no columns")
      df.count() // force execution end-to-end
      assert(spark.streams.active.isEmpty,
        s"$name left streams running: ${spark.streams.active.map(_.name).mkString(", ")}")
      val base = baseline.getOrElse(nonDaemon())
      baseline = Some(base)
      (nonDaemon() -- base).foreach(_.join(5000))
      val left = nonDaemon() -- base
      assert(left.isEmpty, s"$name left non-daemon threads: ${left.map(_.getName).mkString(", ")}")
    }
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("globalRowNumber == the window form, without its single-partition stage") {
    import spark.implicits._
    import graft.operators.Relational
    val df = (1 to 500).map(i => ((i * 7919) % 1000).toLong -> i.toLong)
      .toDF("k", "id")
    val got = Relational.globalRowNumber(df.repartition(11), Seq("k", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(got == want)
    // partition-invariance of the assigned ranks
    val again = Relational.globalRowNumber(df.repartition(3), Seq("k", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == want)
    // and the point of the operator: the window form plans a
    // SinglePartition exchange (all rows through one task); the
    // range-partition + offset form must not
    val plan = Relational.globalRowNumber(df, Seq("k", "id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global rank went through one partition:\n$plan")
  }

  test("funnel: strict ordering, earliest-anchor window, greedy steps") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      // u1 converts fully in order: A(10) B(20) C(30)
      (1L, "A", t(10)), (1L, "B", t(20)), (1L, "C", t(30)),
      // u2: B BEFORE its A — strict ordering must reject step B
      (2L, "B", t(5)), (2L, "A", t(10)),
      // u3: B inside the window, C outside it (window = 100s from A)
      (3L, "A", t(0)), (3L, "B", t(50)), (3L, "C", t(200)),
      // u4: B ties A's timestamp exactly — strictly-after rejects it
      (4L, "A", t(10)), (4L, "B", t(10)),
      // u5: two A's; the EARLIEST anchors the window, so B(90) is in
      // (90 <= 0+100) even though the later A(80) is closer
      (5L, "A", t(0)), (5L, "A", t(80)), (5L, "B", t(90)), (5L, "C", t(95))
    ).toDF("u", "t", "ts")
    val got = Relational.funnel(ev, "u", "t", "ts", Seq("A", "B", "C"),
        Some(100L * 1000000L))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // step0: u1..u5 all have an A; step1: u1, u3, u5; step2: u1, u5
    assert(got == Map(0 -> 5L, 1 -> 3L, 2 -> 2L), s"$got")
  }

  test("funnelSliding: a later anchor converts where the fixed " +
      "earliest anchor expires") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val W = 100L * 1000000L
    val ev = Seq(
      // the contract-note example: A@0's window expires before B@160,
      // but A@150 -> B@160 converts; fixed-anchor counts u1 at step 0
      // only, sliding counts it at step 1
      (1L, "A", t(0)), (1L, "A", t(150)), (1L, "B", t(160)),
      // u2: full conversion from the first anchor — both agree
      (2L, "A", t(10)), (2L, "B", t(20)), (2L, "C", t(30)),
      // u3: NO anchor works (each B precedes its nearest A)
      (3L, "B", t(5)), (3L, "A", t(10)),
      // u4: only the SECOND anchor reaches C (A@0: B@90 ok, C@130
      // out of window; A@80: B@90, C@130 both inside)
      (4L, "A", t(0)), (4L, "A", t(80)), (4L, "B", t(90)), (4L, "C", t(130))
    ).toDF("u", "t", "ts")
    val sliding = Relational.funnelSliding(ev, "u", "t", "ts",
        Seq("A", "B", "C"), W)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(sliding == Map(0 -> 4L, 1 -> 3L, 2 -> 2L), s"$sliding")
    // the fixed-anchor form under-counts exactly u1@step1 and u4@step2
    val fixed = Relational.funnel(ev, "u", "t", "ts",
        Seq("A", "B", "C"), Some(W))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(fixed == Map(0 -> 4L, 1 -> 2L, 2 -> 1L), s"$fixed")
  }

  test("funnelSliding: the linear frontier scan equals the per-anchor " +
      "join-chain reference on randomized event sets (incl. ties and " +
      "repeated step types)") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // small timestamp range FORCES equal-timestamp collisions, the
    // strictness edge the two formulations could plausibly disagree on
    for (seed <- Seq(7, 41, 1999)) {
      val rnd = new scala.util.Random(seed)
      val types = Array("A", "B", "C", "X") // X = noise type
      val ev = Seq.fill(400)((rnd.nextInt(25).toLong,
          types(rnd.nextInt(types.length)),
          t(rnd.nextInt(120).toLong)))
        .toDF("u", "t", "ts")
      for ((steps, w) <- Seq(
          (Seq("A", "B", "C"), 30L * 1000000L),
          (Seq("A", "B", "C"), 5L * 1000000L),
          (Seq("A", "B", "A"), 20L * 1000000L), // repeated step type
          (Seq("A", "B", "C", "A", "B", "C"), 60L * 1000000L))) {
        val scan = Relational.funnelSliding(ev, "u", "t", "ts", steps, w)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
          .toSet
        val joins = Relational.funnelSlidingJoins(ev, "u", "t", "ts", steps, w)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
          .toSet
        assert(scan == joins,
          s"seed=$seed steps=$steps w=$w: scan=$scan joins=$joins")
      }
    }
  }

  test("frontier scan: resident state is O(live-window anchors), not " +
      "O(user events) — planted 10⁶-event mega-user") {
    val steps = Array("A", "B", "C")
    val w = 1000L // micros
    // regime 1: anchors sparser than the window — frontier never
    // holds more than the single live chain
    val sparse = new Relational.FrontierScanState(steps, w)
    var m = 0L
    var i = 0
    while (i < 1000000) {
      sparse.observeBatch(m, Seq(steps(i % 3)))
      m += 2000L // every event opens outside the previous window
      i += 1
    }
    assert(sparse.peakLive <= 4,
      s"sparse mega-user peak ${sparse.peakLive}")
    // regime 2: one anchor per microsecond — the window itself holds
    // 1000 anchors; peak must track the WINDOW density (≈ w × levels),
    // never the 10⁶ event count
    val dense = new Relational.FrontierScanState(steps, w)
    m = 0L
    i = 0
    while (i < 1000000) {
      dense.observeBatch(m, Seq("A"))
      m += 1L
      i += 1
    }
    assert(dense.peakLive <= 1100,
      s"dense mega-user peak ${dense.peakLive} (events: 1000000)")
    assert(dense.result == 0)
    // regime 3: anchor+extension mix at window density — states climb
    // levels but expire; the bound is levels × window, not events
    val mixed = new Relational.FrontierScanState(steps, w)
    val cycle = Array("A", "B", "C")
    m = 0L
    i = 0
    while (i < 300000) {
      mixed.observeBatch(m, Seq(cycle(i % 3)))
      m += 7L
      i += 1
    }
    assert(mixed.result == 2, s"${mixed.result}")
    assert(mixed.peakLive <= 3 * 1100,
      s"mixed mega-user peak ${mixed.peakLive}")
  }

  test("funnelSliding end-to-end with a mega-user sharing the corpus") {
    import spark.implicits._
    // one user with 60k funnel events in a tight loop plus two normal
    // users; the sorted-iterator path must stream the mega-user and
    // still count everyone exactly once
    def t(us: Long) = new java.sql.Timestamp(us / 1000L) // ms precision ok here
    val cycle = Array("A", "B", "C")
    val mega = (0 until 60000).map(i =>
      (99L, cycle(i % 3), t(i * 7000L)))
    val normal = Seq(
      (1L, "A", t(0L)), (1L, "B", t(1000000L)), (1L, "C", t(2000000L)),
      (2L, "A", t(0L)))
    val ev = (mega ++ normal).toDF("u", "t", "ts")
    val got = Relational.funnelSliding(ev, "u", "t", "ts",
        Seq("A", "B", "C"), 100L * 1000000L)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // all three users anchor; mega and u1 convert through C
    assert(got == Map(0 -> 3L, 1 -> 2L, 2 -> 2L), s"$got")
  }
}
