package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Durable-sink + watermark semantics for the streaming layer: the
  * memory-sink drains in EventStream are oracle-checked for values;
  * these pin the operational contracts — exactly-once file output
  * under checkpoint resume, and late-data eviction under watermark. */
class StreamingSinkSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Drop a managed table AND its warehouse directory: the in-memory
    * catalog forgets tables between JVMs but the directory survives,
    * and saveAsTable refuses a dangling location. */
  private def dropManaged(names: String*): Unit = names.foreach { name =>
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("streaming funnel drain equals the batch sliding funnel " +
      "(single batch, gate data)") {
    val steps = graft.queries.SqlFeatureQueries.FunnelSteps
    val w = graft.queries.SqlFeatureQueries.FunnelWindowMicros
    val streamed = graft.streaming.EventStream
      .funnelCounts(spark, sfDir, steps, w)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Relational.funnelSliding(
        graft.core.Tables.load(spark, sfDir, "events"),
        "user_id", "event_type", "ts", steps, w)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("streaming funnel: state carries across micro-batches and the " +
      "watermark retention cut loses no conversions") {
    import spark.implicits._
    val steps = Seq("A", "B", "C")
    val w = 2L * 3600 * 1000000L // 2h window, 1h watermark delay
    def t(s: String) = ts(s)
    // file 1 (day 1): u1 converts fully; u2 reaches B only.
    // file 2 (day 5): u3 anchors — its only job is to ADVANCE the
    // watermark past day-1 + W, so batch 3's retention cut genuinely
    // DROPS the day-1 buffer rows (u1's conversion and u2's level-1
    // must survive in the folded scalar).
    // file 3 (day 9): u2's new anchor converts from scratch.
    val f1 = Seq(
      (1L, "A", t("2026-01-01 10:00:00")), (1L, "B", t("2026-01-01 10:20:00")),
      (1L, "C", t("2026-01-01 10:40:00")),
      (2L, "A", t("2026-01-01 11:00:00")), (2L, "B", t("2026-01-01 11:30:00")))
    val f2 = Seq((3L, "A", t("2026-01-05 12:00:00")))
    val f3 = Seq(
      (2L, "A", t("2026-01-09 09:00:00")), (2L, "B", t("2026-01-09 09:10:00")),
      (2L, "C", t("2026-01-09 09:20:00")))
    val dir = tmp("graft_funnel_stream")
    def write(rows: Seq[(Long, String, Timestamp)], part: Int): Unit =
      rows.toDF("user_id", "event_type", "ts")
        .withColumn("event_id", col("user_id") * 100 + part)
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append")
        .parquet(new java.io.File(dir, "events.parquet").toString)
    write(f1, 1)
    Thread.sleep(1100) // distinct mod times order the micro-batches
    write(f2, 2)
    Thread.sleep(1100)
    write(f3, 3)
    val streamed = graft.streaming.EventStream
      .funnelCounts(spark, dir, steps, w, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSet
    val batch = graft.operators.Relational.funnelSliding(
        graft.core.Tables.load(spark, dir, "events"),
        "user_id", "event_type", "ts", steps, w)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSet
    // closed form: step0 = {u1,u2,u3}, step1 = {u1,u2}, step2 = {u1,u2}
    assert(batch == Set((0, 3L), (1, 2L), (2, 2L)), s"batch=$batch")
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("parquet file sink is exactly-once across a checkpoint resume") {
    import spark.implicits._
    val src = tmp("graft_sink_src")
    val out = tmp("graft_sink_out")
    val ckpt = tmp("graft_sink_ckpt")
    val rows = (1 to 100).map(i => (i.toLong, ts(f"2026-01-01 ${i % 24}%02d:00:00")))
    rows.take(50).toDF("id", "ts").coalesce(1).write.mode("append").parquet(src)
    rows.drop(50).toDF("id", "ts").coalesce(1).write.mode("append").parquet(src)

    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 100)
    // resume against the same checkpoint: nothing new -> no duplicates
    drain()
    assert(spark.read.parquet(out).count() == 100)
    // new data after resume is appended exactly once
    Seq((101L, ts("2026-01-01 05:00:00"))).toDF("id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    val ids = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 101L))
  }

  test("upsert sink: replay-idempotent, event-time wins over arrival order") {
    import spark.implicits._
    import graft.streaming.UpsertSink
    dropManaged("upsert_t", "upsert_t_stage")
    val b1 = Seq(
      (1L, ts("2026-01-01 10:00:00"), "v1"),
      (2L, ts("2026-01-01 10:00:00"), "v1"),
      (2L, ts("2026-01-01 11:00:00"), "v2")) // within-batch dup: later wins
      .toDF("k", "ts", "payload")
    UpsertSink.upsertBatch(b1, "upsert_t", "k", "ts")
    def snap() = spark.table("upsert_t").select("k", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap() == Map(1L -> "v1", 2L -> "v2"))
    // replaying the SAME batch changes nothing (at-least-once safe)
    UpsertSink.upsertBatch(b1, "upsert_t", "k", "ts")
    assert(snap() == Map(1L -> "v1", 2L -> "v2"))
    // a LATE arrival (older event time) never regresses the winner;
    // a newer event time replaces it
    val b2 = Seq(
      (2L, ts("2026-01-01 09:00:00"), "stale"),
      (1L, ts("2026-01-01 12:00:00"), "v9"),
      (3L, ts("2026-01-01 08:00:00"), "new"))
      .toDF("k", "ts", "payload")
    UpsertSink.upsertBatch(b2, "upsert_t", "k", "ts")
    assert(snap() == Map(1L -> "v9", 2L -> "v2", 3L -> "new"))
  }

  test("upsert sink end-to-end: streamed backlog equals batch latest-per-key") {
    import spark.implicits._
    import graft.streaming.UpsertSink
    dropManaged("upsert_e2e", "upsert_e2e_stage")
    val src = tmp("graft_upsert_src")
    val ckpt = tmp("graft_upsert_ckpt")
    val rows = (1 to 300).map(i =>
      (i % 37L, ts(f"2026-01-01 ${i % 24}%02d:${i % 60}%02d:00"), s"p$i"))
    rows.grouped(100).foreach(g =>
      g.toDF("k", "ts", "payload").coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    UpsertSink.run(stream, "upsert_e2e", "k", "ts", ckpt,
      tieBreak = Seq("payload")).awaitTermination()
    val expected = graft.operators.Relational.latestPerGroup(
        spark.read.parquet(src), Seq("k"),
        Seq(col("ts").desc, col("payload").desc))
      .select("k", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = spark.table("upsert_e2e").select("k", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
  }

  test("watermark drops late rows from an append-mode windowed aggregate") {
    import spark.implicits._
    val src = tmp("graft_wm_src")
    val ckpt = tmp("graft_wm_ckpt")
    // drain 1 advances the persisted watermark to 11:00 (max 12:00 -
    // 1h); drain 2's 10:30 row is then LATE for the [10:00, 11:00)
    // window and must be dropped, not re-counted. Two separate drains
    // against one checkpoint make the batch boundary (and therefore
    // the watermark hand-off) deterministic.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val out = tmp("graft_wm_out")
    def drain(): Map[String, Long] = {
      val q = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    Seq((1L, ts("2026-01-01 10:00:00")), (2L, ts("2026-01-01 12:00:00")))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(src)
    drain()
    Seq((3L, ts("2026-01-01 10:30:00")), (4L, ts("2026-01-01 12:30:00")))
      .toDF("id", "ts").coalesce(1).write.mode("append").parquet(src)
    val emitted = drain()
    // only the closed 10:00 window is emitted, WITHOUT the late row 3;
    // the 12:00 window never closes under the final watermark (11:30)
    assert(emitted == Map("10:00" -> 1L))
  }

  test("streaming crawl ingest: multi-batch drain equals batch gate; late WARC " +
      "segments picked up by a checkpoint resume exactly once") {
    import spark.implicits._
    import graft.streaming.CrawlStream
    val warcDir = tmp("graft_crawl_warc")
    val out = tmp("graft_crawl_out")
    val ckpt = tmp("graft_crawl_ckpt")
    val d = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val robots = Seq(
      ("site3.example", "User-agent: *\nDisallow: /page\n"),
      ("site0.example", "User-agent: *\nCrawl-delay: 5\n")
    ).toDF("domain", "robots_txt")
    val policy = graft.operators.UrlNormalize
      .robotsPolicy(robots, "domain", "robots_txt", "graftbot")
      .localCheckpoint()
    val blocklist = Seq(("site5.example", "ads")).toDF("domain", "category")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val wave1 = d.filter(col("doc_id") % 2 === 0)
    val wave2 = d.filter(col("doc_id") % 2 =!= 0)
    graft.sources.Warc.synthesizeWarc(wave1)
      .repartition(2).write.mode("append").parquet(warcDir)
    def drain(): Unit = {
      val files = spark.readStream
        .schema("file_id BIGINT, content BINARY")
        .option("maxFilesPerTrigger", 1).parquet(warcDir)
      val q = CrawlStream.gatedRecords(files, policy, blocklist)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // drain 1 (2 files, 1 per trigger -> 2 micro-batches): the stream
    // answers the BATCH transform over the same files verbatim
    drain()
    val batchWave1 = CrawlStream.gatedRecords(
      graft.sources.Warc.synthesizeWarc(wave1), policy, blocklist)
    assert(rows(spark.read.parquet(out)) == rows(batchWave1))
    assert(batchWave1.count() > 0, "fixture must keep some survivors")
    // late segments arrive AFTER the first drain; the checkpoint
    // resume processes only them -- union equals the full batch, no
    // wave-1 record duplicated
    graft.sources.Warc.synthesizeWarc(wave2)
      .repartition(2).write.mode("append").parquet(warcDir)
    drain()
    val batchAll = CrawlStream.gatedRecords(
      graft.sources.Warc.synthesizeWarc(d), policy, blocklist)
    val got = spark.read.parquet(out)
    assert(rows(got) == rows(batchAll))
    assert(got.count() == got.select("file_id").distinct().count(),
      "no record may be emitted twice across the two drains")
    // gates actually fired: site3 (robots) and site5 (category) absent
    val hosts = got.select(
        graft.operators.UrlNormalize.hostOf(col("url")).as("h"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(!hosts.contains("site3.example") && !hosts.contains("site5.example"))
    // and the static policy's delay rode through on site0
    assert(got.filter(col("crawl_delay") === 5.0).count() > 0)
  }

  test("streaming politeness scheduler: slots survive across micro-batches, " +
    "arrival outranks hash, delays ride the static join") {
    import spark.implicits._
    import graft.streaming.CrawlStream
    // two hosts, two arrival batches. Host a.com gets ids 1,2 in batch
    // 0 and 3 in batch 1; b.com gets 9 in batch 0 and 10,11 in batch 1.
    val urls = Seq(
      (1L, "https://a.com/x1", 0L), (2L, "https://a.com/x2", 0L),
      (9L, "https://b.com/y9", 0L),
      (3L, "https://a.com/x3", 1L),
      (10L, "https://b.com/y10", 1L), (11L, "https://b.com/y11", 1L)
    ).toDF("doc_id", "url", "bseq")
    val dir = tmp("sched_arrivals")
    assert(CrawlStream.writeArrivalBatches(urls, "bseq", dir) == 2)
    val delays = Seq(("a.com", 2.0)).toDF("domain", "crawl_delay")
    val got = CrawlStream.drainSchedule(spark, dir, delays,
        defaultDelaySecs = 1.0, queryName = "sched_spec")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getInt(3), r.getDouble(4))))
      .toMap
    // within a batch the hash order ranks; ACROSS batches the earlier
    // batch always outranks — id 3 lands at slot 2 no matter its hash
    assert(got(3L)._2 == 2, s"batch-1 arrival must follow batch-0 slots: $got")
    assert(Set(got(1L)._2, got(2L)._2) == Set(0, 1), s"$got")
    assert(got(9L)._2 == 0 && Set(got(10L)._2, got(11L)._2) == Set(1, 2))
    // fetch_at_s = slot * delay; a.com published 2.0, b.com defaults 1.0
    got.foreach { case (_, (host, slot, at)) =>
      val d = if (host == "a.com") 2.0 else 1.0
      assert(at == slot * d, s"$host slot $slot at $at")
    }
    // the stream answers the closed-form batch window: rank by
    // (bseq, hash, id) within host
    val order = pmod(graft.functions.PortableHash
      .hash60(col("doc_id").cast("string")), lit(1000000))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("bseq"), order, col("doc_id"))
    val oracle = urls
      .withColumn("host", graft.operators.UrlNormalize.hostOf(col("url")))
      .withColumn("slot", row_number().over(w) - 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("slot")).toMap
    assert(got.map { case (id, (_, s, _)) => id -> s } == oracle)
  }

  test("politeness scheduler: state holds one row per distinct host, " +
      "not per URL of crawl history") {
    import spark.implicits._
    import graft.streaming.CrawlStream
    val hosts = 5
    val delays = Seq.empty[(String, Double)].toDF("domain", "crawl_delay")
    Seq(4, 40).foreach { perHost =>
      val urls = spark.range(hosts.toLong * perHost).select(
        col("id").as("doc_id"),
        concat(lit("https://h"), (col("id") % hosts).cast("string"),
          lit(".example/p"), col("id").cast("string")).as("url"),
        (col("id") % 4).as("bseq"))
      val dir = tmp(s"sched_state_$perHost")
      CrawlStream.writeArrivalBatches(urls, "bseq", dir)
      val in = spark.readStream.schema("doc_id BIGINT, url STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val name = s"sched_state_$perHost"
      val q = CrawlStream.politenessStream(in, "doc_id", "url", delays)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(spark.table(name).count() == hosts.toLong * perHost)
      assert(q.lastProgress.stateOperators.head.numRowsTotal == hosts,
        s"$perHost URLs per host: state must be one counter per host")
    }
  }

  test("politeness scheduler: the slot counter survives a checkpoint RESTART " +
    "— issued slots never renumber when the crawler comes back up") {
    import spark.implicits._
    import graft.streaming.CrawlStream
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val arrivals = tmp("sched_restart_in")
    val out = tmp("sched_restart_out")
    val ckpt = tmp("sched_restart_ckpt")
    val delays = Seq(("a.com", 3.0)).toDF("domain", "crawl_delay")
    def drain(): Unit = {
      val in = spark.readStream.schema("doc_id BIGINT, url STRING")
        .option("maxFilesPerTrigger", 1).parquet(arrivals)
      val q = CrawlStream.politenessStream(in, "doc_id", "url", delays)
        .withColumn("doc_id", col("doc_id").cast("long"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1: host a.com gets ids 1 and 2 over two batches; drain, "crash"
    CrawlStream.writeArrivalBatches(Seq(
      (1L, "https://a.com/p1", 0L), (2L, "https://a.com/p2", 1L)
    ).toDF("doc_id", "url", "bseq"), "bseq", arrivals)
    drain()
    val wave1 = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(wave1 == Map(1L -> 0, 2L -> 1), s"$wave1")
    // wave 2 lands AFTER the restartable state was checkpointed: a new
    // file (later mtime) with a third a.com URL and a brand-new host
    val staging = Files.createTempDirectory("sched_wave2").toString
    Seq((3L, "https://a.com/p3"), (9L, "https://b.com/p9"))
      .toDF("doc_id", "url").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .filter(p => p.contains("part-") && p.endsWith(".parquet")).head
    val dest = Paths.get(arrivals, "batch_0002.parquet")
    Files.move(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toFile.setLastModified(1700000000000L + 2 * 60000L)
    // a FRESH query on the same checkpoint resumes: a.com continues at
    // slot 2 (never renumbering 0/1, already issued to fetchers);
    // b.com starts fresh at 0; nothing is emitted twice
    drain()
    val all = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getString(2), r.getInt(3), r.getDouble(4))))
    assert(all.length == 4, s"exactly-once across the restart: ${all.toSeq}")
    val m = all.toMap
    assert(m(3L) == (("a.com", 2, 6.0)), s"$m")  // 2 * 3.0s delay
    assert(m(9L) == (("b.com", 0, 0.0)), s"$m")
    assert(m(1L)._2 == 0 && m(2L)._2 == 1, "wave-1 slots unchanged")
  }

  test("production crawl loop: gz stream → gates → recrawl anti → priority " +
      "schedule in ONE query; repeats never re-emit; robots parsed once") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("loop_store").toString
    val warcDir = Files.createTempDirectory("loop_warc").toString + "/in"
    val robots = Seq(
      ("site0.example", "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"),
      ("site1.example", "User-agent: *\nDisallow: /page\n")) // kills site1
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("site2.example", "ads")).toDF("domain", "category")
    def wave(ids: Long*): Unit =
      Warc.synthesizeWarcGz(
          ids.toDF("doc_id").select(col("doc_id"),
            concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
              lit("</p></body></html>")).as("text")),
          corruptEvery = 1000000)
        .write.mode("overwrite").parquet(warcDir)
    // synthesizeWarcGz URIs: http://site{id%7}.example/page/{id}
    // ids 7,14,21 -> site0 (allowed); 1,8 -> site1 (robots-killed);
    // 2 -> site2 (blocklisted)
    wave(7L, 14L, 1L, 2L)
    val prios = Seq(("http://site0.example/page/14", 0.9))
      .toDF("url", "priority") // 14 outranks 7 (default 0.5)
    val w1 = CrawlStream.drainCrawlLoop(spark, warcDir, robots, blocklist,
      prios, root, "lk", "v0001", "v0002").collect()
    assert(w1.map(r => (r.getString(0), r.getInt(2), r.getDouble(3))).sorted
      .toSeq == Seq(
        ("http://site0.example/page/14", 0, 0.0), // priority 0.9 first
        ("http://site0.example/page/7", 1, 2.0)), // slot 1 × delay 2
      s"${w1.toSeq}")
    assert(w1.map(_.getString(4)).sorted.toSeq == Seq("page 14", "page 7"))
    // wave 2 re-ships 7 and 14 (already fetched) plus new 21: only 21
    // emits, its slot CONTINUING site0's counter would need the same
    // checkpoint — a fresh drain starts at 0, but the RECRAWL gate is
    // what must hold: no repeats
    wave(7L, 14L, 21L)
    val w2 = CrawlStream.drainCrawlLoop(spark, warcDir, robots, blocklist,
      prios, root, "lk", "v0002", "v0003").collect()
    assert(w2.map(_.getString(0)).toSeq
      == Seq("http://site0.example/page/21"), s"${w2.toSeq}")
    // delta protocol: v0003 carries ONLY page 21's digest
    assert(ArtifactStore.load(spark, root, "frontier_seen", "lk", "v0003")
      .count() == 1)
    // single-parse robots: the policy is checkpointed before the
    // stream starts, so the BATCH form of the same composed plan has
    // no robots_txt subtree — the parse cannot re-execute per batch
    val policy = graft.operators.UrlNormalize.robotsPolicy(
      robots, "domain", "robots_txt", "graftbot").localCheckpoint()
    val batchFiles = spark.read.parquet(warcDir)
    val batchPlan = CrawlStream.gatedRecords(batchFiles, policy, blocklist,
      gz = true).queryExecution.optimizedPlan.toString
    assert(!batchPlan.contains("robots_txt"),
      s"robots parse leaked into the per-batch plan:\n$batchPlan")
    // the REAL-FILE transport answers the same loop: the same wave
    // written as actual .warc.gz files on disk, tailed by the
    // binaryFile stream source, path-keyed — same schedule rows
    val fdir = Files.createTempDirectory("loop_files").toString
    Warc.synthesizeWarcGz(
        Seq(7L, 14L).toDF("doc_id").select(col("doc_id"),
          concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
            lit("</p></body></html>")).as("text")),
        corruptEvery = 1000000)
      .collect().foreach { r =>
        Files.write(java.nio.file.Paths.get(
          f"$fdir/seg-${r.getLong(0)}%03d.warc.gz"),
          r.getAs[Array[Byte]]("content"))
      }
    val wf = CrawlStream.drainCrawlLoopFromFiles(spark, fdir, robots,
      blocklist, prios, root, "lkf", "v0001", "v0002").collect()
    assert(wf.map(r => (r.getString(0), r.getInt(2), r.getDouble(3),
        r.getString(4))).sorted.toSeq
      == w1.map(r => (r.getString(0), r.getInt(2), r.getDouble(3),
        r.getString(4))).sorted.toSeq,
      s"file transport diverged: ${wf.toSeq} vs ${w1.toSeq}")
  }

  test("crawl cycle: wave N's extracted links schedule wave N+1; publishing " +
      "the delta closes the loop — wave N+2 never re-schedules, the stream " +
      "twin answers the batch rows, cross-batch re-discovery emits once") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.ArtifactStore
    val root = Files.createTempDirectory("cycle_store").toString
    def html(links: String*): String =
      "<html><body>" +
        links.map(l => s"""<a href="$l">l</a>""").mkString("\n") +
        """<a href="/rel">r</a><script>var s =
          |'<a href="http://evil.example/">x</a>';</script>
          |</body></html>""".stripMargin
    val delays = Seq(("b.com", 3.0)).toDF("domain", "crawl_delay")
    // wave 1: two fetched pages; b.com/x linked by BOTH (once as an
    // uppercase/:80/trailing-slash/#frag variant that must fold), a
    // backlink to the other wave-1 page (dead at the anti gate), a
    // relative href and a script decoy (never enter)
    val wave1 = Seq(
      ("http://a.com/p1", html("http://b.com/x",
        "HTTP://B.COM:80/x#frag", "http://c.com/y", "http://a.com/p2")),
      ("http://a.com/p2", html("http://b.com/x/", "http://c.com/z")))
      .toDF("url", "html")
    def digests(us: String*): org.apache.spark.sql.DataFrame =
      us.toDF("u").select(md5(col("u")).as("url_digest"))
    ArtifactStore.save(digests("http://a.com/p1", "http://a.com/p2"),
      root, "frontier_seen", "cy", "v0001")
    val seen1 = ArtifactStore
      .loadUpTo(spark, root, "frontier_seen", "cy", "v0001").get
    val w2 = CrawlStream.expandFrontier(wave1, "url", "html", seen1, delays)
    val rows2 = w2.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getInt(3), r.getDouble(4))).sortBy(_._1).toSeq
    // b.com/x: both variants + the trailing-slash form fold to ONE
    // target with indegree 2; c.com/{y,z} indegree 1 each, slots 0/1
    // within c.com; b.com's delay 3 × slot 0 = 0
    assert(rows2.map(r => (r._1, r._3)) == Seq(
      ("http://b.com/x", 2L), ("http://c.com/y", 1L),
      ("http://c.com/z", 1L)), s"$rows2")
    assert(rows2.find(_._1 == "http://b.com/x").get._4 == 0)
    assert(rows2.filter(_._2 == "c.com").map(_._4).sorted == Seq(0, 1))
    // the STREAM twin over the same wave answers the same rows
    val pagesDir = Files.createTempDirectory("cycle_pages").toString + "/in"
    CrawlStream.writeArrivalBatches(
      wave1.withColumn("bseq", lit(0L)), "bseq", pagesDir)
    val tw = CrawlStream.drainFrontierExpand(spark, pagesDir, seen1, delays)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(tw == rows2, s"stream twin diverged: $tw vs $rows2")
    // CLOSE THE CYCLE: wave-2's schedule publishes as the v0002 delta;
    // wave-3 expansion loads ≤ v0002 — a wave-2 page re-linking an
    // already-crawled target must die at the gate, only the genuinely
    // new d.com target schedules
    ArtifactStore.save(w2.select(md5(col("url")).as("url_digest")),
      root, "frontier_seen", "cy", "v0002")
    val wave2 = Seq(
      ("http://b.com/x", html("http://c.com/y", "http://d.com/new")))
      .toDF("url", "html")
    val seen2 = ArtifactStore
      .loadUpTo(spark, root, "frontier_seen", "cy", "v0002").get
    val w3 = CrawlStream.expandFrontier(wave2, "url", "html", seen2, delays)
      .collect()
    assert(w3.map(_.getString(0)).toSeq == Seq("http://d.com/new"),
      s"cycle re-scheduled a crawled page: ${w3.toSeq}")
    // cross-batch re-discovery in the stream: batch 0 discovers t1;
    // batch 1 re-links t1 and adds t2 — t1 emits ONCE (per-URL state),
    // t2 continues e.com's slot counter at 1
    val pd2 = Files.createTempDirectory("cycle_pages2").toString + "/in"
    CrawlStream.writeArrivalBatches(Seq(
        ("http://a.com/p1", html("http://e.com/t1"), 0L),
        ("http://a.com/p2", html("http://e.com/t1", "http://e.com/t2"), 1L))
      .toDF("url", "html", "bseq"), "bseq", pd2)
    val re = CrawlStream.drainFrontierExpand(spark, pd2, seen1, delays)
      .collect().map(r => (r.getString(0), r.getInt(3))).sortBy(_._1).toSeq
    assert(re == Seq(("http://e.com/t1", 0), ("http://e.com/t2", 1)),
      s"cross-batch re-discovery must emit once: $re")
  }

  test("crawl loop within-drain dedup: a URL re-shipped in two files of ONE " +
      "drain (two micro-batches) is emitted and scheduled exactly once") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.Warc
    val root = Files.createTempDirectory("wdrain_store").toString
    val warcDir = Files.createTempDirectory("wdrain_warc").toString + "/in"
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val prios = Seq(("http://site0.example/page/14", 0.9))
      .toDF("url", "priority")
    // two FILES in one drain, page 7 in BOTH (a fetcher re-shipping a
    // URL across segments); maxFilesPerTrigger=1 forces the repeat
    // into a LATER micro-batch than the first — the case the
    // pre-drain anti gate cannot see
    def seg(ids: Seq[Long], name: String): Unit =
      Warc.synthesizeWarcGz(
          ids.toDF("doc_id").select(col("doc_id"),
            concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
              lit("</p></body></html>")).as("text")),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    seg(Seq(7L, 14L), "a")
    seg(Seq(7L, 21L), "b")
    val w = CrawlStream.drainCrawlLoop(spark, warcDir, robots, blocklist,
      prios, root, "wdk", "v0001", "v0002",
      maxFilesPerTrigger = Some(1)).collect()
    val urls = w.map(_.getString(0)).sorted.toSeq
    assert(urls == Seq("http://site0.example/page/14",
        "http://site0.example/page/21", "http://site0.example/page/7"),
      s"within-drain repeat must emit once: ${w.toSeq}")
    // and the slots are a consistent 0..2 run for the host (the
    // duplicate never consumed a politeness slot)
    assert(w.map(_.getInt(2)).sorted.toSeq == Seq(0, 1, 2), s"${w.toSeq}")
    // the published delta holds each digest once
    assert(graft.sources.ArtifactStore
      .load(spark, root, "frontier_seen", "wdk", "v0002").count() == 3)
  }

  test("durable crawl loop: checkpoint resume processes only new segments, " +
      "politeness counters survive the restart, deltas hold only new digests") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("dloop_store").toString
    val base = Files.createTempDirectory("dloop")
    val (warcDir, sinkDir, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val prios = Seq(("http://site0.example/page/14", 0.9))
      .toDF("url", "priority")
    def ship(ids: Long*): Unit =
      Warc.synthesizeWarcGz(
          ids.toDF("doc_id").select(col("doc_id"),
            concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
              lit("</p></body></html>")).as("text")),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    ship(7L, 14L) // both site0 (id % 7 == 0)
    val w1 = CrawlStream.drainCrawlLoopDurable(spark, warcDir, robots,
      blocklist, prios, root, "dlk", "v0001", "v0002", sinkDir, ckpt)
      .collect()
    assert(w1.map(r => (r.getString(0), r.getInt(2), r.getDouble(3))).sorted
      .toSeq == Seq(
        ("http://site0.example/page/14", 0, 0.0), // priority 0.9 first
        ("http://site0.example/page/7", 1, 2.0)), s"${w1.toSeq}")
    assert(ArtifactStore.load(spark, root, "frontier_seen", "dlk", "v0002")
      .count() == 2)
    // wave 2: a NEW segment arrives carrying page 21 plus a RE-SHIP of
    // page 7 (a fetcher retrying). The resume must read only the new
    // file, the anti gate must drop the repeat, and site0's counter
    // must CONTINUE at 2 — slots 0/1 were already issued to fetchers
    ship(21L, 7L)
    val w2 = CrawlStream.drainCrawlLoopDurable(spark, warcDir, robots,
      blocklist, prios, root, "dlk", "v0002", "v0003", sinkDir, ckpt)
      .collect()
    assert(w2.length == 3, s"sink must accumulate exactly once: ${w2.toSeq}")
    val p21 = w2.find(_.getString(0) == "http://site0.example/page/21").get
    assert(p21.getInt(2) == 2 && p21.getDouble(3) == 4.0,
      s"counter must survive the restart: $p21")
    assert(ArtifactStore.load(spark, root, "frontier_seen", "dlk", "v0003")
      .count() == 1, "delta must hold only page 21")
  }

  test("cycle loop: one drain emits fetched pages AND their links' schedule; " +
      "the shared delta kills re-ships and re-discoveries next drain") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("cycleloop_store").toString
    val warcDir = Files.createTempDirectory("cycleloop_warc").toString + "/in"
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val delays = Seq(("t.example", 3.0)).toDF("domain", "crawl_delay")
    // synthesizeWarcGz plants URI http://site{id%7}.example/page/{id};
    // ids 7,14,21 -> site0. Page 7 links t.example/a twice (variant
    // must fold) and t.example/b; page 14 links t.example/a (indegree
    // 2) and a /rel decoy
    def ship(pages: (Long, String)*): Unit =
      Warc.synthesizeWarcGz(pages.toDF("doc_id", "text"),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    ship(
      7L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
        """<a href="HTTP://T.EXAMPLE:80/a#f">a2</a>""" +
        """<a href="http://t.example/b">b</a></body></html>"""),
      14L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
        """<a href="/rel">r</a></body></html>"""))
    val w1 = CrawlStream.drainCrawlLoopExpand(spark, warcDir, robots,
      blocklist, delays, root, "cyl", "v0001", "v0002").collect()
    val fetched1 = w1.filter(_.getString(0) == "fetched")
      .map(_.getString(1)).sorted.toSeq
    assert(fetched1 == Seq("http://site0.example/page/14",
      "http://site0.example/page/7"), s"${w1.toSeq}")
    val frontier1 = w1.filter(_.getString(0) == "frontier")
      .map(r => (r.getString(1), r.getLong(3), r.getInt(4),
        r.getDouble(5))).sortBy(_._1).toSeq
    // a: indegree 2 (variant folded, two distinct sources) outranks
    // b: indegree 1; t.example delay 3
    assert(frontier1 == Seq(
      ("http://t.example/a", 2L, 0, 0.0),
      ("http://t.example/b", 1L, 1, 3.0)), s"$frontier1")
    // the delta holds BOTH kinds' digests
    assert(ArtifactStore.load(spark, root, "frontier_seen", "cyl", "v0002")
      .count() == 4)
    // drain 2: page 7 re-shipped (dies at the fetched anti), page 21
    // arrives linking the already-SCHEDULED t.example/a (dies at the
    // frontier anti) and a new t.example/c (emits, counter continues)
    ship(
      7L -> "<html><body>changed</body></html>",
      21L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
        """<a href="http://t.example/c">c</a></body></html>"""))
    val w2 = CrawlStream.drainCrawlLoopExpand(spark, warcDir, robots,
      blocklist, delays, root, "cyl", "v0002", "v0003").collect()
    assert(w2.filter(_.getString(0) == "fetched").map(_.getString(1)).toSeq
      == Seq("http://site0.example/page/21"), s"${w2.toSeq}")
    assert(w2.filter(_.getString(0) == "frontier")
      .map(r => (r.getString(1), r.getLong(3))).toSeq
      == Seq(("http://t.example/c", 1L)), s"${w2.toSeq}")
    assert(ArtifactStore.load(spark, root, "frontier_seen", "cyl", "v0003")
      .count() == 2, "delta = page 21 + t.example/c only")
  }

  test("the cycle CONVERGES: a finite planted site is crawled to exhaustion " +
      "through repeated drains — every reachable page fetched exactly once, " +
      "the final wave quiescent") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.Warc
    val root = Files.createTempDirectory("conv_store").toString
    val base = Files.createTempDirectory("conv")
    val (warcDir, sinkDir, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\n")).toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val delays = spark.emptyDataset[(String, Double)]
      .toDF("domain", "crawl_delay")
    // a finite 3-level site on site0.example (synthesizeWarcGz keys
    // URI by doc_id: page/{id}; ids ≡ 0 mod 7 stay on site0 — id 0
    // itself avoided: it always trips the id%corruptEvery==0 CRC
    // plant): back- and cross-links must all die at the anti gate
    // once their targets are fetched
    //   page/7  -> page/14, page/21
    //   page/14 -> page/28, page/7  (backlink)
    //   page/21 -> page/28, page/14 (cross)
    //   page/28 -> page/7           (leaf pointing at the root)
    val site: Map[Long, Seq[Long]] = Map(
      7L -> Seq(14L, 21L), 14L -> Seq(28L, 7L), 21L -> Seq(28L, 14L),
      28L -> Seq(7L))
    def body(id: Long): String =
      "<html><body>" + site(id).map(t =>
        s"""<a href="http://site0.example/page/$t">t</a>""").mkString +
        "</body></html>"
    def ship(ids: Seq[Long]): Unit =
      Warc.synthesizeWarcGz(
          ids.map(i => (i, body(i))).toDF("doc_id", "text"),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    var v = 1
    def drain(): Array[org.apache.spark.sql.Row] = {
      val out = CrawlStream.drainCrawlLoopExpandDurable(spark, warcDir,
        robots, blocklist, delays, root, "conv",
        f"v$v%04d", f"v${v + 1}%04d", sinkDir, ckpt).collect()
      v += 1
      out
    }
    def urlOf(id: Long) = s"http://site0.example/page/$id"
    // the crawl: each wave fetches exactly what the previous wave's
    // frontier scheduled, starting from the seed page 7
    var toFetch = Seq(7L)
    var fetchedEver = Set.empty[Long]
    var waves = 0
    while (toFetch.nonEmpty && waves < 10) {
      ship(toFetch)
      fetchedEver ++= toFetch
      val out = drain() // the ACCUMULATED sink: history + this wave
      val frontierRows = out.filter(_.getString(0) == "frontier")
        .map(_.getString(1))
      val fetched = out.filter(_.getString(0) == "fetched")
        .map(_.getString(1)).toSet
      assert(fetched == fetchedEver.map(urlOf),
        s"wave $waves: sink must hold every fetched page exactly once")
      // no URL is ever SCHEDULED twice across the whole crawl — the
      // discovery state + seen deltas close every re-discovery path
      assert(frontierRows.length == frontierRows.distinct.length,
        s"wave $waves: a url was scheduled twice: ${frontierRows.toSeq}")
      // next wave = scheduled targets not yet fetched
      toFetch = site.keys.toSeq.sorted
        .filter(id => frontierRows.contains(urlOf(id)) && !fetchedEver(id))
      waves += 1
    }
    assert(fetchedEver == site.keySet,
      s"the crawl must reach every page: $fetchedEver")
    assert(waves == 3, s"7 -> {14,21} -> {28} is a 3-wave crawl: $waves")
    // the quiescent wave: nothing new arrives, nothing emits — the
    // accumulated sink is exactly 4 fetched + 3 frontier rows
    // (14, 21, 28 were each scheduled once; 7 was the seed)
    val stable = drain()
    assert(stable.length == 7,
      s"quiescent drain must not grow the sink: ${stable.toSeq}")
  }

  test("durable cycle loop: resume processes only new segments; discovery " +
      "state and politeness counters survive; per-call delta ∝ this drain") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("dcycle_store").toString
    val base = Files.createTempDirectory("dcycle")
    val (warcDir, sinkDir, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val delays = Seq(("t.example", 3.0)).toDF("domain", "crawl_delay")
    def ship(pages: (Long, String)*): Unit =
      Warc.synthesizeWarcGz(pages.toDF("doc_id", "text"),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    def drain(lo: String, hi: String) =
      CrawlStream.drainCrawlLoopExpandDurable(spark, warcDir, robots,
        blocklist, delays, root, "dcy", lo, hi, sinkDir, ckpt)
    // wave 1: pages 7 and 14, linking t.example/a (indegree 2) and /b
    ship(
      7L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
        """<a href="http://t.example/b">b</a></body></html>"""),
      14L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
        """</body></html>"""))
    val w1 = drain("v0001", "v0002").collect()
    assert(w1.count(_.getString(0) == "fetched") == 2, s"${w1.toSeq}")
    val f1 = w1.filter(_.getString(0) == "frontier")
      .map(r => (r.getString(1), r.getLong(3), r.getInt(4))).sortBy(_._1)
    assert(f1.toSeq == Seq(("http://t.example/a", 2L, 0),
      ("http://t.example/b", 1L, 1)), s"${f1.toSeq}")
    assert(ArtifactStore.load(spark, root, "frontier_seen", "dcy", "v0002")
      .count() == 4)
    // wave 2: page 21 arrives re-linking /a (already scheduled — the
    // RESUMED discovery state must drop it even though the fMGWS ran
    // in a previous call) and linking new /c, which must CONTINUE
    // t.example's politeness counter at slot 2
    ship(21L -> ("""<html><body><a href="http://t.example/a">a</a>""" +
      """<a href="http://t.example/c">c</a></body></html>"""))
    val w2 = drain("v0002", "v0003").collect()
    assert(w2.length == 6, s"sink accumulates exactly once: ${w2.toSeq}")
    val c = w2.find(r => r.getString(1) == "http://t.example/c").get
    assert(c.getInt(4) == 2 && c.getDouble(5) == 6.0,
      s"counter must survive the restart: $c")
    assert(!w2.exists(r => r.getString(0) == "frontier" &&
      r.getString(1) == "http://t.example/a" && r.getInt(4) > 0),
      "resumed discovery state must not re-schedule /a")
    // per-call delta: page 21 + /c only
    assert(ArtifactStore.load(spark, root, "frontier_seen", "dcy", "v0003")
      .count() == 2)
  }

  test("durable loop per-call delta: zero-row first drain survives; each of " +
      "three waves publishes exactly its own new digests (cost ∝ new pages)") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("pcd_store").toString
    val base = Files.createTempDirectory("pcd")
    val (warcDir, sinkDir, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
    Files.createDirectories(java.nio.file.Paths.get(warcDir))
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val prios = spark.emptyDataset[(String, Double)].toDF("url", "priority")
    def drain(lo: String, hi: String) =
      CrawlStream.drainCrawlLoopDurable(spark, warcDir, robots, blocklist,
        prios, root, "pcd", lo, hi, sinkDir, ckpt)
    // wave 0: the input directory EXISTS but holds nothing — the old
    // code threw on spark.read.parquet of the fileless sink; a
    // zero-admission drain must return empty and publish nothing
    val w0 = drain("v0001", "v0002")
    assert(w0.isEmpty, s"zero-row first drain emitted: ${w0.collect().toSeq}")
    assert(!ArtifactStore.exists(spark, root, "frontier_seen", "pcd", "v0002"))
    def ship(ids: Long*): Unit =
      Warc.synthesizeWarcGz(
          ids.toDF("doc_id").select(col("doc_id"),
            concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
              lit("</p></body></html>")).as("text")),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    def dig(ids: Long*): Set[String] = ids.map(i =>
        s"http://site${i % 7}.example/page/$i").toDF("u")
      .select(md5(col("u"))).collect().map(_.getString(0)).toSet
    def published(v: String): Set[String] =
      ArtifactStore.load(spark, root, "frontier_seen", "pcd", v)
        .collect().map(_.getString(0)).toSet
    // three waves; each publish must carry EXACTLY that wave's new
    // pages — never the accumulating sink (the old per-call full-sink
    // re-read would still pass a count check on wave 1, so assert the
    // exact digest sets on all three)
    ship(7L, 14L)
    assert(drain("v0002", "v0003").count() == 2)
    assert(published("v0003") == dig(7L, 14L))
    ship(21L, 7L) // one new page + a re-ship
    assert(drain("v0003", "v0004").count() == 3)
    assert(published("v0004") == dig(21L))
    ship(28L, 35L)
    assert(drain("v0004", "v0005").count() == 5)
    assert(published("v0005") == dig(28L, 35L))
    // and the accumulated state reads as the union of the deltas
    assert(ArtifactStore.loadUpTo(spark, root, "frontier_seen", "pcd", "v0005")
      .get.collect().map(_.getString(0)).toSet == dig(7L, 14L, 21L, 28L, 35L))
  }

  test("durable loop crash window: a drain that commits its sink but dies " +
      "before publishing heals on retry (watermark diff, not an in-memory " +
      "manifest snapshot)") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.{ArtifactStore, Warc}
    val root = Files.createTempDirectory("crash_store").toString
    val base = Files.createTempDirectory("crash")
    val (warcDir, sinkDir, ckpt) = (s"$base/in", s"$base/sink", s"$base/ckpt")
    val robots = Seq(("site0.example",
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val blocklist = Seq(("none.example", "ads")).toDF("domain", "category")
    val prios = spark.emptyDataset[(String, Double)].toDF("url", "priority")
    def drain(lo: String, hi: String) =
      CrawlStream.drainCrawlLoopDurable(spark, warcDir, robots, blocklist,
        prios, root, "crashk", lo, hi, sinkDir, ckpt)
    def ship(ids: Long*): Unit =
      Warc.synthesizeWarcGz(
          ids.toDF("doc_id").select(col("doc_id"),
            concat(lit("<html><body><p>page "), col("doc_id").cast("string"),
              lit("</p></body></html>")).as("text")),
          corruptEvery = 1000000)
        .coalesce(1).write.mode("append").parquet(warcDir)
    ship(7L, 14L)
    assert(drain("v0001", "v0002").count() == 2)
    // simulate the crash WINDOW: the sink batch committed (manifest +
    // checkpoint intact) but the process died before either publish
    // landed — erase exactly what the publish step wrote (including
    // the fast-path marker, which a pre-publish crash never writes)
    for (kind <- Seq("frontier_seen", "published_sink_files")) {
      val p = new org.apache.hadoop.fs.Path(
        s"$root/$kind/corpus_key=${ArtifactStore.normKey("crashk")}" +
          "/version=v0002")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(p, true), s"fixture must have existed: $p")
    }
    locally {
      val m = new org.apache.hadoop.fs.Path(sinkDir, "_graft_published")
      val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(m, false), "marker must have existed")
    }
    // the RETRY: same versions, no new input. The stream is a
    // checkpointed no-op (no new sink files), so a diff against a
    // pre-drain manifest snapshot comes back empty and the digests
    // are lost under every version; the durable watermark diff
    // re-covers the orphaned files and re-publishes
    val w = drain("v0001", "v0002")
    assert(w.count() == 2, "retry must return the committed sink")
    assert(ArtifactStore.load(spark, root, "frontier_seen", "crashk", "v0002")
        .collect().map(_.getString(0)).toSet ==
      Seq(7L, 14L).map(i => s"http://site${i % 7}.example/page/$i").toDF("u")
        .select(md5(col("u"))).collect().map(_.getString(0)).toSet,
      "the crashed drain's digests must be published on retry")
    // and the heal is not an over-publish treadmill: the next wave's
    // delta still carries only its own new page
    ship(21L)
    assert(drain("v0002", "v0003").count() == 3)
    assert(ArtifactStore.load(spark, root, "frontier_seen", "crashk", "v0003")
      .count() == 1, "post-heal delta must hold only the new page")
  }

  test("frontier recrawl gate: a drained URL is never re-emitted across " +
      "drains; the published state accumulates both waves") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.CrawlStream
    import graft.sources.ArtifactStore
    val root = Files.createTempDirectory("recrawl_store").toString
    val sitemaps = Files.createTempDirectory("recrawl_maps").toString + "/in"
    def urlset(urls: String*): String =
      "<urlset>\n" +
        urls.map(u => s"  <url><loc>$u</loc></url>").mkString("\n") +
        "\n</urlset>"
    val policy = graft.operators.UrlNormalize.robotsPolicy(
      Seq(("a.com", "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"))
        .toDF("domain", "robots_txt"),
      "domain", "robots_txt", "graftbot").localCheckpoint()
    // wave 1: two pages (plus a robots-killed one that must NOT enter
    // the seen state — it was never scheduled)
    CrawlStream.writeArrivalBatches(Seq(
      ("a.com", urlset("https://a.com/p1", "https://a.com/private/x",
        "https://a.com/p2"), 0L)
    ).toDF("domain", "xml", "bseq"), "bseq", sitemaps)
    val w1 = CrawlStream.drainFrontierDedup(spark, sitemaps, policy,
      root, "ck", "v0001", "v0002").collect()
    assert(w1.map(_.getString(0)).sorted.toSeq
      == Seq("https://a.com/p1", "https://a.com/p2"), s"${w1.toSeq}")
    // wave 2 REPEATS p1/p2 (a site republishing its sitemap — the
    // recrawl case) and adds p3; loads the wave-1 state
    CrawlStream.writeArrivalBatches(Seq(
      ("a.com", urlset("https://a.com/p1", "https://a.com/p3",
        "https://a.com/p2"), 0L)
    ).toDF("domain", "xml", "bseq"), "bseq", sitemaps)
    val w2 = CrawlStream.drainFrontierDedup(spark, sitemaps, policy,
      root, "ck", "v0002", "v0003").collect()
    assert(w2.map(_.getString(0)).toSeq == Seq("https://a.com/p3"),
      s"repeats must not re-emit: ${w2.toSeq}")
    // fresh host counter per drain run: p3 is the only scheduled URL
    assert(w2.head.getInt(2) == 0 && w2.head.getDouble(3) == 0.0)
    def dig(us: String*): Set[String] = us.toDF("u")
      .select(org.apache.spark.sql.functions.md5(col("u"))).collect()
      .map(_.getString(0)).toSet
    // DELTA contract: each drain's partition holds ONLY its new
    // digests (per-drain write size ∝ new URLs, never the history) —
    // and the robots-killed URL never enters any of them
    assert(ArtifactStore.load(spark, root, "frontier_seen", "ck", "v0002")
      .collect().map(_.getString(0)).toSet
      == dig("https://a.com/p1", "https://a.com/p2"))
    assert(ArtifactStore.load(spark, root, "frontier_seen", "ck", "v0003")
      .collect().map(_.getString(0)).toSet == dig("https://a.com/p3"))
    // the accumulated state is the union of the deltas
    assert(ArtifactStore.loadUpTo(spark, root, "frontier_seen", "ck", "v0003")
      .get.collect().map(_.getString(0)).toSet
      == dig("https://a.com/p1", "https://a.com/p2", "https://a.com/p3"))
    // a third drain of the SAME wave-2 inventory against v0003 emits
    // nothing at all — the loop is quiescent, and the empty delta
    // publishes NO partition (the store stays untouched)
    val w3 = CrawlStream.drainFrontierDedup(spark, sitemaps, policy,
      root, "ck", "v0003", "v0004")
    assert(w3.isEmpty, s"quiescent drain re-emitted: ${w3.collect().toSeq}")
    assert(!ArtifactStore.exists(spark, root, "frontier_seen", "ck", "v0004"))
    // COMPACTION (the months-long-crawl cadence): merge the deltas
    // into one snapshot, retire them, and the gate is unchanged —
    // the next drain against the compacted state is still quiescent
    val retired = ArtifactStore.compact(spark, root, "frontier_seen",
      "ck", "v0005")
    assert(retired == Seq("v0002", "v0003"), s"$retired")
    assert(ArtifactStore.listVersions(spark, root, "frontier_seen", "ck")
      == Seq("v0005"))
    assert(ArtifactStore.load(spark, root, "frontier_seen", "ck", "v0005")
      .collect().map(_.getString(0)).toSet
      == dig("https://a.com/p1", "https://a.com/p2", "https://a.com/p3"))
    val w4 = CrawlStream.drainFrontierDedup(spark, sitemaps, policy,
      root, "ck", "v0005", "v0006")
    assert(w4.isEmpty, s"post-compaction drain re-emitted: ${w4.collect().toSeq}")
  }

}
