package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GraftCheckpoint.barrier

/** Reusable relational operator patterns from the reference's inventory
  * (SURVEY.md §2.3/§2.5), expressed Spark-first.
  */
object Relational {

  /** Max-per-group via groupBy + join-back — the reference's J7 pattern
    * (reference src/alertas/alerta_bdpa.py:40-51,72-82): ties on the max
    * value keep ALL tied rows. One shuffle for the aggregate, one for the
    * join; at scale, prefer [[latestPerGroup]] unless tie-keeping
    * semantics are required.
    */
  def maxPerGroupJoinBack(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val mx = df.groupBy(col(groupCol).as("__k"))
      .agg(max(col(valueCol)).as("__max"))
    df.join(mx, col(groupCol) === col("__k") && col(valueCol) === col("__max"))
      .drop("__k", "__max")
  }

  /** Idiomatic latest-row-per-group: window row_number == 1 with a
    * deterministic tie-break. Single shuffle on the partition keys —
    * the 100 TB-friendly replacement for J7 (SURVEY.md §2.5).
    */
  def latestPerGroup(df: DataFrame, partCols: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** As-of join: for every left row, attach the latest right row with
    * `right.ts <= left.ts` (inclusive) on the same key — the classic
    * time-series operator Spark lacks natively (builder guidance:
    * compose built-ins before custom plans).
    *
    * Implementation is a single-shuffle union + window carry:
    * tag both sides, union them conformed, sort each key partition by
    * (ts, side) so right rows precede left rows at equal timestamps,
    * and carry the last non-null right payload forward with
    * `last(..., ignoreNulls)` over an unbounded-preceding frame. At
    * 100 TB this beats the range-join formulation (one shuffle on the
    * key, linear scan per partition, no candidate blow-up) and is the
    * same topology a dedicated SortMergeAsofJoin physical operator
    * would use.
    *
    * Right payload columns are emitted as `r_<name>`. Assumes (key,
    * ts) is unique on the right side (ties among right rows at the
    * same instant would be resolved arbitrarily).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               ts: String, rightCols: Seq[String]): DataFrame = {
    val leftSchema = left.schema
    val lPart = left.select(
      (leftSchema.fieldNames.map(col).toSeq :+
        col(ts).as("__ts") :+ lit(1).as("__is_l")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
    val rPart = right.select(
      (leftSchema.fields.map(f =>
        if (f.name == key) col(key) else lit(null).cast(f.dataType).as(f.name)).toSeq :+
        col(ts).as("__ts") :+ lit(0).as("__is_l")) ++
        rightCols.map(c => col(c).as(s"__r_$c")): _*)
    val unioned = lPart.union(rPart)
    // right rows (0) sort before left rows (1) at equal ts → inclusive
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__is_l").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned.withColumn("__r",
      last(when(col("__is_l") === 0,
        struct(rightCols.map(c => col(s"__r_$c").as(c)): _*)), ignoreNulls = true)
        .over(w))
    carried.filter(col("__is_l") === 1)
      .select(leftSchema.fieldNames.map(col).toSeq ++
        rightCols.map(c => col(s"__r.$c").as(s"r_$c")): _*)
  }

  /** Gap-based batch sessionization: rows for the same key belong to
    * the same session while consecutive event times are within
    * `gapSeconds`; a larger gap starts a new session.
    *
    * Classic composition — `lag` to detect gap starts, then a running
    * sum of the start flags numbers sessions within each key. Both
    * windows share one partitioning and ordering, so Catalyst plans a
    * single shuffle + single sort; per-key state is a scan, never a
    * materialized group. At 100 TB this is the scale-safe batch twin
    * of the streaming `flatMapGroupsWithState` sessionizer
    * ([[graft.streaming.EventStream.userSessions]]).
    *
    * `tieBreak` must make the per-key ordering total (e.g. an event
    * id) or session numbering is nondeterministic under ties.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    // integer microsecond arithmetic: exact on sub-second timestamps
    // (a double epoch would round, a second-truncating diff would
    // misclassify gaps that straddle a second boundary)
    val prev = lag(unix_micros(col(tsCol)), 1).over(w)
    val isNew = when(prev.isNull ||
      unix_micros(col(tsCol)) - prev > gapSeconds * 1000000L, 1)
      .otherwise(0)
    df.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
  }

  /** Type-2 slowly-changing-dimension build from a change log: collapse
    * per-key history to rows where any tracked attribute actually
    * changed, stamped with `[valid_from, valid_to)` effective ranges
    * (`valid_to` NULL on the current row).
    *
    * Two window passes over the same (key, ts) partitioning — change
    * detection via `lag` before the filter, range closing via `lead`
    * after it — which Catalyst plans as one shuffle; the sort is reused.
    * No self-join, no collect: the standard warehouse dimension-build
    * at any scale. `tieBreak` totalizes ordering for same-timestamp
    * changes (last writer wins deterministically).
    */
  def scd2(df: DataFrame, keyCol: String, tsCol: String,
           attrCols: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val changed = attrCols.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val flagged = df.withColumn("__chg",
      lag(col(tsCol), 1).over(w).isNull || changed)
    val wAfter = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    flagged.filter(col("__chg"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wAfter))
      .withColumn("is_current", lead(col(tsCol), 1).over(wAfter).isNull)
      .drop("__chg")
  }

  /** Snapshot diff — derive a changelog between two snapshots of the
    * same keyed table: `insert` (key only in new), `delete` (key only
    * in old), `update` (key in both, any tracked attribute differs).
    * Unchanged rows are dropped. The batch CDC primitive behind
    * incremental reprocessing: the reference's daily full recompute
    * becomes "diff today's snapshot against yesterday's, reprocess
    * only the changed keys" (see [[graft.streaming.IncrementalAlerts]]
    * for the streaming consumption side).
    *
    * One full outer join on the key — a single co-partitioned shuffle
    * pair, no window, no collect; NULL-safe attribute compare so NULL
    * → value and value → NULL both count as updates. Emits the new
    * side's attributes for insert/update and the old side's for
    * delete.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
                   attrCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("__k_old") +:
      attrCols.map(c => col(c).as(s"__old_$c")): _*)
    val n = newSnap.select(col(keyCol).as("__k_new") +:
      attrCols.map(c => col(c).as(s"__new_$c")): _*)
    val changed = attrCols
      .map(c => !(col(s"__old_$c") <=> col(s"__new_$c")))
      .reduce(_ || _)
    o.join(n, col("__k_old") === col("__k_new"), "full_outer")
      .withColumn("change_type",
        when(col("__k_old").isNull, "insert")
          .when(col("__k_new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      .select(
        coalesce(col("__k_new"), col("__k_old")).as(keyCol) +:
          col("change_type") +:
          attrCols.map(c =>
            when(col("change_type") === "delete", col(s"__old_$c"))
              .otherwise(col(s"__new_$c")).as(c)): _*)
  }

  /** Unpivot n (name, value) measure pairs into rows — the reference's
    * U2 UNION-ALL unpivot (reference src/alertas/alerta_isps.py:78-92)
    * as a single-pass `stack`: no repeated scans of the input.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], measures: Seq[(String, String)],
              nameCol: String = "measure", valueCol: String = "val"): DataFrame = {
    // labels are escaped and column names backquoted before they enter
    // the generated stack() SQL — a quote in a caller-supplied label
    // (or a column name needing quoting) must not break parsing (the
    // same injection hazard QualityChecks.audit documents avoiding)
    val pairs = measures.map { case (label, c) =>
      s"'${label.replace("'", "''")}', `${c.replace("`", "``")}`"
    }.mkString(", ")
    val stackExpr = s"stack(${measures.size}, $pairs) as " +
      s"(`${nameCol.replace("`", "``")}`, `${valueCol.replace("`", "``")}`)"
    df.select(idCols.map(col) :+ expr(stackExpr): _*)
  }

  /** Pure interval-overlap join via range binning — the non-equi join
    * Spark has no native operator for (a bare `a.start <= b.end AND
    * b.start <= a.end` condition plans BroadcastNestedLoopJoin, i.e.
    * an all-pairs scan).
    *
    * Each interval explodes to the width-`binWidth` bins it covers;
    * candidates equi-join on the bin (an ordinary shuffled hash join);
    * the overlap predicate verifies. A pair overlapping across several
    * shared bins is emitted exactly once — at the bin containing
    * `max(lStart, rStart)` — so no dedup shuffle is ever needed.
    *
    * Endpoints are inclusive LONGs (epoch micros for time intervals;
    * callers convert with `unix_micros`). Inputs must have disjoint
    * column names; the output carries both rows' columns. Rows with
    * `end < start` produce nothing.
    *
    * Scale: shuffle volume is Σ(interval length / binWidth) rows —
    * pick `binWidth` near the median interval length so most intervals
    * explode to 1-2 bins. A single giant interval degrades to
    * length/binWidth copies of ONE row (linear, skew-visible in the
    * UI), never to an all-pairs product.
    */
  def intervalJoin(left: DataFrame, lStart: String, lEnd: String,
                   right: DataFrame, rStart: String, rEnd: String,
                   binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // floor-division bin that is exact on LONGs for any sign:
    // c - pmod(c, W) is a multiple of W with magnitude < 2^53, so the
    // double division is exact
    def bin(c: Column): Column =
      ((c - pmod(c, lit(binWidth))) / lit(binWidth)).cast("long")
    def binned(df: DataFrame, s: String, e: String, out: String) =
      df.filter(col(e) >= col(s))
        .withColumn(out, explode(sequence(bin(col(s)), bin(col(e)))))
    val l = binned(left, lStart, lEnd, "__lbin")
    val r = binned(right, rStart, rEnd, "__rbin")
    l.join(r,
        col("__lbin") === col("__rbin") &&
          col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
          col("__lbin") === bin(greatest(col(lStart), col(rStart))))
      .drop("__lbin", "__rbin")
  }

  /** Ordered-funnel analysis — the step-conversion query every
    * event-analytics workload runs ("viewed, then clicked, then
    * purchased — each strictly after the previous, within W of the
    * first"). A user reaches step i when an event of that type
    * exists strictly after their step-(i−1) time, taking the
    * EARLIEST qualifying event at each step. `windowMicros` bounds
    * the whole journey from the step-0 anchor; None = unbounded.
    *
    * CONTRACT: the anchor is the user's EARLIEST step-0 event,
    * fixed. With `windowMicros` set this UNDER-COUNTS relative to
    * sliding-anchor semantics (ClickHouse `windowFunnel`): a user
    * whose first step-0 event's window expires but whose LATER
    * step-0 event completes in-window (A@0, A@150, B@160, W=100)
    * counts only at step 0 here, though A@150→B@160 converts. When
    * every step-0 occurrence must be tried as an anchor, use
    * [[funnelSliding]] — it pays one extra join fan-out (rows ∝
    * step-0 events, not users) for the exact semantics. With
    * `windowMicros = None` the two agree (greedy earliest-first
    * maximizes the remaining suffix, so a fixed earliest anchor is
    * optimal when nothing expires).
    *
    * Scale shape: one staged min-after aggregate per step, each
    * keyed on the user — the frame entering step i is ONE ROW per
    * user that survived step i−1, so the join side shrinks
    * monotonically down the funnel while the event side is pruned
    * to that step's type at the scan (pushed filter). No window
    * over the raw event stream, no per-user event arrays, no
    * self-join of events against events: step count × (filtered
    * scan + user-keyed shuffle), at most. Output: (step_idx, step,
    * users). */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String],
             windowMicros: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = df.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      unix_micros(col(tsCol)).as("__m"))
    var cur = base.filter(col("__t") === steps.head)
      .groupBy(col("__u")).agg(min(col("__m")).as("__m0"))
      .withColumn("__mp", col("__m0"))
    var out = cur.select(lit(0).as("step_idx"),
      lit(steps.head).as("step"), col("__u"))
    for (i <- 1 until steps.length) {
      val within = windowMicros
        .map(w => col("__m") <= col("__m0") + lit(w))
        .getOrElse(lit(true))
      cur = base.filter(col("__t") === steps(i))
        .join(cur.select("__u", "__m0", "__mp"), Seq("__u"))
        .filter(col("__m") > col("__mp") && within)
        .groupBy(col("__u"), col("__m0"))
        .agg(min(col("__m")).as("__mp"))
      out = out.union(cur.select(lit(i).as("step_idx"),
        lit(steps(i)).as("step"), col("__u")))
    }
    out.groupBy(col("step_idx"), col("step"))
      .agg(count(lit(1)).as("users"))
  }

  /** Sliding-anchor windowed funnel — ClickHouse-`windowFunnel`
    * semantics: EVERY step-0 event is tried as an anchor, and a user
    * counts at step i when ANY anchor's greedy chain (earliest
    * qualifying event per step, each strictly after the previous,
    * all within `windowMicros` of that anchor) reaches step i. This
    * is the exact windowed-funnel answer [[funnel]]'s fixed earliest
    * anchor under-counts (see its contract note); per anchor, greedy
    * earliest-first is optimal, and maximizing over anchors is
    * exactly "some window converts".
    *
    * Implementation: a LINEAR frontier scan per user, not the
    * per-anchor join chain ([[funnelSlidingJoins]], kept as the
    * validation reference — its step joins fan out anchors × events
    * per user, a quadratic that measured 35s at 100× events where
    * q151's chain took 2.1s). The scan keeps, per funnel level, the
    * frontier of live greedy chains as an (anchor, completion-time)
    * staircase — greedy completion times are MONOTONE in the anchor,
    * so both arrays stay sorted, extraction of "extendable by an
    * event at time m" is a contiguous range (completion < m for
    * strict ordering, m − anchor ≤ W for the window), every chain
    * extends at its earliest valid event (= the greedy time), and
    * expired anchors drop off the head. Each event touches each of
    * its type's levels once: O(events·log + anchors·levels) per
    * user, zero risk of the join form's per-user blow-up.
    *
    * Scale shape: ONE user-keyed shuffle, then `sortWithinPartitions
    * (u, m)` and a STREAMING iterator consumption — the sort rides
    * Spark's spillable external sorter, and the kernel holds only
    * the live frontier, never the user's event array. Task memory is
    * O(live anchors in the window) per in-flight user (expired and
    * consumed frontier entries are head-pruned and compacted —
    * [[FrontierScanState]]), so a hyperactive user with 10⁶ events
    * costs the sorter spill, not task heap: the round-11 mega-user
    * hazard is gone (RelationalSpec pins peak-live on a planted
    * 10⁶-event user). The event side is pruned to the step types at
    * the scan. The per-level count table is at most steps.length+1
    * rows — reduced on the driver by contract, like
    * [[globalRowNumber]]'s partition-count list. Output:
    * (step_idx, step, users), rows only for non-empty steps. */
  def funnelSliding(df: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, steps: Seq[String],
                    windowMicros: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowMicros > 0, "windowMicros must be positive")
    val sp = df.sparkSession
    import sp.implicits._
    val n = steps.length
    val stepsArr = steps.toArray
    val w = windowMicros
    val ev = df.select(col(userCol).cast("string").as("u"),
        col(typeCol).as("t"), unix_micros(col(tsCol)).as("m"))
      .filter(col("t").isin(steps.distinct: _*) && col("m").isNotNull)
      .as[(String, String, Long)]
    val maxLevels: org.apache.spark.sql.Dataset[Int] = ev
      .repartition(col("u"))
      .sortWithinPartitions(col("u"), col("m"))
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Int] {
          private val batch =
            scala.collection.mutable.ArrayBuffer.empty[String]
          def hasNext: Boolean = it.hasNext
          def next(): Int = {
            val u = it.head._1
            val st = new FrontierScanState(stepsArr, w)
            while (it.hasNext && it.head._1 == u) {
              val m = it.head._3
              batch.clear()
              while (it.hasNext && it.head._1 == u && it.head._3 == m)
                batch += it.next()._2
              st.observeBatch(m, batch)
            }
            st.result
          }
        }
      }
    // per-level histogram: at most steps.length+1 rows by contract
    val hist = maxLevels.toDF("lvl").filter(col("lvl") >= 0)
      .groupBy(col("lvl")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = (0 until n).map { i =>
      (i, stepsArr(i), hist.filter(_._1 >= i).values.sum)
    }.filter(_._3 > 0)
    sp.createDataFrame(rows).toDF("step_idx", "step", "users")
  }

  /** The frontier-scan kernel shared by [[funnelSliding]] and the
    * streaming [[graft.streaming.EventStream]] funnel, as INCREMENTAL
    * state: feed equal-timestamp batches in strictly increasing time
    * order via [[observeBatch]]; [[result]] is the max funnel level
    * any sliding anchor reached (−1 = no anchor yet). See
    * [[funnelSliding]] for the invariants and the monotone-staircase
    * argument.
    *
    * Memory contract: the per-level frontiers hold only LIVE states —
    * every batch first expires states whose window closed
    * (`m − anchor > W`; their level is already folded into the
    * running max) and compacts the consumed/expired prefix out of the
    * buffers once it reaches half the buffer (amortized O(1) per
    * state). Peak resident state is therefore O(anchors live in one
    * window × levels), INDEPENDENT of how many events one user has —
    * the mega-user bound [[funnelSliding]]'s sorted-iterator form
    * relies on, pinned by [[peakLive]] in RelationalSpec. */
  private[graft] final class FrontierScanState(stepsArr: Array[String],
                                               w: Long) {
    private val n = stepsArr.length
    // type -> the levels (>= 1) an event of that type can extend INTO
    private val extendLevels: Map[String, Array[Int]] =
      stepsArr.zipWithIndex.filter(_._2 >= 1).toSeq
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
    // frontier per level: parallel (anchor, completion) arrays,
    // both ascending; head = live start (expired anchors skipped)
    private val fa =
      Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Long])
    private val fp =
      Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Long])
    private val head = new Array[Int](n)
    private var maxLevel = -1
    private var peak = 0

    private def compact(k: Int): Unit =
      if (head(k) >= 16 && head(k) * 2 >= fa(k).length) {
        fa(k).remove(0, head(k))
        fp(k).remove(0, head(k))
        head(k) = 0
      }

    /** All events at ONE timestamp `m`; calls must come in strictly
      * increasing `m`. Extensions are processed before anchors: only
      * states with completion < m may serve (strictly-after), so a
      * state created in this batch can never serve it, and an anchor
      * at m may only serve events strictly after m. */
    def observeBatch(m: Long, types: scala.collection.Seq[String]): Unit = {
      // eager expiry at EVERY level (not just extension targets):
      // expired states can never extend again and their level is
      // already in maxLevel — this is what bounds resident state
      // between extension events. Subtraction form: no a + W overflow.
      var k = 0
      while (k < n) {
        val aB = fa(k)
        var h = head(k)
        while (h < aB.length && m - aB(h) > w) h += 1
        head(k) = h
        compact(k)
        k += 1
      }
      var b = 0
      while (b < types.length) {
        val lvls = extendLevels.getOrElse(types(b), null)
        if (lvls != null) {
          var li = lvls.length - 1
          while (li >= 0) {
            val kk = lvls(li); val src = kk - 1
            val aB = fa(src); val pB = fp(src)
            var h = head(src)
            while (h < aB.length && m - aB(h) > w) h += 1
            head(src) = h
            var e = h
            while (e < pB.length && pB(e) < m) e += 1
            if (e > h) {
              var x = h
              while (x < e) { fa(kk) += aB(x); fp(kk) += m; x += 1 }
              if (kk > maxLevel) maxLevel = kk
              head(src) = e
            }
            li -= 1
          }
        }
        b += 1
      }
      b = 0
      while (b < types.length) {
        if (types(b) == stepsArr(0)) {
          val aB = fa(0)
          if (aB.isEmpty || aB.last != m) {
            aB += m; fp(0) += m
            if (maxLevel < 0) maxLevel = 0
          }
        }
        b += 1
      }
      var live = 0
      k = 0
      while (k < n) { live += fa(k).length - head(k); k += 1 }
      if (live > peak) peak = live
    }

    /** Max level reached so far (−1 = none). */
    def result: Int = maxLevel

    /** High-water mark of resident frontier states — the memory
      * contract's observable. */
    def peakLive: Int = peak
  }

  /** Whole-array form of the kernel for callers that hold a user's
    * events anyway (the watermark-bounded streaming buffer, spec
    * cross-checks): sorts, batches equal timestamps, and feeds
    * [[FrontierScanState]]. Unsorted input; −1 = no anchor. */
  private[graft] def frontierScan(evsIn: Array[(Long, String)],
                                  stepsArr: Array[String],
                                  w: Long): Int = {
    val st = new FrontierScanState(stepsArr, w)
    val evs = evsIn.sortBy(_._1)
    val batch = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < evs.length) {
      val m = evs(i)._1
      batch.clear()
      var j = i
      while (j < evs.length && evs(j)._1 == m) { batch += evs(j)._2; j += 1 }
      st.observeBatch(m, batch)
      i = j
    }
    st.result
  }

  /** The per-anchor join-chain form of [[funnelSliding]] — same
    * staged min-after aggregates as [[funnel]], keyed on
    * (user, anchor). Kept as the VALIDATION REFERENCE for the scan
    * (RelationalSpec cross-checks them on randomized event sets):
    * its semantics are transparently the per-anchor definition, but
    * each step join fans out anchors × events per user, so it is
    * quadratic in per-user activity — measured 35s at 100× events
    * (SCALE.md round 11) and unbounded under a hyperactive user.
    * Use [[funnelSliding]]. */
  def funnelSlidingJoins(df: DataFrame, userCol: String, typeCol: String,
                         tsCol: String, steps: Seq[String],
                         windowMicros: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowMicros > 0, "windowMicros must be positive")
    val base = df.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      unix_micros(col(tsCol)).as("__m"))
    var cur = base.filter(col("__t") === steps.head)
      .select(col("__u"), col("__m").as("__m0"), col("__m").as("__mp"))
    var out = cur.select(lit(0).as("step_idx"),
      lit(steps.head).as("step"), col("__u"))
    for (i <- 1 until steps.length) {
      cur = base.filter(col("__t") === steps(i))
        .join(cur.select("__u", "__m0", "__mp"), Seq("__u"))
        .filter(col("__m") > col("__mp") &&
          col("__m") <= col("__m0") + lit(windowMicros))
        .groupBy(col("__u"), col("__m0"))
        .agg(min(col("__m")).as("__mp"))
      out = out.union(cur.select(lit(i).as("step_idx"),
        lit(steps(i)).as("step"), col("__u")))
    }
    out.groupBy(col("step_idx"), col("step"))
      .agg(countDistinct(col("__u")).as("users"))
  }

  /** Scalable global row numbering — `row_number() OVER (ORDER BY …)`
    * without its 100 TB failure mode. Spark plans the windowed form as
    * a SINGLE-partition sort: every row moves to one task, which is
    * the classic large-corpus killer (training pipelines need exactly
    * this for deterministic epoch shuffles and shard assignment).
    *
    * This is the range-partition + offset pattern instead: range
    * repartition on the order key (each partition holds a contiguous
    * key range), sort within partitions, count rows per partition
    * (one cheap aggregate; the per-partition count list is
    * #partitions entries — driver-bounded by cluster size, the same
    * contract as `zipWithIndex`), broadcast the cumulative offsets,
    * and assign `offset + local index` in one mapPartitions pass.
    * One full-data shuffle total; no single-task stage anywhere.
    *
    * `orderCols` must be a UNIQUE composite key (append a tiebreaker
    * id) — range partitioning may split ties across partitions, and a
    * total order is what makes the rank reproducible and
    * oracle-checkable.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[String],
                      outCol: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val keys = orderCols.map(col)
    // two consumers: counts + the rank pass
    val sorted = barrier(df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id()))
    val counts = sorted.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nPart = if (counts.isEmpty) 0 else counts.keys.max + 1
    val offsets = new Array[Long](nPart + 1)
    (0 until nPart).foreach(p =>
      offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L))
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    sorted.mapPartitions { it =>
      var local = 0L
      it.map { row =>
        val pid = row.getAs[Int]("__pid")
        local += 1L
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ (bc.value(pid) + local))
      }
    }(enc).drop("__pid")
  }
}
