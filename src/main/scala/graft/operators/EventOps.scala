package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch event-log operators: tumbling-window aggregation, gap-based
  * sessionization, payload field extraction. The streaming forms live in
  * [[graft.streaming.EventStreams]]; these batch forms share semantics and
  * serve as their oracles.
  *
  * All timestamps are reduced to epoch milliseconds (exact integers)
  * before arithmetic so results are engine-portable regardless of the
  * source's ns/us/ms physical precision.
  */
object EventOps {

  /** Tumbling-window aggregate in batch form: group by calendar hour.
    * One partial-agg shuffle keyed on the (small) window key.
    */
  def hourlyAgg(events: DataFrame, tsCol: String, typeCol: String, valCol: String): DataFrame =
    events.groupBy(
        year(col(tsCol)).cast("long").as("y"),
        month(col(tsCol)).cast("long").as("m"),
        dayofmonth(col(tsCol)).cast("long").as("d"),
        hour(col(tsCol)).cast("long").as("h"),
        col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col(valCol) * 100).cast("long")).as("value_cents"))

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMs`. Single shuffle on
    * user_id; lag + running sum are evaluated stream-wise per partition,
    * so state is O(1) per user regardless of history length.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String, gapMs: Long): DataFrame = {
    val wOrd = Window.partitionBy(col(userCol)).orderBy(col("ts_ms"), col("event_id"))
    val withMs = events.withColumn("ts_ms", unix_millis(col(tsCol)))
    val flagged = withMs.withColumn("new_sess",
      when(col("ts_ms") - lag(col("ts_ms"), 1).over(wOrd) > gapMs, 1L).otherwise(
        when(lag(col("ts_ms"), 1).over(wOrd).isNull, 1L).otherwise(0L)))
    val sess = flagged.withColumn("session_id",
      sum(col("new_sess")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"))
  }

  /** Typed twin of [[sessionize]]: the SAME gap semantics through the
    * `Dataset[T]` / `KeyValueGroupedDataset.flatMapGroups` surface —
    * per-user groups stream through a compile-time-typed closure
    * instead of two analytic windows. Exists to prove (and spec-pin)
    * that the typed API carries identical semantics: the group
    * iterator is sorted in (ts, event_id) order, sessions cut on the
    * same strict `gap > gapMs`, output rows equal [[sessionize]]'s
    * bit-for-bit. Per-user volume must fit an executor (same bound a
    * user's window partition already implies).
    */
  def sessionizeTyped(events: org.apache.spark.sql.Dataset[
                        graft.streaming.EventStreams.Event],
                      gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var sid = 0L
        var n = 0L
        var start = 0L
        var last = Long.MinValue
        def close(): Unit =
          if (n > 0) out += ((uid, sid, n, start, last - start))
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (last == Long.MinValue || t - last > gapMs) {
            close(); sid += 1; n = 0L; start = t
          }
          n += 1; last = t
        }
        close()
        out.iterator
      }
      .toDF("user_id", "session_id", "n_events", "start_ms", "duration_ms")
  }

  /** Pivot: one column per event type with daily counts. The type values
    * are passed explicitly — with an explicit value list Spark skips the
    * extra distinct-collection job AND the output schema is static, which
    * a 100 TB pipeline needs anyway (schema can't depend on data).
    */
  def dailyPivot(events: DataFrame, tsCol: String, typeCol: String,
                 types: Seq[String]): DataFrame =
    events.groupBy(
        year(col(tsCol)).cast("long").as("y"),
        month(col(tsCol)).cast("long").as("m"),
        dayofmonth(col(tsCol)).cast("long").as("d"))
      .pivot(typeCol, types)
      .agg(count(lit(1)))
      .select(col("y") +: col("m") +: col("d") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  /** Sliding (hopping) window counts in batch form: per (type, window
    * start) where windows are `sizeMs` wide and advance every `hopMs` —
    * each event lands in exactly size/hop windows. The window membership
    * is pure integer epoch arithmetic (window w contains ts iff
    * w = (ts div hop − i)·hop for i < size/hop), so the ×(size/hop)
    * explode stays in whole-stage codegen and the map-side partial
    * aggregate collapses each partition to its window keys before the
    * single shuffle. The streaming twin of this shape is
    * `window(ts, size, hop)` in [[graft.streaming.EventStreams]].
    */
  def slidingCounts(events: DataFrame, tsCol: String, typeCol: String,
                    sizeMs: Long, hopMs: Long): DataFrame = {
    require(sizeMs > 0 && hopMs > 0 && sizeMs % hopMs == 0,
      "window size must be a positive multiple of the hop")
    val k = sizeMs / hopMs
    events.select(col(typeCol), unix_millis(col(tsCol)).as("__ms"))
      .select(col(typeCol), explode(sequence(lit(0L), lit(k - 1))).as("__i"), col("__ms"))
      .select(col(typeCol),
        ((expr(s"__ms div ${hopMs}L") - col("__i")) * hopMs).as("w_start"))
      .groupBy(col(typeCol), col("w_start"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** EXACT sliding-window distinct actors (rolling WAU/MAU): each
    * event's period explodes into the `windowPeriods` window-end keys it
    * belongs to, then one `count(DISTINCT actor)` per window — bounded
    * ×window fan-out in codegen before the single shuffle, like
    * [[slidingCounts]] but with within-window actor dedup. Windows are
    * reported for PRESENT periods only (the broadcast semi-join), so a
    * calendar gap doesn't emit phantom trailing windows. Exactness
    * costs per-window distinct state ∝ actors×windows at the shuffle;
    * the bounded-state companion at corpus scale is
    * [[Sketches.kmvSlidingDistinct]] (per-period sketch rows, window
    * merge over k longs — the fact table shuffles ONCE, not ×window).
    */
  def slidingDistinct(events: DataFrame, period: Column, actor: Column,
                      windowPeriods: Int): DataFrame = {
    require(windowPeriods >= 1, "window must be >= 1 periods")
    val flat = events.select(period.cast("long").as("__p"), actor.as("__a"))
    val present = flat.select(col("__p").as("period")).distinct()
    flat
      .select(col("__a"),
        explode(sequence(col("__p"), col("__p") + lit(windowPeriods - 1L)))
          .as("period"))
      .join(broadcast(present), "period")
      .groupBy(col("period"))
      .agg(countDistinct(col("__a")).as("n_distinct"))
  }

  /** As-of join, composed without a join: for each target event, the most
    * recent prior event of `matchType` from the same user. A running
    * `max(CASE WHEN matchType THEN ts END)` over the per-user event order
    * IS the as-of lookup (timestamps ascend, so max ≡ latest) — one sort
    * per user partition, no range-join blowup, no state. This is the
    * scalable pattern for point-in-time joins Spark lacks natively.
    */
  def asofPriorEvent(events: DataFrame, userCol: String, tsCol: String, typeCol: String,
                     targetType: String, matchType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.withColumn("ts_ms", unix_millis(col(tsCol)))
      .withColumn("asof_ms",
        max(when(col(typeCol) === matchType, col("ts_ms"))).over(w))
      .filter(col(typeCol) === targetType)
      .select(col("event_id"), col(userCol), col("ts_ms"), col("asof_ms"),
        (col("ts_ms") - col("asof_ms")).as("gap_ms"))
  }

  /** Nearest-event join, either direction: for each target event, the
    * `matchType` event from the same user with the smallest |Δt| —
    * before OR after (the "closest telemetry reading to each incident"
    * shape; [[asofPriorEvent]] is the backward-only half). Composed as
    * TWO frame scans over the same per-user sort — a running
    * `max(CASE …)` over the preceding frame and a running `min(CASE …)`
    * over the following frame — then a three-way null-safe pick; ties
    * break to the prior event (deterministic, matches the replayed
    * oracle). One sort per user partition, no range join, no state:
    * the same scalable pattern as the as-of, paying one extra window
    * function on an already-sorted partition.
    */
  def nearestEvent(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, targetType: String,
                   matchType: String): DataFrame = {
    val base = Window.partitionBy(col(userCol))
      .orderBy(col("ts_ms"), col("event_id"))
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    events.withColumn("ts_ms", unix_millis(col(tsCol)))
      .withColumn("prev_ms",
        max(when(col(typeCol) === matchType, col("ts_ms"))).over(wPrev))
      .withColumn("next_ms",
        min(when(col(typeCol) === matchType, col("ts_ms"))).over(wNext))
      .filter(col(typeCol) === targetType)
      .withColumn("nearest_ms",
        when(col("prev_ms").isNull, col("next_ms"))
          .when(col("next_ms").isNull, col("prev_ms"))
          .when(col("ts_ms") - col("prev_ms") <= col("next_ms") - col("ts_ms"),
            col("prev_ms"))
          .otherwise(col("next_ms")))
      .select(col("event_id"), col(userCol), col("ts_ms"), col("prev_ms"),
        col("next_ms"), col("nearest_ms"),
        abs(col("nearest_ms") - col("ts_ms")).as("gap_ms"))
  }

  /** Markov transition matrix over within-session event sequences:
    * counts of (from_type → to_type) for consecutive event pairs whose
    * gap is ≤ `gapMs` — the clickstream summary behind next-action
    * models and anomaly baselines. "Consecutive within a session" is
    * exactly "adjacent in the per-user order with gap ≤ threshold", so
    * no session ids are materialized at all: ONE user-keyed window pass
    * (lead of type and timestamp), then a types²-bounded aggregate.
    * Ties on the timestamp break by event_id, like [[sessionize]].
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("ts_ms"), col("event_id"))
    events.withColumn("ts_ms", unix_millis(col(tsCol)))
      .withColumn("__to", lead(col(typeCol), 1).over(w))
      .withColumn("__gap", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
      .where(col("__to").isNotNull && col("__gap") <= gapMs)
      .groupBy(col(typeCol).as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Regex field extraction from a semi-structured payload column —
    * codegen'd regexp, no JSON parser dependency, pushable ahead of any
    * shuffle.
    */
  def extractIntField(events: DataFrame, propsCol: String, field: String): DataFrame =
    events.withColumn(field,
      regexp_extract(col(propsCol), "\"" + field + "\": (\\d+)", 1).cast("long"))

  /** Ordered funnel: for each prefix of `steps`, how many users reached
    * it IN ORDER — step k counts users with an event of type k strictly
    * after their earliest completion time of the k-1 prefix (the
    * standard min-time funnel recurrence).
    *
    * One (join + min-aggregate) per step, each keyed on the user id, and
    * the reached set only ever shrinks — per-step state is one timestamp
    * per surviving user, never an event list. EAGER by design: each
    * step's reached set is persisted and counted before the next step
    * builds on it, so the events table is scanned once per step (a lazy
    * union of step counts would re-derive every prefix inside each
    * branch — O(steps²) source scans); caches are dropped before
    * returning, and the result is the tiny (step, n_users) table.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String, typeCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    // cache lifecycle: step i only ever feeds step i+1, so the previous
    // step unpersists as soon as the current one is materialized, and
    // the FINAL step is never persisted at all (its count is its only
    // consumer) — at most one cached reached-set lives at a time.
    // `cur` tracks a frame from the moment it is persisted (BEFORE the
    // materializing count), so a failure mid-count cannot strand a cache
    // entry the finally block doesn't know about.
    var prev: DataFrame = null
    var cur: DataFrame = null
    try {
      var reached: DataFrame = null
      val counts = steps.zipWithIndex.map { case (st, i) =>
        val last = i == steps.size - 1
        reached = {
          val r =
            if (i == 0)
              events.filter(col(typeCol) === st)
                .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
            else
              events.filter(col(typeCol) === st)
                .join(reached.select(col(userCol), col("__t").as("__pt")), userCol)
                .where(col(tsCol) > col("__pt"))
                .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
          if (last) r else { r.persist(); cur = r; r }
        }
        val n = reached.count()
        if (prev != null) prev.unpersist()
        prev = cur
        cur = null
        ((i + 1).toLong, n)
      }
      val spark = events.sparkSession
      import spark.implicits._
      counts.toDF("step", "n_users")
    } finally {
      if (cur != null) cur.unpersist()
      if (prev != null) prev.unpersist()
    }
  }

  /** Funnel completion latency: for every user who walks the whole
    * ordered funnel ([[funnel]]'s first-reach semantics — each step's
    * timestamp is the FIRST occurrence strictly after the previous
    * step), the wall time from the step-1 anchor to completion, reduced
    * to exact quartiles in ms — the "how long does click→purchase
    * take" companion to the step-count funnel. Same per-step
    * reached-set chain as [[funnel]] (user-keyed joins, min-aggregates);
    * the step-1 table anchors both the chain and the final duration
    * join, so it is checkpointed once. The quartile pass is the
    * [[graft.etl.Marts.exactQuartiles]] rank idiom over ONE group —
    * completions, not events, and emitted with the completion count.
    */
  def funnelLatency(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a latency needs at least two funnel steps")
    val s0 = events.filter(col(typeCol) === steps.head)
      .select(col(userCol).as("user_id"), unix_millis(col(tsCol)).as("__ms"))
      .groupBy(col("user_id")).agg(min(col("__ms")).as("__t0"))
      .localCheckpoint(false)
    val reached = steps.tail.foldLeft(s0.select(col("user_id"), col("__t0").as("__t"))) {
      (acc, st) =>
        events.filter(col(typeCol) === st)
          .select(col(userCol).as("user_id"), unix_millis(col(tsCol)).as("__ms"))
          .join(acc, "user_id")
          .where(col("__ms") > col("__t"))
          .groupBy(col("user_id")).agg(min(col("__ms")).as("__t"))
    }
    val durs = reached.join(s0, "user_id")
      .select(col("user_id"), (col("__t") - col("__t0")).as("dur_ms"))
    // the completed cohort is one row per user — still fact-sized at
    // scale, so ranks come from the range-partitioned GlobalRank, not
    // a single-partition ORDER BY window
    val ranked = GlobalRank.globalRank(durs,
      Seq(col("dur_ms").asc, col("user_id").asc), "grank")
    val n = broadcast(ranked.agg(count(lit(1)).as("__cnt")))
    ranked.crossJoin(n)
      .groupBy(lit(1L).as("g"))
      .agg(max(col("__cnt")).as("n_completed"),
        min(when(col("grank") === expr("(__cnt + 3) div 4"), col("dur_ms"))).as("p25_ms"),
        min(when(col("grank") === expr("(__cnt + 1) div 2"), col("dur_ms"))).as("p50_ms"),
        min(when(col("grank") === expr("(3 * __cnt + 3) div 4"), col("dur_ms"))).as("p75_ms"))
  }

  /** Top conversion paths: for every conversion, the `>`-joined
    * sequence of event types that preceded it inside the window
    * (ordered by time with an event-id tie-break — total order, so the
    * path string is deterministic), then the K most frequent paths with
    * a (count desc, path asc) tie-break. The "which journeys actually
    * convert" census behind every funnel redesign.
    *
    * Scale: the touch↔conversion pair join is the [[attribution]]
    * user-keyed shape; each conversion's path builds from a bounded
    * in-window touch list (sort_array over a per-conversion
    * collect_list — state bounded by the window, not history), and the
    * top-K is a TakeOrdered over the path census, never a global sort.
    * Conversions with zero in-window touches have no path and are
    * excluded (count them with [[funnel]] instead).
    */
  def conversionPaths(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, targetType: String, windowMs: Long,
                      topK: Int, idCol: String = "event_id"): DataFrame = {
    require(windowMs > 0 && topK > 0)
    val targets = events.filter(col(typeCol) === targetType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        unix_millis(col(tsCol)).as("conv_ms"))
    val touches = events.filter(col(typeCol) =!= targetType)
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        unix_millis(col(tsCol)).as("touch_ms"), col(typeCol).as("t"))
    val paths = targets.join(touches, "user_id")
      .where(col("touch_ms") >= col("conv_ms") - windowMs &&
        col("touch_ms") < col("conv_ms"))
      .groupBy(col("conv_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(touch_ms, touch_id, t))), x -> x.t)"),
        ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("n_conversions").desc, col("path").asc)
      .limit(topK)
  }

  /** DAU / WAU / MAU + stickiness — the product-analytics engagement
    * census: for every active day, distinct users that day, over the
    * trailing week, and over the trailing `mauDays`, plus the DAU/MAU
    * stickiness ratio in exact ppm. One distinct (day, user) reduction,
    * one bounded ×`mauDays` offset explode (the
    * [[Sketches.kmvSlidingDistinct]] exact-form shape — swap to the
    * KMV variant when the window or user cardinality outgrows it),
    * then ONE aggregate with three conditional distincts — the three
    * windows never scan separately.
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
                 wauDays: Int, mauDays: Int): DataFrame = {
    require(wauDays >= 1 && mauDays > wauDays)
    val f = events.select(expr(s"unix_millis($tsCol) div 86400000").as("d"),
      col(userCol).as("u")).distinct().localCheckpoint(false)
    val present = f.select(col("d").as("day")).distinct()
    val x = f.withColumn("off", explode(sequence(lit(0L), lit(mauDays - 1L))))
      .select((col("d") + col("off")).as("day"), col("u"), col("off"))
      .join(present, "day")
    x.groupBy(col("day"))
      .agg(countDistinct(when(col("off") === 0, col("u"))).as("dau"),
        countDistinct(when(col("off") < wauDays, col("u"))).as("wau"),
        countDistinct(col("u")).as("mau"))
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        expr("1000000L * dau div mau").as("stickiness_ppm"))
  }

  /** Peak concurrency (occupancy) per day — the classic sweep-line over
    * session intervals: +1 at each session start, −1 one ms past its
    * end (inclusive-end sessions: a session ending at t still overlaps
    * one starting at t), running-summed over the GLOBAL time order to
    * get the live-session gauge at every change point, then max'd per
    * day. "How many concurrent users/connections/jobs did we peak at"
    * — capacity planning's first question.
    *
    * The global running sum is the [[GlobalRank.globalCumsum]] two-pass
    * (range partition + per-partition offsets), NOT a single-partition
    * window — change points are 2× sessions, fact-sized. Days with no
    * change points emit no row (the gauge didn't move; the previous
    * day's closing value carries implicitly).
    */
  def maxConcurrency(events: DataFrame, userCol: String, tsCol: String,
                     gapMs: Long): DataFrame = {
    val sess = sessionize(events, userCol, tsCol, gapMs)
      .select(col(userCol).as("u"), col("session_id").as("sid"),
        col("start_ms"), (col("start_ms") + col("duration_ms")).as("end_ms"))
      .localCheckpoint(false) // feeds both sweep endpoints
    val pts = sess.select(col("start_ms").as("ms"), lit(1L).as("delta"),
        col("u"), col("sid"))
      .unionByName(sess.select((col("end_ms") + 1L).as("ms"),
        lit(-1L).as("delta"), col("u"), col("sid")))
    val swept = GlobalRank.globalCumsum(pts,
      Seq(col("ms").asc, col("delta").asc, col("u").asc, col("sid").asc),
      col("delta"), "conc")
    swept.groupBy(expr("ms div 86400000").as("day"))
      .agg(max(col("conc")).as("max_concurrent"))
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution — the
    * third industry-standard model beside [[attribution]] (linear) and
    * [[attributionDecay]] (time-decay): the FIRST touch (discovery) and
    * the LAST touch (closer) each take 400 000 ppm, the middles split
    * the remaining 200 000 by exact integer division (k−2 may not
    * divide it; the ≤(k−3) ppm remainder stays unassigned —
    * deterministic truncation, never over-allocation). Degenerate
    * funnels: one touch takes all 10⁶, two touches split 50/50.
    *
    * The per-conversion rank window is partitioned by conv_id —
    * bounded by a single conversion's touches, never fact-sized.
    */
  def attributionUShaped(events: DataFrame, userCol: String, tsCol: String,
                         typeCol: String, targetType: String, matchType: String,
                         windowMs: Long, idCol: String = "event_id"): DataFrame = {
    require(windowMs > 0)
    val targets = events.filter(col(typeCol) === targetType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        unix_millis(col(tsCol)).as("conv_ms"))
    val touches = events.filter(col(typeCol) === matchType)
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        unix_millis(col(tsCol)).as("touch_ms"))
    val pairs = targets.join(touches, "user_id")
      .where(col("touch_ms") >= col("conv_ms") - windowMs &&
        col("touch_ms") < col("conv_ms"))
      .select(col("user_id"), col("conv_id"), col("touch_id"), col("touch_ms"))
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("touch_ms").asc, col("touch_id").asc)
    pairs
      .withColumn("__rn", row_number().over(w))
      .withColumn("__k", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
      .select(col("user_id"), col("conv_id"), col("touch_id"),
        when(col("__k") === 1, lit(1000000L))
          .when(col("__k") === 2, lit(500000L))
          .when(col("__rn") === 1 || col("__rn") === col("__k"), lit(400000L))
          .otherwise(expr("200000L div (__k - 2)")).as("credit_ppm"))
  }

  /** RFM segmentation — the classic customer-value census: per user,
    * Recency (days since last event, against the dataset's own max day
    * so the result is replayable), Frequency (event count), Monetary
    * (exact cents), each scored into population quintiles and packed
    * into the familiar 3-digit segment code (555 = recent + frequent +
    * big spender). Quintile boundaries are exact equi-depth ranks —
    * `(rank−1)·5 div N + 1` with a user-id tie-break, the
    * [[Sketches.equidepthHist]] rule — NOT ntile over a global window:
    * the user census is fact-sized, so each dimension's rank comes
    * from the range-partitioned [[GlobalRank]] (three rank passes over
    * the one-row-per-user table, which the checkpoint materializes
    * once).
    */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
          valueCol: String): DataFrame = {
    val per = events.select(col(userCol).as("user_id"),
        unix_millis(col(tsCol)).as("__ms"),
        floor(col(valueCol) * 100).cast("long").as("__cents"))
      .groupBy(col("user_id"))
      .agg(max(expr("__ms div 86400000")).as("last_day"),
        count(lit(1)).as("freq"), sum(col("__cents")).as("monetary_cents"))
    val ref = broadcast(per.agg(max(col("last_day")).as("__ref")))
    val base = per.crossJoin(ref)
      .select(col("user_id"), (col("__ref") - col("last_day")).as("recency_days"),
        col("freq"), col("monetary_cents"))
      .localCheckpoint(false) // three rank passes + the final join read it
    val n = broadcast(base.agg(count(lit(1)).as("__n")))
    // orientation: higher score = better customer — most RECENT (rank
    // by recency DESC puts oldest first), most frequent, biggest spend
    def quint(order: Column, out: String): DataFrame =
      GlobalRank.globalRank(base, Seq(order, col("user_id").asc), "__rk")
        .crossJoin(n)
        .select(col("user_id"), (expr("(__rk - 1) * 5 div __n") + 1L).as(out))
    base
      .join(quint(col("recency_days").desc, "r_score"), "user_id")
      .join(quint(col("freq").asc, "f_score"), "user_id")
      .join(quint(col("monetary_cents").asc, "m_score"), "user_id")
      .select(col("user_id"), col("recency_days"), col("freq"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
  }

  /** Burst detection: an (entity, hour) is bursting when its count
    * exceeds `k×` its own trailing-window hourly mean —
    * `cnt · n_trail > k · sum_trail` in exact integer cross-multiplied
    * form (no rate doubles). The alerting primitive behind abuse/
    * incident detection; hours with fewer than `minTrail` observed
    * trailing hours stay unflagged (cold start). One keyed aggregate +
    * one per-entity window pass — the window partitions on the entity,
    * never globally.
    */
  def bursts(events: DataFrame, entityCol: String, tsCol: String,
             trailHours: Int, k: Long, minTrail: Long): DataFrame = {
    require(trailHours >= 1 && k >= 1 && minTrail >= 1)
    val hourly = events
      .select(col(entityCol).as("entity"),
        expr(s"unix_millis($tsCol) div 3600000").as("hour"))
      .groupBy(col("entity"), col("hour")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("entity")).orderBy(col("hour"))
      .rowsBetween(-trailHours, -1)
    hourly
      .withColumn("trail_sum", sum(col("cnt")).over(w))
      .withColumn("trail_n", count(col("cnt")).over(w))
      .select(col("entity"), col("hour"), col("cnt"),
        coalesce(col("trail_sum"), lit(0L)).as("trail_sum"),
        coalesce(col("trail_n"), lit(0L)).as("trail_n"))
      .withColumn("burst",
        col("trail_n") >= minTrail &&
          col("cnt") * col("trail_n") > lit(k) * col("trail_sum"))
  }

  /** Linear multi-touch attribution: every `matchType` event within
    * `windowMs` BEFORE a `targetType` event of the same user shares that
    * conversion's credit equally — the credit ledger behind marketing
    * spend allocation (first/last-touch are the argmin/argmax
    * specializations of the same pair table). Credit is exact integer
    * ppm (`1e6 div k`), so the ledger sums reproducibly; k comes from a
    * per-conversion aggregate on the SAME key the pair join produces
    * (exchange reused), never a window sort.
    *
    * Scale: the pair join is user-keyed — the standard sessionized-join
    * shape; per-user event counts bound the fan-out, and a hot user is
    * ordinary equi-join skew (AQE / [[graft.operators.Joins.saltedJoin]]).
    */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, targetType: String, matchType: String,
                  windowMs: Long, idCol: String = "event_id"): DataFrame = {
    require(windowMs > 0)
    val targets = events.filter(col(typeCol) === targetType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        unix_millis(col(tsCol)).as("conv_ms"))
    val touches = events.filter(col(typeCol) === matchType)
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        unix_millis(col(tsCol)).as("touch_ms"))
    val pairs = targets.join(touches, "user_id")
      .where(col("touch_ms") >= col("conv_ms") - windowMs &&
        col("touch_ms") < col("conv_ms"))
      .select(col("user_id"), col("conv_id"), col("touch_id"))
    val k = pairs.groupBy(col("conv_id")).agg(count(lit(1)).as("k"))
    pairs.join(k, "conv_id")
      .select(col("user_id"), col("conv_id"), col("touch_id"),
        expr("1000000L div k").as("credit_ppm"))
  }

  /** Time-decay multi-touch attribution: a touch's share of the
    * conversion halves every `halflifeMs` of age — recency-weighted
    * spend allocation, where [[attribution]] is the uniform special
    * case. Exact integers throughout: raw weight = 10⁶ div 2^steps with
    * steps = age div halflife capped at 19 (so the weight never
    * truncates to zero — a touch inside the window always keeps ≥1
    * weight unit and the per-conversion normalizer can't hit zero),
    * then credit_ppm = 10⁶·w div Σw. A power-of-two decay ladder is
    * what makes the "exponential" exact and engine-portable — e^(−λt)
    * in doubles would never hash-match across engines.
    *
    * Same user-keyed pair join and conversion-keyed normalizer shape
    * (exchange reused) as [[attribution]] — no window sort anywhere.
    */
  def attributionDecay(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, targetType: String, matchType: String,
                       windowMs: Long, halflifeMs: Long,
                       idCol: String = "event_id"): DataFrame = {
    require(windowMs > 0 && halflifeMs > 0)
    val targets = events.filter(col(typeCol) === targetType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        unix_millis(col(tsCol)).as("conv_ms"))
    val touches = events.filter(col(typeCol) === matchType)
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        unix_millis(col(tsCol)).as("touch_ms"))
    val pairs = targets.join(touches, "user_id")
      .where(col("touch_ms") >= col("conv_ms") - windowMs &&
        col("touch_ms") < col("conv_ms"))
      .select(col("user_id"), col("conv_id"), col("touch_id"),
        expr(s"1000000L div shiftleft(1L, cast(least((conv_ms - touch_ms) div ${halflifeMs}L, 19L) as int))")
          .as("w"))
    val norm = pairs.groupBy(col("conv_id")).agg(sum(col("w")).as("tw"))
    pairs.join(norm, "conv_id")
      .select(col("user_id"), col("conv_id"), col("touch_id"), col("w").as("w_ppm"),
        expr("(1000000L * w) div tw").as("credit_ppm"))
  }

  /** Driver bytes one collected (src, dst, n) transition row counts in
    * [[markovAttribution]]: the row with two short state names and a
    * long, plus its map entry.
    */
  val TransitionRowBytes = 256L

  /** Markov-chain (removal-effect) attribution, Anderl et al.: model
    * session journeys as a first-order chain START → channels →
    * CONV/NULL, absorbed at the first conversion; a channel's credit is
    * how much the chain's conversion probability DROPS when every
    * transition into it is redirected to NULL — the data-driven
    * alternative to the positional heuristics
    * ([[linearAttribution]]-family) that rewards channels lying on
    * converting paths, not just near conversions.
    *
    * Exact/portable arithmetic: transition probabilities are truncating
    * ppm (`n·10⁶ div rowtotal` — n can be trillions before overflow),
    * and the `steps`-step absorption mass is an integer fixed-point
    * iteration `v'_j = Σ_i v_i·p_ij div 10⁶` — every term ≤ 10¹², every
    * sum commutative-exact, so any engine replaying the same matrix
    * lands on identical ppm. Truncation leaks ≤ #states ppm of mass per
    * step — deterministic, identical both engines.
    *
    * Scale shape: journeys and transition counts are two window passes
    * + one keyed aggregate over the events (the [[transitionMatrix]]
    * cost). The chain itself is (states+2)² counts — driver-side fold
    * over that bounded state is the [[Similarity]] k-means-centroid
    * precedent, NOT a data-sized collect; [[SizeRule.collectCapped]]
    * caps it at [[TransitionRowBytes]] a row. Emits one row per channel:
    * (channel, p_full_ppm, p_removed_ppm, effect_ppm, share_ppm).
    */
  def markovAttribution(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, gapMs: Long, convType: String,
                        channels: Seq[String], steps: Int): DataFrame = {
    require(steps >= 1 && channels.nonEmpty && !channels.contains(convType))
    val wu = Window.partitionBy(col(userCol)).orderBy(col("ts_ms"), col("event_id"))
    val sess = events.withColumn("ts_ms", unix_millis(col(tsCol)))
      .withColumn("__ns", when(lag(col("ts_ms"), 1).over(wu).isNull ||
        col("ts_ms") - lag(col("ts_ms"), 1).over(wu) > gapMs, 1L).otherwise(0L))
      .withColumn("__sess", sum(col("__ns")).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wsPart = Window.partitionBy(col(userCol), col("__sess"))
    val ws = wsPart.orderBy(col("ts_ms"), col("event_id"))
    // absorb at the FIRST conversion: keep nothing after it
    val kept = sess.withColumn("__fc",
        min(when(col(typeCol) === convType, col("ts_ms"))).over(wsPart))
      .where(col("__fc").isNull || col("ts_ms") <= col("__fc"))
      .withColumn("__prev", lag(col(typeCol), 1).over(ws))
      .withColumn("__next", lead(col(typeCol), 1).over(ws))
    def absorb(c: Column) = when(c === convType, lit("CONV")).otherwise(c)
    val trans = kept.where(col("__prev").isNull)
        .select(lit("START").as("src"), absorb(col(typeCol)).as("dst"))
      .unionAll(kept
        .where(col("__next").isNotNull && col(typeCol) =!= convType)
        .select(col(typeCol).as("src"), absorb(col("__next")).as("dst")))
      .unionAll(kept
        .where(col("__next").isNull && col(typeCol) =!= convType)
        .select(col(typeCol).as("src"), lit("NULL").as("dst")))
    val counts = SizeRule.collectCapped(
        trans.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n")),
        TransitionRowBytes, "markovAttribution transition counts")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rowTot = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val pPpm = counts.map { case ((s, d), n) => (s, d) -> n * 1000000L / rowTot(s) }
    def absorbP(removed: Option[String]): Long = {
      var v = Map("START" -> 1000000L).withDefaultValue(0L)
      for (_ <- 1 to steps) {
        val next = scala.collection.mutable.Map[String, Long]()
          .withDefaultValue(0L)
        next("CONV") = v("CONV"); next("NULL") = v("NULL")
        for (((s, d), p) <- pPpm if !removed.contains(s); m = v(s) if m > 0
             if s != "CONV" && s != "NULL") {
          val d2 = if (removed.contains(d)) "NULL" else d
          next(d2) += m * p / 1000000L
        }
        v = next.toMap.withDefaultValue(0L)
      }
      v("CONV")
    }
    val pFull = absorbP(None)
    val effects = channels.sorted.map { c =>
      val pc = absorbP(Some(c)); (c, pc, math.max(0L, pFull - pc))
    }
    val totEff = effects.map(_._3).sum
    val spark = events.sparkSession
    import spark.implicits._
    effects.map { case (c, pc, eff) =>
      (c, pFull, pc, eff, if (totEff > 0) eff * 1000000L / totEff else 0L)
    }.toDF("channel", "p_full_ppm", "p_removed_ppm", "effect_ppm", "share_ppm")
  }

  /** Rate-based bot census: per user, the count of distinct minutes
    * with ≥ `ratePerMinute` events and the per-minute peak; `bot` flags
    * users sustaining the rate in ≥ `minMinutes` minutes — the cheap
    * integer-rate tier of abuse filtering (no model, no state). Two
    * keyed aggregates: (user, minute) then user.
    */
  def botCensus(events: DataFrame, userCol: Column, tsCol: Column,
                ratePerMinute: Long, minMinutes: Long): DataFrame = {
    require(ratePerMinute >= 1 && minMinutes >= 1)
    events.select(userCol.as("u"), unix_millis(tsCol).as("__ms"))
      .select(col("u"), expr("__ms div 60000").as("__min"))
      .groupBy(col("u"), col("__min")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_minutes"), max(col("c")).as("peak_per_minute"),
        sum(when(col("c") >= ratePerMinute, 1L).otherwise(0L)).as("n_hot_minutes"))
      .select(col("u").as("user_id"), col("n_minutes"),
        col("peak_per_minute"), col("n_hot_minutes"),
        (col("n_hot_minutes") >= minMinutes).as("bot"))
  }

  /** Inter-arrival census: per event type, the exact-integer summary of
    * millisecond gaps between each user's consecutive events of that
    * type — the cadence profile behind throttle cooldowns and session
    * gap thresholds. One (user, type)-partitioned ordered window (never
    * global), one partial-agg rollup of the gap rows.
    */
  def interArrival(events: DataFrame, userCol: Column, typeCol: Column,
                   tsCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(col("u"), col("event_type"))
      .orderBy(col("__ms").asc, col("id").asc)
    events.select(userCol.as("u"), typeCol.as("event_type"),
        unix_millis(tsCol).as("__ms"), idCol.as("id"))
      .withColumn("__gap", col("__ms") - lag(col("__ms"), 1).over(w))
      .where(col("__gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("__gap")).as("__sg"),
        min(col("__gap")).as("min_gap_ms"), max(col("__gap")).as("max_gap_ms"))
      .select(col("event_type"), col("n_gaps"),
        expr("__sg div n_gaps").as("mean_gap_ms"),
        col("min_gap_ms"), col("max_gap_ms"))
  }

  /** Batch twin of [[graft.streaming.AnomalyStream.zAlerts]]: per key,
    * flag events whose deviation from the statistics of everything
    * BEFORE them (in (ts, id) order) exceeds z sample standard
    * deviations — the same division-free cross-multiplied integer test
    * `(x·n − S1)²·(n−1) > z²·n·(n·S2 − S1²)`. The running sums ride
    * cumulative window aggregates (S1 long, S2 DECIMAL(38,0) — the
    * long path would wrap at n·x²max ≥ 2⁶³); the comparison itself
    * rides BigInt in a scalar function, because even the decimal(38,0)
    * products cap at 10³⁸ (|cents| ~3·10⁷ at n ~10⁸ overflows
    * (x·n−S1)²·(n−1), and under a non-ANSI session that overflow would
    * silently NULL out true alerts — ADVICE r8). The only envelope is
    * therefore the accumulators': per key, Σ|x| < 2⁶³ and Σx² < 10³⁸,
    * both ANSI-loud on overflow and both enforced identically (by
    * `require`) in the streaming twin, which must emit EXACTLY these
    * rows on the same data (spec-pinned equivalence) — that is what
    * makes the alert feed backfillable.
    *
    * Scale shape: one key-partitioned ordered window (never global);
    * the three running sums are the only state.
    */
  def zscoreAlerts(events: DataFrame, key: Column, tsCol: Column,
                   idCol: Column, cents: Column, z: Int = 3,
                   minN: Long = 5): DataFrame = {
    require(z >= 1 && minN >= 2)
    val zq = z.toLong * z
    // exact-integer comparison: the cross-multiplied products exceed
    // decimal(38,0) inside the accumulators' own envelope, so the test
    // rides BigInt (a scalar function on post-window rows — off the
    // codegen hot path by construction, the window sort dominates)
    val exactTest = udf { (x: Long, n: Long, s1: Long, s2: java.math.BigDecimal) =>
      val nB = BigInt(n); val s1B = BigInt(s1)
      val d = BigInt(x) * nB - s1B
      d * d * (nB - 1) >
        BigInt(zq) * nB * (nB * BigInt(s2.toBigIntegerExact) - s1B * s1B)
    }
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__t").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events.select(key.as("event_type"), tsCol.as("__t"),
        idCol.as("event_id"), cents.cast("long").as("cents"))
      .withColumn("n_prior", coalesce(count(col("cents")).over(w), lit(0L)))
      .withColumn("__s1", coalesce(sum(col("cents")).over(w), lit(0L)))
      // s2 rides DECIMAL from the first multiply: n·x²max can pass 2⁶³
      // well inside plausible cents ranges, so the long path would wrap
      .withColumn("__s2", coalesce(
        sum(col("cents").cast("decimal(38,0)") * col("cents")).over(w),
        lit(0L).cast("decimal(38,0)")))
      .where(col("n_prior") >= minN)
      .where(exactTest(col("cents"), col("n_prior"), col("__s1"), col("__s2")))
      .select(col("event_type"), col("event_id"), col("cents"),
        col("n_prior"))
  }
}
