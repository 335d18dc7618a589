package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.SizeRule

/** BI-mart operators (reference: etl_imdb.py:196–235): grouped KPIs,
  * (thresholded) top-N per group, fixed-width histograms.
  */
object Marts {

  /** Grouped KPI aggregate — count/avg/sum per group key
    * (reference: etl_imdb.py:196 `build_mart_year_kpi`). Two paths, picked
    * by [[SizeRule]]: when the leaves `df` reads fit
    * `spark.sql.autoBroadcastJoinThreshold`, the input, joins included,
    * runs as one task ([[SizeRule.onePartition]]) and the aggregate (and
    * a caller's `orderBy`) plans no exchange — one Spark job for an
    * interactive lookup. Otherwise
    * Spark's hash aggregate does map-side partial aggregation, so the
    * shuffle carries only (group, partial state) regardless of input
    * size. The paths can differ in the last bits of a floating `avg`
    * (summation order), never in keys or counts.
    */
  def kpiByGroup(df: DataFrame, group: Column, as: String, aggs: Seq[Column]): DataFrame =
    SizeRule.onePartition(df).groupBy(group.as(as)).agg(aggs.head, aggs.tail: _*)

  /** Top-N rows per group under a TOTAL order (callers must include a
    * unique tie-break column — the reference ranks by `num_votes` alone,
    * etl_imdb.py:210, which is non-deterministic under ties; we fix that).
    * Optional pre-filter = the reference's `--min-votes` threshold
    * (etl_imdb.py:217).
    *
    * Scale: two paths, picked by [[SizeRule]] on the pre-filtered input.
    * When its leaves fit `spark.sql.autoBroadcastJoinThreshold` it runs
    * as one task ([[SizeRule.onePartition]]): a join in the input is a
    * shuffle-hash join inside that task, and neither it, the window nor a
    * caller's `orderBy` plans an exchange or a broadcast, so a small
    * lookup is one job. Otherwise row_number over (group, order) is one
    * shuffle; with AQE a skewed group splits into multiple reducers only for the
    * pre-rank sort. Under the total order both paths return the same
    * rows. For small N a per-partition top-N pre-prune would cut the
    * exchange — noted as a future custom operator.
    */
  def topNPerGroup(df: DataFrame, groups: Seq[Column], order: Seq[Column], n: Int,
                   preFilter: Option[Column] = None): DataFrame = {
    val base = SizeRule.onePartition(preFilter.map(df.filter).getOrElse(df))
    val w = Window.partitionBy(groups: _*).orderBy(order: _*)
    base.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= n)
  }

  /** Skew-proof two-phase top-N: phase 1 takes the top N within
    * (group, salt) — bounding any single reducer's sort to its salt slice —
    * phase 2 merges the ≤ N*saltBuckets survivors per group. Result is
    * IDENTICAL to [[topNPerGroup]] (every global top-N row survives its
    * salt slice), so the two share an oracle. The salt must be a
    * deterministic function of the row (not rand()) for reproducibility.
    */
  def topNPerGroupSalted(df: DataFrame, groups: Seq[Column], salt: Column,
                         order: Seq[Column], n: Int): DataFrame = {
    val w1 = Window.partitionBy((groups :+ salt): _*).orderBy(order: _*)
    val phase1 = df.withColumn("__rk1", row_number().over(w1))
      .filter(col("__rk1") <= n).drop("__rk1")
    val w2 = Window.partitionBy(groups: _*).orderBy(order: _*)
    phase1.withColumn("rk", row_number().over(w2).cast("long")).filter(col("rk") <= n)
  }

  /** Calendar densification + LOCF over a pre-aggregated observation
    * table `(group, tick, metrics…)`: emit one row per (group, tick) for
    * EVERY tick in the observed global [min, max] range — `zeroFill`
    * metrics become 0 where no observation exists (count semantics),
    * `carry` metrics become `<name>_locf`, the last observed value at or
    * before the tick (gauge semantics; null before the first
    * observation).
    *
    * The time-series mart staple: downstream window/trend math needs a
    * dense axis, and a missing month must read as "zero orders", not
    * silently vanish. Input is the AGGREGATED series (groups × ticks
    * rows, not raw facts), so the densify join and the LOCF window both
    * run over sketch-sized data; the observation table feeds three
    * consumers (bounds, group list, join) and is lazily checkpointed so
    * it computes once. Tick must be an integer epoch-derived key
    * (months, weeks, days) — calendar types differ across engines,
    * integer arithmetic doesn't.
    */
  def gapFillLocf(obs: DataFrame, groupCol: String, tickCol: String,
                  zeroFill: Seq[String], carry: Seq[String]): DataFrame = {
    val o = obs.localCheckpoint(false)
    val b = o.agg(min(col(tickCol)).as("__mn"), max(col(tickCol)).as("__mx"))
    val cal = o.select(col(groupCol)).distinct()
      .join(broadcast(b))
      .select(col(groupCol), explode(sequence(col("__mn"), col("__mx"))).as(tickCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(tickCol))
    val joined = cal.join(o, Seq(groupCol, tickCol), "left")
    val zf = zeroFill.map(c => coalesce(col(c), lit(0L)).as(c))
    val cf = carry.map(c => last(col(c), ignoreNulls = true).over(w).as(s"${c}_locf"))
    joined.select(Seq(col(groupCol), col(tickCol)) ++ zf ++ cf: _*)
  }

  /** Exact per-group median without an approx sketch: row_number + count
    * windows, average of the middle one/two values. Two window passes over
    * one (group)-keyed shuffle — exact answers at any scale, unlike
    * percentile_approx (kept deliberately portable for the oracle).
    */
  def exactMedian(df: DataFrame, group: Column, as: String, value: Column,
                  tieBreak: Column): DataFrame =
    df.select(group.as(as), value.as("__v"), tieBreak.as("__t"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(as)).orderBy(col("__v").asc, col("__t").asc)))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(as))))
      .filter(col("__rn") === expr("(__cnt + 1) div 2") || col("__rn") === expr("(__cnt + 2) div 2"))
      .groupBy(col(as))
      .agg(round(avg(col("__v")), 4).as("median"))

  /** Exact per-group mode: the most frequent value, ties broken toward
    * the smallest value — deterministic, so replayable anywhere. One
    * (group, value)-keyed count + a window over the group's distinct
    * values (bounded by the value domain, not the row count).
    */
  def exactMode(df: DataFrame, group: Column, as: String,
                value: Column): DataFrame =
    df.select(group.as(as), value.as("mode_value"))
      .groupBy(col(as), col("mode_value"))
      .agg(count(lit(1)).as("n_mode"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(as))
          .orderBy(col("n_mode").desc, col("mode_value").asc)))
      .where(col("__rn") === 1)
      .drop("__rn")

  /** Exact per-group quartiles (type-1: the value AT rank ceil(q·n), no
    * interpolation — portable exact integers decide the rank). Same
    * single (group)-keyed shuffle as [[exactMedian]]; the three quantiles
    * come out of one conditional aggregation pass.
    */
  def exactQuartiles(df: DataFrame, group: Column, as: String, value: Column,
                     tieBreak: Column): DataFrame =
    df.select(group.as(as), value.as("__v"), tieBreak.as("__t"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(as)).orderBy(col("__v").asc, col("__t").asc)))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(as))))
      .groupBy(col(as))
      .agg(
        min(when(col("__rn") === expr("(__cnt + 3) div 4"), col("__v"))).as("p25"),
        min(when(col("__rn") === expr("(__cnt + 1) div 2"), col("__v"))).as("p50"),
        min(when(col("__rn") === expr("(3 * __cnt + 3) div 4"), col("__v"))).as("p75"))

  /** Winsorization: clip every value into its group's exact type-1
    * [p_lo, p_hi] percentile band — the standard tail-taming step before
    * training on heavy-tailed measures, as a per-row transform (unlike
    * [[graft.operators.Quality.robustOutliers]], which drops). Bounds
    * are permille ranks (`ceil(q·n)`, clamped to 1) so both engines
    * agree on pure integers; the rank pass is the same single
    * group-keyed window as [[exactQuartiles]], and the group-sized
    * bounds table broadcasts back — the rows shuffle once, total.
    */
  def winsorize(df: DataFrame, group: Column, as: String, value: Column,
                tieBreak: Column, keyAs: String,
                loPermille: Long, hiPermille: Long): DataFrame = {
    require(loPermille >= 0 && hiPermille <= 1000 && loPermille <= hiPermille)
    val ranked = df.select(group.as(as), value.as("value"), tieBreak.as(keyAs))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(as)).orderBy(col("value").asc, col(keyAs).asc)))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(as))))
    val bounds = ranked.groupBy(col(as)).agg(
      min(when(col("__rn") ===
        greatest(expr(s"($loPermille * __cnt + 999) div 1000"), lit(1L)),
        col("value"))).as("__lo"),
      min(when(col("__rn") ===
        greatest(expr(s"($hiPermille * __cnt + 999) div 1000"), lit(1L)),
        col("value"))).as("__hi"))
    ranked.join(broadcast(bounds), as)
      .select(col(as), col(keyAs), col("value"),
        greatest(col("__lo"), least(col("__hi"), col("value"))).as("clipped"))
  }

  /** Fixed-width histogram (reference: etl_imdb.py:230
    * `build_mart_rating_distribution`, width 0.5 via floor(x*2)/2).
    * Emits the integer bucket index `floor(value/width)` so engines agree
    * bit-for-bit; callers recover the bound as index*width.
    */
  def histogram(df: DataFrame, groups: Seq[Column], value: Column, width: Double): DataFrame = {
    val bucket = floor(value / lit(width)).cast("long")
    df.groupBy((groups :+ bucket.as("bucket")): _*).agg(count(lit(1)).as("n"))
  }

  /** Mergeable per-key aggregate state over an exact-integer measure:
    * (n, sum, min, max) is an algebraic summary — two states combine by
    * (sum, sum, min, max) without touching source rows. `aggState` builds
    * the state from raw rows; [[mergeAggState]] folds a new batch's state
    * into the standing one. This is the incremental-mart pattern: at
    * 100 TB the daily refresh re-aggregates ONLY the day's partition and
    * merges a key-count-sized table, instead of rescanning the full fact
    * history. The measure is integer cents so merge order can never
    * change a result (float partial sums would differ by summation
    * order); derived means are computed once, at read time, from the
    * exact sums.
    */
  def aggState(df: DataFrame, keys: Seq[Column], valueCents: Column): DataFrame =
    df.groupBy(keys: _*).agg(
      count(lit(1)).as("n"),
      sum(valueCents).as("sum_cents"),
      min(valueCents).as("min_cents"),
      max(valueCents).as("max_cents"))

  /** Fold `batch` state into `state` (same key columns + n/sum/min/max).
    * Associative and commutative: any sequence of daily merges equals the
    * full recompute — the property the oracle checks.
    */
  def mergeAggState(state: DataFrame, batch: DataFrame, keyCols: Seq[String]): DataFrame =
    state.unionByName(batch)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
}
