package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one "small enough" rule. Spark's broadcast budget,
  * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns the rule off),
  * decides both when an operator plans a small input as ONE partition
  * and how many rows a driver-side finish may collect. No probe job: the
  * input side reads optimizer statistics only.
  */
object SizeRule {

  /** Bytes one (Long, Long) edge row counts against the budget. */
  val EdgeRowBytes = 16L

  /** Driver heap charged per collected (Long, Long) row. Live cost is
    * about 230 B: the serialized result block (≈ 28 B), the
    * `GenericRowWithSchema` with its values array and two boxed longs
    * (≈ 110 B), the union-find's primitive arrays (20 B) and the
    * per-node output `Row` (≈ 70 B). 512 B keeps a driver finish under
    * half the heap.
    */
  val DriverRowBytes = 512L

  /** The byte budget of the session. */
  private def budget(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Estimated bytes of the leaf relations `df` reads, from the
    * optimized plan (after whatever partition pruning the optimizer
    * does). A leaf of unknown size (`LogicalRDD`, a checkpoint) reports
    * `spark.sql.defaultSizeInBytes`, `Long.MaxValue` unless set, so it
    * does not count as small.
    */
  private def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** True when the leaves of all `dfs` together fit the budget. */
  def small(dfs: DataFrame*): Boolean = {
    val b = budget(dfs.head.sparkSession)
    b > 0 && !dfs.exists(_.isStreaming) && dfs.map(leafBytes).sum <= b
  }

  /** `df` as `coalesce(1)` when [[small]], else unchanged. One partition
    * is `SinglePartition`, which satisfies every clustered and ordered
    * distribution, so no exchange is planned for a downstream aggregate,
    * window, sort or join between two such inputs: a small interactive
    * op runs as one job. Large inputs keep their distributed plans.
    */
  def onePartition(df: DataFrame): DataFrame =
    if (small(df)) df.coalesce(1) else df

  /** Rows a driver-side finish may collect: the broadcast budget at
    * `rowBytes` a row, capped by `heapBytes / DriverRowBytes` so a raised
    * threshold cannot ask the driver for more than its heap holds, and
    * by the largest array length. ≤ 0 means no driver path.
    */
  def driverRows(budget: Long, heapBytes: Long, rowBytes: Long): Long =
    math.min(math.min(budget / rowBytes, heapBytes / DriverRowBytes), Int.MaxValue - 1L)

  /** [[driverRows]] for (Long, Long) edge rows under the session's
    * budget and this JVM's maximum heap.
    */
  def driverEdges(spark: SparkSession): Long =
    driverRows(budget(spark), Runtime.getRuntime.maxMemory, EdgeRowBytes)
}
