package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge

/** The one "small enough" rule. Spark's broadcast budget,
  * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns the rule off),
  * decides both when an operator plans a small input as ONE partition
  * and how many rows a driver-side finish may collect. No probe job: the
  * input side reads optimizer statistics only.
  */
object SizeRule {

  /** Bytes one (Long, Long) edge row counts against the budget. */
  val EdgeRowBytes = 16L

  /** Driver heap charged per collected row. A (Long, Long) edge row of
    * `Dedup.clusters` lives at about 250 B: the serialized result block
    * (≈ 28 B), the `GenericRowWithSchema` with its values array and two
    * boxed longs (≈ 110 B), the [[components]] arrays (≈ 44 B) and the
    * per-node output `Row` (≈ 70 B). 512 B keeps such a driver finish
    * under half the heap.
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

  /** `df` run as one task when [[small]], else unchanged. The plan is
    * rewritten from its cached-data form ([[DatasetBridge.inOneTask]]):
    * every leaf is read as `coalesce(1)` (a persisted subtree stays its
    * in-memory leaf), every join is a shuffle-hash join built inside the
    * task, and the result is one partition. One partition is
    * `SinglePartition`, which satisfies every clustered and ordered
    * distribution, so no exchange is planned for a join, aggregate,
    * window or sort over it, nor for a caller's sort on the result, and
    * no join broadcasts: a small interactive op runs as one job. Large
    * or unknown-size inputs keep their distributed plans.
    */
  def onePartition(df: DataFrame): DataFrame =
    if (small(df)) DatasetBridge.inOneTask(df) else df

  /** Rows a driver-side finish may collect: the broadcast budget at
    * `rowBytes` a row, capped by `heapBytes / DriverRowBytes` so a raised
    * threshold cannot ask the driver for more than its heap holds, and
    * by the largest array length. ≤ 0 means no driver path.
    */
  def driverRows(budget: Long, heapBytes: Long, rowBytes: Long): Long =
    math.min(math.min(budget / rowBytes, heapBytes / DriverRowBytes), Int.MaxValue - 1L)

  /** [[driverRows]] at `rowBytes` a row under the session's budget and
    * this JVM's maximum heap.
    */
  def driverRows(spark: SparkSession, rowBytes: Long): Long =
    driverRows(budget(spark), Runtime.getRuntime.maxMemory, rowBytes)

  /** All rows of `df`, a table with no distributed alternative (one row
    * per label, per state pair), collected only when it has at most
    * `cap` rows, else an error naming `what`. The cap is [[driverRows]]
    * at `rowBytes` a row, or, with the budget off (≤ 0), the heap term
    * alone; at most `cap` + 1 rows are read.
    */
  def collectCapped(df: DataFrame, rowBytes: Long, what: String): Array[Row] = {
    val b = budget(df.sparkSession)
    val cap = driverRows(if (b > 0) b else Long.MaxValue, Runtime.getRuntime.maxMemory, rowBytes)
    val rows = df.limit(cap.toInt + 1).collect()
    require(rows.length <= cap,
      s"$what: more than $cap rows would be collected to the driver " +
        s"(SizeRule.driverRows at $rowBytes B a row)")
    rows
  }

  /** Connected components of the graph with edges (`us(i)`, `vs(i)`),
    * on the driver: a union-find over primitive arrays. Node ids sit in
    * a sorted array; a union always links the larger root under the
    * smaller, so each root is its component's smallest id — the label
    * the distributed min-label rounds reach. Returns the sorted distinct
    * node ids and each one's label.
    */
  def components(us: Array[Long], vs: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = java.util.Arrays.copyOf(us, us.length + vs.length)
    System.arraycopy(vs, 0, ids, us.length, vs.length)
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices if i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    for (e <- us.indices) {
      val a = find(index(us(e)))
      val b = find(index(vs(e)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val nodes = java.util.Arrays.copyOf(ids, n)
    (nodes, Array.tabulate(n)(i => nodes(find(i))))
  }
}
