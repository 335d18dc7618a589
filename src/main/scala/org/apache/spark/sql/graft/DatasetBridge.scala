package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint, Repartition, ResolvedHint, SHUFFLE_HASH}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into Spark's `private[sql]` Dataset internals — same pattern
  * as [[ColumnBridge]], for plan-level surgery no public API offers.
  */
object DatasetBridge {

  /** Rebuild `df` as a bare `LogicalRDD` leaf with DEFAULT statistics,
    * dropping the statistics the plan would otherwise carry.
    *
    * Why this exists: `Dataset.checkpoint`/`localCheckpoint` build their
    * result via `LogicalRDD.fromDataset`, which CARRIES the origin
    * plan's estimated `sizeInBytes` into the new leaf (good for
    * broadcast decisions in straight-line plans). But size estimation
    * multiplies child sizes at each join, so in an iterated
    * checkpoint-then-self-join loop the carried estimate COMPOUNDS:
    * path-halving CC squares it per round and a batched pointer-doubling
    * loop multiplies it 8-fold per batch — after k steps the estimate is
    * a BigInt with ~2^k (or 8^k) BITS, and Catalyst's stats visitor
    * spends minutes in BigInteger multiplication before any task runs
    * (measured: 85 bits → 2.75M bits in 6 batches; q_msf 23 s → 1235 s).
    * Re-leafing through `internalCreateDataFrame` resets the leaf to
    * `defaultSizeInBytes`; AQE recovers broadcast opportunities at
    * runtime from ACTUAL shuffle sizes, so nothing is lost on the plans
    * that loop. Zero-copy: the returned frame wraps the same
    * InternalRow RDD (the checkpointed blocks), no Row conversion.
    */
  def freshLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** The estimated sizeInBytes bit-length of `df`'s optimized plan —
    * the observable the stats-compounding regression test pins.
    */
  def statsBits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger.bitLength()

  /** `df`'s rows as the executed plan returns them (unsafe rows, one
    * copy each), collected as one SQL execution the way
    * `Dataset.collect` runs it but without the conversion to `Row`: a
    * float array stays a primitive array in the row's bytes instead of
    * one boxed value per element.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** `df` with every leaf read as `Repartition(1, shuffle = false)`,
    * every join hinted `SHUFFLE_HASH` on both sides (replacing the
    * caller's join hints) and the result coalesced to one partition.
    * Single-partition children satisfy every
    * distribution a join, aggregate, window or sort asks for, and a
    * shuffle-hash join builds its hash table inside the task, so the
    * whole plan runs as one task with no exchange and no broadcast job.
    *
    * The rewrite starts from the plan with cached data substituted, so a
    * persisted subtree is read from its `InMemoryRelation` (now a leaf)
    * instead of being recomputed from its sources.
    */
  def inOneTask(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val hint = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
    val plan = ds.queryExecution.withCachedData.transformUp {
      case leaf if leaf.children.isEmpty => Repartition(1, shuffle = false, leaf)
      case j: Join => j.copy(hint = JoinHint(hint, hint))
      case h: ResolvedHint => h.child
    }
    Dataset.ofRows(ds.sparkSession, Repartition(1, shuffle = false, plan))
  }
}
