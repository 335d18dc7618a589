package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark-runtime counters from a public listener, installed from the
  * benchmark side (the library's ShuffleTelemetry pattern): task time,
  * GC, shuffle-write, spill and input bytes, job and task counts, and input
  * bytes attributed to the SQL execution — and so the output table —
  * whose tasks read them.
  */
final class Telemetry extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]
  private val execOfStage = new ConcurrentHashMap[Int, Long]
  private val tableOfExec = new ConcurrentHashMap[Long, String]
  private val inputByTable = new ConcurrentHashMap[String, AtomicLong]
  // the formatted plan lists the write node's target as its first argument
  private val insertInto =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: ([^,\s]+)""".r

  private def add(m: ConcurrentHashMap[String, AtomicLong], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong(0L)).addAndGet(v)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    add(c, "jobs", 1L)
    Option(ev.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => ev.stageIds.foreach(s => execOfStage.put(s, id.toLong)))
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    add(c, "tasks", 1L)
    if (m != null) {
      add(c, "task_run_ms", m.executorRunTime)
      add(c, "gc_ms", m.jvmGCTime)
      add(c, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(c, "spill_bytes", m.diskBytesSpilled)
      add(c, "input_bytes", m.inputMetrics.bytesRead)
      Option(execOfStage.get(ev.stageId)).flatMap(e => Option(tableOfExec.get(e)))
        .foreach(t => add(inputByTable, t, m.inputMetrics.bytesRead))
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case s: SparkListenerSQLExecutionStart =>
      insertInto.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => tableOfExec.put(s.executionId, m.group(1).split('/').last))
    case _ =>
  }

  /** Counter values once every queued listener event has been delivered. */
  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
    c.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  def inputBytesByTable(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
    inputByTable.asScala.map { case (k, v) => k -> v.get }.toMap
  }
}

object Telemetry {
  def install(spark: SparkSession): Telemetry = {
    val t = new Telemetry
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Counter deltas between two snapshots. */
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
