package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Which Spark jobs a piece of graft code ran, and what their stages cost.
  *
  * `phase(spark, name)(body)` adds a job tag unique to the call on the
  * calling thread, runs `body`, and returns its value with the
  * [[Observe.Work]] of every job that carried the tag. Spark copies the
  * caller's tags to jobs it starts for the caller on its own threads
  * (broadcasts, subqueries, adaptive stages), so those count; work that
  * other threads run on the session at the same time never does. Phases
  * nest: an inner phase's jobs carry the outer tag too and count in both.
  * The listener bus is drained after `body` returns, outside any timing
  * `body` takes. A `body` that throws leaves the thread's tags and the
  * bus's listeners as they were.
  */
object Observe {

  /** One completed attempt of a stage of the phase's jobs. */
  final case class Stage(
      id: Int, attempt: Int, name: String, details: String,
      wallMs: Long, runMs: Long, tasks: Int,
      shuffleRecordsRead: Long, shuffleRecordsWritten: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillMemBytes: Long, spillDiskBytes: Long)

  /** The jobs a phase started and the stage attempts they completed. */
  final case class Work(jobs: Int, stages: Seq[Stage]) {
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillMemBytes: Long = stages.map(_.spillMemBytes).sum
    def spillDiskBytes: Long = stages.map(_.spillDiskBytes).sum
  }

  private val calls = new AtomicLong()

  def phase[T](spark: SparkSession, name: String)(body: => T): (T, Work) = {
    val sc = spark.sparkContext
    // a tag may not be empty or hold a comma (the tag list separator)
    val tag = s"graft-observe-${calls.incrementAndGet()}-${name.replace(',', ';')}"
    val jobs = new AtomicInteger()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentLinkedQueue[Stage]()
    // maps each tagged job's stage ids as it starts, keeps those stages
    // as they complete
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        if (tags.exists(_.split(",").contains(tag))) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stageIds.add)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null && stageIds.contains(si.stageId)) done.add(Stage(
          si.stageId, si.attemptNumber(), si.name, si.details,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      if (!org.apache.spark.graft.ListenerBusDrain.drain(sc, 10000L))
        System.err.println(s"[Observe] listener bus did not drain in 10 s; " +
          s"the work of phase $name is a lower bound")
      (out, Work(jobs.get(), done.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
