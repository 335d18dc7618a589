package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Diagnostic main over named registry queries, in the session the bench
  * runs ([[GraftSession.local]]). Usage:
  *   runMain graft.Probe <plan|stages|work> <sfDir> <query1,query2,...>
  *
  *  - `plan`: the `.explain("formatted")` loop, for eyeballing exchange
  *    reuse, join strategies and pushdown without editing code.
  *  - `stages`: runs each query twice and prints the warm pass's
  *    significant stages with task count and shuffle record fan-out —
  *    the signature of the AQE blind spot where a join's INPUT is small
  *    enough to coalesce to one reducer but its OUTPUT fans out
  *    quadratically (found on dedup_prefix_filter r9: one 4.9 s
  *    single-task stage was 70% of the query).
  *  - `work`: prints `numOutputRows` of every join / aggregate /
  *    generate / window node of the final (post-AQE) plans, plus the
  *    per-query total over joins. Wall-clock growth on K× data conflates
  *    engine efficiency with workload arithmetic; a candidate join that
  *    emits ~K² rows on K× data is doing quadratically more WORK, and the
  *    engine verdict is whether seconds-per-row stays flat.
  */
object Probe {

  /** Stages shown per query in `stages` mode, and their wall floor. */
  private val TopStages = 6
  private val MinStageMs = 200L

  def main(args: Array[String]): Unit = {
    val modes = Set("plan", "stages", "work")
    if (args.length < 3 || !modes(args(0))) {
      System.err.println("usage: Probe <plan|stages|work> <sfDir> <query1,query2,...>")
      sys.exit(2)
    }
    val (mode, dir) = (args(0), args(1))
    val names = args(2).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")} " +
        s"(${SparkEntry.queries.size} registered — see README index)")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    val probe = mode match {
      case "plan" => plan _
      case "stages" => stages(spark)
      case "work" => work(spark)
    }
    names.foreach(name => probe(name, () => SparkEntry.queries(name)(spark, dir)))
    spark.stop()
  }

  private def plan(name: String, query: () => DataFrame): Unit = {
    println(s"==== $name")
    query().explain("formatted")
  }

  /** Runs `query` into the noop sink and returns its wall seconds. */
  private def timed(spark: SparkSession, query: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    query().write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
    wall
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  private def stages(spark: SparkSession): (String, () => DataFrame) => Unit = {
    val done =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        if (m != null) done.add((si.stageId, wall, m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten))
        if (m != null && si.numTasks <= 2 && wall > 500L)
          println(s"   [hot-stage detail] ${si.stageId} ${si.name}\n     ${si.details.linesIterator.take(12).mkString("\n     ")}")
      }
    })
    (name, query) => {
      timed(spark, query) // warm
      unpersistAll(spark)
      done.clear()
      val wall = timed(spark, query)
      println(f"== $name wall=$wall%.2f s")
      done.asScala.toSeq.sortBy(-_._2).take(TopStages)
        .filter(_._2 > MinStageMs).foreach { case (id, w, run, nt, sr, sw) =>
          val flag = if (nt <= 2 && w > 500L) "  <-- LOW-PARALLELISM HOT STAGE" else ""
          println(f"   stage $id%5d wall=${w / 1000.0}%6.2f s taskRun=${run / 1000.0}%7.2f s ntasks=$nt%3d srRec=$sr%9d swRec=$sw%9d$flag")
        }
      unpersistAll(spark)
    }
  }

  private def work(spark: SparkSession): (String, () => DataFrame) => Unit = {
    // EVERY QueryExecution the query fires — the noop write plus any
    // internal collect()s (corpus stats, trained models): those are
    // real per-query work, so the totals sum across all of them;
    // shared physical nodes are deduped by identity below
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // expand AQE wrappers so the walk sees the plan that actually ran.
    // A ReusedExchangeExec is a POINTER to a subtree that already ran
    // (and was walked) under its original exchange — descending it
    // would double-count every reused join's rows, and AQE reuses
    // exchanges differently across scale factors, so the growth ratio
    // would pick up a plan-shape artifact. Stop at the reuse node.
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Seq.empty
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    (name, query) => {
      qes.clear()
      val wall = timed(spark, query)
      unpersistAll(spark)
      val nodes = qes.asScala.toSeq.flatMap(qe => walk(qe.executedPlan))
        .distinctBy(System.identityHashCode(_))
      val interesting = nodes.filter { p =>
        val n = p.nodeName
        (n.contains("Join") || n.contains("Aggregate") ||
          n.contains("Generate") || n.contains("Window")) && rows(p) >= 0
      }
      println(f"== $name wall=$wall%.2f s")
      interesting.sortBy(-rows(_)).take(12).foreach { p =>
        println(f"   ${rows(p)}%14d  ${p.nodeName}%s")
      }
      println(s"   join-output total: ${interesting.filter(_.nodeName.contains("Join")).map(rows).sum}")
    }
  }
}
