package graft

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
  *  - `stages`: runs each query twice, each run an [[Observe.phase]],
  *    and prints the second (warm) run's significant stages with task
  *    count and shuffle record fan-out, then the call site of each of
  *    its stages that ran over 0.5 s on at most two tasks —
  *    the signature of the AQE blind spot where a join's INPUT is small
  *    enough to coalesce to one reducer but its OUTPUT fans out
  *    quadratically (found on dedup_prefix_filter r9: one 4.9 s
  *    single-task stage was 70% of the query).
  *  - `work`: prints `numOutputRows` of every join / aggregate /
  *    generate / window node of the final (post-AQE) plans, plus the
  *    per-query total over joins. Wall-clock growth on K× data conflates
  *    engine efficiency with workload arithmetic; a candidate join that
  *    emits ~K² rows on K× data is doing quadratically more WORK, and the
  *    engine verdict is whether seconds-per-row stays flat. Row counts
  *    live in the executed plans' SQL metrics, which no job or stage
  *    event carries, so this mode reads them from a
  *    `QueryExecutionListener` rather than from [[Observe.phase]].
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
  private def timed(query: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    query().write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  private def stages(spark: SparkSession): (String, () => DataFrame) => Unit = (name, query) => {
    Observe.phase(spark, s"$name warm")(timed(query))
    unpersistAll(spark)
    val (wall, work) = Observe.phase(spark, name)(timed(query))
    println(f"== $name wall=$wall%.2f s")
    def hot(s: Observe.Stage) = s.tasks <= 2 && s.wallMs > 500L
    work.stages.sortBy(-_.wallMs).take(TopStages).filter(_.wallMs > MinStageMs).foreach { s =>
      val flag = if (hot(s)) "  <-- LOW-PARALLELISM HOT STAGE" else ""
      println(f"   stage ${s.id}%5d wall=${s.wallMs / 1000.0}%6.2f s taskRun=${s.runMs / 1000.0}%7.2f s ntasks=${s.tasks}%3d srRec=${s.shuffleRecordsRead}%9d swRec=${s.shuffleRecordsWritten}%9d$flag")
    }
    work.stages.filter(hot).foreach { s =>
      println(s"   [hot-stage detail] ${s.id} ${s.name}\n     ${s.details.linesIterator.take(12).mkString("\n     ")}")
    }
    unpersistAll(spark)
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
      // query execution events ride the listener bus, which the phase drains
      val (wall, _) = Observe.phase(spark, name)(timed(query))
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
