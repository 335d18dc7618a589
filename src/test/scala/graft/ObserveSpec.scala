package graft

import java.util.concurrent.{CyclicBarrier, Executors}
import java.util.concurrent.TimeUnit.MINUTES

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.graft.BusListeners
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** [[Observe.phase]] attributes work by job tag: jobs Spark starts on its
  * own threads for the caller count, work of other threads never does,
  * a failing body leaves nothing behind, and nested phases both count
  * the inner one's jobs.
  */
class ObserveSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // each call builds a new Dataset: re-collecting one adaptive plan
  // reuses its materialized shuffles and runs fewer jobs
  private def facts(n: Long) = spark.range(0L, n, 1L, 4).select(($"id" % 50).as("k"), $"id".as("v"))
  private def byKey(n: Long) = facts(n).groupBy($"k").agg(sum($"v").as("s"))

  test("a broadcast join and a shuffle aggregate under AQE: the broadcast job counts") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val dims = spark.range(0L, 50L).select($"id".as("k"), ($"id" % 7).as("g"))
    val q = facts(20000L).join(broadcast(dims), "k").groupBy($"g").agg(sum($"v").as("s"))
    // a second tag on the caller's thread, read back from Spark's own
    // status store rather than from the phase's listener
    val probe = "observe-spec-probe"
    val (rows, work) = Observe.phase(spark, "broadcast join") {
      sc.addJobTag(probe)
      try q.collect() finally sc.removeJobTag(probe)
    }
    assert(rows.length === 7)
    val exchanges = collect(q.queryExecution.executedPlan) { case b: BroadcastExchangeExec => b }
    assert(exchanges.size === 1, "the hint must plan one broadcast exchange")
    val broadcastJobs = sc.statusTracker.getJobIdsForTag(exchanges.head.jobTag).toSeq
    val probeJobs = sc.statusTracker.getJobIdsForTag(probe).toSeq
    info(s"phase jobs ${work.jobs}, caller-tag jobs ${probeJobs.size}, broadcast jobs ${broadcastJobs.size}")
    assert(broadcastJobs.nonEmpty && broadcastJobs.forall(probeJobs.contains),
      "the broadcast job runs on Spark's thread with the caller's tags")
    val broadcastStages = broadcastJobs.flatMap(j => sc.statusTracker.getJobInfo(j).get.stageIds)
    assert(broadcastStages.toSet.subsetOf(work.stages.map(_.id).toSet))
    assert(work.jobs === probeJobs.size)
    assert(work.shuffleWriteBytes > 0L && work.shuffleReadBytes > 0L)
  }

  test("two phases at once on two threads each report their solo jobs and shuffle bytes") {
    def solo(n: Long) = Observe.phase(spark, s"solo $n")(byKey(n).collect())._2
    val (soloA, soloB) = (solo(20000L), solo(5000L))
    // both bodies wait for each other before and after their query, so
    // each phase is open for the whole of the other one's work
    val together = new CyclicBarrier(2)
    def concurrent(n: Long) = Observe.phase(spark, s"concurrent $n") {
      together.await(1L, MINUTES)
      try byKey(n).collect() finally together.await(1L, MINUTES)
    }._2
    val pool = Executors.newFixedThreadPool(2)
    val (a, b) =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val fa = Future(concurrent(20000L))
        val fb = Future(concurrent(5000L))
        (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
      } finally pool.shutdown()
    for ((got, want) <- Seq(a -> soloA, b -> soloB)) {
      assert(got.jobs === want.jobs)
      assert(got.shuffleReadBytes === want.shuffleReadBytes)
      assert(got.shuffleWriteBytes === want.shuffleWriteBytes)
    }
    assert(soloA.shuffleWriteBytes > 0L && soloB.shuffleWriteBytes > 0L)
  }

  test("a body that throws leaves the thread's job tags and the bus's listeners as they were") {
    val sc = spark.sparkContext
    spark.range(10L).count()
    sc.addJobTag("observe-spec-caller")
    try {
      val (tags, listeners) = (sc.getJobTags(), BusListeners.count(sc))
      val e = intercept[IllegalStateException] {
        Observe.phase(spark, "fails") {
          byKey(1000L).collect()
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(sc.getJobTags() === tags)
      assert(BusListeners.count(sc) === listeners)
    } finally sc.removeJobTag("observe-spec-caller")
  }

  test("a nested phase's jobs count in both phases") {
    def solo(q: => DataFrame) = Observe.phase(spark, "solo")(q.collect())._2
    val (soloA, soloB) = (solo(byKey(20000L)), solo(facts(5000L).distinct()))
    val ((_, inner), outer) = Observe.phase(spark, "outer") {
      byKey(20000L).collect()
      Observe.phase(spark, "inner")(facts(5000L).distinct().collect())
    }
    assert(soloA.jobs > 0 && soloB.jobs > 0)
    assert(inner.jobs === soloB.jobs)
    assert(outer.jobs === soloA.jobs + soloB.jobs)
    assert(inner.stages.map(_.id).toSet.subsetOf(outer.stages.map(_.id).toSet))
    assert(outer.shuffleWriteBytes === soloA.shuffleWriteBytes + inner.shuffleWriteBytes)
  }

  test("only Observe.scala and the retry spec add Spark listeners; nothing sets a job group") {
    def callers(root: String, call: String) = sourcesMatching(root, s"\\.$call\\s*\\(")
    assert(callers("src/main/scala", "addSparkListener") === Seq("Observe.scala"))
    assert(callers("src/test/scala", "addSparkListener") === Seq("RetryDeterminismSpec.scala"))
    assert(callers("src", "setJobGroup") === Seq.empty)
  }
}
