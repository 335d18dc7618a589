package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.etl.Marts
import graft.operators.{Similarity, SizeRule}

/** Both sides of [[SizeRule]]: under the default conf a small input to
  * `kpiByGroup`, `topNPerGroup` and `ivfTopK` runs with no shuffle
  * exchange in a job or two; with broadcasting off (`distributedCC`) the
  * exchanges are back; both paths return the same rows.
  */
class SizeRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("graft-size-rule").toString

  /** A 400-title fact partitioned by year and a 1–3 genre bridge, as the
    * serving tables are laid out.
    */
  private lazy val (fact, bridge) = {
    (0 until 400).map { i =>
      (s"t$i", 1990 + i % 5, (i * 37 % 100) / 10.0, (i * 7919L) % 5000L)
    }.toDF("titlekey", "yearkey", "avg_rating", "num_votes")
      .repartition(4).write.partitionBy("yearkey").parquet(s"$dir/fact")
    (0 until 400).flatMap(i => (0 to i % 3).map(g => (s"t$i", s"g${(i + g) % 6}")))
      .toDF("titlekey", "genrekey").repartition(3).write.parquet(s"$dir/bridge")
    (spark.read.parquet(s"$dir/fact"), spark.read.parquet(s"$dir/bridge"))
  }

  /** Collects `df` and returns its rows, the Spark jobs it ran and the
    * shuffle exchanges left in its executed (final adaptive) plan.
    */
  private def run(df: DataFrame): (Seq[Row], Int, Int) = {
    val (rows, work) = Observe.phase(spark, "SizeRule job count")(df.collect().toSeq)
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }.size
    (rows, work.jobs, shuffles)
  }

  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall {
        case (u: Double, v: Double) => u == v || math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v))
        case (u, v) => u == v
      }
    }

  /** Runs `query` on both paths and checks the plan and job count of each. */
  private def bothSides(name: String, maxJobs: Int = 2)(query: => DataFrame): Unit = {
    val (small, smallJobs, smallShuffles) = run(query)
    assert(smallShuffles === 0, s"$name: the small path planned a shuffle exchange")
    assert(smallJobs <= maxJobs, s"$name: the small path ran $smallJobs jobs")
    val (dist, _, distShuffles) = distributedCC(run(query))
    assert(distShuffles > 0, s"$name: with broadcasting off the exchange must stay")
    assert(small.nonEmpty)
    assert(same(small, dist), s"$name: paths differ\n$small\nvs\n$dist")
  }

  test("kpiByGroup: a small input aggregates in one partition, a large one shuffles") {
    bothSides("kpiByGroup") {
      Marts.kpiByGroup(fact.where($"yearkey".between(1990, 1993)), $"yearkey", "yearkey",
          Seq(count(lit(1)).as("n_movies"), avg($"avg_rating").as("mean_rating"),
            sum($"num_votes").as("total_votes")))
        .orderBy($"yearkey")
    }
  }

  test("topNPerGroup over a fact-bridge join: small input ranks in one partition") {
    bothSides("topNPerGroup") {
      Marts.topNPerGroup(fact.where($"yearkey" === 1991).join(bridge, "titlekey"),
          Seq($"genrekey"), Seq($"num_votes".desc, $"titlekey".asc), 3,
          Some($"num_votes" >= 1000))
        .select($"genrekey", $"titlekey", $"num_votes", $"rk")
        .orderBy($"genrekey", $"rk")
    }
  }

  test("ivfTopK: a small corpus joins and ranks in one partition, one job") {
    import Params._
    val emb = Tables.load(spark, sfDir, "embeddings")
    // no broadcast either: the cell join hashes the query side in-task
    bothSides("ivfTopK", maxJobs = 1) {
      Similarity.ivfTopK(emb.filter($"vec_id" % AnnQueryMod === 0), emb, "vec_id", "embedding",
          AnnK, IvfCells, EmbDims, IvfNprobe)
        .orderBy($"query_id", $"rnk")
    }
  }

  test("the rule is off for unknown-size leaves and a threshold <= 0") {
    val local = Seq((1L, 2L)).toDF("a", "b")
    assert(SizeRule.small(local))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, 2L))), local.schema)
    assert(!SizeRule.small(rdd), "a LogicalRDD leaf has no size estimate")
    assert(!SizeRule.small(local, rdd))
    assert(!distributedCC(SizeRule.small(local)))
    assert(SizeRule.onePartition(rdd) eq rdd)
  }

  test("driver-finish cap: the broadcast budget is bounded by the heap, at the cap and one row over") {
    import SizeRule.{DriverRowBytes, EdgeRowBytes, driverRows}
    val threshold = 1L << 30 // 1 GB: 67M edge rows by the budget alone
    assert(threshold / EdgeRowBytes === 67108864L)
    val heap = 1000L * DriverRowBytes
    val cap = driverRows(threshold, heap, EdgeRowBytes)
    assert(cap === 1000L)
    assert(1000L <= cap, "a graph at the cap finishes on the driver")
    assert(!(1001L <= cap), "one row over the cap takes the distributed path")
    assert(driverRows(threshold, heap - 1, EdgeRowBytes) === 999L)
    assert(driverRows(threshold, 2L << 30, EdgeRowBytes) === 4194304L, "2 GB heap")
    // the default 10 MB threshold stays the binding limit on any real heap
    assert(driverRows(10L << 20, 2L << 30, EdgeRowBytes) === 655360L)
    assert(driverRows(-1L, heap, EdgeRowBytes) <= 0L, "threshold <= 0: no driver path")
    assert(driverRows(Long.MaxValue, Long.MaxValue, 1L) === Int.MaxValue - 1L)
  }
}
