package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Marts
import graft.operators.{EventOps, Similarity, SizeRule}

/** Both sides of [[SizeRule]]: under the default conf a small input to
  * `kpiByGroup` and `topNPerGroup` runs as one task with no exchange and
  * no broadcast, and `ivfTopK` searches a small corpus on the driver;
  * with broadcasting off (`distributedCC`) the exchanges are back; both
  * paths return the same rows.
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

  /** Builds `query` and collects it: its rows, the Spark jobs run from
    * the operator call through the collect (an eager tier's job counts),
    * and the shuffle and broadcast exchanges left in its executed (final
    * adaptive) plan.
    */
  private def run(query: => DataFrame): (Seq[Row], Int, Int, Int) = {
    val ((df, rows), work) = Observe.phase(spark, "SizeRule job count") {
      val df = query
      (df, df.collect().toSeq)
    }
    def count(pick: PartialFunction[SparkPlan, SparkPlan]) =
      collectWithSubqueries(df.queryExecution.executedPlan)(pick).size
    (rows, work.jobs, count { case s: ShuffleExchangeExec => s },
      count { case b: BroadcastExchangeExec => b })
  }

  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall {
        case (u: Double, v: Double) => u == v || math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v))
        case (u, v) => u == v
      }
    }

  /** Runs `query` on both paths: the small path must run exactly `jobs`
    * jobs with no shuffle or broadcast exchange, the distributed path
    * must shuffle, and both must return the same rows.
    */
  private def bothSides(name: String, jobs: Int)(query: => DataFrame): Unit = {
    Seq(fact, bridge).foreach(_.schema) // the fixture's writes are not the query's jobs
    val (small, smallJobs, smallShuffles, smallBroadcasts) = run(query)
    assert(smallShuffles === 0, s"$name: the small path planned a shuffle exchange")
    assert(smallBroadcasts === 0, s"$name: the small path planned a broadcast exchange")
    assert(smallJobs === jobs, s"$name: the small path ran $smallJobs jobs")
    val (dist, _, distShuffles, _) = distributedCC(run(query))
    assert(distShuffles > 0, s"$name: with broadcasting off the exchange must stay")
    assert(small.nonEmpty)
    assert(same(small, dist), s"$name: paths differ\n$small\nvs\n$dist")
  }

  private def genreTop(df: DataFrame): DataFrame =
    Marts.topNPerGroup(df, Seq($"genrekey"), Seq($"num_votes".desc, $"titlekey".asc), 3,
        Some($"num_votes" >= 1000))
      .select($"genrekey", $"titlekey", $"num_votes", $"rk")
      .orderBy($"genrekey", $"rk")

  test("kpiByGroup: a small input aggregates in one partition, a large one shuffles") {
    bothSides("kpiByGroup", jobs = 1) {
      Marts.kpiByGroup(fact.where($"yearkey".between(1990, 1993)), $"yearkey", "yearkey",
          Seq(count(lit(1)).as("n_movies"), avg($"avg_rating").as("mean_rating"),
            sum($"num_votes").as("total_votes")))
        .orderBy($"yearkey")
    }
  }

  test("topNPerGroup over a fact-bridge join: small input ranks in one partition") {
    // the join runs in the same task: no broadcast job, no exchange
    bothSides("topNPerGroup", jobs = 1) {
      genreTop(fact.where($"yearkey" === 1991).join(bridge, "titlekey"))
    }
  }

  test("onePartition reads a persisted input subtree from its in-memory relation") {
    val joined = fact.where($"yearkey" === 1991).join(bridge, "titlekey").persist()
    try {
      joined.count()
      val df = genreTop(joined)
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size === 1,
        s"the persisted join must be read from the cache:\n$plan")
      assert(collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.isEmpty,
        s"the persisted join's sources must not be read again:\n$plan")
      assert(rows.nonEmpty && rows === genreTop(fact.where($"yearkey" === 1991)
        .join(bridge, "titlekey")).collect().toSeq)
    } finally joined.unpersist()
  }

  test("ivfTopK: a small corpus is searched on the driver, no exchange, two jobs") {
    import Params._
    val emb = Tables.load(spark, sfDir, "embeddings")
    // the eager collect of queries and corpus, then the caller's collect
    bothSides("ivfTopK", jobs = 2) {
      Similarity.ivfTopK(emb.filter($"vec_id" % AnnQueryMod === 0), emb, "vec_id", "embedding",
          AnnK, IvfCells, EmbDims, IvfNprobe)
        .orderBy($"query_id", $"rnk")
    }
  }

  /** Which tier built an `ivfTopK` result: the distributed tier ranks in
    * a window, the driver tier returns a local relation.
    */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case w: Window => w }.isEmpty

  /** A seeded corpus of `n` vectors of `dims` small integers and halves
    * (so cosines tie often, exactly), with a scaled and a plain copy of
    * some vectors, and `q` queries: every third one reuses a corpus id
    * and the last two share an id. An element is a Double or null.
    */
  private def ivfData(n: Int, q: Int, dims: Int, seed: Long): (Seq[(Long, Seq[Any])], Seq[(Long, Seq[Any])]) = {
    val rng = new scala.util.Random(seed)
    def vec() = Seq.fill(dims)((rng.nextInt(7) - 3) / 2.0)
    val base = (0 until n).map(i => (i.toLong, vec()))
    val copies = (0 until n / 10).map(i => ((n + i).toLong,
      base(i * 3)._2.map(_ * (if (i % 2 == 0) 2.0 else 1.0))))
    val queries = (0 until q).map(i =>
      (if (i == q - 1) (q - 2).toLong else if (i % 3 == 0) (i * 7 % n).toLong else 10000L + i, vec()))
    (base ++ copies, queries)
  }

  /** `rows` of (id, vector) as a local relation with the given id and
    * element types; a null vector or element stays null.
    */
  private def frame(rows: Seq[(Long, Seq[Any])], id: DataType, elem: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("id", id), StructField("vec", ArrayType(elem))))
    spark.createDataFrame(rows.map { case (i, v) =>
      Row(if (id == IntegerType) i.toInt else i,
        if (v == null) null
        else v.map {
          case x: Double => if (elem == FloatType) x.toFloat: Any else x
          case null => null
        })
    }.asJava, schema)
  }

  private val IvfDims = 6
  private lazy val ivfCents = graft.functions.HashFunctions.centroidWeights(4, IvfDims)

  /** Both tiers of `ivfTopKWith` on the same inputs: the default conf
    * must take the driver tier (or, with `fallsBack`, the distributed
    * one), `distributedCC` the distributed one, and rows and schema must
    * be equal.
    */
  private def tiersAgree(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
                         fallsBack: Boolean = false): Unit = {
    def search = Similarity.ivfTopKWith(queries, corpus, "id", "vec", k, ivfCents, nprobe)
    val driver = search
    assert(onDriver(driver) === !fallsBack)
    val dist = distributedCC {
      val d = search
      assert(!onDriver(d))
      (d.schema, d.collect().toSeq)
    }
    val got = driver.collect().toSeq
    val order = (r: Row) => (r.get(0).toString.toLong, r.getLong(3))
    assert(driver.schema === dist._1)
    assert(got.sortBy(order) === dist._2.sortBy(order), s"k=$k nprobe=$nprobe")
  }

  test("ivfTopK driver tier equals the distributed tier: ties, duplicate and corpus ids, k, nprobe, types") {
    val (corpus, queries) = ivfData(n = 150, q = 14, dims = IvfDims, seed = 7L)
    for (id <- Seq(LongType, IntegerType); qe <- Seq(FloatType, DoubleType);
         ce <- Seq(FloatType, DoubleType); nprobe <- Seq(1, ivfCents.size); k <- Seq(3, 1000))
      tiersAgree(frame(queries, id, qe), frame(corpus, id, ce), k, nprobe)
    // Int query ids against a Long corpus
    tiersAgree(frame(queries, IntegerType, FloatType), frame(corpus, LongType, FloatType), 5, 2)
  }

  test("ivfTopK driver tier equals the distributed tier on zero-norm and NaN vectors") {
    val (corpus, queries) = ivfData(n = 60, q = 6, dims = IvfDims, seed = 11L)
    val zero = Seq.fill(IvfDims)(0.0)
    val nan = Seq.fill(IvfDims)(Double.NaN)
    val odd = (1 until IvfDims).map(_.toDouble) :+ Double.NaN
    val c = corpus ++ Seq((500L, zero), (501L, nan), (502L, odd))
    val q = queries ++ Seq((600L, zero), (601L, nan), (602L, odd))
    val ansi = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(ansi)
    def search() = Similarity.ivfTopKWith(frame(q, LongType, FloatType), frame(c, LongType, DoubleType),
      "id", "vec", 10, ivfCents, ivfCents.size)
    spark.conf.set(ansi, "false")
    val ansiOff = try {
      for (nprobe <- Seq(1, ivfCents.size))
        tiersAgree(frame(q, LongType, FloatType), frame(c, LongType, DoubleType), 10, nprobe)
      search().collect().toSet
    } finally saved.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
    // under ANSI mode the kernel still scores a zero divisor null, so the
    // driver tier keeps the search and returns the same rows
    spark.conf.set(ansi, "true")
    try {
      val df = search()
      assert(onDriver(df))
      assert(df.collect().toSet === ansiOff)
    } finally saved.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
  }

  test("ivfTopK falls back to the distributed tier on null vectors, null elements and length mismatch") {
    val (corpus, queries) = ivfData(n = 60, q = 6, dims = IvfDims, seed = 13L)
    val withNull = Seq(1.0, 2.0, null, 1.0, 0.0, 1.0)
    for ((what, row) <- Seq("null vector" -> (null: Seq[Any]), "null element" -> withNull,
         "short vector" -> Seq(1.0, 2.0), "long vector" -> Seq.fill(IvfDims + 1)(1.0))) {
      withClue(s"$what in the corpus: ") {
        tiersAgree(frame(queries, LongType, FloatType),
          frame(corpus :+ ((900L, row)), LongType, FloatType), 10, 2, fallsBack = true)
      }
      withClue(s"$what in the queries: ") {
        tiersAgree(frame(queries :+ ((901L, row)), LongType, FloatType),
          frame(corpus, LongType, FloatType), 10, 2, fallsBack = true)
      }
    }
    // a null id never queries nor matches, so its row does not force a fallback
    val nullId = spark.createDataFrame(Seq(Row(null, Seq.fill(IvfDims)(1f))).asJava,
      frame(queries, LongType, FloatType).schema)
    tiersAgree(frame(queries, LongType, FloatType).union(nullId),
      frame(corpus, LongType, FloatType).union(nullId), 10, 2)
  }

  test("ivfTopK driver tier: the collect cap at driverRows, at the cap and one row over") {
    val (corpus, queries) = ivfData(n = 80, q = 5, dims = IvfDims, seed = 17L)
    val (q, c) = (frame(queries, LongType, FloatType), frame(corpus, LongType, FloatType))
    val rows = queries.size + corpus.size
    val rowBytes = Similarity.ivfRowBytes(IvfDims, 4)
    def searchAt(threshold: Long) = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      spark.conf.set(key, threshold.toString)
      try {
        assert(SizeRule.small(q, c))
        val df = Similarity.ivfTopKWith(q, c, "id", "vec", 10, ivfCents, 2)
        (onDriver(df), df.collect().toSet)
      } finally spark.conf.unset(key)
    }
    val (atCap, capRows) = searchAt(rowBytes * rows)
    assert(atCap, "a collect of exactly driverRows rows runs on the driver")
    val (over, overRows) = searchAt(rowBytes * rows - 1)
    assert(!over, "one row over the cap takes the distributed tier")
    assert(capRows === overRows)
  }

  test("driver-memory bound: markov transitions and silhouette centroids, at the cap and one row over") {
    // 6 distinct transitions: START→click, START→view, click→CONV,
    // click→NULL, view→click, view→NULL
    val ev = Seq((1L, 1L, 1L, "click"), (2L, 1L, 2L, "purchase"), (3L, 2L, 1L, "click"),
        (4L, 3L, 1L, "view"), (5L, 3L, 2L, "click"), (6L, 3L, 3L, "purchase"), (7L, 4L, 1L, "view"))
      .toDF("event_id", "user_id", "s", "event_type").withColumn("ts", timestamp_seconds($"s"))
    def markov() = EventOps.markovAttribution(ev, "user_id", "ts", "event_type", 3600000L,
      "purchase", Seq("click", "view"), 6).collect()
    // 3 labels of 2-d points: 3 centroid rows at 16 B a value
    val emb = Seq((0L, Seq(0f, 0f)), (0L, Seq(1f, 0f)), (1L, Seq(5f, 5f)), (1L, Seq(6f, 5f)),
      (2L, Seq(-4f, 3f))).toDF("label", "vec")
    def silhouette() = Similarity.labelSilhouette(emb, "label", "vec", 2).collect()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def at[A](threshold: Long)(body: => A): A = {
      spark.conf.set(key, threshold.toString)
      try body finally spark.conf.unset(key)
    }
    for ((rows, rowBytes, body) <- Seq((6L, EventOps.TransitionRowBytes, () => markov()),
         (3L, 16L * 3, () => silhouette()))) {
      val expected = body().toSeq
      assert(at(rows * rowBytes)(body().toSeq) === expected, "at the cap")
      val e = intercept[IllegalArgumentException](at(rows * rowBytes - 1)(body()))
      assert(e.getMessage.contains(s"more than ${rows - 1} rows"), e.getMessage)
      // with the budget off only the heap caps a table with no distributed path
      assert(distributedCC(body().toSeq) === expected)
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
