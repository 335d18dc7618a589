package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VectorFunctions => V}
import graft.operators.{Dedup, Similarity}

/** The one rounded-cosine kernel (`graft.plans.Cosine4` over
  * `CosineKernel`): bit-identical to Spark's `round(dot / (na * nb), 4)`
  * with ANSI off, on the interpreted and the generated path; a zero norm
  * scores null and a NaN scores NaN in every operator that scores with
  * it, with ANSI on or off; and no other source divides a dot product by
  * a norm product.
  */
class CosineKernelSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def withAnsi[A](on: Boolean)(body: => A): A =
    withConf("spark.sql.ansi.enabled" -> on.toString)(body)

  /** (dot, na, nb) triples: random values, ties at the fifth decimal,
    * -0.0 and tiny negative quotients, a norm product that underflows to
    * 0, infinities, NaN and nulls.
    */
  private lazy val triples: Seq[(Any, Any, Any)] = {
    val rng = new scala.util.Random(5L)
    val random = Seq.fill(400) {
      (rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3), math.abs(rng.nextGaussian()) + 1e-3,
        math.abs(rng.nextGaussian()) * 3)
    }
    val ties = Seq(0.12345, -0.12345, 0.99995, -0.99995, 1.00005, 0.00005, -0.00005, 0.50005,
      0.33335, 0.66665).map(x => (x, 1.0, 1.0)) ++
      Seq((2.4691, 2.0, 1.0), (0.2469, 1.0, 2.0), (1.23455, 0.5, 2.0), (0.7407, 3.0, 2.0))
    val zeros = Seq((-0.0, 1.0, 1.0), (0.0, 1.0, 1.0), (-1e-9, 1.0, 1.0), (-0.00004, 1.0, 1.0),
      (1.0, 0.0, 1.0), (1.0, -0.0, 2.0), (0.0, 0.0, 0.0), (-0.0, 0.0, 5.0),
      (1e-300, 1e-200, 1e-200), (1.0, 1e-170, 1e-170), (1e300, 1e-300, 1e-10))
    val inf = Double.PositiveInfinity
    val infs = Seq((inf, 1.0, 1.0), (-inf, 1.0, 1.0), (1.0, inf, 1.0), (-1.0, inf, 2.0),
      (inf, inf, 1.0), (1.0, inf, 0.0), (1e300, 1e300, 1e10), (inf, 0.0, 1.0), (1e308, 1e-5, 1e-5))
    val nan = Double.NaN
    val nans = Seq((nan, 1.0, 1.0), (1.0, nan, 1.0), (nan, 0.0, 1.0), (1.0, nan, 0.0), (0.0, nan, nan))
    val nulls = Seq((null, 1.0, 1.0), (1.0, null, 1.0), (1.0, 1.0, null), (null, 0.0, 0.0))
    random ++ ties ++ zeros ++ infs ++ nans ++ nulls
  }

  /** `triples` as an RDD-backed frame, so the optimizer cannot evaluate a
    * projection over it on the driver.
    */
  private def tripleFrame: DataFrame = {
    val schema = StructType(Seq("dot", "na", "nb").map(StructField(_, DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      triples.map { case (d, a, b) => Row(d, a, b) }, 3), schema)
  }

  private def bits(v: Any): Option[Long] =
    Option(v).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]))

  /** The kernel's column, Spark's formula and the static kernel the
    * driver tier calls, over every triple, with ANSI off.
    */
  private def kernelAgainstSpark(): Unit = {
    val rows = withAnsi(on = false) {
      tripleFrame.select(
        V.cosine4($"dot", $"na", $"nb").as("kernel"),
        round($"dot" / ($"na" * $"nb"), 4).as("spark"),
        $"dot", $"na", $"nb").collect()
    }
    assert(rows.length === triples.size)
    for (r <- rows) {
      assert(bits(r.get(0)) === bits(r.get(1)), s"(dot, na, nb) = ${r.toSeq.drop(2)}")
      if (!r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4))
        assert(bits(graft.plans.CosineKernel.cos4OrNull(r.getDouble(2), r.getDouble(3), r.getDouble(4))) ===
          bits(r.get(1)), s"static kernel at (dot, na, nb) = ${r.toSeq.drop(2)}")
    }
    // the inputs reach every branch: null, NaN, infinite, -0.0 in, 0.0 out
    val kernel = rows.map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    assert(kernel.count(_.isEmpty) >= 8 && kernel.flatten.exists(_.isNaN) &&
      kernel.flatten.exists(_.isInfinite) && kernel.flatten.exists(_ == 0.0))
  }

  test("Cosine4 equals Spark's round(dot / (na * nb), 4) bit for bit, interpreted and generated") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(kernelAgainstSpark())
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(kernelAgainstSpark())
  }

  test("Cosine4 stays inside whole-stage codegen") {
    val df = spark.range(0, 1000).select(
        V.cosine4(($"id" % 7 - 3).cast("double"), ($"id" % 5).cast("double"), lit(2.0)).as("c"))
      .filter($"c".isNull || $"c" > -10.0)
    val rows = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(df.collect())
    assert(rows.count(_.isNullAt(0)) === 200) // id % 5 == 0: a zero norm
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("graft_cos4"), s"expected a codegen'd projection:\n$plan")
  }

  // ---- zero and NaN vectors in every operator that scores a cosine ----

  private val Dims = 8
  private val ZeroIds = Set(900L, 901L)
  private val NanIds = Set(902L, 903L, 904L)

  /** A seeded corpus of small integer-and-half vectors (never all zero)
    * plus two all-zero, two all-NaN and one one-NaN vector, and queries
    * that include one of each kind.
    */
  private lazy val (zCorpus, zQueries) = {
    val rng = new scala.util.Random(23L)
    val base = (0 until 40).map { i =>
      val v = Seq.fill(Dims)((rng.nextInt(7) - 3) / 2.0)
      (i.toLong, if (v.forall(_ == 0.0)) v.updated(0, 1.0) else v)
    }
    val odd = (1 until Dims).map(_.toDouble) :+ Double.NaN
    val special = Seq(900L -> Seq.fill(Dims)(0.0), 901L -> Seq.fill(Dims)(0.0),
      902L -> Seq.fill(Dims)(Double.NaN), 903L -> Seq.fill(Dims)(Double.NaN), 904L -> odd)
    def frame(rows: Seq[(Long, Seq[Double])]) =
      rows.map { case (i, v) => (i, v.map(_.toFloat).toArray) }.toDF("id", "vec")
    (frame(base ++ special), frame(base.take(4) ++ special.filter(p => Set(900L, 902L, 904L)(p._1))))
  }

  /** Every row's cos is NaN when a side is a NaN vector, else null when a
    * side is a zero vector, else a number; and both kinds show up.
    */
  private def scoresDefined(what: String, df: DataFrame, idA: String, idB: String): Unit = {
    val rows = df.select(col(idA).cast("long"), col(idB).cast("long"), col("cos")).collect()
    assert(rows.nonEmpty, what)
    for (r <- rows) {
      val ids = Set(r.getLong(0), r.getLong(1))
      val cos = Option(r.get(2)).map(_.asInstanceOf[Double])
      if (ids.exists(NanIds)) assert(cos.exists(_.isNaN), s"$what: $r")
      else if (ids.exists(ZeroIds)) assert(cos.isEmpty, s"$what: $r")
      else assert(cos.exists(x => !x.isNaN), s"$what: $r")
    }
    assert(rows.exists(_.isNullAt(2)), s"$what: no zero-norm row")
    assert(rows.exists(r => !r.isNullAt(2) && r.getDouble(2).isNaN), s"$what: no NaN row")
  }

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case w: Window => w }.isEmpty

  for (ansi <- Seq(false, true))
    test(s"zero-norm vectors score null and NaN vectors NaN in every search (ANSI ${if (ansi) "on" else "off"})") {
      withAnsi(ansi) {
        val cents = graft.functions.HashFunctions.centroidWeights(4, Dims)
        scoresDefined("bruteForceTopK",
          Similarity.bruteForceTopK(zQueries, zCorpus, "id", "vec", 1000), "query_id", "neighbor_id")
        val driver = Similarity.ivfTopKWith(zQueries, zCorpus, "id", "vec", 1000, cents, cents.size)
        assert(onDriver(driver), "the driver tier keeps a zero-norm search")
        scoresDefined("ivfTopK driver tier", driver, "query_id", "neighbor_id")
        distributedCC {
          val dist = Similarity.ivfTopKWith(zQueries, zCorpus, "id", "vec", 1000, cents, cents.size)
          assert(!onDriver(dist))
          scoresDefined("ivfTopK distributed tier", dist, "query_id", "neighbor_id")
        }
        scoresDefined("lshTopK",
          Similarity.lshTopK(zQueries, zCorpus, "id", "vec", 1000, planes = 16, bands = 8, dims = Dims),
          "query_id", "neighbor_id")
        scoresDefined("mrlTopK",
          Similarity.mrlTopK(zQueries, zCorpus, "id", "vec", coarseDims = 4, pool = 1000, k = 1000),
          "query_id", "neighbor_id")
        val pairs = zQueries.select($"id".as("a"), $"vec".as("va"))
          .crossJoin(zCorpus.select($"id".as("b"), $"vec".as("vb")))
        scoresDefined("cosine4", pairs.select($"a", $"b", V.cosine4($"va", $"vb").as("cos")), "a", "b")
      }
    }

  // ---- the embedding dedup operators on the same degenerate vectors ----

  /** Near-dup groups (exact copies and small perturbations), two all-zero,
    * two all-NaN and one one-NaN vector.
    */
  private lazy val dedupEmb = {
    val a = Seq(1f, 2f, 0f, -1f, 3f, 1f, 0f, 2f)
    val b = Seq(-2f, 1f, 1f, 0f, -1f, 2f, 3f, 0f)
    val c = Seq(0f, 0f, 1f, 1f, 1f, -1f, -1f, 1f)
    val rows = Seq(1L -> a, 2L -> a, 3L -> a.updated(0, 1.1f), 4L -> b, 5L -> b.updated(3, 0.2f),
      6L -> b, 7L -> c, 8L -> c.map(_ * 2), 9L -> a.zip(b).map { case (x, y) => x + y },
      20L -> Seq.fill(Dims)(0f), 21L -> Seq.fill(Dims)(0f),
      22L -> Seq.fill(Dims)(Float.NaN), 23L -> Seq.fill(Dims)(Float.NaN),
      24L -> ((1 until Dims).map(_.toFloat) :+ Float.NaN))
    rows.map { case (i, v) => (i, v.toArray) }.toDF("vec_id", "embedding")
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The rows each operator returns on [[dedupEmb]] with ANSI off before
    * the kernel, when each site divided inline: null for a zero-norm pair,
    * NaN for a NaN one (NaN passes `cos >= minCos`, as Spark orders NaN
    * above every number).
    */
  private val dedupExpected: Map[String, Seq[String]] = Map(
    "embeddingNearDup" -> Seq("[1,2,1.0]", "[1,22,NaN]", "[1,23,NaN]", "[1,24,NaN]", "[1,3,0.9998]",
      "[2,22,NaN]", "[2,23,NaN]", "[2,24,NaN]", "[2,3,0.9998]", "[20,22,NaN]", "[20,23,NaN]",
      "[20,24,NaN]", "[21,22,NaN]", "[21,23,NaN]", "[21,24,NaN]", "[22,23,NaN]", "[22,24,NaN]",
      "[23,24,NaN]", "[3,22,NaN]", "[3,23,NaN]", "[3,24,NaN]", "[4,22,NaN]", "[4,23,NaN]",
      "[4,24,NaN]", "[4,5,0.999]", "[4,6,1.0]", "[5,22,NaN]", "[5,23,NaN]", "[5,24,NaN]",
      "[5,6,0.999]", "[6,22,NaN]", "[6,23,NaN]", "[6,24,NaN]", "[7,22,NaN]", "[7,23,NaN]",
      "[7,24,NaN]", "[7,8,1.0]", "[8,22,NaN]", "[8,23,NaN]", "[8,24,NaN]", "[9,22,NaN]",
      "[9,23,NaN]", "[9,24,NaN]"),
    // the null band holds the zero clique's own pair and every scored
    // pair with a zero vector
    "nearDupSweep" -> Seq("[-100000,5,64]", "[-150000,2,66]", "[-450000,2,68]", "[-50000,4,59]",
      "[-500000,4,72]", "[0,36,55]", "[1000000,3,3]", "[250000,6,19]", "[650000,6,13]",
      "[950000,4,7]", "[null,19,91]"),
    "semanticDedup" -> Seq("[1,22,NaN,10]", "[4,4,0.8944,3]"))

  for (ansi <- Seq(false, true))
    test(s"embeddingNearDup, nearDupSweep and semanticDedup on zero-norm and NaN vectors (ANSI ${if (ansi) "on" else "off"})") {
      withAnsi(ansi) {
        val cents = Seq(Seq(1.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 1.0), Seq(-1.0, 0.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0))
        val got = Map(
          "embeddingNearDup" ->
            Dedup.embeddingNearDup(dedupEmb, "vec_id", "embedding", 0.9, planes = 16, bands = 8, dims = Dims),
          "nearDupSweep" -> Dedup.nearDupSweep(dedupEmb, "vec_id", "embedding", 16, 8, Dims),
          "semanticDedup" -> Dedup.semanticDedup(dedupEmb, "vec_id", "embedding", cents, 0.9))
        assert(got.map { case (name, df) => name -> sortedRows(df) } === dedupExpected)
      }
    }

  // ---- one definition ----

  test("no source outside VectorExpressions divides a dot product by a norm product") {
    val dotThenDivide = """\bdot(Const)?\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)\s*/(?![/*])"""
    assert(sourcesMatching("src/main/scala", dotThenDivide).filterNot(_ == "VectorExpressions.scala") === Nil)
    // no operator branches on the ANSI setting or rounds through
    // java.math.BigDecimal (EventOps' one use is a decimal UDF argument)
    assert(sourcesMatching("src/main/scala/graft/operators", """spark\.sql\.ansi\.enabled|ansiEnabled""") === Nil)
    assert(sourcesMatching("src/main/scala/graft/operators", """java\.math\.BigDecimal""") === Seq("EventOps.scala"))
  }
}
