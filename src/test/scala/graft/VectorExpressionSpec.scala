package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.plans.GraftExtensions

/** The native codegen'd DotProduct must be bit-identical to the HOF fold
  * (that equivalence is what keeps the DuckDB oracles valid), null-safe,
  * and registered as a SQL function.
  */
class VectorExpressionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("native dot == HOF fold bit-for-bit on real embeddings") {
    val both = emb.select(
      V.dot($"embedding", $"embedding").as("native"),
      V.dotHof($"embedding", $"embedding").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
  }

  test("null element and length mismatch yield NULL") {
    val df = Seq(
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f)),
      (Array[java.lang.Float](1f, null), Array[java.lang.Float](3f, 4f)),
    ).toDF("a", "b")
    val vals = df.select(V.dot($"a", $"b")).collect().map(r => Option(r.get(0)))
    assert(vals.toSeq === Seq(Some(11.0), None))
    val mism = Seq((Array(1f, 2f), Array(1f))).toDF("a", "b")
      .select(V.dot($"a", $"b")).collect().head
    assert(mism.isNullAt(0))
  }

  test("mixed int/double arrays are widened") {
    val df = Seq((Array(1, 2, 3), Array(0.5, 0.5, 0.5))).toDF("a", "b")
    assert(df.select(V.dot($"a", $"b")).as[Double].collect().head === 3.0)
  }

  test("graft_dot is callable from SQL after registration") {
    GraftExtensions.register(spark)
    emb.createOrReplaceTempView("emb_v")
    val n = spark.sql(
      "SELECT graft_dot(embedding, embedding) AS d FROM emb_v WHERE graft_dot(embedding, embedding) > 0.5")
      .count()
    assert(n === emb.count()) // unit-normalized vectors → self-dot ≈ 1
  }

  test("dot stays inside whole-stage codegen") {
    val df = emb.select(V.dot($"embedding", $"embedding").as("d")).filter($"d" > 0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen'd projection:\n$plan")
  }

  test("sorted intersect count equals array_intersect size on random sorted sets") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val a = rnd.shuffle((1L to 200L).toList).take(rnd.nextInt(60) + 1).distinct.sorted.toArray
      val b = rnd.shuffle((1L to 200L).toList).take(rnd.nextInt(60) + 1).distinct.sorted.toArray
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
        graft.plans.VectorExpressions.sortedIntersectNative($"a", $"b").as("c"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // codegen: the expression must not force interpreted fallback —
    // build from range() (a literal Seq would constant-fold into a
    // LocalTableScan and show no codegen span at all)
    val live = spark.range(0, 1000).select(
        sequence(col("id") % 7 + 1, col("id") % 50 + 10).as("a"),
        sequence(col("id") % 13 + 3, col("id") % 40 + 20, lit(2)).as("b"))
      .select(graft.plans.VectorExpressions.sortedIntersectNative($"a", $"b").as("c"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
    live.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(live.queryExecution.executedPlan.toString.contains("*(1)"),
      "expected codegen'd projection")
  }

  test("sorted intersect NULL-poisons on a trailing null the walk never reaches") {
    // a=[1], b=[1,null]: the match on 1 exhausts a and the loop exits
    // before visiting b's null — the tail pre-check must still yield NULL
    // (array_sort places nulls last, so the tail decides)
    val df = Seq((Seq(Some(1L)), Seq(Some(1L), Option.empty[Long])))
      .toDF("a", "b")
      .select(graft.plans.VectorExpressions.sortedIntersectNative($"a", $"b").as("c"))
    assert(df.head.isNullAt(0), "trailing null element must poison the count")
  }

  test("sorted intersect codegen compiles in a join predicate over NON-NULLABLE arrays") {
    // regression: with non-nullable inputs and containsNull=false the
    // expression is non-nullable, ev.isNull is the literal `false`, and
    // generated code must not assign to it — that Janino error silently
    // dropped the whole prefix-filter join to interpreted mode.
    // CODEGEN_ONLY turns the silent fallback into a hard failure.
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val a = spark.range(0, 50)
        .select(col("id").as("ka"), sequence(lit(1L), col("id") % 10L + 2L).as("sa"))
      val b = spark.range(0, 50)
        .select(col("id").as("kb"), sequence(lit(2L), col("id") % 8L + 3L).as("sb"))
      val joined = a.join(b, col("ka") % 7 === col("kb") % 7 &&
        graft.plans.VectorExpressions.sortedIntersectNative(col("sa"), col("sb")) >= 2L)
      assert(joined.count() > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("levenshtein prefilter rule injects the implied length guard, once, safely") {
    import graft.plans.LevenshteinPrefilterRule
    // a range source so ConvertToLocalRelation can't fold the filter away
    def src = spark.range(0, 30)
      .select(concat(lit("k"), (col("id") % 7).cast("string")).as("a"),
        concat(lit("k"), (col("id") % 3).cast("string"), lit("xx")).as("b"))
    val df = src.filter(expr("levenshtein(a, b) <= 2"))
    val before = df.queryExecution.optimizedPlan
    val after = LevenshteinPrefilterRule(before)
    assert(after.toString.toLowerCase.contains("abs("),
      s"guard must be injected:\n$after")
    // idempotent: a second application (every optimizer iteration) is a no-op
    assert(LevenshteinPrefilterRule(after).toString === after.toString)
    // end-to-end with the rule active: results identical to the naive filter
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ LevenshteinPrefilterRule
    try {
      val rows = src.filter(expr("levenshtein(a, b) <= 2"))
      assert(rows.queryExecution.optimizedPlan.toString.toLowerCase.contains("abs("))
      // identical rows to the guard-free semantics (guard is implied)
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val naive = src.collect()
        .filter(r => lev(r.getString(0), r.getString(1)) <= 2)
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows.collect().map(r => (r.getString(0), r.getString(1))).toSet === naive)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == LevenshteinPrefilterRule)
  }
}
