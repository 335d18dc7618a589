package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.ImdbPipeline

/** End-to-end check of the reference-equivalent pipeline on an
  * IMDb-shaped in-memory input (operator #12 in SURVEY.md §2): staging
  * semantics (null markers, casts, type filter, key dedup), dims, bridge,
  * fact, and all four marts.
  */
class ImdbPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def titles = ImdbPipelineSpec.titles(spark)
  private def ratings = ImdbPipelineSpec.ratings(spark)

  private lazy val out = ImdbPipeline.run(titles, ratings, minVotes = 1000, topN = 10)

  test("staging: type filter + key dedup keep 4 movies") {
    assert(out.dimTitle.count() === 4)
    val t1 = out.dimTitle.filter($"titlekey" === "t1").collect().head
    assert(t1.getAs[String]("primaryTitle") === "A") // kept first, not the dup
  }

  test("dim_year drops null markers") {
    assert(out.dimYear.as[Int].collect().sorted === Array(1990, 1991))
  }

  test("genre dim normalizes case and splits multi-values") {
    assert(out.dimGenre.as[String].collect().sorted === Array("comedy", "drama", "thriller"))
    val bridge = out.bridgeTitleGenre.as[(String, String)].collect().toSet
    assert(bridge === Set("t1" -> "drama", "t1" -> "comedy", "t2" -> "drama", "t5" -> "thriller"))
  }

  test("fact joins only rated movies with typed columns") {
    val rows = out.factRatings.collect()
    assert(rows.length === 3) // t1, t2, t5 (t3 filtered, t4 unrated)
    val t2 = rows.find(_.getAs[String]("titlekey") == "t2").get
    assert(t2.getAs[Double]("avg_rating") === 6.0)
    assert(t2.getAs[Int]("num_votes") === 2000)
    assert(t2.isNullAt(t2.fieldIndex("runtime_min"))) // "\N" → null int
  }

  test("mart_year_kpi aggregates per year") {
    val kpi = out.martYearKpi.filter($"yearkey" === 1990).collect().head
    assert(kpi.getAs[Long]("n_movies") === 2)
    assert(kpi.getAs[Double]("mean_rating") === 6.75)
    assert(kpi.getAs[Long]("total_votes") === 7000)
  }

  test("top marts respect min-votes threshold") {
    // t5 (500 votes) excluded everywhere; ranks deterministic
    assert(out.martTopYearByRating.filter($"titlekey" === "t5").count() === 0)
    val top1990 = out.martTopYearByRating.filter($"yearkey" === 1990)
      .orderBy($"rk").as[(Int, String, Double, Int, Long)].collect()
    assert(top1990.map(_._2).toSeq === Seq("t1", "t2")) // 7.5 then 6.0
  }

  test("rating distribution buckets on 0.5 width in the reference layout") {
    val dist = out.martRatingDistribution.collect()
      .map(r => (r.getAs[Int]("yearkey"), r.getAs[Double]("rating_bucket"), r.getAs[Long]("count"))).toSet
    // rating_bucket = floor(rating*2)/2 (reference etl_imdb.py:230):
    // 7.5→7.5, 6.0→6.0, 8.0→8.0
    assert(dist === Set((1990, 7.5, 1L), (1990, 6.0, 1L), (1991, 8.0, 1L)))
  }

  test("write produces reference layout with partitioned fact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_imdb").toString
    ImdbPipeline.write(out, s"$tmp/dw", s"$tmp/marts")
    val fact = spark.read.parquet(s"$tmp/dw/fact_ratings")
    assert(fact.count() === 3)
    assert(new java.io.File(s"$tmp/dw/fact_ratings").listFiles().exists(_.getName.startsWith("yearkey=")))
    assert(spark.read.parquet(s"$tmp/marts/mart_year_kpi").count() === 2)
  }
}

/** The IMDb-shaped raw input of [[ImdbPipelineSpec]]: duplicate keys,
  * null markers, a non-movie, an unrated movie and one below min votes.
  */
object ImdbPipelineSpec {
  def titles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      // tconst, titleType, primaryTitle, originalTitle, isAdult, startYear, runtimeMinutes, genres
      ("t1", "movie", "A", "A", "0", "1990", "100", "drama,comedy"),
      ("t1", "movie", "A-dup", "A", "0", "1990", "100", "drama"), // dup key → dropped (keep first by tconst)
      ("t2", "movie", "B", "B", "0", "1990", "\\N", "Drama"),     // genre normalizes to drama
      ("t3", "short", "C", "C", "0", "1991", "10", "comedy"),     // filtered: not movie
      ("t4", "movie", "D", "D", "0", "\\N", "90", "\\N"),         // null year + genres
      ("t5", "movie", "E", "E", "0", "1991", "95", "thriller"),
    ).toDF("tconst", "titleType", "primaryTitle", "originalTitle", "isAdult", "startYear", "runtimeMinutes", "genres")
  }

  def ratings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("t1", "7.5", "5000"), ("t2", "6.0", "2000"), ("t3", "9.0", "100"),
      ("t5", "8.0", "500"), // below minVotes for marts
    ).toDF("tconst", "averageRating", "numVotes")
  }
}
