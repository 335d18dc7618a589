package graft

import org.apache.spark.sql.SparkSession
import graft.etl.ImdbPipeline
import graft.sources.Sources

/** CLI twin of the reference pipeline (reference: etl_imdb.py:245–314):
  * same flags, same inputs (`title.basics.tsv.gz`, `title.ratings.tsv.gz`
  * in --raw-dir), same output layout (dw/ + marts/, fact partitioned by
  * yearkey). A user of the reference runs this instead with identical
  * arguments. (No --download flag: this environment is zero-egress; drop
  * the files into --raw-dir.)
  *
  * Usage:
  *   runMain graft.ImdbMain --raw-dir raw --dw-dir dw --marts-dir marts
  *     [--min-votes 1000] [--top-n 10] [--show-counts]
  */
object ImdbMain {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    run(GraftSession.submitted(), opts)
  }

  case class Opts(rawDir: String = "raw", dwDir: String = "dw", martsDir: String = "marts",
                  minVotes: Int = 1000, topN: Int = 10, showCounts: Boolean = false,
                  download: Boolean = false)

  def parseArgs(args: Array[String]): Opts = {
    @annotation.tailrec
    def loop(rest: List[String], o: Opts): Opts = rest match {
      case "--raw-dir" :: v :: t => loop(t, o.copy(rawDir = v))
      case "--dw-dir" :: v :: t => loop(t, o.copy(dwDir = v))
      case "--marts-dir" :: v :: t => loop(t, o.copy(martsDir = v))
      case "--min-votes" :: v :: t => loop(t, o.copy(minVotes = v.toInt))
      case "--top-n" :: v :: t => loop(t, o.copy(topN = v.toInt))
      case "--show-counts" :: t => loop(t, o.copy(showCounts = true))
      // accepted for reference-CLI compatibility (etl_imdb.py:250-251);
      // this environment has no network egress, so the fetch is skipped
      // with a warning and the run proceeds against --raw-dir contents
      case "--download" :: t => loop(t, o.copy(download = true))
      case "--overwrite-download" :: t => loop(t, o.copy(download = true))
      case Nil => o
      case other :: _ => throw new IllegalArgumentException(s"unknown flag: $other")
    }
    loop(args.toList, Opts())
  }

  def run(spark: SparkSession, o: Opts): Unit = {
    if (o.download)
      System.err.println("[download] skipped: no network egress in this environment; " +
        s"place title.basics.tsv.gz / title.ratings.tsv.gz in ${o.rawDir}")
    val titles = Sources.readDelimited(spark, s"${o.rawDir}/title.basics.tsv.gz")
    val ratings = Sources.readDelimited(spark, s"${o.rawDir}/title.ratings.tsv.gz")
    val out = ImdbPipeline.run(titles, ratings, o.minVotes, o.topN)

    if (o.showCounts) {
      // (reference: etl_imdb.py:286–297) — one action per table, same list
      Seq(
        "dim_year" -> out.dimYear, "dim_title" -> out.dimTitle,
        "dim_genre" -> out.dimGenre, "bridge_title_genre" -> out.bridgeTitleGenre,
        "fact_ratings" -> out.factRatings, "mart_year_kpi" -> out.martYearKpi,
        "mart_top_genre_year" -> out.martTopGenreYear,
        "mart_top_year_by_rating" -> out.martTopYearByRating,
        "mart_rating_distribution" -> out.martRatingDistribution,
      ).foreach { case (n, df) => println(s"[stats] $n: ${df.count()}") }
    }

    ImdbPipeline.write(out, o.dwDir, o.martsDir)
    println(s"[done] DW written to ${o.dwDir}")
    println(s"[done] Marts written to ${o.martsDir}")
  }
}
