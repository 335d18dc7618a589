package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ImdbPipeline, Marts, Staging, Star}
import graft.sources.Sources

/** The reference's nightly job: raw IMDb TSVs → staging → star schema →
  * marts → nine parquet outputs, exactly `ImdbMain`'s path
  * (`ImdbPipeline.run` then `ImdbPipeline.write`). One caller, passes back
  * to back; each pass writes to its own directory so every pass's outputs
  * can be checked.
  */
object ImdbEtl extends Workload {
  val MinVotes = 1000
  val TopN = 10

  def raw(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (Sources.readDelimited(spark, s"$dir/title.basics.tsv.gz"),
      Sources.readDelimited(spark, s"$dir/title.ratings.tsv.gz"))

  def pass(spark: SparkSession, in: String, out: String): Unit = {
    val (titles, ratings) = raw(spark, in)
    ImdbPipeline.write(ImdbPipeline.run(titles, ratings, MinVotes, TopN), s"$out/dw", s"$out/marts")
  }

  /** `--warmup` passes over the measured inputs: on smaller inputs the
    * adaptive planner picks other joins, and the first measured pass
    * would still pay for compiling them.
    */
  def setup(spark: SparkSession, ctx: Ctx): Unit =
    for (i <- 0 until ctx.opts("warmup").toInt) pass(spark, s"${ctx.data}/main", s"${ctx.out}/warmup_$i")

  def untraced(spark: SparkSession, ctx: Ctx, seconds: Double): Map[String, Any] = {
    val walls = Main.loop(seconds)(i => pass(spark, s"${ctx.data}/main", s"${ctx.out}/pass_$i"))
    Map("passes" -> walls.zipWithIndex.map { case (w, i) =>
      Map("wall_s" -> w, "out" -> s"${ctx.out}/pass_$i") })
  }

  def traced(spark: SparkSession, ctx: Ctx, seconds: Double, tr: Tracer,
             tel: Telemetry): Map[String, Any] = {
    val mismatched = ArrayBuffer[String]()
    val walls = Main.loop(seconds) { i =>
      mismatched ++= tr.inRun(s"traced_$i")(
        tracedPass(spark, s"${ctx.data}/main", s"${ctx.out}/traced_$i", tr))
    }
    Map("passes" -> walls.zipWithIndex.map { case (w, i) =>
      Map("wall_s" -> w, "out" -> s"${ctx.out}/traced_$i") },
      "composition_mismatch" -> mismatched.distinct.toSeq)
  }

  /** What [[layers]] does with each layer's results: the traced pass
    * materialises them inside the layer's span; [[unchanged]] hands them
    * on as built.
    */
  trait Layer { def apply(name: String)(body: => Seq[DataFrame]): Seq[DataFrame] }

  object unchanged extends Layer {
    def apply(name: String)(body: => Seq[DataFrame]): Seq[DataFrame] = body
  }

  /** `ImdbPipeline.run`'s steps, one module at a time, each layer's
    * results passed through `layer`. [[mismatches]] checks that this
    * composition still builds the plans `ImdbPipeline.run` builds.
    */
  def layers(titlesRaw: DataFrame, ratingsRaw: DataFrame, layer: Layer): ImdbPipeline.Outputs = {
    val Seq(titlesStg, ratingsStg) = layer("etl.staging") {
      Seq(Staging.dedupByKeyKeepFirst(
        Staging.castColumns(
          Staging.nullMarkers(titlesRaw,
            Seq("startYear", "runtimeMinutes", "genres", "primaryTitle", "originalTitle", "titleType"),
            "\\N"),
          Map("startYear" -> "int", "runtimeMinutes" -> "int", "isAdult" -> "int"))
          .filter(col("titleType") === "movie"),
        Seq("tconst"), Seq(col("tconst"), col("primaryTitle"))),
      Staging.dedupByKeyKeepFirst(
        Staging.castColumns(
          Staging.nullMarkers(ratingsRaw, Seq("averageRating", "numVotes"), "\\N"),
          Map("averageRating" -> "double", "numVotes" -> "int")),
        Seq("tconst"), Seq(col("tconst"), col("averageRating"))))
    }
    val Seq(dimYear, dimTitle, dimGenre, bridge, fact) = layer("etl.star") {
      val (g, b) = Star.explodeBridge(titlesStg.where(col("genres").isNotNull),
        col("tconst"), col("genres"), ",", "titlekey", "genrekey")
      Seq(Star.dimFromColumn(titlesStg, col("startYear"), "year"),
        titlesStg.select(col("tconst").as("titlekey"), col("primaryTitle"),
          col("originalTitle"), col("titleType"), col("startYear"), col("runtimeMinutes"),
          col("isAdult")),
        g, b,
        Star.fact(titlesStg, ratingsStg, Seq("tconst"), Seq(
          col("tconst").as("titlekey"), col("startYear").as("yearkey"),
          col("averageRating").as("avg_rating"), col("numVotes").as("num_votes"),
          col("runtimeMinutes").as("runtime_min"))))
    }
    val Seq(kpi, topGenre, topYear, dist) = layer("etl.marts") {
      Seq(Marts.kpiByGroup(fact, col("yearkey"), "yearkey", Seq(
        count(lit(1)).as("n_movies"), avg(col("avg_rating")).as("mean_rating"),
        sum(col("num_votes")).as("total_votes"))),
        Marts.topNPerGroup(fact.join(bridge, "titlekey"),
          Seq(col("yearkey"), col("genrekey")),
          Seq(col("num_votes").desc, col("titlekey").asc), TopN,
          Some(col("num_votes") >= MinVotes))
          .select(col("yearkey"), col("genrekey"), col("titlekey"),
            col("avg_rating"), col("num_votes"), col("rk")),
        Marts.topNPerGroup(fact, Seq(col("yearkey")),
          Seq(col("avg_rating").desc, col("titlekey").asc), TopN,
          Some(col("num_votes") >= MinVotes))
          .select(col("yearkey"), col("titlekey"), col("avg_rating"), col("num_votes"), col("rk")),
        Marts.histogram(fact, Seq(col("yearkey")), col("avg_rating"), 0.5)
          .select(col("yearkey"), (col("bucket") * lit(0.5)).as("rating_bucket"),
            col("n").as("count")))
    }
    ImdbPipeline.Outputs(dimYear, dimTitle, dimGenre, bridge, fact, kpi, topGenre, topYear, dist)
  }

  /** Names of the outputs whose analysed plan from [[layers]] differs
    * from `ImdbPipeline.run`'s on the same inputs, expression ids and
    * fresh lambda-variable numbers aside; run.py counts a non-empty list
    * as a failed check.
    */
  def mismatches(titlesRaw: DataFrame, ratingsRaw: DataFrame): Seq[String] = {
    def canon(df: DataFrame) = df.queryExecution.analyzed.treeString
      .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_#").replaceAll("#\\d+L?", "#")
    val ref = ImdbPipeline.run(titlesRaw, ratingsRaw, MinVotes, TopN)
    val ours = layers(titlesRaw, ratingsRaw, unchanged)
    ref.productElementNames.toSeq.zip(ref.productIterator.zip(ours.productIterator).toSeq).collect {
      case (name, (a: DataFrame, b: DataFrame)) if canon(a) != canon(b) => name
    }
  }

  /** One pass with a span per layer, each layer's results materialised
    * inside it, and the library's own `ImdbPipeline.write`; returns
    * [[mismatches]] for the pass's inputs.
    */
  def tracedPass(spark: SparkSession, in: String, out: String, tr: Tracer): Seq[String] = {
    val m = new Main.Materializer
    val (titles, ratings) = raw(spark, in)
    val mismatched = mismatches(titles, ratings)
    tr.span("pass") {
      val Seq(titlesRaw, ratingsRaw) = tr.span("sources.read")(Seq(m(titles), m(ratings)))
      val outs = layers(titlesRaw, ratingsRaw, new Layer {
        def apply(name: String)(body: => Seq[DataFrame]): Seq[DataFrame] = tr.span(name)(body.map(m(_)))
      })
      tr.span("sources.write")(ImdbPipeline.write(outs, s"$out/dw", s"$out/marts"))
    }
    m.release()
    mismatched
  }
}
