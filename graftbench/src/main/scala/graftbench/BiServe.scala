package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.etl.{ImdbPipeline, Marts}
import graft.operators.Similarity
import graft.sources.Sources

/** Interactive lookups over the marts and embeddings: a closed loop of
  * clients (each sends its next op when the last one returns) issuing a
  * seeded mix of small partition-pruned DW queries and IVF top-k
  * searches. Set-up exports the DW with the ETL and builds the embedding
  * table, as a serving deployment would before taking traffic.
  */
object BiServe extends Workload {
  val MinVotes = ImdbEtl.MinVotes
  val K = 10
  val Cents = 8
  val NProbe = 2
  /** The traffic mix: the four ops in equal shares, interleaved. No
    * measured mix exists, so equal weights are an assumption. Only the
    * parameters come from the seed, so every run sees the same mix.
    */
  val Ops: Vector[String] = Vector("top_year", "kpi_range", "genre_top", "ann_topk")
  val VecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  final case class Op(name: String, params: Seq[Long])
  final case class Done(client: Int, op: Op, startS: Double, latencyMs: Double,
                        rows: Seq[Seq[Any]], error: Option[String])

  /** The serving tables, opened once per session at set-up, as a
    * long-running server holds them; file listings stay cached.
    */
  @volatile private var tables: Map[String, DataFrame] = Map.empty

  private def serveDir(ctx: Ctx) = s"${ctx.out}/serve"
  private def dims(ctx: Ctx) = ctx.opts("dims").toInt
  private def queries(ctx: Ctx) = ctx.opts("queries").toInt

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    val (titles, ratings) = ImdbEtl.raw(spark, s"${ctx.data}/imdb")
    ImdbPipeline.write(ImdbPipeline.run(titles, ratings, MinVotes, ImdbEtl.TopN),
      s"${serveDir(ctx)}/dw", s"${serveDir(ctx)}/marts")
    for (t <- Seq("embeddings", "queries"))
      Sources.writeParquet(Sources.readJsonl(spark, s"${ctx.data}/emb/$t.jsonl", VecSchema),
        s"${serveDir(ctx)}/$t")
    tables = Map(
      "fact" -> spark.read.parquet(s"${serveDir(ctx)}/dw/fact_ratings"),
      "bridge" -> spark.read.parquet(s"${serveDir(ctx)}/dw/bridge_title_genre"),
      "embeddings" -> spark.read.parquet(s"${serveDir(ctx)}/embeddings"),
      "queries" -> spark.read.parquet(s"${serveDir(ctx)}/queries"))
    val rng = new java.util.Random(ctx.seed)
    for (_ <- 0 until ctx.opts("warmup").toInt; name <- Ops)
      query(spark, ctx, Op(name, params(name, rng, ctx))).collect()
  }

  def params(name: String, rng: java.util.Random, ctx: Ctx): Seq[Long] = name match {
    case "top_year" => Seq(1960L + rng.nextInt(65))
    case "kpi_range" => val y = 1960L + rng.nextInt(60); Seq(y, y + 4)
    case "genre_top" => Seq(1980L + rng.nextInt(45))
    case "ann_topk" => Seq(1000000L + rng.nextInt(queries(ctx)))
  }

  def query(spark: SparkSession, ctx: Ctx, op: Op): DataFrame = {
    val fact = tables("fact")
    op.name match {
      case "top_year" =>
        fact.where(col("yearkey") === op.params.head && col("num_votes") >= MinVotes)
          .orderBy(col("avg_rating").desc, col("titlekey").asc).limit(K)
          .select(col("titlekey"), col("avg_rating"), col("num_votes"))
      case "kpi_range" =>
        Marts.kpiByGroup(fact.where(col("yearkey").between(op.params(0), op.params(1))),
          col("yearkey"), "yearkey", Seq(count(lit(1)).as("n_movies"),
            avg(col("avg_rating")).as("mean_rating"), sum(col("num_votes")).as("total_votes")))
          .orderBy(col("yearkey"))
      case "genre_top" =>
        Marts.topNPerGroup(
            fact.where(col("yearkey") === op.params.head)
              .join(tables("bridge"), "titlekey"),
            Seq(col("genrekey")), Seq(col("num_votes").desc, col("titlekey").asc), 3,
            Some(col("num_votes") >= MinVotes))
          .select(col("genrekey"), col("titlekey"), col("num_votes"), col("rk"))
          .orderBy(col("genrekey"), col("rk"))
      case "ann_topk" =>
        val q = tables("queries").where(col("id") === op.params.head)
        Similarity.ivfTopK(q, tables("embeddings"), "id", "vec",
            K, Cents, dims(ctx), NProbe)
          .select(col("neighbor_id"), col("cos"), col("rnk")).orderBy(col("rnk"))
    }
  }

  /** Closed loop: `clients` threads, each cycling through [[Ops]] from its
    * own offset with its own seeded parameters,
    * until `seconds` have elapsed. `run` executes one op and returns its
    * rows; ops that throw are recorded as failures.
    */
  def closedLoop(ctx: Ctx, seconds: Double)(run: (Int, Int, Op) => Seq[Seq[Any]]): Map[String, Any] = {
    val clients = math.max(1, math.min(2, ctx.cpus))
    val done = new ConcurrentLinkedQueue[Done]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val rng = new java.util.Random(ctx.seed * 1000003L + c)
        var n = 0
        while (System.nanoTime() < deadline) {
          val name = Ops((n + c * Ops.size / clients) % Ops.size)
          val op = Op(name, params(name, rng, ctx))
          val s = System.nanoTime()
          val (rows, err) =
            try (run(c, n, op), None)
            catch { case e: Exception => (Nil, Some(e.toString)) }
          done.add(Done(c, op, (s - t0) / 1e9, (System.nanoTime() - s) / 1e6, rows, err))
          n += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val window = (System.nanoTime() - t0) / 1e9
    Map("clients" -> clients, "window_s" -> window, "deadline_s" -> seconds,
      "ops" -> done.asScala.toSeq.sortBy(_.startS).map { d =>
        Map("client" -> d.client, "op" -> d.op.name, "params" -> d.op.params,
          "start_s" -> d.startS, "latency_ms" -> d.latencyMs, "rows" -> d.rows,
          "error" -> d.error)
      })
  }

  def untraced(spark: SparkSession, ctx: Ctx, seconds: Double): Map[String, Any] =
    closedLoop(ctx, seconds)((_, _, op) => query(spark, ctx, op).collect().toSeq.map(_.toSeq))

  /** Each op is a span run of its own: planning (forcing the executed
    * plan) and execution are child spans, and the scans' file counts and
    * sizes are read from the executed plan afterwards. The set-up's DW
    * export is then run twice more: unchanged under the listener (raw
    * bytes scanned, per output table) and layer by layer with spans.
    */
  def traced(spark: SparkSession, ctx: Ctx, seconds: Double, tr: Tracer,
             tel: Telemetry): Map[String, Any] = {
    val scans = new ConcurrentLinkedQueue[Map[String, Any]]
    val res = closedLoop(ctx, seconds) { (c, n, op) =>
      tr.inRun(s"c${c}_$n") {
        tr.span(s"serve.${op.name}") {
          val df = query(spark, ctx, op)
          tr.span("spark.plan")(df.queryExecution.executedPlan)
          val rows = tr.span("serve.execute")(df.collect().toSeq.map(_.toSeq))
          val files = ScanMetrics.fileScans(df.queryExecution.executedPlan)
          scans.add(Map("op" -> op.name, "files" -> files.map(_._1).sum, "bytes" -> files.map(_._2).sum))
          rows
        }
      }
    }
    val (before, tablesBefore) = (tel.snapshot(spark), tel.inputBytesByTable(spark))
    ImdbEtl.pass(spark, s"${ctx.data}/imdb", s"${ctx.out}/etl_untraced")
    val etl = Telemetry.delta(tel.snapshot(spark), before)
    val etlByTable = Telemetry.delta(tel.inputBytesByTable(spark), tablesBefore)
    val mismatched = tr.inRun("etl_traced")(
      ImdbEtl.tracedPass(spark, s"${ctx.data}/imdb", s"${ctx.out}/etl_traced", tr))
    Map("ops" -> res("ops"), "window_s" -> res("window_s"), "scans" -> scans.asScala.toSeq,
      "composition_mismatch" -> mismatched, "etl_counters" -> etl, "etl_input_bytes_by_table" -> etlByTable,
      "etl_outputs" -> Seq(s"${ctx.out}/etl_untraced", s"${ctx.out}/etl_traced"))
  }
}

/** Reads file-scan metrics out of an executed (adaptive) plan. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  /** (files read, bytes of those files) per file scan in the plan. */
  def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[(Long, Long)] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        s.metrics.get("filesSize").map(_.value).getOrElse(0L))
    }
}
