package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators.{Dedup, Quality}
import graft.sources.Sources

/** A training-data cleaning pass over a JSON-lines corpus: exact dedup,
  * MinHash-LSH near-dup pairs with exact Jaccard verify, near-dup
  * clusters, and the cleaned corpus (near-dups and low-quality documents
  * dropped, then a language rule). Writes the verified pairs, the cluster
  * table and the cleaned corpus. One caller, passes back to back.
  */
object CorpusDedup extends Workload {
  val MinJaccard = 0.7
  val MinQuality = 0.45
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val Rules: Seq[(String, Column)] = Seq(
    "lang_en" -> (col("lang_pred") === "en"),
    "qscore_range" -> col("qscore").between(0.0, 1.0))

  def docs(spark: SparkSession, dir: String): DataFrame = Sources.readJsonl(spark, s"$dir/docs", Schema)

  /** One pass; returns the exact-duplicate groups (keep_id, n_dups). */
  def pass(spark: SparkSession, in: String, out: String): Seq[Seq[Long]] = {
    val d = docs(spark, in)
    val exact = Dedup.exact(d, "doc_id", "text").where(col("n_dups") > 1)
      .select(col("keep_id"), col("n_dups")).collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
    val pairs = Dedup.ngramJaccard(d, "doc_id", "text", MinJaccard).persist()
    Sources.writeParquet(pairs, s"$out/pairs")
    Sources.writeParquet(Dedup.clusters(pairs), s"$out/clusters")
    Sources.writeParquet(Quality.valid(Quality.checkRules(
      Dedup.cleanCorpus(d, "doc_id", "text", MinJaccard, MinQuality), Rules)), s"$out/clean")
    pairs.unpersist()
    exact
  }

  /** `--warmup` passes over the measured corpus, so the JIT has compiled
    * the pass's hot code before the window opens; ImdbEtl.setup gives why
    * the warm-up uses the measured inputs.
    */
  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    spark.sparkContext.setCheckpointDir(s"${ctx.out}/checkpoints")
    for (i <- 0 until ctx.opts("warmup").toInt) pass(spark, s"${ctx.data}/main", s"${ctx.out}/warmup_$i")
  }

  def untraced(spark: SparkSession, ctx: Ctx, seconds: Double): Map[String, Any] = {
    val exact = scala.collection.mutable.ArrayBuffer[Seq[Seq[Long]]]()
    val walls = Main.loop(seconds)(i => exact += pass(spark, s"${ctx.data}/main", s"${ctx.out}/pass_$i"))
    Map("passes" -> walls.indices.map(i =>
      Map("wall_s" -> walls(i), "out" -> s"${ctx.out}/pass_$i", "exact" -> exact(i))))
  }

  def traced(spark: SparkSession, ctx: Ctx, seconds: Double, tr: Tracer,
             tel: Telemetry): Map[String, Any] = {
    val stats = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val walls = Main.loop(seconds) { i =>
      stats += tr.inRun(s"traced_$i")(tracedPass(spark, s"${ctx.data}/main", s"${ctx.out}/traced_$i", tr))
    }
    Map("passes" -> walls.indices.map(i =>
      stats(i) ++ Map("wall_s" -> walls(i), "out" -> s"${ctx.out}/traced_$i")))
  }

  /** The pass with each library call made on its own and materialised in
    * its span. `ngramJaccard` runs `minhashCandidates` itself; with the
    * candidates already cached, Spark reads them from the cache there, so
    * the `verify` span holds only the exact-Jaccard verify. The pass
    * reports whether that reuse happened (`verify_reused_candidates`).
    * `cleanCorpus` likewise finds the cached verified pairs.
    */
  def tracedPass(spark: SparkSession, in: String, out: String, tr: Tracer): Map[String, Any] = {
    val m = new Main.Materializer
    val stats = tr.span("pass") {
      val d = tr.span("sources.read")(m(docs(spark, in)))
      tr.span("functions.shingle_hash") {
        d.select(explode(T.shingles(col("text"))).as("t"))
          .select(H.shingleHash(col("t")).as("h"))
          .agg(count(lit(1)), sum(col("h"))).collect()
      }
      val exact = tr.span("operators.dedup.exact") {
        Dedup.exact(d, "doc_id", "text").where(col("n_dups") > 1)
          .select(col("keep_id"), col("n_dups")).collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
      }
      val cands = tr.span("operators.dedup.minhash")(m(Dedup.minhashCandidates(d, "doc_id", "text")))
      val nj = Dedup.ngramJaccard(d, "doc_id", "text", MinJaccard)
      val reused = nj.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation if cachedBy(cands).contains(r.cacheBuilder) => r
      }.isDefined
      val pairs = tr.span("operators.dedup.verify")(m(nj))
      val (clusters, rounds) = tr.span("operators.dedup.clusters")(countingRounds(m(Dedup.clusters(pairs))))
      val cleaned = tr.span("operators.dedup.clean")(
        m(Dedup.cleanCorpus(d, "doc_id", "text", MinJaccard, MinQuality)))
      val valid = tr.span("operators.quality.filter")(m(Quality.valid(Quality.checkRules(cleaned, Rules))))
      tr.span("sources.write") {
        Sources.writeParquet(pairs, s"$out/pairs")
        Sources.writeParquet(clusters, s"$out/clusters")
        Sources.writeParquet(valid, s"$out/clean")
      }
      Map("exact" -> exact, "candidates" -> cands.count(), "verified" -> pairs.count(),
        "cc_rounds" -> rounds, "verify_reused_candidates" -> reused)
    }
    m.release()
    stats
  }

  private def cachedBy(df: DataFrame) = df.queryExecution.withCachedData match {
    case r: InMemoryRelation => Some(r.cacheBuilder)
    case _ => None
  }

  /** `Dedup.clusters` prints one `[cc] round` line per propagation round
    * when GRAFT_CC_DEBUG is set; count them (-1 when the variable is unset).
    */
  private def countingRounds(body: => DataFrame): (DataFrame, Long) = {
    val buf = new ByteArrayOutputStream()
    val df = Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val rounds = if (sys.env.contains("GRAFT_CC_DEBUG")) lines.count(_.startsWith("[cc] round")).toLong else -1L
    (df, rounds)
  }
}
