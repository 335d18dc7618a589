package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** What a workload sees: the generated inputs, a directory for its
  * outputs, and the sizing options the caller passed through.
  */
final case class Ctx(data: String, out: String, seed: Long, cpus: Int, opts: Map[String, String])

trait Workload {
  /** Fixtures and warm-up on a fresh session; timed as set-up. */
  def setup(spark: SparkSession, ctx: Ctx): Unit

  /** The measured window, tracing off. */
  def untraced(spark: SparkSession, ctx: Ctx, seconds: Double): Map[String, Any]

  /** The traced window: spans around each layer call, results
    * materialised inside their span so self time lands on the layer.
    * `tel` is the listener already counting since the untraced window.
    */
  def traced(spark: SparkSession, ctx: Ctx, seconds: Double, tr: Tracer, tel: Telemetry): Map[String, Any]
}

/** JVM side of the benchmark. Runs one workload against generated inputs
  * and writes a JSON result (plus, when traced, a span file); the Python
  * side (run.py) checks the outputs and derives the metrics.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <dir> --out <dir> --result <file> [--spans <file>]
  */
object Main {
  val workloads: Map[String, Workload] =
    Map("imdb_etl" -> ImdbEtl, "corpus_dedup" -> CorpusDedup, "bi_serve" -> BiServe)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = workloads(opts("workload"))
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(opts("data"), opts("out"), opts("seed").toLong, cpus, opts)
    try {
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.local(cpus)
      workload.setup(spark, ctx)
      val setupS = (System.nanoTime() - t0) / 1e9
      val result: Map[String, Any] =
        if (!trace) workload.untraced(spark, ctx, seconds)
        else {
          val tel = Telemetry.install(spark)
          val before = tel.snapshot(spark)
          val t0 = System.nanoTime()
          val untraced = workload.untraced(spark, ctx, seconds)
          val window = (System.nanoTime() - t0) / 1e9
          val counters = Telemetry.delta(tel.snapshot(spark), before)
          val byTable = tel.inputBytesByTable(spark)
          val tr = new Tracer
          val traced = workload.traced(spark, ctx, seconds, tr, tel)
          writeLines(opts("spans"), tr.rows.map(Json.write))
          untraced ++ Map("counters" -> counters, "window_s" -> window, "cores" -> cpus,
            "input_bytes_by_table" -> byTable, "traced" -> traced)
        }
      val jvm = Map("heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "cpus" -> cpus)
      spark.stop()
      val out = Map("workload" -> opts("workload"), "seed" -> ctx.seed, "setup_s" -> setupS,
        "peak_rss_mb" -> peakRssMb, "jvm" -> jvm, "result" -> result)
      writeLines(opts("result"), Seq(Json.write(out)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  /** VmHWM of this JVM: the peak resident set over the whole run. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Run `pass` back to back until `seconds` have elapsed (at least once);
    * returns each pass's wall seconds.
    */
  def loop(seconds: Double)(pass: Int => Unit): Seq[Double] = {
    val walls = ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val t0 = System.nanoTime()
      pass(walls.size)
      walls += (System.nanoTime() - t0) / 1e9
    }
    walls.toSeq
  }

  /** Persist-and-count, so a layer's work happens inside its span. */
  final class Materializer {
    private val held = ArrayBuffer[DataFrame]()
    def apply(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }
    def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
  }
}

/** Minimal JSON encoder for the result and span files. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => write(r.toSeq)
    case it: Iterable[_] => it.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
