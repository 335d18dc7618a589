package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the test harness and graftbench
  * get their `SparkSession` here, so a probe plans what the bench ran.
  *
  * Local default is sized for the test harness (local[N], N shuffle
  * partitions); on a real cluster callers keep the same conf names and
  * raise `spark.sql.shuffle.partitions` to ~2-3× total cores — AQE
  * coalesces the excess, and the skew-join rules split hot partitions.
  */
object GraftSession {

  /** CPUs of a local session: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees.
    */
  def localCpus(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with `cpus` shuffle partitions. */
  def local(cpus: Int = localCpus()): SparkSession =
    withSharedSettings(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))

  /** A session for spark-submit, which supplies the master. */
  def submitted(): SparkSession = withSharedSettings(SparkSession.builder())

  private def withSharedSettings(b: SparkSession.Builder): SparkSession = {
    val spark = b.appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the AQE coalescing floor stays Spark's own 1 MB: a 64k floor
      // measured a net loss on the 341-query bench (133.3 s vs 95.5 s on
      // a 14-query A/B), because every iterative graph query's per-round
      // tiny tasks cost more than the wider audit aggregates earned;
      // CPU-dense narrow stages take [[operators.CpuStage.fanOut]] instead
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long ns and convert via Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable checkpoints (Dedup.clusters' distributed path
      // writes one per CC round) once their RDDs are GC'd — without this
      // they accumulate for the life of the app
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every Window.partitionBy(lit(0)) in this library is a declared
    // bounded-frame series window (PlanSpec's analyzed-plan budget holds
    // that per query), yet WindowExec logs a "No Partition Defined" WARN
    // for each one; over a 300+ query pass that noise buries real
    // warnings, so only that logger is raised to ERROR
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
