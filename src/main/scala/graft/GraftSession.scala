package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job assumes.
  *
  * Local default is sized for the test harness (local[N], N shuffle
  * partitions); on a real cluster callers keep the same conf names and
  * raise `spark.sql.shuffle.partitions` to ~2-3× total cores — AQE
  * coalesces the excess, and the skew-join rules split hot partitions.
  */
object GraftSession {
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long ns and convert via Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable checkpoints (Dedup.clusters' distributed path
      // writes one per CC round) once their RDDs are GC'd — without this
      // they accumulate for the life of the app
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
