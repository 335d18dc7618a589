package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite runtime dominated by queries, not session startup).
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(8)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with every `operators.SizeRule` path off: the
    * distributed (propagation-round) path of `Dedup.clusters`, whose size
    * rule otherwise finishes small graphs on the driver, and the
    * shuffling plans of the marts and `ivfTopK`, which otherwise run a
    * small input as one partition. Broadcasting is turned off, then the
    * prior value is put back (or the conf unset if it had none).
    */
  def distributedCC[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
