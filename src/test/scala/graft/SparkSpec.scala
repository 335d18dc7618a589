package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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
    * rule otherwise finishes small graphs on the driver, the distributed
    * Borůvka rounds of `Msf.msf`, which otherwise finish a small frontier
    * on the driver, and the shuffling plans of the marts and `ivfTopK`,
    * which otherwise run a small input as one partition. Broadcasting is
    * turned off, then the prior value is put back (or the conf unset if
    * it had none).
    */
  def distributedCC[A](body: => A): A = withBroadcastThreshold(-1L)(body)

  /** Runs `body` with the `Msf.msf` driver-tail cutover at 4 frontier
    * edges (`SizeRule.driverRows` at 40 bytes a row), so a graph with
    * more edges runs distributed rounds first and then finishes on the
    * driver. The prior threshold is put back as in [[distributedCC]].
    */
  def msfCutoverAt4[A](body: => A): A = withBroadcastThreshold(160L) {
    assert(operators.SizeRule.driverRows(spark, 40L) === 4L)
    body
  }

  /** Which `Msf.msf` paths built `forest`: (a distributed round, the
    * driver tail). A round's piece reads a checkpointed frontier; the
    * tail's piece is a local relation.
    */
  def msfSides(forest: DataFrame): (Boolean, Boolean) = {
    val leaves = forest.queryExecution.analyzed.collectLeaves()
    (leaves.exists(!_.isInstanceOf[LocalRelation]),
      leaves.exists(_.isInstanceOf[LocalRelation]))
  }

  /** File names of the `.scala` sources under `root`, a path from the
    * repository root, whose text matches `pattern`, sorted.
    */
  def sourcesMatching(root: String, pattern: String): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator.asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && pattern.r.findFirstIn(Files.readString(f)).nonEmpty)
      .map(_.getFileName.toString).sorted
  }

  private def withBroadcastThreshold[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
