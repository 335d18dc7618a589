package graft

import org.apache.spark.sql.internal.SQLConf

/** Pins the session graftbench builds (`GraftSession.local(cpus)`) and
  * keeps every main on the one factory, so a probe plans what the bench
  * ran.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.local(n) pins partitions, UTC, nanosAsLong, cleanCheckpoints, AQE") {
    // the suite's shared session is GraftSession.local(8); asking again
    // returns it with the factory's SQL settings applied
    val s = GraftSession.local(8)
    assert(s.sparkContext.master === "local[8]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sparkContext.getConf.get("spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(s.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) === (1L << 20))
  }

  test("SparkSession.builder is called only in GraftSession.scala") {
    assert(sourcesMatching("src/main/scala", "SparkSession\\s*\\.\\s*builder") === Seq("GraftSession.scala"))
  }
}
