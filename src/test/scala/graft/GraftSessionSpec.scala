package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session posture: Spark's defaults plus `GraftSession.local`'s
  * stated departures. Join strategy and AQE coalescing stay at Spark's
  * defaults, so a setting that changes them must come back with a
  * measurement, not as a silent session-wide flip.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("join and AQE coalescing settings read Spark's defaults") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    assert(spark.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "0b")
    // unset: AQE starts from spark.sql.shuffle.partitions
    assert(spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").isEmpty)
  }

  test("the stated departures are set") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == (64L << 20).toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.ui.enabled") == "false")
  }
}
