package graft

import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem}
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
    assert(spark.conf.get("spark.hadoop.fs.file.impl") == "graft.NioLocalFileSystem")
    assert(spark.conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") == "graft.NioLocalFs")
  }

  test("file: paths resolve to the in-process local file system, cached instance included") {
    // Hadoop caches one `file:` FileSystem per JVM: a session that set the
    // key after something else had created it would still get Hadoop's own
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf()).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), hadoopConf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}
