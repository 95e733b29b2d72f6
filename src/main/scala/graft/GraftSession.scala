package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: Spark 4.1's defaults plus the engine's
  * stated departures, each with its reason below. AQE, its partition
  * coalescing and skew-join split, whole-stage codegen and the join
  * strategy choice all stay at Spark's defaults.
  *
  * Any other setting is an ordinary `spark.*` JVM system property, which
  * `SparkConf` loads; a key set here overrides the property. The sf1
  * triage's shuffle ceiling (BASELINE.md "Scale evidence"), for example:
  * {{{
  * JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=256 \
  *   sbt "runMain graft.Bench q230_minhash_band_curve"
  * }}}
  */
object GraftSession {

  /** Session for local runs/tests, on `SPARK_GRAFT_CPUS` cores when that
    * is set and on every available core otherwise. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // sized to the machine, not the 200 default, which fragments
      // 6k-row test partitions into confetti; AQE coalesces from here
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      // native engine functions (cosine_sim, …) — see graft.functions.GraftExtensions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // dims (region..part) are tiny at every SF; let Catalyst broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // naive timestamps read as the UTC instants DuckDB reads (Tables.load)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long (Tables.events
      // converts to micros, matching DuckDB's own ns→µs truncation)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table writes (co-located joins) land outside the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // no web UI: nothing reads it, and it binds a port per session
      .config("spark.ui.enabled", "false")
      // sink and committer writes: chmod/readlink in process, not forked (graft.LocalFs)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // checkpoint logs and state deltas: the same, through FileContext (graft.LocalFs)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
