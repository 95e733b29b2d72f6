package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.streaming.StreamingOps

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * All operator queries live in `graft.queries.*` modules; this object
  * just concatenates them. Duplicate keys across modules are a bug —
  * guarded by the `require` in `queries` (and `AllQueriesSpec` runs every
  * entry end-to-end on sf0.001).
  */
object SparkEntry {

  /** Every query module in the engine, in SURVEY §2B order. */
  val modules: Seq[QueryModule] = Seq(
    AggQueries,
    JoinQueries,
    WindowQueries,
    SetOpsQueries,
    ScalarQueries,
    DedupQueries,
    SimilarityQueries,
    TextQueries,
    PipelineQueries,
    LakehouseQueries,
    MiscQueries,
    StatsQueries,
    StatsQueries2,
    StatsQueries3,
    StatsQueries4,
    StatsQueries5,
    StatsQueries6,
    StreamingOps
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    require(all.map(_._1).distinct.size == all.size,
      s"duplicate query keys across modules: " +
        all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }.mkString(", "))
    all.toMap
  }

  /** The names in `requested` that are not `queries` keys, in order.
    * Bench, Verify and Explain reject them before a session starts, so a
    * typo neither times nothing nor aborts a batch after startup.
    */
  def unknownQueries(requested: Seq[String]): Seq[String] =
    requested.filterNot(queries.contains)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** Queries deliberately WITHOUT a SQL oracle (driver records rows-only).
    * Each one must carry its own correctness evidence in src/test instead:
    * q08's sketches are bounded against exact values by ApproxAggSpec;
    * q57's seeded RNG sampling is engine-specific by construction and is
    * bounded statistically by SampleSpec. AllQueriesSpec fails if any
    * other query ships oracle-less.
    */
  val rowsOnlyQueries: Set[String] = Set("q08_approx", "q57_sample_split")
}
