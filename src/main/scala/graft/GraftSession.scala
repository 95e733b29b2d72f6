package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with the engine's performance posture.
  *
  * Scale rationale (SURVEY.md §4.2): everything here is config-level and
  * holds on a real cluster — AQE re-plans shuffles at runtime (coalesce,
  * skew-join split, broadcast demotion), whole-stage codegen stays on,
  * and the parquet vectorized reader is the scan path. Local testing uses
  * `local[N]` with `spark.sql.shuffle.partitions` sized to the machine,
  * NOT the 200 default (which would fragment 6k-row test partitions into
  * confetti while simultaneously under-partitioning a 100 TB shuffle —
  * at cluster scale AQE's advisory partition size takes over).
  */
object GraftSession {
  private def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // native engine functions (cosine_sim, …) — see graft.functions.GraftExtensions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // respect the advisory partition SIZE when coalescing instead of
      // stopping at defaultParallelism (Spark's own docs recommend
      // false): a census-scale shuffle coalesces to the few partitions
      // its bytes justify rather than staying at 32 confetti tasks,
      // while a 100 TB shuffle keeps its thousands of partitions —
      // size-driven, so the same setting is right at every scale
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // The INITIAL shuffle partition count is the ceiling AQE can only
      // shrink — at 10× the bench fixture each of the 32 partitions
      // gets 10× fatter and spills (round-16 sf1-equivalent probe:
      // q230's band self-join went 212 s → 10 s with this raised to
      // 256). But the overshoot is NOT free at small scale: the same
      // 256 floor taxed dozens of multi-stage sf0.1 rows 1.5–20×
      // (extra shuffle buckets + task launches dominate sub-second
      // stages), so the ceiling must be sized to the DATA. Default =
      // shufflePartitions (Spark's own default); deployments at larger
      // SFs raise it via SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS — the
      // sf1 probe runs with 256 (BASELINE.md "Scale evidence").
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS",
          shufflePartitions.toString))
      // dims (region..part) are tiny at every SF; let Catalyst broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Prefer shuffled-hash over sort-merge when the planner's size
      // conditions are met, and let AQE rewrite SMJ→SHJ at runtime when
      // every post-shuffle partition is under 64 MB (guide §3.1/§9).
      // Size-based, so the decision scales with the DATA, not the box:
      // a partition that outgrows the threshold falls back to SMJ's
      // graceful spill. Whole-board paired sweep evidence in
      // OPTIMIZATION_r20.md; env-parameterised for deployments.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long (Tables.events
      // converts to micros, matching DuckDB's own ns→µs truncation)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table writes (co-located joins) land outside the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")

  /** Session for local runs/tests, on `SPARK_GRAFT_CPUS` cores when that
    * is set and on every available core otherwise. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
