package graft.streaming

import graft.Tables
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.queries.QueryModule

/** Streaming operator surface (SURVEY.md §2B "Streaming"): event-time
  * windows (tumbling / sliding / session), watermarking, streaming
  * dedup, stream–static joins, and arbitrary keyed state — the analytics
  * the reference's connector feeds (`/root/reference/src/main.cpp:48-50`
  * moves timestamped events; `README.md:45-51`'s periodic snapshot
  * re-request is the state-rebuild semantic `runningEnrichment` models).
  *
  * Every transform here is defined on a plain DataFrame, so the SAME
  * function runs as a batch query (oracle-checked below — q58/q59/q60)
  * and as a Structured Streaming query over `MemoryStream` replay
  * (equivalence-checked in StreamingSpec). That batch↔stream agreement
  * is Structured Streaming's core contract, and it's the correctness
  * story for the rows no SQL oracle can reach (state, watermarks,
  * incremental execution).
  *
  * Scale notes: windowed aggs shuffle on (window, key) with map-side
  * partials; session windows shuffle on the session key then merge
  * ranges per key; stateful ops partition by grouping key with state in
  * the state store (RocksDB at production scale) — all shapes that hold
  * on a 1000-executor cluster.
  */
object StreamingOps extends QueryModule {

  /** The fixture events table as a file STREAM with `ts` normalised to
    * session-local TimestampType. The table is one parquet FILE in a
    * read-only dir, so it is addressed as a glob (file-source
    * requirement) with the dir as basePath, using the RAW footer schema;
    * `ts` then goes through the streaming twin of the dispatch in
    * [[graft.Tables.events]] (NANOS-as-long → integer-truncate to micros;
    * MICROS-NTZ → cast under the UTC session timezone) — `withWatermark`
    * rejects TIMESTAMP_NTZ. One file drains as one AvailableNow data
    * micro-batch under the file source's default read limits.
    */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(raw)
      .option("basePath", dir).parquet(s"$dir/events.parque[t]")
    raw("ts").dataType match {
      case LongType => stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Append `batches` to the replay directory `dir`, each as ONE parquet
    * file numbered after the files already there, with a pinned,
    * strictly increasing modification time. The file source drains
    * oldest-first, so the returned stream over `dir` (schema from the
    * files just written, `maxFilesPerTrigger = 1`) runs every file as
    * exactly one micro-batch, in order.
    */
  private def replayFiles(dir: Path, batches: Seq[DataFrame]): DataFrame = {
    Files.createDirectories(dir)
    val done = dir.toFile.listFiles().count(_.getName.endsWith(".parquet"))
    val written = batches.zipWithIndex.map { case (df, i) =>
      val n = done + i + 1
      val stage = dir.resolve(s"stage$n")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
      val dst = Files.move(part.toPath, dir.resolve(f"b$n%02d.parquet"))
      dst.toFile.setLastModified(1000000L * n)
      dst.toString
    }
    val spark = batches.head.sparkSession
    spark.readStream.schema(spark.read.parquet(written: _*).schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet")
  }

  /** Run `body` over a fresh temp directory for a replay gate's files,
    * checkpoints and output, and delete it afterwards, failed or not.
    * The body's result must not read from the directory: [[drain]]'s is
    * materialized, the foreachBatch gates `localCheckpoint` theirs.
    */
  private def withReplayRoot[T](gate: String)(body: Path => T): T = {
    val root = Files.createTempDirectory(s"${gate}_replay")
    try body(root) finally deleteRecursively(root.toFile)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Drain a gate's streaming query to completion: a memory sink, one
    * `Trigger.AvailableNow` run in `mode`, under [[withDrainPartitions]].
    * Fails loudly unless the run took exactly `dataBatches` data
    * micro-batches, because every gate's oracle is exact only for its own
    * batch schedule: a single-batch gate's finalization predicates
    * (q130's update mode would emit several rows per user across
    * batches, q132's prev=0 collapse breaks, q126's dedup window would
    * no longer span the input), a replay gate's protocol. `check` sees
    * the run's progress for gate-specific assertions.
    *
    * The result is localCheckpoint-materialized and the sink's temp view
    * dropped — a memory sink pins every emitted row in driver memory for
    * as long as its view is reachable, so without this every sweep would
    * leak one UUID view per gate per run.
    */
  private def drain(spark: SparkSession, df: DataFrame, mode: String, gate: String,
      dataBatches: Int, check: Array[StreamingQueryProgress] => Unit = _ => ()): DataFrame = {
    val name = s"${gate}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val q = withDrainPartitions(spark) {
        val started = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        started.awaitTermination()
        started
      }
      requireDataBatches(q, gate, dataBatches)
      check(q.recentProgress)
      spark.table(name).localCheckpoint()
    } finally spark.catalog.dropTempView(name)
  }

  /** Fail unless `q` ran exactly `n` data micro-batches (the no-data
    * watermark-finalization batch has numInputRows == 0 and is excluded).
    */
  private def requireDataBatches(q: StreamingQuery, gate: String, n: Int): Unit = {
    val ran = q.recentProgress.count(_.numInputRows > 0)
    if (ran != n) throw new IllegalStateException(
      s"$gate drained in $ran data micro-batches; its oracle is exact only for $n " +
        "(fixture or replay files, or the file source's read limits, changed?)")
  }

  private def droppedByWatermark(progress: Array[StreamingQueryProgress]): Long =
    progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

  /** Run a gate drain with `spark.sql.shuffle.partitions` scoped down.
    * The stateful-stage partition count is pinned into each query's
    * (fresh, private) checkpoint at start, and every drained operator
    * here is partition-count-invariant by construction (the
    * chunking-invariance specs hold at any partitioning) — so this is
    * purely the fixture-scale constant: a 6k-row gate drain cannot
    * amortize 32 state-store instances × 2 micro-batches × several
    * stateful operators, and ~20 s of the sf0.1 sweep was exactly that
    * setup/commit overhead. At 100 TB the same queries run with the
    * deployment's real shuffle sizing — this scope only exists because
    * the drain IS the gate, not the workload. Restored in a finally, so
    * batch queries in the same session never see it.
    *
    * Measured floor (round 14): a warm AvailableNow drain pays ~1.1 s
    * that is NOT data-sized — per-batch queryPlanning ~125 ms ×2,
    * addBatch ~450 ms even at 1k input rows (micro-batch scheduling +
    * state-store open/commit), WAL/offset commits ~35 ms ×4 (API-path
    * CPU, not fsync: a tmpfs checkpoint does not move it), and the
    * mandatory no-data finalization batch (which IS the append-mode
    * emission — not skippable). Shrinking drain partitions 8→2 saves
    * <10%. This constant is Spark's streaming machinery, vanishes on
    * any long-running stream, and is not worth trading gate fidelity
    * (shared checkpoints / pooled queries) to hide.
    *
    * Re-measured round 16 (q111/q126/q257 at sf0.1, min-of-3): 8→2
    * partitions saved 4% total and nothing on the watermark-replay
    * row — the floor is per-batch planning + state-store open/commit
    * CPU, invariant to partition count and checkpoint medium. The
    * shared-checkpoint/pooled-session idea stays rejected: each gate's
    * replay semantics (batch-0 retry, checkpoint recovery, offset
    * replay) REQUIRE a private checkpoint root to mean anything.
    */
  private def withDrainPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try body finally spark.conf.set(key, prev)
  }

  /** Scope the RocksDB state store provider (required by
    * `transformWithState`) to one drain and restore after. The provider
    * conf is read at stream start; Verify/Bench build queries serially,
    * so the scoped set cannot leak into another starting stream.
    */
  private def withRocksDbProvider[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Tumbling 5-minute windows per event type: count + sum. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding 10-minute windows every 5 minutes, per event type. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows: per-user activity runs closed by a 5-minute gap. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n"), col("sum_value"))

  /** Streaming dedup on (user_id, event_type) — batch equivalent is
    * DISTINCT on the same columns (only the key set is compared; the
    * surviving row is arrival-order-dependent in both worlds).
    */
  def dedupKeys(events: DataFrame): DataFrame =
    events.select("user_id", "event_type").dropDuplicates(Seq("user_id", "event_type"))

  /** Stream–static enrichment: events joined to the static customer dim.
    * No broadcast hint: `customer` is a FACT table (~30 GB at sf1000) and
    * a forced hint overrides the planner's size check — the same defect
    * class fixed in q10/q11. The static side is re-planned per
    * micro-batch, so the size-based broadcast decision still kicks in
    * automatically whenever the dim actually fits.
    */
  def enrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      customer.select(col("c_custkey"), col("c_mktsegment")),
      events("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))

  /** Stream–stream join with state expiry (the last §2B row): each
    * `purchase` matched to the same user's `click`s in the preceding
    * 6 hours — the snapshot+delta correlation the reference's feed
    * carries (`/root/reference/README.md:45-51` re-requests state so two
    * event streams can be re-aligned; this is that alignment as a
    * first-class operator).
    *
    * Both sides carry a 1-hour watermark and the join condition bounds
    * `click_ts` to a closed 6-hour range before `purchase_ts`, so Spark
    * derives a state watermark for BOTH sides: click state older than
    * (watermark − 6 h) and purchase state older than the watermark are
    * EVICTED — state is ~7 h of stream, not the stream itself
    * (StreamingSpec asserts the eviction on a 30-day replay). As a batch
    * query the watermarks are no-ops (`EliminateEventTimeWatermark`) and
    * the same function is the oracle-gated q62.
    *
    * Scale: shuffles both sides on `user_id` once; state is per-key ranges
    * in the state store (RocksDB in production). An unbounded-state join
    * (no watermark or no time bound) refuses to run in append mode —
    * Spark's analyzer enforces what the reference could only hope for.
    */
  def clickAttribution(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "inner")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))

  /** LEFT SEMI variant of [[clickAttribution]]: each attributed purchase
    * emits exactly ONCE, however many qualifying clicks exist — the
    * streaming form of EXISTS, and the shape conversion funnels actually
    * want (no fan-out to dedup afterwards). In streaming, Spark emits
    * the purchase on its FIRST qualifying match and drops its state; the
    * 1-hour watermark still bounds the click buffer. Batch: a plain
    * left-semi interval join.
    */
  def clickAttributionSemi(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "left_semi")

  /** LEFT OUTER variant of [[clickAttribution]]: every purchase emits,
    * attributed or not. In streaming this is the semantics watermarks
    * exist for — an unmatched purchase can only be declared unmatched
    * (null click columns) once the watermark proves no qualifying click
    * can still arrive, so the null rows surface exactly one state-horizon
    * late, while matches still emit eagerly. Batch: a plain left join.
    */
  def clickAttributionOuter(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))

  /** FULL OUTER variant of [[clickAttribution]] — the audit view: every
    * purchase AND every click accounted for exactly once (unmatched
    * purchases with null click columns, unmatched clicks with null
    * purchase columns). In streaming, BOTH kinds of null rows can only
    * emit once the watermark proves the other side's qualifying window
    * is closed, so each surfaces one state-horizon late while matches
    * emit eagerly. `user_id` is coalesced across sides so click-only
    * rows keep their key. Batch: a plain full join.
    */
  def clickAttributionFull(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "full_outer")
      .select(col("purchase_id"), col("click_id"),
        coalesce(col("user_id"), col("click_user")).as("user_id"),
        col("click_ts"), col("purchase_ts"))

  /** Purchases joined to the clicks of the same user in the 6 hours up to
    * the purchase, both sides under a 1-hour watermark: the setup shared
    * by the four [[clickAttribution]] variants, which differ only in
    * `joinType` and their output projection.
    */
  private def clickPurchaseJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 6 HOURS") &&
        col("click_ts") <= col("purchase_ts"),
      joinType)
  }

  // ---- batch entries for the driver's oracle gate ----

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  def q58WindowTumbling(spark: SparkSession, dir: String): DataFrame =
    tumbling(ev(spark, dir)).orderBy("w_start", "event_type")

  def q59WindowSliding(spark: SparkSession, dir: String): DataFrame =
    sliding(ev(spark, dir)).orderBy("w_start", "event_type")

  def q60SessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessions(ev(spark, dir)).orderBy("user_id", "session_start")

  def q62StreamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    clickAttribution(ev(spark, dir)).orderBy("purchase_id", "click_id")

  def q64StreamStreamOuter(spark: SparkSession, dir: String): DataFrame =
    clickAttributionOuter(ev(spark, dir)).orderBy("purchase_id", "click_id")

  def q119StreamStreamFull(spark: SparkSession, dir: String): DataFrame =
    clickAttributionFull(ev(spark, dir)).orderBy("purchase_id", "click_id")

  def q141StreamStreamSemi(spark: SparkSession, dir: String): DataFrame =
    clickAttributionSemi(ev(spark, dir)).orderBy("purchase_id")

  /** q100: the streaming SQL entry point, driver-gated end-to-end the
    * way q99 gates batch subqueries. The events table is read as a
    * STREAM (file source), watermarked, exposed as a temp view, and the
    * aggregation is pure SQL TEXT — `session_window(ts, '5 minutes')`
    * through `spark.sql` — drained to completion with
    * `Trigger.AvailableNow` in APPEND mode. Append + watermark is the
    * real streaming contract: a session row may only emit once the
    * watermark (max event time − 0 s delay) proves the session closed,
    * so sessions still open at end-of-stream (last event within the
    * 5-minute gap of the global max ts) are NOT emitted — the oracle
    * mirrors exactly that finalization rule, making this a gate on
    * watermark semantics, not just batch equivalence. Scale: the
    * session agg shuffles on user_id and merges per-key ranges in the
    * state store; a production drain adds `maxFilesPerTrigger` so
    * AvailableNow takes the backlog in bounded batches (unset here —
    * the one-file fixture is a single batch by construction).
    */
  def q100SqlSessionStream(spark: SparkSession, dir: String): DataFrame = {
    eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("events_stream")
    val agg = spark.sql(
      """SELECT session_window(ts, '5 minutes') AS w, user_id,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events_stream
        |GROUP BY session_window(ts, '5 minutes'), user_id""".stripMargin)
      .select(col("w").getField("start").as("session_start"), col("user_id"),
        col("n"), col("sum_value"))
    drain(spark, agg, "append", "q100", dataBatches = 1)
      .orderBy("user_id", "session_start")
  }

  /** q149: UPDATE-mode windowed aggregation, driver-gated — the output-
    * mode half of the streaming contract q111 leaves open. Same
    * transform as q111's tumbling buckets, same watermark, but UPDATE
    * mode: every bucket TOUCHED in a micro-batch emits its current
    * value that batch — nothing waits for the watermark to close it. On
    * the asserted single-batch drain that means every bucket appears
    * exactly once with its final value, INCLUDING the last bucket q111's
    * append finalization withholds — so the q149/q111 pair pins the
    * mode distinction itself (their oracles differ by exactly the
    * finalization WHERE). Multi-batch behavior (re-emission of updated
    * buckets) is what the run-time single-batch assertion excludes, and
    * StreamingSpec's update-mode fold tests cover that side.
    *
    * Scale: identical plan to q111 — one shuffle into the windowed
    * state agg; update mode additionally ships per-batch deltas to the
    * sink, the usual choice when the sink is a keyed store rather than
    * an append log.
    */
  def q149UpdateModeWindows(spark: SparkSession, dir: String): DataFrame =
    drain(spark, tumbling(eventStream(spark, dir).withWatermark("ts", "0 seconds")),
      "update", "q149", dataBatches = 1).orderBy("w_start", "event_type")

  /** q154: UNION of two independently-watermarked streams into one
    * windowed aggregation — the multi-source topology (two Kafka topics,
    * two file feeds) Structured Streaming coordinates by tracking a
    * watermark PER input and advancing the GLOBAL watermark to their
    * MINIMUM (`spark.sql.streaming.multipleWatermarkPolicy` default):
    * the aggregate can't finalize a bucket until the SLOWEST source has
    * passed it, which is the correctness property that makes multi-
    * source event time safe. Here the two branches are the odd/even
    * event_id halves of the fixture, whose frontiers (branch-max ts)
    * genuinely differ — the drain finalizes strictly FEWER buckets
    * than single-source q111, and the oracle bound is
    * `least(max ts | even, max ts | odd)`: the min-watermark rule
    * itself is what the gate pins, not just the union plumbing.
    */
  def q154StreamUnionWindows(spark: SparkSession, dir: String): DataFrame = {
    def branch(even: Boolean): DataFrame = eventStream(spark, dir)
      .filter(pmod(col("event_id"), lit(2)) === (if (even) 0 else 1))
      .withWatermark("ts", "0 seconds")
    drain(spark, tumbling(branch(even = true).unionAll(branch(even = false))),
      "append", "q154", dataBatches = 1).orderBy("w_start", "event_type")
  }

  /** q146: DYNAMIC-gap session windows, driver-gated end-to-end — the
    * per-event gap form of `session_window` (the gap is an EXPRESSION
    * over the row: clicks hold a session open 3 minutes, everything
    * else 7 — how real attribution pipelines model engagement-dependent
    * timeouts). Semantics differ from q100's fixed gap in kind, not
    * degree: each event contributes the interval [ts, ts+gap(event))
    * and a session is a connected component of OVERLAPPING intervals,
    * so one long-gap event can bridge neighbors that would otherwise
    * split. Drained with `Trigger.AvailableNow` in APPEND mode; a
    * session emits only once the final watermark (max event time, 0 s
    * delay) reaches its end = max(ts+gap) over members. The oracle is
    * the interval-union sweep: per user in (ts, value) order, a new
    * session starts exactly when ts ≥ the running max of all preceding
    * interval ends — prior sessions can't re-trigger because a break
    * point already cleared their ends.
    *
    * Scale shape: identical to q100 — one shuffle on user_id into the
    * session-merge state store, bounded state (watermark evicts closed
    * sessions); the gap expression is evaluated scan-side, adding no
    * exchange.
    */
  def q146DynamicGapSessions(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dynamicSessions(eventStream(spark, dir).withWatermark("ts", "0 seconds")),
      "append", "q146", dataBatches = 1).orderBy("user_id", "session_start")

  /** The q146 transform on a plain frame — runs identically as a batch
    * query or a streaming one (Structured Streaming's batch↔stream
    * contract), which is what StreamingSpec's chunked-replay test pins:
    * session merge across micro-batch boundaries must equal the batch
    * fold.
    */
  def dynamicSessions(events: DataFrame): DataFrame = {
    val gap = when(col("event_type") === "click", lit("3 minutes"))
      .otherwise(lit("7 minutes"))
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w").getField("start").as("session_start"), col("user_id"),
        col("n"), col("sum_value"))
  }

  /** q111: the tumbling-window sibling of q100 — `window(ts, '5
    * minutes')` as SQL TEXT over a watermarked streaming view, drained
    * with `Trigger.AvailableNow` in APPEND mode, so the two streaming
    * window types a SQL user writes (fixed buckets here, data-driven
    * sessions in q100) are BOTH driver-gated with their emission
    * semantics: append mode emits a window only once the final
    * watermark (max event time, 0 s delay) passes its END, so the
    * bucket containing the stream's last event is withheld — the
    * oracle applies exactly that finalization predicate to q58's batch
    * buckets. Scale: one shuffle on (window, event_type) into the
    * windowed-state agg, bounded state (watermark evicts closed
    * buckets); a production backlog drains in bounded batches via
    * `maxFilesPerTrigger` (single-file fixture = one batch).
    */
  def q111SqlTumblingStream(spark: SparkSession, dir: String): DataFrame = {
    eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("events_stream_tumble")
    val agg = spark.sql(
      """SELECT window(ts, '5 minutes') AS w, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events_stream_tumble
        |GROUP BY window(ts, '5 minutes'), event_type""".stripMargin)
      .select(col("w").getField("start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    drain(spark, agg, "append", "q111", dataBatches = 1).orderBy("w_start", "event_type")
  }

  /** q125: the sliding-window member of the streaming-SQL trio (q100
    * sessions, q111 tumbling, q125 sliding) — `window(ts, '10 minutes',
    * '5 minutes')` as SQL TEXT over a watermarked streaming view, drained
    * with `Trigger.AvailableNow` in APPEND mode. Each event lands in the
    * TWO 5-minute-aligned 10-minute windows covering it, and append mode
    * emits a window only once the final watermark (max event time, 0 s
    * delay) passes its END — so the last one-or-two covering windows of
    * the stream are withheld; the oracle unnests each event into its two
    * covering starts and applies exactly that finalization predicate.
    * Scale: one shuffle on (window, event_type) with a 2× expand before
    * the partial agg (the expand is map-side — overlap factor, not data
    * skew); state is watermark-bounded to the open windows only.
    */
  def q125SqlSlidingStream(spark: SparkSession, dir: String): DataFrame = {
    eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("events_stream_slide")
    val agg = spark.sql(
      """SELECT window(ts, '10 minutes', '5 minutes') AS w, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events_stream_slide
        |GROUP BY window(ts, '10 minutes', '5 minutes'), event_type""".stripMargin)
      .select(col("w").getField("start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    drain(spark, agg, "append", "q125", dataBatches = 1).orderBy("w_start", "event_type")
  }

  /** q200: CUSTOM OBJECT-HEAP UDAF inside streaming state — per closed
    * 5-minute window and event type, the top-3 events by (value desc,
    * event_id asc) through `SketchAggregators.TopKAggregator` as the
    * streaming aggregate. The state store carries the serialized ≤3-row
    * heap per (window, type) — the q91 shuffle argument made durable:
    * each micro-batch's map side reduces to ≤k rows per group before
    * state merge, so state size is O(open windows · types · k)
    * regardless of event volume, where a per-window full sort would
    * buffer every event. Append mode + 0 s watermark: a window's heap
    * emits exactly once, when the final watermark passes its end — the
    * oracle applies that finalization predicate and the plain window
    * top-3 it must equal.
    */
  def q200StreamTopK(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.SketchAggregators.TopKAggregator(3))
    val agg = eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("window.start").as("w_start"), col("event_type"), col("top"))
    drain(spark, agg, "append", "q200", dataBatches = 1)
      .select(col("w_start"), col("event_type"),
        posexplode(col("top")).as(Seq("pos", "kv")))
      .select(col("w_start"), col("event_type"),
        (col("pos") + 1).cast("long").as("rn"),
        col("kv.id").as("event_id"), round(col("kv.v"), 2).as("value"))
      .orderBy("w_start", "event_type", "rn")
  }

  /** q201: MERGEABLE SKETCH in streaming state — per-window distinct
    * users through `SketchAggregators.HllAggregator` as the streaming
    * aggregate. Structured Streaming REFUSES `count(DISTINCT ...)`
    * (unbounded per-group state); the HLL register array is the
    * production answer: 4 KB per open window regardless of user
    * cardinality, element-wise-max merge across micro-batches, and the
    * estimate emits with the window's append-mode finalization. The
    * oracle replays the full register construction per closed window
    * (q190's device windowed), so the gate certifies the sketch through
    * the streaming path bit-for-bit — not a tolerance band.
    */
  def q201StreamDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hll = udaf(new graft.functions.SketchAggregators.HllAggregator(12))
    val agg = eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(hll(col("h")).as("est"), count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"),
        round(col("est"), 4).as("est_users"), col("n_events"))
    drain(spark, agg, "append", "q201", dataBatches = 1).orderBy("w_start")
  }

  /** q208: STREAM–STREAM JOIN CHAINED INTO A WINDOWED AGGREGATION —
    * the two heaviest stateful operators composed in ONE query (the
    * attribution dashboard: per half-hour, how many click-attributed
    * purchase pairs landed, and how many had a click within the last
    * hour). q62 gates the interval join, q111 the windowed agg, q139
    * agg→agg chaining; this row gates JOIN→agg — the composition
    * Spark's multiple-stateful-operator support (3.4+) exists for.
    *
    * Emission rule (the thing gated, measured empirically and exact at
    * every SF): the join emits pairs as matches form, but Spark
    * propagates a DELAYED watermark past a stream–stream join — the
    * global frontier (min of the two branch maxima, both 0 s delay)
    * minus the join's maximum event-time buffering range (6 h here, from
    * `click_ts ≥ purchase_ts − 6 h`) — so the downstream window
    * finalizes only at `w_end ≤ least(max purchase ts, max click ts)
    * − 6 h`. That conservatism is the implementation's answer to pairs
    * that could still form against buffered state; the oracle applies
    * exactly that frontier (a min-frontier-only oracle diverges at
    * sf0.01+ — 7/709 tail windows withheld). State: the join buffers
    * each side only inside the interval constraint; the agg holds open
    * windows — both watermark-bounded.
    */
  def q208JoinThenWindow(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 6 HOURS") &&
        col("click_ts") <= col("purchase_ts"))
    val agg = joined
      .groupBy(window(col("purchase_ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L)).as("n_near"))
      .select(col("window.start").as("w_start"), col("n_pairs"), col("n_near"))
    drain(spark, agg, "append", "q208", dataBatches = 1).orderBy("w_start")
  }

  /** The OHLCV streaming aggregation shared by q345 and its chunked
    * cross-batch merge spec: integer-cents extremum state under the
    * unique (µs, event_id) struct order, per (1 h window, type).
    */
  private[graft] def ohlcvAgg(events: DataFrame): DataFrame = events
    .select(col("ts"), col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"),
      floor(col("value") * lit(100.0d) + lit(0.5d)).cast("long").as("cents"))
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    .agg(
      min_by(col("cents"), struct(col("us"), col("event_id"))).as("open_c"),
      max("cents").as("high_c"),
      min("cents").as("low_c"),
      max_by(col("cents"), struct(col("us"), col("event_id"))).as("close_c"),
      count(lit(1)).as("n"),
      sum("cents").as("turn_c"))

  /** q345: q314's OHLCV bars AS A STREAM — the candlestick feed a
    * `ws-to-kafka` consumer publishes live (q227 streams the tape
    * statistics; bars add the FIRST/LAST-BY semantic, which in a
    * streaming aggregation means the min_by/max_by extremum state must
    * merge correctly ACROSS micro-batches under the unique
    * (µs, event_id) struct order): per (event_type, 1-hour event-time
    * window), open/high/low/close/turnover in append mode, 0 s
    * watermark, AvailableNow drain. The oracle is q314's arithmetic
    * under the q111 finalization predicate — a wrong cross-batch
    * extremum merge (e.g. last-batch-wins open) diverges immediately.
    */
  def q345StreamOhlcv(spark: SparkSession, dir: String): DataFrame = {
    val agg = ohlcvAgg(eventStream(spark, dir).withWatermark("ts", "0 seconds"))
      .select(col("window.start").as("w_start"), col("event_type"),
        (col("open_c").cast("double") / 100.0).as("open"),
        (col("high_c").cast("double") / 100.0).as("high"),
        (col("low_c").cast("double") / 100.0).as("low"),
        (col("close_c").cast("double") / 100.0).as("close"),
        col("n"),
        (col("turn_c").cast("double") / 100.0).as("turnover"))
    drain(spark, agg, "append", "q345", dataBatches = 1)
  }

  /** q227: the reference domain's analytics AS A STREAM — q226's
    * trading-tape microstructure (VWAP, volume, signed order-flow
    * imbalance) computed per 5-minute event-time window over the live
    * stream, append mode, 0 s watermark: exactly what a `ws-to-kafka`
    * consumer runs on the book-delta topic. Closed windows emit once
    * at finalization; Σ(p·q)/volumes stay exact BIGINTs inside the
    * streaming agg state, so the emitted statistics match the batch
    * query bit-for-bit on closed windows — the oracle is q226's
    * arithmetic under the q111 finalization predicate.
    */
  def q227StreamMicrostructure(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir).withWatermark("ts", "0 seconds")
      .select(col("ts"),
        floor(col("value") * lit(100.0d) + lit(0.5d)).cast("long").as("p"),
        (col("event_id") % 7 + 1).cast("long").as("q"),
        (col("event_id") % 2).cast("long").as("side"))
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_trades"), sum("q").as("volume"),
        sum(col("p") * col("q")).as("pq"),
        sum(when(col("side") === 0, col("q")).otherwise(0L)).as("buy_vol"),
        sum(when(col("side") === 1, col("q")).otherwise(0L)).as("sell_vol"))
      .select(col("window.start").as("w_start"), col("n_trades"), col("volume"),
        col("pq"), col("buy_vol"), col("sell_vol"))
    drain(spark, agg, "append", "q227", dataBatches = 1)
      .select(col("w_start"), col("n_trades"), col("volume"),
        round(col("pq").cast("double") / col("volume").cast("double") / lit(100.0d), 6)
          .as("vwap"),
        round((col("buy_vol") - col("sell_vol")).cast("double") /
          (col("buy_vol") + col("sell_vol")).cast("double"), 6).as("imbalance"))
      .orderBy("w_start")
  }

  /** q228: the reference's CORE SEMANTIC through the driver gate — the
    * [[OrderBook]] keyed-state rebuild (lossy delta stream + periodic
    * snapshot RESET markers, SURVEY §1.5) was until now spec-gated only
    * (`OrderBookSpec` vs the in-process WS server); here a
    * deterministic book-update stream is manufactured from the events
    * table (market = user hash, monotone seq = event_id, reset every
    * 101st seq, DYADIC prices/sizes so map keys are exact doubles in
    * both engines, size-0 deletes every 17th), folded by the REAL
    * `mapGroupsWithState` operator in update mode, and the final
    * top-of-book per market is hash-matched against a full SQL replay
    * of the protocol: last reset clears, last-write-wins per (side,
    * price) above the reset seq, zero-size removes the level. The
    * single-batch drain is asserted (update mode emits per touched key
    * per batch).
    */
  def q228OrderBookRebuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val upd = eventStream(spark, dir).select(
      col("event_id").as("seq"),
      concat(lit("MKT"), (col("user_id") % 4).cast("string")).as("market"),
      (col("event_id") % 101 === 0).as("reset"),
      when(col("event_id") % 2 === 0, lit("bid")).otherwise(lit("ask")).as("side"),
      ((floor(col("value") * lit(100.0d) + lit(0.5d)).cast("long") % 512 + 1)
        .cast("double") / lit(4.0d)).as("price"),
      ((col("event_id") % 17).cast("double") / lit(2.0d)).as("size"))
      .as[BookUpdate]
    drain(spark, OrderBook.topOfBook(upd).toDF(), "update", "q228", dataBatches = 1)
      // an empty side is NaN in TopOfBook (the operator's in-band
      // marker); surface it as SQL NULL — the relational spelling the
      // oracle's aggregate produces (a reset-then-cleared book is a
      // REAL protocol state, seen at sf0.01)
      .select(col("market"), col("n_updates"),
        when(isnan(col("best_bid")), lit(null)).otherwise(col("best_bid")).as("best_bid"),
        when(isnan(col("best_ask")), lit(null)).otherwise(col("best_ask")).as("best_ask"),
        col("bid_depth").cast("long").as("bid_depth"),
        col("ask_depth").cast("long").as("ask_depth"))
      .orderBy("market")
  }

  /** The chained pipeline itself, shared by the q139 gate and the
    * chunking-invariance spec: watermark → 1-minute partials →
    * 5-minute rollup of the partials.
    */
  def chainedWindowAgg(events: DataFrame): DataFrame = {
    val minutes = events.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
    minutes
      .groupBy(window(window_time(col("w1")), "5 minutes").as("w5"),
        col("event_type"))
      .agg(count(lit(1)).as("n_minutes"), sum("n").as("n_events"),
        round(sum("v"), 2).as("sum_value"))
      .select(col("w5").getField("start").as("w_start"), col("event_type"),
        col("n_minutes"), col("n_events"), col("sum_value"))
  }

  /** q139: CHAINED streaming aggregation — two stateful window
    * aggregations in ONE streaming query (Spark's multiple-stateful-
    * operator support): 1-minute tumbling partials per event_type
    * re-aggregated into 5-minute totals via `window(window_time(w),
    * '5 minutes')`, drained AvailableNow in APPEND mode. This is the
    * pre-aggregation cascade every metrics pipeline runs (fine windows
    * for freshness, coarse windows for cost) — and at 100 TB the whole
    * point: the second agg consumes ~minutes-cardinality rows, not
    * events, so the coarse rollup's shuffle is a rounding error next to
    * the raw stream. Emission composes: a 1-minute window finalizes when
    * the watermark (max ts, 0 s delay) reaches its end and flows to the
    * second operator IN THE SAME batch with the same watermark, whose
    * 5-minute window emits under the same rule — and since a finalized
    * 5-minute window's constituent minutes all end at-or-before it, the
    * emitted rollups are complete. The oracle is the batch cascade
    * (per-minute partials including the per-minute round, then the
    * 5-minute re-agg) under `w5_end <= max(ts)` — gating the chained
    * emission rule, not just batch equivalence. n_minutes counts the
    * surviving layer-1 rows, pinning that the chain really aggregated
    * partials (a collapsed single-layer agg could not produce it).
    */
  def q139ChainedWindowAgg(spark: SparkSession, dir: String): DataFrame =
    drain(spark, chainedWindowAgg(eventStream(spark, dir)), "append", "q139",
      dataBatches = 1).orderBy("w_start", "event_type")

  /** q126: streaming dedup, driver-gated — `dropDuplicatesWithinWatermark`
    * over a watermarked file-source stream, drained AvailableNow in APPEND
    * mode. The key is the FULL output projection (user_id, event_type,
    * minute-truncated ts), so whichever physical row the state store sees
    * first, the emitted tuple is identical — that is what makes a
    * nondeterministic-by-contract operator bit-gateable against DuckDB's
    * DISTINCT. The fixture is one parquet file, so AvailableNow drains it
    * as a single micro-batch and the within-watermark dedup window spans
    * the whole input (state eviction only bites BETWEEN batches); the
    * batch-boundary semantics themselves are exercised in StreamingSpec:
    * cross-batch suppression inside the horizon, and re-admission of a
    * key replayed after the watermark expired its state.
    * Scale: dedup state partitions on the key hash exactly like the
    * exact-dedup shuffle in q40, and the watermark bounds state to one
    * dedup window — the unbounded-state hazard `dropDuplicates` has on
    * streams is the thing this operator exists to fix.
    */
  def q126StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("ts_min"))
      .withWatermark("ts_min", "0 seconds")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts_min")
    drain(spark, dedup, "append", "q126", dataBatches = 1)
      .orderBy("user_id", "event_type", "ts_min")
  }

  /** q257: WATERMARK LATE-DATA DROP census — the one event-time
    * semantic the single-batch drains (q111/q125/q100) structurally
    * cannot exercise: data arriving after the watermark has passed its
    * window. Three deterministic micro-batches (a replay directory with
    * pinned modification times + `maxFilesPerTrigger = 1` — the file
    * source drains oldest-first): batch 1 = the history minus a held-out
    * late subset (`event_id % 5 = 0 ∧ ts < cut`), batch 2 = the stream
    * head (`ts ≥ cut` — advances the watermark past the history and
    * EVICTS its windows), batch 3 = the held-out subset, now genuinely
    * late.
    *
    * The oracle replays Spark's TWO-WATERMARK protocol (SPARK-40925:
    * late-event filtering uses the PREVIOUS batch's watermark, eviction
    * the current one — probed empirically on this engine build, batch 3
    * drops all but the straddlers): a batch-3 row is kept iff its
    * 5-minute window end > max(batch-1 ts) − 10 min; because batch 1's
    * windows were evicted with exactly that same value, survivors merge
    * into still-live state and nothing is emitted twice — the oracle's
    * per-(window, type) census certifies drops AND no-duplication in
    * one equality. Finalization is q111's rule under the global
    * watermark. Values ride integer cents (the q166 device) so the
    * cross-batch merge is order-invariant.
    *
    * Scale: the late filter is scan-local per batch — too-late rows
    * never touch state, the property that keeps state bounded on a
    * 100 TB backlog; state per window is evicted at watermark. Sub-ms
    * watermark truncation cannot straddle a 5-minute boundary (window
    * ends are whole minutes; ts carries µs noise).
    */
  def q257WatermarkDrops(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q257") { root =>
    val census = lateCensus(replayFiles(root, lateDataBatches(spark, dir)))
    drain(spark, census, "append", "q257", dataBatches = 3, check = p =>
      if (droppedByWatermark(p) == 0) throw new IllegalStateException(
        "q257 observed zero watermark drops — the late batch was not late " +
          "(batch order or watermark protocol changed?)"))
      .orderBy("w_start", "event_type")
  }

  /** q257's three-batch late-data schedule, shared by q259/q277/q278:
    * the history minus a held-out late subset (`event_id % 5 = 0 ∧
    * ts < cut`), the stream head (`ts ≥ cut`, advances the watermark past
    * the history), then the held-out subset — now genuinely late.
    */
  private def lateDataBatches(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val cut = lit("2024-01-25").cast("timestamp")
    val late = pmod(col("event_id"), lit(5)) === 0 && col("ts") < cut
    Seq(ev.filter(!late && col("ts") < cut), ev.filter(col("ts") >= cut), ev.filter(late))
  }

  /** The q257/q259/q278 census over a replay stream: per (5-minute
    * window, type) count and sum under a 10-minute watermark, values
    * riding integer cents so the cross-batch merge is order-invariant.
    */
  private def lateCensus(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("sc"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        round(col("sc") / 100.0, 2).as("sum_value"))

  /** q259: UPDATE-MODE multi-batch RE-EMISSION gate — q257's sibling on
    * the other output mode. Same 3-batch pinned replay; in update mode
    * every batch emits each group it touched with the group's CURRENT
    * cumulative value, so the sink accumulates a multiset: batch 1 =
    * the history censuses, batch 2 = the head censuses, batch 3 = the
    * late straddlers RE-EMITTED with merged (history + late) counts —
    * while the dropped late rows emit nothing. The oracle states all
    * three emission sets blindly in SQL (batch-3 groups = those touched
    * by rows with window end > the lagged watermark, valued over
    * history ∪ kept-late); multiset equality certifies update-mode
    * re-emission + the two-watermark drop protocol + no emission for
    * evicted-and-gone windows, in one gate. q149 gates update mode's
    * single-batch semantics; this gates its cross-batch contract.
    *
    * Scale: as q257 — late rows never touch state; update mode holds
    * the same watermark-bounded state and emits deltas, the shape a
    * 100 TB dashboard sink consumes.
    */
  def q259UpdateReemission(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q259") { root =>
    val census = lateCensus(replayFiles(root, lateDataBatches(spark, dir)))
    drain(spark, census, "update", "q259", dataBatches = 3, check = p =>
      if (droppedByWatermark(p) == 0) throw new IllegalStateException(
        "q259 observed zero watermark drops — the late batch was not late"))
      .orderBy("w_start", "event_type", "n")
  }

  /** q269: stream–stream LEFT-OUTER JOIN null-emission protocol —
    * q257/q259's sibling on the JOIN operator's state machine (q64
    * gates outer-join CONTENT in a single drain; this gates WHEN the
    * machinery may emit, across batches): clicks left-join purchases
    * on user within [click_ts, click_ts+10min], both sides
    * watermarked 10 min, replayed as a pinned 3-batch schedule —
    * batch 1 = pre-cut clicks + pre-cut purchases minus a held-out
    * subset, batch 2 = post-cut both sides (advances the min-of-
    * sources watermark far past the cut, evicting expired unmatched
    * clicks → their null rows emit), batch 3 = the held-out pre-cut
    * purchases (beyond-watermark late → DROPPED; their would-be
    * partners must already stand as null rows, and no duplicate or
    * resurrected match may appear).
    *
    * The oracle states the protocol blindly in SQL: matches = pairs
    * whose purchase survived its batch's lagged late filter (held-out
    * rows don't); null rows = never-validly-matched clicks whose
    * match window closed under the FINAL min(maxL, maxR) − 10min
    * watermark; clicks still inside it emit nothing. One multiset
    * equality certifies eager match emission, eviction-time null
    * emission, the two-source min watermark, and the late-drop rule.
    * Engine-side assertions pin ≥3 data batches, nonzero watermark
    * drops, and nonzero null emissions so the gate cannot silently
    * degrade to a single-batch drain. Scale: the production shape —
    * join state is watermark-bounded on both sides; late data costs
    * no state.
    */
  def q269OuterJoinNullProtocol(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q269") { root =>
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val cut = lit("2024-01-25").cast("timestamp")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("purchase_ts"))
    val heldout = pmod(col("purchase_id"), lit(5)) === 0 && col("purchase_ts") < cut
    val ls = replayFiles(root.resolve("left"), Seq(
        clicks.filter(col("click_ts") < cut), clicks.filter(col("click_ts") >= cut)))
      .withWatermark("click_ts", "10 minutes")
    val rs = replayFiles(root.resolve("right"), Seq(
        purchases.filter(!heldout && col("purchase_ts") < cut),
        purchases.filter(col("purchase_ts") >= cut),
        purchases.filter(heldout)))
      .withWatermark("purchase_ts", "10 minutes")
    val joined = ls.join(rs,
        col("cu") === col("pu") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("click_id"), col("cu").as("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))
    val out = drain(spark, joined, "append", "q269", dataBatches = 3, check = p =>
      if (droppedByWatermark(p) == 0) throw new IllegalStateException(
        "q269 observed zero watermark drops — the held-out purchases were not late"))
    if (out.filter(col("purchase_id").isNull).isEmpty) throw new IllegalStateException(
      "q269 emitted zero null rows — eviction-time outer emission did not fire")
    out.orderBy("click_id", "purchase_id")
  }

  /** q274: SESSION-WINDOW MERGE/FRAGMENTATION protocol — what q100's
    * single drain cannot see: session state is MERGEABLE across
    * micro-batches (an open session absorbs next-batch events within
    * the gap → ONE straddling row), but once the watermark finalizes a
    * session its state is GONE — a same-user event landing within the
    * gap of an already-emitted session starts a NEW session (batch-
    * boundary fragmentation, the documented append-mode semantics).
    * A 2-batch pinned replay (pre-cut / post-cut) exhibits both, and
    * the oracle states them blindly: phase-1 sessions emitted under
    * wm₁ = max pre-cut ts (delay 0), survivors re-sessionized WITH the
    * post-cut events under the final watermark — fragment pairs and
    * straddler merges fall out of the two-phase replay, never from
    * peeking at the engine. Engine assertions pin exactly 2 data
    * batches and ≥ 1 straddling session so the gate cannot degrade to
    * a single drain. Scale: session state is user-keyed and watermark-
    * bounded; the replay is the production shape for late-closing
    * sessions.
    */
  def q274SessionMergeProtocol(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q274") { root =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("user_id"), col("value"))
    // the cut is DERIVED: 1 µs after the latest first-of-a-close-pair
    // timestamp (same user, gap < 5 min), so it provably lands INSIDE
    // a session — batch 1's last event of that session is the pair's
    // first element, wm₁ equals it (nothing between it and the cut),
    // the session stays open, and the pair's second element arrives in
    // batch 2 within the gap → the straddling merge is guaranteed by
    // construction, not by fixture luck
    val wPair = Window.partitionBy("user_id").orderBy("ts")
    val cutDf = ev.withColumn("nxt", lead("ts", 1).over(wPair))
      .filter(col("nxt") < col("ts") + expr("INTERVAL 5 MINUTES"))
      .agg(max("ts").as("mx"))
      .select((col("mx") + expr("INTERVAL 1 MICROSECOND")).as("cut"))
      .localCheckpoint()
    def withCut(df: DataFrame): DataFrame = df.crossJoin(broadcast(cutDf))
    val stream = replayFiles(root, Seq(
      withCut(ev).filter(col("ts") < col("cut")).drop("cut"),
      withCut(ev).filter(col("ts") >= col("cut")).drop("cut")))
    val agg = stream.withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("sc"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"), (col("sc") / 100.0).as("sum_value"))
    val out = drain(spark, agg, "append", "q274", dataBatches = 2)
    val straddlers = withCut(out).filter(col("session_start") < col("cut") &&
      col("session_end") > col("cut") + expr("INTERVAL 5 MINUTES")).count()
    if (straddlers == 0) throw new IllegalStateException(
      "q274 saw zero cut-straddling sessions — the cross-batch merge never fired")
    out.orderBy("user_id", "session_start", "n")
  }

  /** q275: DEDUP STATE-EXPIRY / RE-ADMISSION protocol — the caveat in
    * `dropDuplicatesWithinWatermark`'s contract that q126's single
    * drain cannot show and StreamingSpec only spec-pins: a key is
    * suppressed while its state lives, but once the watermark evicts
    * the state the SAME key is re-admitted and EMITS AGAIN. 3-batch
    * pinned replay over the (user_id, event_type) key space: batch 1 =
    * pre-cut rows minus the held-out set (every key emits once; output
    * rows are projected to the BARE KEY after the dedup so no
    * first-row-order nondeterminism can leak), batch 2 = post-cut
    * rows, batch 3 = the held-out rows — the %5 subset lands beyond
    * the lagged watermark (→ dropped) while the last pre-cut hour
    * lands inside it (→ survives and probes re-admission), so BOTH
    * arms fire at every SF by construction.
    *
    * PROBED protocol (foreachBatch per-batch dump, pinned by the
    * oracle's multiset equality): (1) duplicate checks are
    * CHECK-THEN-EVICT — a live state entry suppresses even when
    * already expired under the in-effect watermark (all post-cut
    * occurrences of batch-1 keys are suppressed although every
    * batch-1 entry had expired); (2) state stores the FIRST event
    * time (the documented earliest-to-latest contract) and is evicted
    * at batch END under the in-effect wm; (3) the late filter uses
    * the PREVIOUS batch's wm — SPARK-40925's two-watermark rule,
    * q257's finding reproduced on a different stateful operator. So a
    * held survivor re-emits iff its batch-1 state was evicted
    * (first-seen + 10 min < wm₁) and no batch-2 state shadows it.
    * Engine assertions pin 3 data batches, nonzero late drops, and
    * nonzero re-admissions. Scale: dedup state is watermark-bounded —
    * exactly why WithinWatermark exists (plain dropDuplicates holds
    * keys forever).
    */
  def q275DedupReadmission(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q275") { root =>
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val cut = lit("2024-01-25").cast("timestamp")
    // held = the %5 subset (beyond-watermark late → dropped) PLUS the
    // whole last pre-cut hour (inside the lagged filter → survives and
    // probes re-admission) — so both arms of the protocol fire at
    // every SF by construction, not fixture luck
    val held = col("ts") < cut &&
      (pmod(col("event_id"), lit(5)) === 0 ||
        col("ts") >= cut - expr("INTERVAL 1 HOUR"))
    val deduped = replayFiles(root, Seq(
        ev.filter(!held && col("ts") < cut), ev.filter(col("ts") >= cut), ev.filter(held)))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val out = drain(spark, deduped, "append", "q275", dataBatches = 3, check = p =>
      if (droppedByWatermark(p) == 0) throw new IllegalStateException(
        "q275 observed zero watermark drops — the held-out batch was not late"))
    val readmitted = out.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("k")).filter(col("k") >= 2).count()
    if (readmitted == 0) throw new IllegalStateException(
      "q275 saw zero re-admissions — expired keys did not re-emit")
    out.orderBy("user_id", "event_type")
  }

  /** q277: COMPLETE-MODE no-drop gate — the third output mode, and the
    * exact INVERSE of q257: the SAME 3-batch late-data schedule that
    * append mode must drop (held-out pre-cut rows arriving after the
    * watermark passed) is one complete mode must KEEP — complete-mode
    * aggregation retains all groups forever (state is never evicted,
    * so the "too late" concept does not exist) and re-emits the whole
    * result table every batch, of which the sink retains the last.
    * One query pins both sides: the oracle is the PLAIN full-data
    * windowed census (late batch included — anything dropped would
    * show), and the engine asserts 3 data batches AND zero
    * numRowsDroppedByWatermark under a schedule that q257 proves
    * drops 160+ rows in append mode.
    *
    * Scale: complete mode's cost model made explicit — state =
    * ALL windows ever seen (why it's reserved for small aggregate
    * tables: dashboards, top-k) while append/update hold only the
    * watermark-live frontier; the gate documents the trade, not just
    * the semantics.
    */
  def q277CompleteModeNoDrop(spark: SparkSession, dir: String): DataFrame = withReplayRoot("q277") { root =>
    val agg = replayFiles(root, lateDataBatches(spark, dir))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("sc"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        (col("sc") / 100.0).as("sum_value"))
    drain(spark, agg, "complete", "q277", dataBatches = 3, check = { p =>
      val dropped = droppedByWatermark(p)
      if (dropped != 0) throw new IllegalStateException(
        s"q277 dropped $dropped rows — complete mode must keep beyond-watermark data")
    }).orderBy("w_start", "event_type")
  }

  /** q278: CHECKPOINT-RECOVERY gate — the durability contract every
    * other streaming gate assumes but none exercises: the q257 drain
    * is RESTARTED mid-schedule. Run 1 sees only the history file
    * (AvailableNow pins offsets at start, drains it, terminates);
    * then the head and late files appear, and a BRAND-NEW query
    * resumes from the same checkpoint. For the final output to match
    * q257's uninterrupted-protocol oracle, the restart must recover
    * (1) source offsets (run 2's first batchId continues run 1's —
    * asserted — so nothing is skipped or re-read), (2) aggregation
    * STATE (history windows must still merge with head straddlers
    * and finalize), and (3) the WATERMARK (the late file must still
    * be dropped by the RESTORED wm — a fresh query would keep it and
    * go red). The sink is the batchId-keyed foreachBatch parquet
    * recipe, idempotent by construction under replays. This is the
    * deterministic stop/upgrade/resume cycle — the recovery machinery
    * (checkpoint reload into a new query) is exactly the crash path,
    * without a racy kill deciding how far run 1 got. Scale: offsets
    * and state stores recover per partition; nothing here is
    * fixture-shaped.
    */
  def q278CheckpointRecovery(spark: SparkSession, dir: String): DataFrame =
    withDrainPartitions(spark) { withReplayRoot("q278") { root =>
      val Seq(history, head, late) = lateDataBatches(spark, dir)
      // only the history file exists when run 1 starts
      val census = lateCensus(replayFiles(root, Seq(history)))
      val ckpt = root.resolve("ckpt").toString
      val out = root.resolve("out")
      def start() = census.writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(out.resolve(s"batch$id").toString)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      val q1 = start()
      q1.awaitTermination()
      requireDataBatches(q1, "q278 run 1", 1)
      // the head and late files arrive while the pipeline is down
      replayFiles(root, Seq(head, late))
      val q2 = start()
      q2.awaitTermination()
      requireDataBatches(q2, "q278 run 2", 2)
      if (q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).min == 0)
        throw new IllegalStateException(
          "q278 run 2 restarted from batch 0 — offsets were not recovered from the checkpoint")
      if (droppedByWatermark(q2.recentProgress) == 0) throw new IllegalStateException(
        "q278 observed zero watermark drops — the recovered watermark did not gate the late batch")
      spark.read.parquet(out.toString + "/batch*")
        .orderBy("w_start", "event_type").localCheckpoint()
    }}

  /** q127: stream–static enrichment, driver-gated end-to-end — the §2B
    * stream–static join row was spec-only (batch-equivalence in
    * `StreamingSpec`) until this entry. A watermarked event stream joins
    * the STATIC customer dimension (the reference's enrichment shape: an
    * unbounded feed keyed against slow reference data), then flows into
    * a tumbling windowed census per market segment, drained AvailableNow
    * in APPEND mode under the same watermark-finalization rule as q111 —
    * so the gate covers the join AND the post-join event-time semantics
    * (the watermark column must survive the join for the downstream agg
    * to finalize). Scale: the static side is planned per micro-batch
    * (size-based broadcast when it fits — no forced hint, same defect
    * class as q10); the agg shuffles on (window, segment) with
    * watermark-bounded state. Every event matches a customer in the
    * fixture, so inner-join semantics are total and the oracle is exact.
    */
  def q127StreamStaticWindow(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(spark, dir).withWatermark("ts", "0 seconds")
    val dim = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))
    drain(spark, agg, "append", "q127", dataBatches = 1).orderBy("w_start", "c_mktsegment")
  }

  /** q185: stream–static LEFT-OUTER enrichment — q127's missing-key
    * half: the dim is deliberately PARTIAL (md5-slot-thinned customers,
    * the q175 probe device), the join keeps every event, and the
    * windowed census groups on the COALESCED segment so unmatched
    * events surface as an explicit 'UNKNOWN' bucket instead of
    * silently dropping (the difference between an inner-join dashboard
    * that under-counts and an outer-join one that shows you the
    * mismatch). Same append-mode watermark finalization as q127/q111.
    * Scale: the static dim broadcasts per micro-batch; the stream
    * never shuffles for the join — only the windowed agg keys it.
    */
  def q185StreamStaticOuter(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(spark, dir).withWatermark("ts", "0 seconds")
    val dim = Tables.customer(spark, dir)
      .filter(substring(md5(col("c_custkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3") === false)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream.join(dim, stream("user_id") === dim("c_custkey"), "left_outer")
      .groupBy(window(col("ts"), "5 minutes").as("w"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("segment"),
        col("n"), col("sum_value"))
    drain(spark, agg, "append", "q185", dataBatches = 1).orderBy("w_start", "segment")
  }

  /** q129: ARBITRARY keyed state through the driver gate — the §2B
    * "arbitrary state" row was spec-only (MemoryStream equivalence in
    * `StreamingSpec`) until this entry. `StatefulOps.sessionCloseouts`
    * (flatMapGroupsWithState, EventTimeTimeout, state REMOVAL on fire)
    * runs over the watermarked file-source stream and drains
    * AvailableNow: sessions split on event-time gaps > 5 min inside the
    * handler, a superseded session emits in the data batch, and each
    * user's final session emits from the TIMEOUT path in the no-data
    * finalization batch iff the final watermark (max event time, 0 s
    * delay) reached `last_ts + gap`. Supersession implies
    * `last_ts + gap < next event's ts ≤ max ts`, so the emitted set
    * collapses to one predicate the oracle states directly:
    * `last_ts + gap ≤ max(ts)` over strict-gap (>) sessions — the
    * handler-vs-session_window boundary difference (q100 splits at
    * gap ≥, the handler at gap >) is part of what the gate pins.
    * (Timeout-fire strictness vs the watermark only matters when some
    * session has `last_ts + gap == max(ts)` EXACTLY; verified absent
    * from the fixture at every SF, so the oracle's ≤ is exact under
    * either convention.)
    * Scale: state partitions on user_id, one key exchange; the timeout
    * path is what keeps keyed state BOUNDED (the q100-adjacent 100 TB
    * failure mode of grow-only state).
    */
  def q129StatefulSessions(spark: SparkSession, dir: String): DataFrame = {
    val events = eventStream(spark, dir).as(Encoders.product[Event])
    val closed = StatefulOps.sessionCloseouts(events, gapMinutes = 5)
    drain(spark, closed.toDF(), "append", "q129", dataBatches = 1)
      .orderBy("user_id", "last_ts")
  }

  /** q130: `mapGroupsWithState` running enrichment through the driver
    * gate — the snapshot-or-delta state rebuild the reference's feed
    * protocol implies (`README.md:45-51`: lossy deltas resynchronized by
    * periodic snapshots), q129's sibling for the one-row-per-key state
    * shape. `StatefulOps.runningBalance` folds each user's events in
    * (ts, event_id) order — `signup` is a snapshot (state := value),
    * everything else a delta (state += value) — and UPDATE mode emits
    * the post-batch state per touched key; the single-batch AvailableNow
    * drain makes that one final row per user. The oracle replays the
    * fold in SQL: balance = value(last signup) + Σ later non-signup
    * values (no signup ⇒ plain sum); the engine folds sequentially and
    * DuckDB sums set-wise — same operand set, ulp-order noise absorbed
    * by round 2 (bitsweep-checked on the gate fixture). Scale: state
    * partitions on user_id, one key exchange, state is one 24-byte row
    * per user (bounded by keyspace, the grow-only caveat documented at
    * [[StatefulOps.runningBalance]] — q129's timeout path is the
    * bounded-state variant).
    */
  def q130RunningBalance(spark: SparkSession, dir: String): DataFrame = {
    val running = StatefulOps.runningBalance(eventStream(spark, dir).as(Encoders.product[Event]))
      .toDF()
      .select(col("user_id"), col("n_events"), round(col("balance"), 2).as("balance"))
    drain(spark, running, "update", "q130", dataBatches = 1).orderBy("user_id")
  }

  /** q130b: the SAME running-balance fold through Spark 4's
    * `transformWithState` — driver-gating the NEW arbitrary-state API
    * (q130 gates `mapGroupsWithState`; this gates the
    * `StatefulProcessor` path on its required RocksDB state store) at
    * zero extra oracle cost: `StatefulOps.fold` is shared by both
    * operators, so q130's oracle applies verbatim and any divergence
    * between the two state backends/APIs flips exactly one of the two
    * rows. The provider conf is set scoped to this query and restored
    * (it is read at stream start; Verify/Bench build queries serially,
    * so the scoped set cannot leak into another starting stream).
    * Scale: identical to q130 — one user_id key exchange, one 24-byte
    * state row per user, now in the production state backend.
    */
  def q130bRunningBalanceTws(spark: SparkSession, dir: String): DataFrame = withRocksDbProvider(spark) {
    val running = StatefulOps.runningBalanceTws(eventStream(spark, dir).as(Encoders.product[Event]))
      .toDF()
      .select(col("user_id"), col("n_events"), round(col("balance"), 2).as("balance"))
    drain(spark, running, "update", "q130b", dataBatches = 1).orderBy("user_id")
  }

  /** q133: `ListState` on `transformWithState` through the driver gate —
    * the variable-size state shape ([[StatefulOps.RecentValuesProcessor]]:
    * a per-user last-3-values buffer, truncated every batch so state is
    * k rows per key by construction). Update mode emits one post-batch
    * row per touched key; the single-batch drain (asserted) makes that
    * each user's final buffer. The (ts desc, event_id desc) total order
    * makes the kept set and its order deterministic, and the values are
    * COPIED doubles (never summed), so the gate is bit-exact. The array
    * is unpacked to three nullable columns (`get`, 0-based, null past
    * the end) because the gate canonicalization compares scalars —
    * users with <3 events yield the same NULLs as the oracle's CASE
    * pivot. Scale: one user_id key exchange; k·keys state rows.
    */
  def q133RecentValuesTws(spark: SparkSession, dir: String): DataFrame = withRocksDbProvider(spark) {
    val recent = StatefulOps.recentValuesTws(eventStream(spark, dir).as(Encoders.product[Event]), k = 3)
    drain(spark, recent.toDF(), "update", "q133", dataBatches = 1)
      .select(col("user_id"),
        get(col("vals"), lit(0)).as("v1"),
        get(col("vals"), lit(1)).as("v2"),
        get(col("vals"), lit(2)).as("v3"))
      .orderBy("user_id")
  }

  /** q134: `MapState` on `transformWithState` through the driver gate —
    * the keyed-sub-state shape ([[StatefulOps.TypeCountsProcessor]]: a
    * per-user event-type→count map, point-incremented per event). The
    * post-batch map snapshot per touched key, on the asserted
    * single-batch drain, is exactly the (user, type) census — integer
    * counts, bit-exact. Completes the `transformWithState` state-
    * variable surface through the driver: ValueState (q130b), ListState
    * (q133), MapState (here); timers are spec-pinned against the old
    * API. Scale: one user_id key exchange; map entries are point
    * lookups/writes in RocksDB, never a full-map rewrite.
    */
  def q134TypeCountsTws(spark: SparkSession, dir: String): DataFrame = withRocksDbProvider(spark) {
    val counts = StatefulOps.typeCountsTws(eventStream(spark, dir).as(Encoders.product[Event]))
    drain(spark, counts.toDF(), "update", "q134", dataBatches = 1)
      .orderBy("user_id", "event_type")
  }

  /** q132: threshold-crossing alerts through the driver gate — the
    * third and last `StatefulOps` operator (q129 timeout close-outs,
    * q130 update-mode snapshots, and here `balanceAlerts`' 0..n-rows
    * APPEND emission, the monitoring shape a feed pipeline hangs off
    * the reference's stream). The alert contract is batch-boundary
    * observation (prev.balance < t ≤ next.balance); on the single-batch
    * AvailableNow drain prev is the 0-initialized state, so the emitted
    * set is exactly the users whose FINAL folded balance clears the
    * threshold — one WHERE over q130's fold oracle. The threshold sits
    * ≥ 0.12 from every user's balance at every SF (DuckDB-verified), 11
    * orders above fold-vs-set-sum ulp noise, so membership is unflippable;
    * the chunked multi-batch crossing semantics are spec-pinned in
    * `StreamingSpec` against a batch-by-batch reference. Scale: q130's
    * plan — one user_id key exchange, 24-byte state rows, emission
    * bounded by the crossing count.
    */
  def q132BalanceAlerts(spark: SparkSession, dir: String): DataFrame = {
    val alerts = StatefulOps.balanceAlerts(eventStream(spark, dir).as(Encoders.product[Event]),
        threshold = 500.0)
      .toDF()
      .select(col("user_id"), col("n_events"), round(col("balance"), 2).as("balance"))
    drain(spark, alerts, "append", "q132", dataBatches = 1).orderBy("user_id")
  }

  /** q166: STREAMING incremental materialized-view maintenance — q150's
    * refresh path driven by `foreachBatch`, the pattern that turns a
    * stream into a continuously-fresh keyed MV (the standard
    * Spark-recommended shape for upsert sinks: per-batch MERGE of the
    * batch's PRE-AGGREGATED delta into the stored view). The stored
    * view starts as q150's base partition (event_id ≢ 4 mod 5); the
    * delta partition arrives as a file STREAM; each micro-batch
    * aggregates batch-locally (count/sum/min/max — all insert-
    * maintainable) and merges via one full-outer key join against the
    * view, which is `localCheckpoint`ed per batch: the merge result
    * must not reference the expired micro-batch DataFrame, and the
    * view's lineage must not grow per batch (the q77/q140 iteration
    * device — at 100 TB the checkpoint is the MV table write itself).
    *
    * Unlike the single-batch gates (q126/q130/q132) this oracle is
    * BATCH-COUNT-INVARIANT: the merge is associative and commutative
    * over disjoint delta slices — EXACTLY, because the sum crosses the
    * merge as integer cents (BIGINT; the q223/q226 device), not as a
    * reassociation-sensitive double — so no drain-shape assertion is needed
    * — StreamingSpec pins the chunked replay (2 and 5 chunks) equal to
    * the batch recompute. Oracle = full recompute over all events
    * (q150's self-maintenance invariant, streaming edition).
    */
  def q166StreamMvMaintenance(spark: SparkSession, dir: String): DataFrame = withDrainPartitions(spark) {
    val isDelta = pmod(col("event_id"), lit(5)) === 4
    // `value` is quantized to integer cents INSIDE the MV state: the
    // per-batch merge then accumulates a BIGINT, which is associative
    // and order-invariant exactly (double `+` is not — a micro-batch
    // reassociation could otherwise flip round(·,2) at a .005 boundary).
    // The oracle quantizes identically; descaled only at output.
    def agg(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("sv"),
      min("value").as("mn"), max("value").as("mx"))
    var mv = agg(Tables.events(spark, dir)
      .select("event_id", "user_id", "value").filter(!isDelta))
      .localCheckpoint() // at 100 TB: read from the stored MV
    val delta = eventStream(spark, dir)
      .select("event_id", "user_id", "value").filter(isDelta)
    val q = delta.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mv = mv.as("b").join(agg(batch).as("d"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
            (coalesce(col("b.sv"), lit(0L)) + coalesce(col("d.sv"), lit(0L))).as("sv"),
            least(coalesce(col("b.mn"), col("d.mn")),
              coalesce(col("d.mn"), col("b.mn"))).as("mn"),
            greatest(coalesce(col("b.mx"), col("d.mx")),
              coalesce(col("d.mx"), col("b.mx"))).as("mx"))
          .localCheckpoint()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    mv.select(col("user_id"), col("n").as("n_events"),
        round(col("sv") / 100.0, 2).as("sum_value"),
        round(col("mn"), 2).as("min_value"),
        round(col("mx"), 2).as("max_value"))
      .orderBy("user_id")
  }

  /** q238: STREAMING CDC APPLY — q136's MERGE INTO driven from a
    * change STREAM (the lakehouse ingestion loop: CDC rows arrive
    * continuously, each micro-batch upserts/deletes into the stored
    * snapshot via `foreachBatch` + `ChangeCapture.merge`): raw order
    * rows stream in as files, each batch derives its change rows
    * ROW-LOCALLY (`LakehouseQueries.changeRowsOf` — at most one op per
    * key corpus-wide, so chunked apply ≡ one-shot apply and the gate is
    * BATCH-COUNT-INVARIANT like q166), and the running snapshot is
    * `localCheckpoint`ed per batch (lineage cut; at 100 TB the
    * checkpoint is the table write itself). Oracle = q136's merged
    * snapshot: streaming convergence to the batch MERGE is exactly
    * what's gated. Deletes through the stream path — the op q166's
    * insert-only MV cannot express — are the point.
    */
  def q238StreamCdcApply(spark: SparkSession, dir: String): DataFrame = withDrainPartitions(spark) {
    val raw = spark.read.parquet(s"$dir/orders.parquet").schema
    val stream0 = spark.readStream.schema(raw)
      .option("basePath", dir).parquet(s"$dir/orders.parque[t]")
    var snap = graft.queries.LakehouseQueries.baseSnap(spark, dir).localCheckpoint()
    val q = stream0.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        snap = graft.operators.ChangeCapture.merge(
          snap, graft.queries.LakehouseQueries.changeRowsOf(batch),
          "o_orderkey", "o_totalprice").localCheckpoint()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    snap.orderBy("o_orderkey")
  }

  /** q240: STREAMING SKETCH-COLUMN MAINTENANCE — q209's warehouse
    * sketch pattern meets q166's incremental MV: the stored view is a
    * per-event-type HLL REGISTER ARRAY (distinct users, p=12), seeded
    * from the base partition, and each micro-batch of the delta stream
    * folds its own batch-local sketch in by ELEMENT-WISE MAX
    * (`zip_with(..., greatest)` — the register merge law). Max-merge is
    * associative, commutative, AND idempotent, so the gate is
    * batch-count-invariant like q166's cents — and stronger: even
    * replayed rows cannot skew it. The final estimates are checked
    * against the oracle's direct single-pass register chain over ALL
    * events (the self-maintenance invariant), with exact distincts
    * riding beside.
    *
    * Scale: this is the 100 TB streaming-dashboard pattern — per batch
    * only type-count × 4 KB register rows cross the merge join; the
    * raw stream never re-aggregates, and the stored MV answers any
    * later distinct-count read at sketch cost.
    */
  def q240StreamSketchMv(spark: SparkSession, dir: String): DataFrame = withDrainPartitions(spark) {
    val sk = udaf(new graft.functions.SketchAggregators.HllSketchAggregator(12))
    val mg = udaf(new graft.functions.SketchAggregators.HllMergeAggregator(12))
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val isDelta = pmod(col("event_id"), lit(5)) === 4
    def sketchOf(df: DataFrame): DataFrame =
      df.select(col("event_type"), h.as("h"))
        .groupBy("event_type").agg(sk(col("h")).as("sketch"))
    var mv = sketchOf(
      Tables.events(spark, dir).select("event_id", "user_id", "event_type")
        .filter(!isDelta)).localCheckpoint()
    val delta = eventStream(spark, dir)
      .select("event_id", "user_id", "event_type").filter(isDelta)
    val q = delta.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mv = mv.as("b").join(sketchOf(batch).as("d"), Seq("event_type"), "full_outer")
          .select(col("event_type"),
            when(col("b.sketch").isNull, col("d.sketch"))
              .when(col("d.sketch").isNull, col("b.sketch"))
              .otherwise(expr("zip_with(b.sketch, d.sketch, (x, y) -> greatest(x, y))"))
              .as("sketch"))
          .localCheckpoint()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val exact = Tables.events(spark, dir)
      .groupBy("event_type").agg(countDistinct("user_id").as("exact_distinct"))
    mv.groupBy("event_type").agg(mg(col("sketch")).as("est"))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), round(col("est"), 4).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  /** q296: PER-BATCH STATIC-SIDE REFRESH — the stream–static join's
    * operational contract (q62/q64 join a FIXED static side; production
    * dims are nightly-refreshed TABLES under a running stream, and
    * Structured Streaming's documented behavior is that a `foreachBatch`
    * re-read resolves the CURRENT snapshot each micro-batch): a 2-batch
    * pinned replay joins each batch against a rate dimension that is
    * SWAPPED (v2 = 2× rates) after batch 0 commits — from inside the
    * batch hook, exactly where a refresh lands in production. Batch 0
    * must price at v1, batch 1 at v2; a plan that resolved the dim once
    * (the naive cached `DataFrame` closed over by the query) prices
    * both at v1 and goes red against the blind two-rate oracle.
    *
    * Determinism: rates derive from `length(event_type)` (stated
    * blindly in SQL), money rides integer cents, the swap is a
    * filesystem move AFTER the batch-0 sink write returns (foreachBatch
    * bodies run serially on the driver). Scale: the dim broadcasts per
    * batch (dims are MB-scale by nature); the per-batch agg is
    * partial+final; the sink is batchId-keyed parquet — the idempotent
    * recipe q278 certifies.
    */
  def q296DimRefreshJoin(spark: SparkSession, dir: String): DataFrame =
    withDrainPartitions(spark) { withReplayRoot("q296") { root =>
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val cut = lit("2024-01-25").cast("timestamp")
      val stream = replayFiles(root.resolve("stream"),
        Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut)))
      val dimDir = root.resolve("dim")
      val dimNext = root.resolve("dim_next")
      val types = ev.select("event_type").distinct()
      types.select(col("event_type"), length(col("event_type")).cast("long").as("rate"))
        .write.mode("overwrite").parquet(dimDir.toString)
      types.select(col("event_type"), (length(col("event_type")) * 2).cast("long").as("rate"))
        .write.mode("overwrite").parquet(dimNext.toString)
      val outDir = root.resolve("out").toString
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          val s = df.sparkSession
          val dimOld = root.resolve("dim_old")
          // the refresh contract under test: resolve the dim NOW, not at
          // query construction. foreachBatch is at-least-once: a batch-0
          // RETRY after the swap landed must still price at v1 — the
          // pre-swap snapshot lives at dim_old, so a replayed batch 0
          // resolves it there instead of repricing at v2 (and the swap
          // below is guarded so the retry cannot throw on a second move).
          val dimPath =
            if (id == 0L && Files.exists(dimOld)) dimOld
            else {
              // Crash tolerance: a death BETWEEN the two swap moves below
              // leaves dim absent and dim_next still staged. Any later
              // batch completes the interrupted swap before reading, so
              // retry-idempotency holds across a partial-failure window,
              // not just a clean replay.
              if (!Files.exists(dimDir) && Files.exists(dimNext))
                Files.move(dimNext, dimDir)
              dimDir
            }
          val dim = s.read.parquet(dimPath.toString)
          df.join(broadcast(dim), "event_type")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(col("cents") * col("rate")).as("wc"))
            .withColumn("batch", lit(id))
            .write.mode("overwrite").parquet(s"$outDir/b$id")
          if (id == 0L && !Files.exists(dimOld)) {
            // nightly refresh lands between batches: swap v2 into place
            Files.move(dimDir, dimOld)
            Files.move(dimNext, dimDir)
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      requireDataBatches(q, "q296", 2)
      spark.read.parquet(s"$outDir/b0", s"$outDir/b1")
        .select(col("batch"), col("event_type"), col("n"),
          round(col("wc") / 100.0, 2).as("weighted_value"))
        .orderBy("batch", "event_type").localCheckpoint()
    }}

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q296_dim_refresh_join" -> (q296DimRefreshJoin _),
    "q238_stream_cdc_apply" -> (q238StreamCdcApply _),
    "q240_stream_sketch_mv" -> (q240StreamSketchMv _),
    "q127_stream_static_window" -> (q127StreamStaticWindow _),
    "q185_stream_static_outer" -> (q185StreamStaticOuter _),
    "q166_stream_mv_maintenance" -> (q166StreamMvMaintenance _),
    "q129_stateful_sessions" -> (q129StatefulSessions _),
    "q130_running_balance" -> (q130RunningBalance _),
    "q130b_running_balance_tws" -> (q130bRunningBalanceTws _),
    "q132_balance_alerts" -> (q132BalanceAlerts _),
    "q133_recent_values_tws" -> (q133RecentValuesTws _),
    "q134_type_counts_tws" -> (q134TypeCountsTws _),
    "q100_sql_session_stream" -> (q100SqlSessionStream _),
    "q146_dynamic_gap_sessions" -> (q146DynamicGapSessions _),
    "q149_update_mode_windows" -> (q149UpdateModeWindows _),
    "q154_stream_union_windows" -> (q154StreamUnionWindows _),
    "q111_sql_tumbling_stream" -> (q111SqlTumblingStream _),
    "q257_watermark_drops" -> (q257WatermarkDrops _),
    "q259_update_reemission" -> (q259UpdateReemission _),
    "q269_outer_join_null_protocol" -> (q269OuterJoinNullProtocol _),
    "q274_session_merge_protocol" -> (q274SessionMergeProtocol _),
    "q275_dedup_readmission" -> (q275DedupReadmission _),
    "q277_complete_mode_no_drop" -> (q277CompleteModeNoDrop _),
    "q278_checkpoint_recovery" -> (q278CheckpointRecovery _),
    "q125_sql_sliding_stream" -> (q125SqlSlidingStream _),
    "q200_stream_topk" -> (q200StreamTopK _),
    "q201_stream_distinct" -> (q201StreamDistinct _),
    "q208_join_then_window" -> (q208JoinThenWindow _),
    "q227_stream_microstructure" -> (q227StreamMicrostructure _),
    "q345_stream_ohlcv" -> (q345StreamOhlcv _),
    "q228_order_book_rebuild" -> (q228OrderBookRebuild _),
    "q139_chained_window_agg" -> (q139ChainedWindowAgg _),
    "q126_stream_dedup" -> (q126StreamDedup _),
    "q58_window_tumbling" -> (q58WindowTumbling _),
    "q59_window_sliding" -> (q59WindowSliding _),
    "q60_session_window" -> (q60SessionWindow _),
    "q62_stream_stream_join" -> (q62StreamStreamJoin _),
    "q64_stream_stream_outer" -> (q64StreamStreamOuter _),
    "q119_stream_stream_full" -> (q119StreamStreamFull _),
    "q141_stream_stream_semi" -> (q141StreamStreamSemi _)
  )

  /** q130's fold replayed in SQL — shared verbatim by q130b (same fold,
    * different state API/backend): balance = value(last signup) + Σ
    * later non-signup values; no signup ⇒ plain sum. round 2 + `+ 0.0`
    * absorb fold-vs-set-sum ulp order and signed zero.
    */
  private val q130OracleSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |ls AS (SELECT user_id, max(rn) AS srn FROM o WHERE event_type = 'signup' GROUP BY user_id),
      |b AS (
      |  SELECT o.user_id, count(*)::BIGINT AS n_events,
      |         sum(CASE WHEN ls.srn IS NULL AND o.event_type <> 'signup' THEN o.value
      |                  WHEN o.rn = ls.srn THEN o.value
      |                  WHEN o.rn > ls.srn AND o.event_type <> 'signup' THEN o.value
      |                  ELSE 0 END) AS balance
      |  FROM o LEFT JOIN ls USING (user_id)
      |  GROUP BY o.user_id)
      |SELECT user_id, n_events, round(balance, 2) + 0.0 AS balance
      |FROM b ORDER BY user_id""".stripMargin

  /** q257's blind two-watermark protocol replay (SPARK-40925: late
    * filter = previous batch's wm on WINDOW END, eviction = current;
    * straddlers merge into still-live state; output = windows closed
    * under the final wm). Shared verbatim by q278: exactly-once
    * recovery means the killed-and-resumed drain must land on the
    * identical emission set.
    */
  private val q257OracleSql: String =
    """WITH e AS (
      |  SELECT event_id, ts, event_type,
      |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |b1 AS (
      |  SELECT * FROM e
      |  WHERE NOT (event_id % 5 = 0 AND ts < TIMESTAMP '2024-01-25')
      |    AND ts < TIMESTAMP '2024-01-25'),
      |b2 AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-25'),
      |b3 AS (
      |  SELECT * FROM e
      |  WHERE event_id % 5 = 0 AND ts < TIMESTAMP '2024-01-25'),
      |w1 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM b1),
      |wf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wmf FROM e),
      |kept AS (
      |  SELECT ts, event_type, cents FROM b1
      |  UNION ALL
      |  SELECT ts, event_type, cents FROM b2
      |  UNION ALL
      |  SELECT b3.ts, b3.event_type, b3.cents FROM b3 CROSS JOIN w1
      |  WHERE time_bucket(INTERVAL 5 MINUTES, b3.ts) + INTERVAL 5 MINUTES > w1.wm),
      |agg AS (
      |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type,
      |         count(*)::BIGINT AS n,
      |         round(sum(cents) / 100.0, 2) + 0.0 AS sum_value
      |  FROM kept GROUP BY 1, 2)
      |SELECT w_start, event_type, n, sum_value
      |FROM agg CROSS JOIN wf
      |WHERE w_start + INTERVAL 5 MINUTES <= wmf
      |ORDER BY w_start, event_type""".stripMargin

  override val oracles: Map[String, String] = Map(
    // the two rate regimes stated blindly: batch 0 (pre-cut) prices at
    // length(type), batch 1 at 2×length(type) — a once-resolved dim
    // prices batch 1 at v1 and breaks equality
    "q296_dim_refresh_join" ->
      """WITH ev AS (
        |  SELECT event_type, ts,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT 0::BIGINT AS batch, event_type, count(*)::BIGINT AS n,
        |       round(sum(cents * length(event_type)) / 100.0, 2) + 0.0 AS weighted_value
        |FROM ev WHERE ts < TIMESTAMP '2024-01-25'
        |GROUP BY event_type
        |UNION ALL
        |SELECT 1::BIGINT AS batch, event_type, count(*)::BIGINT AS n,
        |       round(sum(cents * 2 * length(event_type)) / 100.0, 2) + 0.0 AS weighted_value
        |FROM ev WHERE ts >= TIMESTAMP '2024-01-25'
        |GROUP BY event_type
        |ORDER BY batch, event_type""".stripMargin,
    // q136's merged-snapshot oracle verbatim — streaming convergence to
    // the batch MERGE is the invariant (batch-count-invariant: at most
    // one change op per key)
    "q238_stream_cdc_apply" -> (graft.queries.LakehouseQueries.oracleMergeCtes +
      """
        |SELECT k AS o_orderkey, v AS o_totalprice FROM m ORDER BY k""".stripMargin),
    // q190's direct register chain over ALL events — the streamed
    // base⊕delta max-merge must land on the identical registers (the
    // self-maintenance invariant, sketch edition)
    "q240_stream_sketch_mv" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |b AS (
        |  SELECT event_type, h // 281474976710656 AS bucket,
        |         h % 281474976710656 AS w
        |  FROM h),
        |r AS (
        |  SELECT event_type, bucket,
        |         max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS reg
        |  FROM b GROUP BY event_type, bucket),
        |s AS (
        |  SELECT event_type,
        |         (sum(1::BIGINT << (49 - reg))
        |            + (4096 - count(*)) * 562949953421312)::BIGINT AS s,
        |         (4096 - count(*))::BIGINT AS v
        |  FROM r GROUP BY event_type),
        |e0 AS (
        |  SELECT event_type, v,
        |         0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
        |           * 562949953421312.0 / s::DOUBLE AS raw
        |  FROM s),
        |est AS (
        |  SELECT event_type,
        |         CASE WHEN raw <= 2.5 * 4096.0 AND v > 0
        |              THEN 4096.0 * ln(4096.0 / v) ELSE raw END AS est
        |  FROM e0),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT est.event_type, round(est.est, 4) + 0.0 AS est_distinct,
        |       ex.exact_distinct
        |FROM est JOIN ex USING (event_type)
        |ORDER BY est.event_type""".stripMargin,
    // the full recompute — equality with the streamed base⊕delta merge
    // IS the self-maintainability invariant (q150's oracle, streaming
    // edition; batch-count-invariant, see the query doc)
    "q166_stream_mv_maintenance" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |       round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS sum_value,
        |       round(min(value), 2) + 0.0 AS min_value,
        |       round(max(value), 2) + 0.0 AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q60's gaps-and-islands sessionization PLUS the append-mode
    // watermark finalization rule: only sessions whose close
    // (last event + gap) is at or before the final watermark
    // (max event time, 0 s delay) have been emitted by the drain
    "q100_sql_session_stream" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value)
        |                   >= INTERVAL 5 MINUTES THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |x AS (
        |  SELECT min(ts) AS session_start, max(ts) AS session_last, user_id,
        |         count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY user_id, sess)
        |SELECT session_start, user_id, n, sum_value
        |FROM x
        |WHERE session_last + INTERVAL 5 MINUTES <= (SELECT max(ts) FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    // the interval-union sweep: per user in (ts, value) order a session
    // breaks exactly when ts >= the running max of all preceding
    // interval ends (ts+gap); append-mode finalization = session end
    // (max ts+gap over members) at or before the final watermark
    "q146_dynamic_gap_sessions" ->
      """WITH g0 AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN event_type = 'click' THEN INTERVAL 3 MINUTES
        |              ELSE INTERVAL 7 MINUTES END AS gap
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, value, gap,
        |         max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, value
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM g0),
        |s0 AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR ts >= pmax THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |s AS (
        |  SELECT user_id, ts, value, gap,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM s0),
        |x AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts + gap) AS session_end,
        |         count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY user_id, sess)
        |SELECT session_start, user_id, n, sum_value
        |FROM x
        |WHERE session_end <= (SELECT max(ts) FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "q58_window_tumbling" ->
      """SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type,
        |       count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q111's buckets under the MIN-watermark finalization: the global
    // watermark is the minimum of the two branch frontiers (max ts of
    // the even / odd event_id halves), so the buckets between the
    // slower frontier and the overall max are withheld — the semantic
    // the row exists to pin
    "q154_stream_union_windows" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type, value
        |  FROM events),
        |m AS (SELECT least(
        |        (SELECT max(ts) FROM events WHERE event_id % 2 = 0),
        |        (SELECT max(ts) FROM events WHERE event_id % 2 = 1)) AS mx)
        |SELECT w_start, event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM b CROSS JOIN m
        |WHERE w_start + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    // q58's buckets with NO finalization cut: update mode emits every
    // touched bucket in the (asserted) single batch — the q111 contrast
    "q149_update_mode_windows" ->
      """SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type,
        |       count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q58's buckets under the append-mode finalization rule: a bucket
    // has emitted only if the final watermark (max event time, 0 s
    // delay) is at or past its end
    // the book protocol replayed blind to the stateful operator: last
    // reset clears, last-write-wins per (side, price) above it,
    // zero-size deletes; monotone seqs ⇒ every update applies, so
    // n_updates = the market's row count
    "q228_order_book_rebuild" ->
      """WITH u AS (
        |  SELECT event_id AS seq,
        |         'MKT' || (user_id % 4)::VARCHAR AS market,
        |         (event_id % 101 = 0) AS reset,
        |         CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
        |         (floor(value * 100.0 + 0.5)::BIGINT % 512 + 1)::DOUBLE / 4.0 AS price,
        |         (event_id % 17)::DOUBLE / 2.0 AS size
        |  FROM events),
        |lr AS (
        |  SELECT market,
        |         coalesce(max(CASE WHEN reset THEN seq END), -1)::BIGINT AS rs
        |  FROM u GROUP BY market),
        |lvl AS (
        |  SELECT u.market, u.side, u.price, u.size,
        |         row_number() OVER (PARTITION BY u.market, u.side, u.price
        |                            ORDER BY u.seq DESC) AS rn
        |  FROM u JOIN lr USING (market)
        |  WHERE NOT u.reset AND u.seq > lr.rs),
        |live AS (
        |  SELECT market, side, price FROM lvl WHERE rn = 1 AND size <> 0),
        |cnt AS (SELECT market, count(*)::BIGINT AS n_updates FROM u GROUP BY market)
        |SELECT c.market, c.n_updates,
        |       max(CASE WHEN l.side = 'bid' THEN l.price END) AS best_bid,
        |       min(CASE WHEN l.side = 'ask' THEN l.price END) AS best_ask,
        |       sum(CASE WHEN l.side = 'bid' THEN 1 ELSE 0 END)::BIGINT AS bid_depth,
        |       sum(CASE WHEN l.side = 'ask' THEN 1 ELSE 0 END)::BIGINT AS ask_depth
        |FROM cnt c LEFT JOIN live l USING (market)
        |GROUP BY c.market, c.n_updates
        |ORDER BY c.market""".stripMargin,
    // q226's exact tape arithmetic under the q111 append finalization
    // q314's ordered first/last arithmetic under the append
    // finalization predicate — the cross-batch extremum-merge gate
    "q345_stream_ohlcv" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |ev AS (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, event_type,
        |         epoch_us(ts) AS us, event_id,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT w_start, event_type,
        |       first(cents ORDER BY us, event_id)::DOUBLE / 100.0 AS open,
        |       max(cents)::DOUBLE / 100.0 AS high,
        |       min(cents)::DOUBLE / 100.0 AS low,
        |       last(cents ORDER BY us, event_id)::DOUBLE / 100.0 AS close,
        |       count(*)::BIGINT AS n,
        |       sum(cents)::DOUBLE / 100.0 AS turnover
        |FROM ev CROSS JOIN m
        |WHERE w_start + INTERVAL 1 HOUR <= m.mx
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    "q227_stream_microstructure" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |t AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start,
        |         floor(value * 100.0 + 0.5)::BIGINT AS p,
        |         (event_id % 7 + 1)::BIGINT AS q,
        |         (event_id % 2)::BIGINT AS side
        |  FROM events)
        |SELECT w_start, count(*)::BIGINT AS n_trades, sum(q)::BIGINT AS volume,
        |       round(sum(p * q)::DOUBLE / sum(q)::DOUBLE / 100.0, 6) + 0.0 AS vwap,
        |       round((sum(CASE WHEN side = 0 THEN q ELSE 0 END)
        |              - sum(CASE WHEN side = 1 THEN q ELSE 0 END))::DOUBLE
        |             / (sum(CASE WHEN side = 0 THEN q ELSE 0 END)
        |                + sum(CASE WHEN side = 1 THEN q ELSE 0 END))::DOUBLE, 6)
        |         + 0.0 AS imbalance
        |FROM t CROSS JOIN m
        |WHERE w_start + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    // batch interval join + the window census under the JOIN-DELAYED
    // frontier: least of the branch maxima (the q154 device) MINUS the
    // join's 6 h buffering range — Spark's post-join watermark rule
    "q208_join_then_window" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.purchase_ts, c.click_ts
        |  FROM p JOIN c ON p.user_id = c.click_user
        |   AND c.click_ts >= p.purchase_ts - INTERVAL 6 HOUR
        |   AND c.click_ts <= p.purchase_ts),
        |m AS (
        |  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        |               (SELECT max(ts) FROM events WHERE event_type = 'click'))
        |           - INTERVAL 6 HOUR AS wm),
        |b AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTES, purchase_ts) AS w_start,
        |         purchase_ts, click_ts
        |  FROM j)
        |SELECT w_start, count(*)::BIGINT AS n_pairs,
        |       sum(CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
        |                THEN 1 ELSE 0 END)::BIGINT AS n_near
        |FROM b CROSS JOIN m
        |WHERE w_start + INTERVAL 30 MINUTES <= m.wm
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    // q190's full register replay, windowed: distinct hashes per CLOSED
    // window, exact-integer harmonic sum, identical estimate chain
    "q201_stream_distinct" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |e AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, user_id
        |  FROM events CROSS JOIN m
        |  WHERE time_bucket(INTERVAL 5 MINUTES, ts) + INTERVAL 5 MINUTES <= m.mx),
        |h AS (
        |  SELECT DISTINCT w_start,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM e),
        |b AS (
        |  SELECT w_start, h // 281474976710656 AS bucket,
        |         h % 281474976710656 AS w
        |  FROM h),
        |r AS (
        |  SELECT w_start, bucket,
        |         max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS reg
        |  FROM b GROUP BY w_start, bucket),
        |s AS (
        |  SELECT w_start,
        |         (sum(1::BIGINT << (49 - reg))
        |            + (4096 - count(*)) * 562949953421312)::BIGINT AS s,
        |         (4096 - count(*))::BIGINT AS v
        |  FROM r GROUP BY w_start),
        |e0 AS (
        |  SELECT w_start, v,
        |         0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
        |           * 562949953421312.0 / s::DOUBLE AS raw
        |  FROM s),
        |est AS (
        |  SELECT w_start,
        |         CASE WHEN raw <= 2.5 * 4096.0 AND v > 0
        |              THEN 4096.0 * ln(4096.0 / v) ELSE raw END AS est
        |  FROM e0),
        |n AS (
        |  SELECT w_start, count(*)::BIGINT AS n_events FROM e GROUP BY w_start)
        |SELECT est.w_start, round(est.est, 4) + 0.0 AS est_users, n.n_events
        |FROM est JOIN n USING (w_start) ORDER BY est.w_start""".stripMargin,
    // the heap must equal the plain window top-3 over CLOSED windows —
    // same total order (value desc, event_id asc), same finalization
    "q200_stream_topk" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |b AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start,
        |         event_type, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT w_start, event_type, event_id, value,
        |         row_number() OVER (PARTITION BY w_start, event_type
        |                            ORDER BY value DESC, event_id ASC) AS rn
        |  FROM b CROSS JOIN m
        |  WHERE w_start + INTERVAL 5 MINUTES <= m.mx)
        |SELECT w_start, event_type, rn::BIGINT AS rn, event_id,
        |       round(value, 2) + 0.0 AS value
        |FROM r WHERE rn <= 3
        |ORDER BY w_start, event_type, rn""".stripMargin,
    // blind replay of the two-watermark protocol: batch-3 rows kept iff
    // their window end clears the batch-1 watermark (the value the
    // engine filters batch 3 with AND evicted batch-1 windows with —
    // drops and no-duplication certified by one census equality),
    // finalized under the global watermark; same cents and rounding
    "q257_watermark_drops" -> q257OracleSql,
    // q278 = q257's schedule killed-and-resumed: exactly-once recovery
    // means the protocol outcome must be IDENTICAL to the uninterrupted
    // drain, so the same blind replay gates it (a lost watermark, lost
    // state, skipped batch, or double-applied batch all break equality)
    "q278_checkpoint_recovery" -> q257OracleSql,
    // the PLAIN full-data census — late batch included; complete mode
    // keeps everything, so any drop or eviction would break equality
    "q277_complete_mode_no_drop" ->
      """SELECT time_bucket(INTERVAL 6 HOURS, ts) AS w_start,
        |       event_type, count(*)::BIGINT AS n,
        |       sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0
        |         AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin,
    // the probed protocol stated blindly (check-then-evict: a live
    // state entry suppresses regardless of expiry; state stores the
    // FIRST ts and is evicted at batch END under the in-effect wm;
    // the late filter uses the PREVIOUS batch's wm — SPARK-40925's
    // two-watermark rule on the dedup operator): E0 = batch-1 keys;
    // E1 = post keys absent from E0 (present ones are suppressed by
    // still-checked state); E2 = held survivors of the lagged filter
    // whose earlier state was already evicted
    "q275_dedup_readmission" ->
      """WITH b0 AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25' AND NOT (event_id % 5 = 0
        |     OR ts >= TIMESTAMP '2024-01-25' - INTERVAL 1 HOUR)),
        |post AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-25'),
        |heldr AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25' AND (event_id % 5 = 0
        |     OR ts >= TIMESTAMP '2024-01-25' - INTERVAL 1 HOUR)),
        |wm1 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM b0),
        |e0 AS (
        |  SELECT user_id, event_type, min(ts) AS fst0 FROM b0 GROUP BY 1, 2),
        |e1 AS (
        |  SELECT p.user_id, p.event_type
        |  FROM post p LEFT JOIN e0 USING (user_id, event_type)
        |  WHERE e0.fst0 IS NULL
        |  GROUP BY 1, 2),
        |surv AS (
        |  SELECT h.user_id, h.event_type
        |  FROM heldr h CROSS JOIN wm1 WHERE h.ts >= wm1.w
        |  GROUP BY 1, 2),
        |e2 AS (
        |  SELECT s.user_id, s.event_type
        |  FROM surv s
        |  LEFT JOIN e0 USING (user_id, event_type)
        |  LEFT JOIN e1 USING (user_id, event_type)
        |  CROSS JOIN wm1
        |  WHERE (e0.fst0 IS NULL OR e0.fst0 + INTERVAL 10 MINUTE < wm1.w)
        |    AND e1.user_id IS NULL)
        |SELECT user_id, event_type FROM e0
        |UNION ALL SELECT user_id, event_type FROM e1
        |UNION ALL SELECT user_id, event_type FROM e2
        |ORDER BY user_id, event_type""".stripMargin,
    // the two-phase replay stated blindly: phase-1 sessions emitted
    // under wm₁ = max pre-cut ts; survivors re-sessionized WITH the
    // post-cut events under the final watermark — fragmentation and
    // straddler merges fall out, never from peeking at the engine
    "q274_session_merge_protocol" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
        |  FROM events),
        |cut AS (
        |  SELECT max(ts) + INTERVAL 1 MICROSECOND AS cut
        |  FROM (SELECT ts, lead(ts) OVER (PARTITION BY user_id
        |          ORDER BY ts) AS nxt FROM e)
        |  WHERE nxt < ts + INTERVAL 5 MINUTES),
        |wm1 AS (SELECT max(ts) AS w FROM e CROSS JOIN cut WHERE ts < cut),
        |g1 AS (
        |  SELECT e.*,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, vc) >= INTERVAL 5 MINUTES
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e CROSS JOIN cut WHERE ts < cut),
        |s1 AS (
        |  SELECT g1.*,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, vc
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g1),
        |x1 AS (
        |  SELECT user_id, sess, min(ts) AS session_start,
        |         max(ts) + INTERVAL 5 MINUTES AS session_end,
        |         count(*)::BIGINT AS n, sum(vc)::BIGINT AS sc,
        |         max(ts) AS last_ts
        |  FROM s1 GROUP BY user_id, sess),
        |emitted1 AS (
        |  SELECT session_start, session_end, user_id, n, sc
        |  FROM x1 CROSS JOIN wm1 WHERE last_ts + INTERVAL 5 MINUTES <= w),
        |phase2ev AS (
        |  SELECT s1.user_id, s1.ts, s1.vc
        |  FROM s1 JOIN x1 USING (user_id, sess) CROSS JOIN wm1
        |  WHERE x1.last_ts + INTERVAL 5 MINUTES > w
        |  UNION ALL
        |  SELECT user_id, ts, vc FROM e CROSS JOIN cut WHERE ts >= cut),
        |g2 AS (
        |  SELECT phase2ev.*,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, vc) >= INTERVAL 5 MINUTES
        |              THEN 1 ELSE 0 END AS brk
        |  FROM phase2ev),
        |s2 AS (
        |  SELECT g2.*,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, vc
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g2),
        |x2 AS (
        |  SELECT user_id, sess, min(ts) AS session_start,
        |         max(ts) + INTERVAL 5 MINUTES AS session_end,
        |         count(*)::BIGINT AS n, sum(vc)::BIGINT AS sc,
        |         max(ts) AS last_ts
        |  FROM s2 GROUP BY user_id, sess),
        |emitted2 AS (
        |  SELECT session_start, session_end, user_id, n, sc
        |  FROM x2 WHERE last_ts + INTERVAL 5 MINUTES <= (SELECT max(ts) FROM e))
        |SELECT session_start, session_end, user_id, n, sc / 100.0 AS sum_value
        |FROM (SELECT * FROM emitted1 UNION ALL SELECT * FROM emitted2)
        |ORDER BY user_id, session_start, n""".stripMargin,
    // the join protocol stated blindly: matches = pairs whose purchase
    // survived its batch's lagged late filter; null rows = never-
    // validly-matched clicks whose 10-min window closed under the
    // final min-of-sources watermark; clicks inside it emit nothing
    "q269_outer_join_null_protocol" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id AS cu, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS pu, ts AS purchase_ts,
        |         CASE WHEN event_id % 5 = 0 AND ts < TIMESTAMP '2024-01-25' THEN 3
        |              WHEN ts < TIMESTAMP '2024-01-25' THEN 1 ELSE 2 END AS b
        |  FROM events WHERE event_type = 'purchase'),
        |lm AS (
        |  SELECT max(CASE WHEN click_ts < TIMESTAMP '2024-01-25'
        |                  THEN click_ts END) AS l1,
        |         max(click_ts) AS l2
        |  FROM c),
        |rm AS (
        |  SELECT max(CASE WHEN b = 1 THEN purchase_ts END) AS r1,
        |         max(CASE WHEN b <= 2 THEN purchase_ts END) AS r2
        |  FROM p),
        |wm AS (
        |  SELECT least(l1, r1) - INTERVAL 10 MINUTE AS wm1,
        |         least(l2, r2) - INTERVAL 10 MINUTE AS wm2
        |  FROM lm CROSS JOIN rm),
        |cs AS (
        |  SELECT c.* FROM c CROSS JOIN wm
        |  WHERE click_ts < TIMESTAMP '2024-01-25' OR click_ts >= wm1),
        |ps AS (
        |  SELECT p.* FROM p CROSS JOIN wm
        |  WHERE b = 1 OR (b = 2 AND purchase_ts >= wm1)
        |     OR (b = 3 AND purchase_ts >= wm2)),
        |m AS (
        |  SELECT click_id, cu AS user_id, click_ts, purchase_id, purchase_ts
        |  FROM cs JOIN ps ON cu = pu
        |   AND purchase_ts >= click_ts
        |   AND purchase_ts <= click_ts + INTERVAL 10 MINUTE)
        |SELECT * FROM m
        |UNION ALL
        |SELECT click_id, cu AS user_id, click_ts,
        |       NULL::BIGINT AS purchase_id, NULL::TIMESTAMP AS purchase_ts
        |FROM cs CROSS JOIN wm
        |WHERE click_id NOT IN (SELECT click_id FROM m)
        |  AND click_ts + INTERVAL 10 MINUTE < wm2
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the three update-mode emission sets stated blindly: history
    // censuses, head censuses, and straddler groups re-emitted with
    // merged counts (groups = windows clearing the lagged watermark)
    "q259_update_reemission" ->
      """WITH e AS (
        |  SELECT event_id, ts, event_type,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b1 AS (
        |  SELECT * FROM e
        |  WHERE NOT (event_id % 5 = 0 AND ts < TIMESTAMP '2024-01-25')
        |    AND ts < TIMESTAMP '2024-01-25'),
        |b2 AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-25'),
        |b3 AS (
        |  SELECT * FROM e
        |  WHERE event_id % 5 = 0 AND ts < TIMESTAMP '2024-01-25'),
        |w1 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM b1),
        |k3 AS (
        |  SELECT b3.* FROM b3 CROSS JOIN w1
        |  WHERE time_bucket(INTERVAL 5 MINUTES, b3.ts) + INTERVAL 5 MINUTES > w1.wm),
        |e0 AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type,
        |         count(*)::BIGINT AS n,
        |         round(sum(cents) / 100.0, 2) + 0.0 AS sum_value
        |  FROM b1 GROUP BY 1, 2),
        |e1 AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type,
        |         count(*)::BIGINT AS n,
        |         round(sum(cents) / 100.0, 2) + 0.0 AS sum_value
        |  FROM b2 GROUP BY 1, 2),
        |touched AS (
        |  SELECT DISTINCT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type
        |  FROM k3),
        |e2 AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, u.ts) AS w_start, u.event_type,
        |         count(*)::BIGINT AS n,
        |         round(sum(u.cents) / 100.0, 2) + 0.0 AS sum_value
        |  FROM (SELECT ts, event_type, cents FROM b1
        |        UNION ALL SELECT ts, event_type, cents FROM k3) u
        |  JOIN touched t
        |    ON time_bucket(INTERVAL 5 MINUTES, u.ts) = t.w_start
        |   AND u.event_type = t.event_type
        |  GROUP BY 1, 2)
        |SELECT * FROM e0
        |UNION ALL SELECT * FROM e1
        |UNION ALL SELECT * FROM e2
        |ORDER BY w_start, event_type, n""".stripMargin,
    "q111_sql_tumbling_stream" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w_start, event_type, value
        |  FROM events),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT w_start, event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM b CROSS JOIN m
        |WHERE w_start + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    // the batch cascade mirror of the chained stateful pipeline: exact
    // per-minute partials (INCLUDING the per-minute 2-dp round — the
    // rollup sums the rounded values, as the stream does), then the
    // 5-minute re-agg, finalized under w5_end <= max(ts)
    "q139_chained_window_agg" ->
      """WITH w1 AS (
        |  SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS w1s, event_type,
        |         count(*) AS n, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT time_bucket(INTERVAL 5 MINUTES, w1s) AS w_start, event_type,
        |       count(*)::BIGINT AS n_minutes, sum(n)::BIGINT AS n_events,
        |       round(sum(v), 2) AS sum_value
        |FROM w1 CROSS JOIN m
        |WHERE time_bucket(INTERVAL 5 MINUTES, w1s) + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q59's covering-window expansion under the append-mode finalization
    // rule: a 10-minute window has emitted only if the final watermark
    // (max event time, 0 s delay) is at or past its END.
    "q125_sql_sliding_stream" ->
      """WITH x AS (
        |  SELECT u.w_start, event_type, value
        |  FROM (SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS b, event_type, value FROM events) e,
        |       unnest([e.b, e.b - INTERVAL 5 MINUTES]) AS u(w_start)),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT w_start, event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM x CROSS JOIN m
        |WHERE w_start + INTERVAL 10 MINUTES <= m.mx
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    // q130's fold oracle + the threshold WHERE: on a single-batch drain
    // the crossing test collapses to final-balance >= t (prev = 0 state)
    "q132_balance_alerts" ->
      """WITH o AS (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ls AS (SELECT user_id, max(rn) AS srn FROM o WHERE event_type = 'signup' GROUP BY user_id),
        |b AS (
        |  SELECT o.user_id, count(*)::BIGINT AS n_events,
        |         sum(CASE WHEN ls.srn IS NULL AND o.event_type <> 'signup' THEN o.value
        |                  WHEN o.rn = ls.srn THEN o.value
        |                  WHEN o.rn > ls.srn AND o.event_type <> 'signup' THEN o.value
        |                  ELSE 0 END) AS balance
        |  FROM o LEFT JOIN ls USING (user_id)
        |  GROUP BY o.user_id)
        |SELECT user_id, n_events, round(balance, 2) + 0.0 AS balance
        |FROM b WHERE balance >= 500 ORDER BY user_id""".stripMargin,
    // the snapshot-or-delta fold replayed set-wise: balance =
    // value(last signup) + later non-signup deltas (no signup ⇒ plain
    // sum); sequential-fold vs set-sum ulp noise absorbed by round 2
    "q130_running_balance" -> q130OracleSql,
    // the SAME fold on the transformWithState/RocksDB path — one oracle,
    // two APIs; a backend divergence flips exactly one row
    "q130b_running_balance_tws" -> q130OracleSql,
    // last-3 values per user (ts desc, event_id desc), pivoted to
    // nullable scalars; raw copied doubles — bit-exact
    "q133_recent_values_tws" ->
      """WITH o AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id,
        |       max(CASE WHEN rn = 1 THEN value END) AS v1,
        |       max(CASE WHEN rn = 2 THEN value END) AS v2,
        |       max(CASE WHEN rn = 3 THEN value END) AS v3
        |FROM o WHERE rn <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the MapState census is a plain (user, type) count
    "q134_type_counts_tws" ->
      """SELECT user_id, event_type, count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // strict-gap (>) gaps-and-islands + the timeout finalization
    // predicate (a session emits iff the final watermark reached
    // last_ts + gap; supersession implies it, so one WHERE covers both
    // emission paths)
    "q129_stateful_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL 5 MINUTES THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |x AS (
        |  SELECT user_id, count(*)::BIGINT AS n_events, max(ts) AS last_ts
        |  FROM s GROUP BY user_id, sess)
        |SELECT user_id, n_events, last_ts
        |FROM x
        |WHERE last_ts + INTERVAL 5 MINUTES <= (SELECT max(ts) FROM events)
        |ORDER BY user_id, last_ts""".stripMargin,
    // the enrichment join replayed in batch + q111's finalization rule
    // on the post-join buckets (only windows whose END the final
    // watermark passed have been emitted by the drain)
    // q127's missing-key half: LEFT JOIN against the thinned dim,
    // unmatched events coalesce into the explicit UNKNOWN bucket;
    // same append finalization cut
    "q185_stream_static_outer" ->
      """WITH d AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) NOT IN ('0','1','2','3')),
        |b AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, e.ts) AS w_start,
        |         coalesce(d.c_mktsegment, 'UNKNOWN') AS segment, e.value
        |  FROM events e LEFT JOIN d ON e.user_id = d.c_custkey),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT w_start, segment, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM b CROSS JOIN m
        |WHERE w_start + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY w_start, segment ORDER BY w_start, segment""".stripMargin,
    "q127_stream_static_window" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, e.ts) AS w_start, c.c_mktsegment, e.value
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT w_start, c_mktsegment, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM b CROSS JOIN m
        |WHERE w_start + INTERVAL 5 MINUTES <= m.mx
        |GROUP BY w_start, c_mktsegment ORDER BY w_start, c_mktsegment""".stripMargin,
    // single-batch AvailableNow drain ⇒ the within-watermark dedup window
    // spans the whole input, and because the dedup key IS the output
    // projection the surviving-row ambiguity vanishes: exact DISTINCT.
    "q126_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |       date_trunc('minute', ts) AS ts_min
        |FROM events
        |ORDER BY user_id, event_type, ts_min""".stripMargin,
    // Sliding window = each event belongs to the two 5-min-aligned
    // 10-min windows covering it: starts b and b-5min for b = bucket(ts).
    "q59_window_sliding" ->
      """WITH x AS (
        |  SELECT u.w_start, event_type, value
        |  FROM (SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS b, event_type, value FROM events) e,
        |       unnest([e.b, e.b - INTERVAL 5 MINUTES]) AS u(w_start))
        |SELECT w_start, event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Session windows via gaps-and-islands: a new session starts when the
    // gap from the previous event of the same user is >= 5 minutes
    // (Spark's session_window closes at start + gap, exclusive end).
    "q60_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value)
        |                   >= INTERVAL 5 MINUTES THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g)
        |SELECT min(ts) AS session_start, user_id, count(*)::BIGINT AS n,
        |       round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,
    // plain interval join — watermarks only bound STATE, never results
    "q62_stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |       c.ts AS click_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 6 HOURS AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // the EXISTS form of q62: one row per attributed purchase
    "q141_stream_stream_semi" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |WHERE EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts BETWEEN p.ts - INTERVAL 6 HOURS AND p.ts)
        |ORDER BY purchase_id""".stripMargin,
    "q64_stream_stream_outer" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |       c.ts AS click_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 6 HOURS AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q119_stream_stream_full" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       coalesce(p.user_id, c.user_id) AS user_id,
        |       c.ts AS click_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 6 HOURS AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin
  )
}
