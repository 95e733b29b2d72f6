package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** Typed event record for streaming pipelines — mirrors the `events`
  * fixture schema (FIXTURES.md) and, shape-wise, the reference's record
  * model: keyed, timestamped, with an opaque JSON payload
  * (`/root/reference/src/kafka_producer.cpp:36-52`).
  */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Running per-user account state: the order-book-rebuild semantic from
  * the reference (`/root/reference/README.md:45-51` — a lossy delta
  * stream resynchronized by periodic snapshots): `signup` events are
  * snapshots (state := value), everything else is a delta (state +=
  * value).
  */
case class UserRunning(user_id: Long, n_events: Long, balance: Double)

/** Arbitrary-state streaming operators (SURVEY.md §2B "arbitrary state"
  * row) via `mapGroupsWithState` — keyed state lives in the state store
  * (RocksDB-backed at production scale), partitioned by the grouping
  * key; each micro-batch touches only keys with new data.
  */
object StatefulOps {

  /** Fold one batch of events (ordered by ts, then event_id — the
    * iterator order inside a group is NOT guaranteed by the engine) into
    * the running state. Snapshot-or-delta per the reference's protocol.
    */
  def fold(prev: UserRunning, events: Iterator[Event]): UserRunning =
    events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(prev) { (s, e) =>
      val bal = if (e.event_type == "signup") e.value else s.balance + e.value
      UserRunning(e.user_id, s.n_events + 1, bal)
    }

  /** Streaming running enrichment: emits the post-batch state of every
    * key that received events (update output mode). The emitted
    * `n_events` is monotonically increasing per key, so downstream (and
    * tests) can identify the latest row without a batch-id column.
    */
  def runningBalance(events: Dataset[Event]): Dataset[UserRunning] = {
    implicit val outEnc = Encoders.product[UserRunning]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(key, 0L, 0.0))
          val next = fold(prev, it)
          state.update(next)
          next
      }
  }

  /** Threshold-crossing alerts via `flatMapGroupsWithState` (the 0..n
    * rows-per-group shape `mapGroupsWithState` can't express): emits the
    * state exactly when a user's running balance first crosses
    * `threshold` upward within a batch, nothing otherwise. The alert
    * fires per BATCH-boundary observation — the streaming-native
    * semantic (state is only observable at batch ends), which the spec's
    * chunk-by-chunk reference mirrors.
    */
  def balanceAlerts(events: Dataset[Event], threshold: Double): Dataset[UserRunning] = {
    implicit val outEnc = Encoders.product[UserRunning]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(key, 0L, 0.0))
          val next = fold(prev, it)
          state.update(next)
          if (prev.balance < threshold && next.balance >= threshold) Iterator.single(next)
          else Iterator.empty
      }
  }

  /** One closed idle session per user: event count + last-seen ts. */
  case class SessionClose(user_id: Long, n_events: Long, last_ts: java.sql.Timestamp)

  /** The session split both close-out APIs share: fold one key's batch
    * (ordered by ts, then event_id) into its open session (`open`, null
    * when there is none), closing the session whenever the event-time gap
    * to the next event exceeds `gapMs`. Returns the sessions this batch
    * closed and the one left open.
    *
    * Sessions split on EVENT-TIME gaps inside the handler, not only via
    * the timeout: a key with new data is invoked with no timeout firing
    * even when its idle gap already elapsed, so a returning user landing
    * in the same micro-batch the timeout would have fired in must still
    * close the stale session here — otherwise session boundaries would
    * depend on how the stream was chunked into batches.
    */
  private def splitSessions(key: Long, open: SessionClose, events: Iterator[Event],
      gapMs: Long): (List[SessionClose], SessionClose) = {
    val closed = scala.collection.mutable.ListBuffer.empty[SessionClose]
    var cur = open
    events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      cur match {
        case null =>
          cur = SessionClose(key, 1L, e.ts)
        case c if e.ts.getTime - c.last_ts.getTime > gapMs =>
          closed += c
          cur = SessionClose(key, 1L, e.ts)
        case c =>
          cur = SessionClose(key, c.n_events + 1,
            if (e.ts.after(c.last_ts)) e.ts else c.last_ts)
      }
    }
    (closed.toList, cur)
  }

  /** Idle-session close-out via `GroupStateTimeout.EventTimeTimeout` —
    * the state-EXPIRY shape for arbitrary keyed state (the reference's
    * idle-watchdog semantic, `wsclient.hpp:20-21`, applied to state
    * instead of a socket): when a user goes quiet for `gapMinutes` of
    * event time (watermark clock, not wall clock — replays behave
    * identically), the group fires exactly once with its closed-session
    * summary and the state is REMOVED. Without a timeout path, keyed
    * state only ever grows — the 100 TB failure mode of
    * `runningBalance`-style operators; this is the bounded-state
    * variant, and the spec proves removal by showing a returning user
    * starts a FRESH session.
    */
  def sessionCloseouts(events: Dataset[Event], gapMinutes: Int): Dataset[SessionClose] = {
    implicit val outEnc = Encoders.product[SessionClose]
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionClose, SessionClose](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[Event], state: GroupState[SessionClose]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            val gapMs = gapMinutes * 60000L
            val (closed, cur) = splitSessions(key, state.getOption.orNull, it, gapMs)
            state.update(cur)
            // fully-late rows never reach this function (the stateful
            // operator's watermark predicate drops them first — spec:
            // "drops fully-late rows"), so last+gap normally exceeds
            // the watermark; the clamp is defense-in-depth for
            // boundary rows (ts == watermark with a tiny gap), where
            // setTimeoutTimestamp would otherwise throw and kill the
            // query
            state.setTimeoutTimestamp(math.max(
              cur.last_ts.getTime + gapMs,
              state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  /** `runningBalance` on the Spark 4 `transformWithState` API — typed
    * state variables in a RocksDB-backed store (the production state
    * backend; `GraftSession` tests set the provider conf). Same
    * snapshot-or-delta semantics as the `mapGroupsWithState` version, so
    * the spec asserts both APIs converge to the identical final state.
    */
  class RunningBalanceProcessor
      extends StatefulProcessor[Long, Event, UserRunning] with RunningBalanceHandler

  /** The state and input handler both running-balance processors share. */
  trait RunningBalanceHandler extends StatefulProcessor[Long, Event, UserRunning] {
    @transient protected var state: org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val prev = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      val next = fold(prev, inputRows)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** `sessionCloseouts` on the Spark 4 `transformWithState` API — the
    * TIMER surface (`registerTimer`/`handleExpiredTimer`, event-time
    * mode) as the new-API equivalent of `EventTimeTimeout`: the
    * reference's idle-watchdog semantic (`wsclient.hpp:20-21`) expressed
    * as explicit per-key timers instead of the old implicit timeout
    * slot. Same session algebra as [[sessionCloseouts]] (strict-gap
    * split inside the handler, timer fire emits + CLEARS state), so the
    * spec asserts row-for-row parity between the two APIs under the
    * same chunking.
    */
  class SessionCloseoutProcessor(gapMinutes: Int)
      extends StatefulProcessor[Long, Event, SessionClose] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionClose] = _
    private val gapMs = gapMinutes * 60000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionClose]("session",
        Encoders.product[SessionClose], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionClose] = {
      val (closed, cur) = splitSessions(key, Option(state.get()).orNull, inputRows, gapMs)
      state.update(cur)
      // re-arm: the old API's setTimeoutTimestamp REPLACES the slot;
      // explicit timers accumulate, so drop the stale ones first
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      // same defense-in-depth clamp as sessionCloseouts: boundary rows
      // (ts == watermark, tiny gap) must not register an already-expired
      // timer
      getHandle.registerTimer(math.max(
        cur.last_ts.getTime + gapMs, timerValues.getCurrentWatermarkInMs() + 1))
      closed.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClose] = {
      val out = Option(state.get())
      state.clear()
      out.iterator
    }
  }

  /** `sessionCloseouts` via transformWithState event-time timers
    * (requires the RocksDB state store provider on the session).
    */
  def sessionCloseoutsTws(events: Dataset[Event], gapMinutes: Int): Dataset[SessionClose] = {
    implicit val outEnc = Encoders.product[SessionClose]
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionCloseoutProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Last-k event values per user, newest first. */
  case class RecentValues(user_id: Long, vals: Seq[Double])

  /** ListState on `transformWithState` — the VARIABLE-SIZE state shape
    * (a bounded recent-events buffer per key, the "last N ticks" window
    * a feed consumer keeps; ref analog: the reference's subscriber
    * holds only the latest book, `README.md:45-51` — here the retained
    * tail is explicit state). The buffer is truncated to k on EVERY
    * batch, so state is bounded by construction (k rows per key), and
    * the (ts desc, event_id desc) total order makes the kept set and
    * its order deterministic under any chunking.
    */
  class RecentValuesProcessor(k: Int) extends StatefulProcessor[Long, Event, RecentValues] {
    @transient private var state: org.apache.spark.sql.streaming.ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getListState[Event]("recent",
        Encoders.product[Event], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: TimerValues): Iterator[RecentValues] = {
      val merged = (state.get() ++ inputRows).toArray
        .sortBy(e => (-e.ts.getTime, -e.event_id)).take(k)
      state.put(merged)
      Iterator.single(RecentValues(key, merged.map(_.value).toSeq))
    }
  }

  /** `RecentValuesProcessor` as a streaming operator (requires the
    * RocksDB state store provider on the session). Update mode: one
    * post-batch row per touched key.
    */
  def recentValuesTws(events: Dataset[Event], k: Int): Dataset[RecentValues] = {
    implicit val outEnc = Encoders.product[RecentValues]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new RecentValuesProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-user per-event-type running count. */
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MapState on `transformWithState` — the KEYED-SUB-STATE shape (a
    * per-user counter map over event types; the reference analog is the
    * per-side price→size book map of §1.5, a map per stream key). Each
    * batch bumps only the touched sub-keys — at scale a point lookup +
    * write per event against RocksDB, never a full-map rewrite (the
    * reason MapState exists over a ValueState[Map]).
    */
  class TypeCountsProcessor extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var state: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCount] = {
      inputRows.foreach { e =>
        val cur = if (state.containsKey(e.event_type)) state.getValue(e.event_type) else 0L
        state.updateValue(e.event_type, cur + 1L)
      }
      // emit the full post-batch map (update-mode snapshot of this key)
      state.iterator().map { case (et, n) => TypeCount(key, et, n) }.toArray.iterator
    }
  }

  /** `TypeCountsProcessor` as a streaming operator (requires the RocksDB
    * state store provider on the session).
    */
  def typeCountsTws(events: Dataset[Event]): Dataset[TypeCount] = {
    implicit val outEnc = Encoders.product[TypeCount]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** `runningBalance` with INITIAL STATE on `transformWithState` — the
    * reference's snapshot-bootstrap directly (`README.md:45-51`: resync
    * from a periodic snapshot, then apply deltas): the first batch seeds
    * each key's state from a snapshot Dataset via `handleInitialState`,
    * and the same fold applies deltas on top. The spec proves the
    * bootstrapped stream equals the batch fold STARTED from the
    * snapshot, per key, under chunking.
    */
  class RunningBalanceProcessorWithInit
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, Event, UserRunning, UserRunning]
      with RunningBalanceHandler {
    override def handleInitialState(
        key: Long,
        initialState: UserRunning,
        timerValues: TimerValues): Unit =
      state.update(initialState)
  }

  /** `runningBalanceTws` bootstrapped from a snapshot Dataset (requires
    * the RocksDB state store provider on the session).
    */
  def runningBalanceTwsFrom(
      events: Dataset[Event], snapshot: Dataset[UserRunning]): Dataset[UserRunning] = {
    implicit val outEnc = Encoders.product[UserRunning]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new RunningBalanceProcessorWithInit,
        TimeMode.None(), OutputMode.Update(),
        snapshot.groupByKey(_.user_id)(Encoders.scalaLong))
  }

  /** `runningBalance` via transformWithState (requires the RocksDB state
    * store provider on the session).
    */
  def runningBalanceTws(events: Dataset[Event]): Dataset[UserRunning] = {
    implicit val outEnc = Encoders.product[UserRunning]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new RunningBalanceProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Batch reference for `runningBalance`: the same fold applied to the
    * complete (already collected) event list per user — what the
    * streaming query's final state must equal regardless of how the
    * stream was chunked into micro-batches.
    */
  def batchReference(events: Seq[Event]): Map[Long, UserRunning] =
    events.groupBy(_.user_id).map { case (u, es) =>
      u -> fold(UserRunning(u, 0L, 0.0), es.iterator)
    }

  /** Output mode `runningBalance` requires. */
  val runningBalanceOutputMode: OutputMode = OutputMode.Update()
}
