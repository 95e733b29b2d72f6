package graft.sources.websocket

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{CompletableFuture, CompletionStage, Executors, ScheduledExecutorService, TimeUnit}
import java.util.function.Supplier

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** WebSocket Structured Streaming source — the Spark re-expression of the
  * reference connector's entire read side (SURVEY.md §2A A1–A9):
  *
  *  - async read chain → a driver-side reader thread feeding a bounded
  *    buffer (`/root/reference/src/wsclient.hpp:205-238`);
  *  - subscribe-on-connect: `subscribeMessage` is written after EVERY
  *    successful (re)connect, inside the retry loop
  *    (`wsclient.hpp:144`);
  *  - reconnect-with-backoff: fixed `reconnectDelayMs`, default 5000 ms
  *    (`wsclient.hpp:22`, `wsclient.hpp:158-166`); frames lost while
  *    down are gone — a WebSocket is not replayable, and the app-level
  *    recovery is the periodic snapshot re-request, exactly the
  *    reference's semantics (§1.5);
  *  - drift-free interval messages: `intervalMessages` (`;`-separated)
  *    re-sent every `intervalMs` on a fixed-rate schedule
  *    (`interval_timer.hpp:33` advances deadline by the interval, which
  *    is `scheduleAtFixedRate`'s contract);
  *  - keepalive + idle watchdog (A7): the JDK WebSocket does NOT
  *    auto-ping, so a half-open connection (peer dead, no FIN) would
  *    hang silently until the TCP stack gives up. Like the reference's
  *    beast timeout option (`wsclient.hpp:20-21,141-142`: 10 s idle,
  *    auto-ping), a scheduled task pings every `idleTimeoutMs / 2` and
  *    aborts the connection into the reconnect loop when no frame OR
  *    pong has arrived within `idleTimeoutMs` (default 10 000 ms;
  *    `0` disables);
  *  - TLS/SNI/hostname verification come from the JDK client for wss://
  *    (`wsclient.cpp:32-54` hand-rolls what `HttpClient` does natively).
  *
  * Record schema `(key STRING, value STRING, ts TIMESTAMP)` per SURVEY.md
  * §1.1: fixed per-source key, opaque payload, processing-time timestamp
  * assigned at receipt (`kafka_producer.cpp:41-52`).
  *
  * Scale posture: ONE connection = one input partition per micro-batch,
  * like the reference's single-threaded read loop (`wsclient.hpp:40-53`).
  * Spark's own socket source does not do this: `TextSocketMicroBatchStream`
  * spreads each batch over `numPartitions` (`defaultParallelism`). Cutting
  * `ingest` batches into contiguous per-core slices was measured and gave
  * no gain (4 paired runs, `drain_fps` median ~44k on both sides), so the
  * batch stays one task in receipt order. Parallelism at 100 TB comes from
  * MANY source instances (one per feed) unioned, and from repartitioning
  * downstream of ingest.
  */
class WebSocketSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "websocket"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WebSocketSourceProvider.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WebSocketTable(new CaseInsensitiveStringMap(properties))
}

object WebSocketSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))
}

class WebSocketTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"websocket(${options.get("url")})"
  override def schema(): StructType = WebSocketSourceProvider.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WebSocketSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new WebSocketMicroBatchStream(opts)
      }
    }
}

/** Offset = cumulative count of frames received since query start. */
case class WsOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class WebSocketMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val url = Option(options.get("url")).getOrElse(
    throw new IllegalArgumentException("websocket source requires option 'url'"))
  private val recordKey = options.getOrDefault("key", "websocket_1")
  private val subscribeMessage = Option(options.get("subscribeMessage"))
  private val intervalMessages: Seq[String] =
    Option(options.get("intervalMessages")).map(_.split(";").toSeq).getOrElse(Nil)
  private val intervalMs = options.getLong("intervalMs", 10000L)
  private val reconnectDelayMs = options.getLong("reconnectDelayMs", 5000L)
  private val connectTimeoutMs = options.getLong("connectTimeoutMs", 2000L)
  private val idleTimeoutMs = options.getLong("idleTimeoutMs", 10000L)
  private val maxBufferRows = options.getInt("maxBufferRows", 1 << 20)
  private val maxRowsPerTrigger = options.getLong("maxRowsPerTrigger", 0L)

  // (value, receipt micros) — key is constant, attached at read time.
  private val buffer = ArrayBuffer.empty[(String, Long)]
  /** frames dropped before `buffer(0)` (commit-trimmed). */
  private var trimmed = 0L
  /** Whether this stream instance has served (or exposed) data yet.
    * Until then, EVERY `deserializeOffset` rebases the counter UPWARD to
    * the largest checkpoint offset seen: on restart Spark hands the
    * source the committed START first and the replayed batch's END
    * second (`MicroBatchExecution.runBatch` deserializes committed
    * offsets before available ones), and anchoring at the max of both
    * makes the replayed-but-uncommitted range [start, end) map to
    * nothing — those frames died with the old process — so the replayed
    * batch plans EMPTY and its `commit(end)` drops 0. Anchoring at the
    * FIRST offset (the committed start) instead would map fresh frames
    * into the replayed range: the batch would serve however many had
    * arrived by planning time, and commit(end) would then drop
    * `end - start` rows from the front — discarding frames received
    * while the query was UP that were never emitted. The window closes
    * at the first `latestOffset`/`planInputPartitions`, after which
    * checkpoint reads can no longer move the base. Frames lost while
    * the query was DOWN stay lost (non-replayable source, documented
    * §1.5 parity); frames received while UP are never dropped.
    */
  private var served = false
  @volatile private var running = true

  private val client = HttpClient.newHttpClient()
  @volatile private var currentWs: WebSocket = _

  private def record(msg: String): Unit = buffer.synchronized {
    if (buffer.size < maxBufferRows) // bounded: shed load rather than OOM the driver
      buffer += ((msg, System.currentTimeMillis() * 1000L))
  }

  private val timerFactory: Supplier[ScheduledExecutorService] =
    () => Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "ws-interval-timer"); t.setDaemon(true); t
    }

  /** Reader thread: connect → subscribe → pump frames → on close/error,
    * back off and reconnect — the reference's `Start()` loop
    * (`wsclient.hpp:132-168`) with the same unconditional retry.
    */
  private val reader = new Thread(() => {
    while (running) {
      var timer: ScheduledExecutorService = null
      try {
        val closed = new CompletableFuture[Unit]()
        // last frame-or-pong receipt, for the idle watchdog (A7)
        val lastActivity = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
        val listener = new WebSocket.Listener {
          private val partial = new StringBuilder
          override def onText(ws: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
            lastActivity.set(System.nanoTime())
            partial.append(data)
            if (last) { record(partial.toString); partial.setLength(0) }
            ws.request(1)
            null
          }
          override def onPong(ws: WebSocket, message: java.nio.ByteBuffer): CompletionStage[_] = {
            lastActivity.set(System.nanoTime())
            ws.request(1)
            null
          }
          override def onClose(ws: WebSocket, statusCode: Int, reason: String): CompletionStage[_] = {
            closed.complete(()); null
          }
          override def onError(ws: WebSocket, error: Throwable): Unit =
            closed.completeExceptionally(error)
        }
        val ws = client.newWebSocketBuilder()
          .buildAsync(URI.create(url), listener)
          .get(connectTimeoutMs, TimeUnit.MILLISECONDS)
        currentWs = ws
        // subscribe-on-connect, INSIDE the retry loop (wsclient.hpp:144)
        subscribeMessage.foreach(m => ws.sendText(m, true).get(connectTimeoutMs, TimeUnit.MILLISECONDS))
        if (intervalMessages.nonEmpty || idleTimeoutMs > 0) {
          timer = timerFactory.get()
          if (intervalMessages.nonEmpty)
            timer.scheduleAtFixedRate(
              () => intervalMessages.foreach { m =>
                // out-of-band write: fire-and-forget, log-and-continue on
                // error (wsclient.hpp:170-182)
                try ws.sendText(m, true) catch { case _: Throwable => }
              },
              intervalMs, intervalMs, TimeUnit.MILLISECONDS)
          if (idleTimeoutMs > 0) {
            // beast-parity keepalive (wsclient.hpp:141-142): ping at half
            // the idle budget; if neither a frame nor a pong lands within
            // the budget, the connection is half-open — abort it into the
            // reconnect loop instead of hanging forever.
            val half = math.max(1L, idleTimeoutMs / 2)
            timer.scheduleAtFixedRate(() => {
              val idleNanos = System.nanoTime() - lastActivity.get()
              if (idleNanos > idleTimeoutMs * 1000000L) {
                closed.completeExceptionally(
                  new java.io.IOException(s"websocket idle for > ${idleTimeoutMs} ms"))
                try ws.abort() catch { case _: Throwable => }
              } else {
                try ws.sendPing(java.nio.ByteBuffer.allocate(0)) catch { case _: Throwable => }
              }
            }, half, half, TimeUnit.MILLISECONDS)
          }
        }
        try closed.get()
        catch { case _: Exception if running => /* connection lost: fall through to backoff */ }
      } catch {
        case _: InterruptedException => // stop() interrupts the backoff sleep
        case _: Exception if running => // connect failed: backoff + retry
      } finally {
        if (timer != null) timer.shutdownNow()
        currentWs = null
      }
      if (running)
        try Thread.sleep(reconnectDelayMs) catch { case _: InterruptedException => () }
    }
  }, "ws-source-reader")
  reader.setDaemon(true)
  reader.start()

  /** Called only when no checkpoint exists — a fresh query anchors at 0. */
  override def initialOffset(): Offset = buffer.synchronized {
    served = true
    WsOffset(0L)
  }

  /** On restart, rebase the counter to the LARGEST checkpoint offset
    * deserialized before this instance first serves data (see `served`):
    * frames received by this fresh instance then map to offsets after
    * the checkpoint's frontier, a replayed-but-uncommitted batch plans
    * empty, and its commit drops nothing.
    */
  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    buffer.synchronized {
      if (!served && n > trimmed) {
        trimmed = n
        // On a RESTARTED AvailableNow run Spark pins the drain target
        // (prepareForTriggerAvailableNow, during logicalPlan init)
        // BEFORE it reads the checkpoint back through this method, so
        // the target was computed against the un-rebased counter
        // (trimmed = 0) and now sits BELOW the rebased frontier —
        // every batch would plan empty and the run would drain
        // nothing. Re-raise it to the rebased frontier so the restart
        // honors the same contract as a fresh start: drain what this
        // instance has received by query start, then stop.
        if (availableNowTarget >= 0)
          availableNowTarget = math.max(availableNowTarget, trimmed + buffer.size)
      }
    }
    WsOffset(n)
  }

  override def latestOffset(): Offset =
    buffer.synchronized { served = true; WsOffset(trimmed + buffer.size) }

  /** Admission control (A6/§4.1 restart story): a reconnect burst or a
    * slow consumer otherwise turns the whole backlog into ONE giant
    * micro-batch — the batch that OOMs after an outage. With
    * `maxRowsPerTrigger` set, the engine calls this bounded form and
    * the backlog drains as a sequence of bounded batches instead; left
    * unset, all available frames are admitted (the prior behavior).
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerTrigger > 0) ReadLimit.maxRows(maxRowsPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    buffer.synchronized {
      served = true
      val received = trimmed + buffer.size
      // AvailableNow pins the frontier at prepare time (drain-then-stop)
      val avail =
        if (availableNowTarget >= 0) math.min(received, availableNowTarget)
        else received
      // a rebased start can sit below `trimmed`; admit from the frontier
      val from = math.max(start.asInstanceOf[WsOffset].n, trimmed)
      val end = limit match {
        case m: ReadMaxRows => math.min(avail, from + m.maxRows())
        case _ => avail
      }
      WsOffset(math.max(from, end))
    }

  /** Metrics-only frontier: what is available, not what is admitted. */
  override def reportLatestOffset(): Offset =
    buffer.synchronized(WsOffset(trimmed + buffer.size))

  /** `Trigger.AvailableNow` on a live, non-replayable feed means "drain
    * what has been received, then stop": the frontier is pinned HERE,
    * at query start, and `latestOffset` never admits past it — frames
    * that land mid-drain stay buffered for the next run (they are not
    * lost, just not part of THIS run's contract). Composes with
    * `maxRowsPerTrigger`: the pinned backlog still drains as bounded
    * micro-batches.
    */
  @volatile private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit = buffer.synchronized {
    availableNowTarget = trimmed + buffer.size
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[WsOffset].n, end.asInstanceOf[WsOffset].n)
    val rows = buffer.synchronized {
      served = true
      val from = math.max(0, (s - trimmed).toInt)
      val until = math.max(from, math.min(buffer.size.toLong, e - trimmed).toInt)
      buffer.slice(from, until).toArray
    }
    if (rows.isEmpty) Array.empty
    else Array(WsInputPartition(recordKey, rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[WsInputPartition]
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < p.rows.length }
          override def get(): InternalRow = {
            val (v, micros) = p.rows(i)
            InternalRow(UTF8String.fromString(p.key), UTF8String.fromString(v), micros)
          }
          override def close(): Unit = ()
        }
      }
    }

  /** Drop frames at or below the committed offset — the buffer never
    * grows past one batch of uncommitted data plus new arrivals.
    */
  override def commit(end: Offset): Unit = buffer.synchronized {
    val upTo = end.asInstanceOf[WsOffset].n
    val drop = math.max(0, math.min(buffer.size.toLong, upTo - trimmed)).toInt
    buffer.remove(0, drop)
    trimmed += drop
  }

  /** Graceful shutdown: close the socket, stop the loop, let the last
    * batch drain (`main.cpp:42-46`, `wsclient.hpp:184-190`).
    */
  override def stop(): Unit = {
    running = false
    val ws = currentWs
    if (ws != null)
      try ws.sendClose(WebSocket.NORMAL_CLOSURE, "stop").get(1, TimeUnit.SECONDS)
      catch { case _: Exception => () }
    reader.interrupt()
  }
}

case class WsInputPartition(key: String, rows: Array[(String, Long)]) extends InputPartition
