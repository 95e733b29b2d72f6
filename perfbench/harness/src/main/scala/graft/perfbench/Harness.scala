package graft.perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.sources.kafkashape.KafkaShapedSink
import graft.streaming.{BookUpdate, OrderBook}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** JVM side of the benchmark. It runs one workload's streaming job inside
  * the engine and talks to `run.py` over stdin/stdout, one line each way:
  *
  *  - setup is done `--setups` times; cycle k prints `BEGIN k <ms>` (except
  *    the first, whose start is the process start) and, once the session is
  *    up and the query has finished its first (empty) trigger, `READY k <ms>`.
  *    `run.py` answers `NEXT` (stop the query and set up a new session and
  *    stream) or `RUN` (keep this query);
  *  - `STOP` stops the measured query; the harness then writes what it was
  *    asked to keep and prints `DONE`.
  *
  * Nothing is measured here except the setup cycle boundaries: latency,
  * drain rate and output checks come from the checkpoint and sink files,
  * read after the run. With `--trace 1` the harness also keeps Spark's
  * progress events and stage/job records in memory and writes them to
  * `events.json` at exit.
  */
object Harness {
  private val Topic = "book-events"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val url = opt("url")
    val dir = opt("dir")
    val trace = opt.getOrElse("trace", "0") == "1"
    val setups = opt.getOrElse("setups", "1").toInt
    val maxRows = opt("max-rows")
    val partitions = opt.getOrElse("partitions", "8").toInt
    val cores = opt("cores").toInt
    require(Set("ingest", "orderbook")(workload), s"unknown workload $workload")

    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    def say(line: String): Unit = { System.out.println(line); System.out.flush() }

    var spark: SparkSession = null
    var query: StreamingQuery = null
    var recorder: Recorder = null
    var k = 1
    var keep = false
    while (!keep) {
      if (k > 1) say(s"BEGIN $k ${System.currentTimeMillis()}")
      spark = GraftSession.local(cores)
      // keep every epoch's offsets/ and commits/ file: the metrics map each
      // frame to its epoch through them (Spark keeps only the last 100)
      spark.conf.set("spark.sql.streaming.minBatchesToRetain", Int.MaxValue.toString)
      val checkpoint = s"$dir/checkpoint-$k"
      val sink = s"$dir/sink-$k"
      query = workload match {
        case "ingest" => ingest(spark, url, maxRows, checkpoint, sink, partitions)
        case "orderbook" => orderbook(spark, url, maxRows, checkpoint, sink, partitions)
      }
      awaitIdle(query)
      query.exception.foreach(e => throw e)
      say(s"READY $k ${System.currentTimeMillis()}")
      in.readLine() match {
        case "RUN" =>
          keep = true
          if (trace) recorder = new Recorder(spark) // before any frame is sent
        case "NEXT" if k < setups =>
          // later set-ups build a new session (state, conf, extensions) on
          // the same SparkContext and a new stream: the work a restart of
          // the job repeats, without the JVM and context start-up
          query.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          k += 1
        case other => sys.error(s"unexpected command: $other")
      }
    }

    require(in.readLine() == "STOP", "expected STOP")
    query.stop()
    query.exception.foreach(e => throw e)
    if (workload == "orderbook") writeReference(spark, opt("input"), s"$dir/reference.jsonl")
    if (recorder != null) recorder.write(s"$dir/events.json")
    spark.stop()
    say("DONE")
  }

  /** Waits until the query's thread has initialized, connected and run
    * its first (empty) trigger, as its public status reports it. */
  private def awaitIdle(query: StreamingQuery): Unit =
    while (query.isActive &&
        !(query.status.message.startsWith("Waiting") && !query.status.isTriggerActive))
      Thread.sleep(2)

  private def source(spark: SparkSession, url: String, maxRows: String): DataFrame =
    spark.readStream.format("websocket")
      .option("url", url)
      .option("maxRowsPerTrigger", maxRows)
      .load()

  /** The reference connector's whole job: every frame, keyed and with its
    * receipt stamp carried as `recv_ts`, through the Kafka-shaped sink. */
  private def ingest(spark: SparkSession, url: String, maxRows: String,
      checkpoint: String, sink: String, partitions: Int): StreamingQuery =
    KafkaShapedSink.start(
      source(spark, url, maxRows).withColumnRenamed("ts", "recv_ts"),
      sink, checkpoint, topic = Some(Topic), numPartitions = partitions)

  /** Book deltas → top-of-book per market (update mode) → Kafka-shaped
    * records keyed by market. `KafkaShapedSink.start` has no output mode,
    * so the epoch writer is called from this update-mode `foreachBatch`. */
  private def orderbook(spark: SparkSession, url: String, maxRows: String,
      checkpoint: String, sink: String, partitions: Int): StreamingQuery = {
    import spark.implicits._
    val schema = Encoders.product[BookUpdate].schema
    val updates = source(spark, url, maxRows)
      .select(from_json(col("value"), schema).as("u"))
      .select("u.*").as[BookUpdate]
    val tops = OrderBook.topOfBook(updates).toDF()
    tops.select(col("market").as("key"),
        to_json(struct(tops.columns.map(col).toIndexedSeq: _*)).as("value"),
        lit(Topic).as("topic"))
      .writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        KafkaShapedSink.writeEpoch(batch, epoch, sink, partitions)
      }
      .start()
  }

  /** `OrderBook.batchReference` over every update the generator sent, one
    * JSON object per market (NaN written as the string "NaN"). */
  private def writeReference(spark: SparkSession, input: String, out: String): Unit = {
    import spark.implicits._
    val updates = spark.read.schema(Encoders.product[BookUpdate].schema)
      .json(input).as[BookUpdate].collect().toSeq
    val w = new PrintWriter(new File(out), "UTF-8")
    try OrderBook.batchReference(updates).values.toSeq.sortBy(_.market).foreach { t =>
      def d(x: Double) = if (x.isNaN) "\"NaN\"" else x.toString
      w.println(s"""{"market":"${t.market}","n_updates":${t.n_updates},""" +
        s""""best_bid":${d(t.best_bid)},"best_ask":${d(t.best_ask)},""" +
        s""""bid_depth":${t.bid_depth},"ask_depth":${t.ask_depth}}""")
    } finally w.close()
  }
}

/** Traced mode: keeps progress events and per-stage / per-job records in
  * memory through Spark's public listener APIs; written once at exit. */
class Recorder(spark: SparkSession) {
  private val progress = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val jobs = ArrayBuffer.empty[String]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Int)]

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized(jobStart(e.jobId) = (e.time, e.stageIds.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, n) =>
        jobs += s"""{"job":${e.jobId},"start":$t0,"end":${e.time},"stages":$n}"""
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val rec = s"""{"stage":${s.stageId},"start":${s.submissionTime.getOrElse(0L)},""" +
        s""""end":${s.completionTime.getOrElse(0L)},"tasks":${s.numTasks},""" +
        s""""run_ms":${m.executorRunTime},"gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
        s""""scan":${m.inputMetrics.bytesRead}}"""
      stages.synchronized(stages += rec)
    }
  })

  def write(path: String): Unit = {
    def arr(xs: ArrayBuffer[String]) = xs.synchronized(xs.mkString("[", ",\n", "]"))
    Files.write(Paths.get(path),
      s"""{"progress":${arr(progress)},"stages":${arr(stages)},"jobs":${arr(jobs)}}"""
        .getBytes(StandardCharsets.UTF_8))
  }
}
