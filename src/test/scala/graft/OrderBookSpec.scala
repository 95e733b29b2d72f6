package graft

import graft.sources.kafkashape.KafkaShapedSink
import graft.streaming.{Book, BookUpdate, OrderBook, PackedBook, TopOfBook}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Order-book reconstruction (the reference's §1.5 semantic): streaming
  * state must equal the sequential fold regardless of micro-batch
  * chunking, and a snapshot must HEAL a simulated reconnect gap — the
  * property the reference's periodic `getBook` re-request exists for
  * (`/root/reference/src/main.cpp:54-58`).
  */
class OrderBookSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def mk(seq: Long, mkt: String, side: String, price: Double, size: Double) =
    BookUpdate(seq, mkt, reset = false, side, price, size)
  private def snap(seq: Long, mkt: String) =
    BookUpdate(seq, mkt, reset = true, "", 0.0, 0.0)

  /** A two-market update script: build, cross-update, snapshot resync,
    * level removals. */
  private val script: Seq[BookUpdate] = Seq(
    snap(1, "BTC"), mk(2, "BTC", "bid", 99.0, 1.0), mk(3, "BTC", "ask", 101.0, 2.0),
    mk(4, "BTC", "bid", 98.5, 3.0), mk(5, "BTC", "ask", 100.5, 1.5),
    snap(6, "ETH"), mk(7, "ETH", "bid", 9.0, 10.0), mk(8, "ETH", "ask", 9.5, 4.0),
    mk(9, "BTC", "bid", 99.5, 2.0), mk(10, "BTC", "ask", 100.5, 0.0), // remove ask
    mk(11, "ETH", "bid", 9.2, 1.0), mk(12, "ETH", "bid", 9.0, 0.0),   // remove bid
    // snapshot resync for BTC: clears everything, rebuilds two levels
    snap(13, "BTC"), mk(14, "BTC", "bid", 97.0, 5.0), mk(15, "BTC", "ask", 103.0, 5.0),
    mk(16, "BTC", "bid", 96.0, 1.0))

  private def runChunked(updates: Seq[BookUpdate], nChunks: Int): Map[String, (Double, Double, Int, Int)] = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[BookUpdate]
    val mem = MemoryStream[BookUpdate]
    val name = s"book_${System.nanoTime()}"
    val q = OrderBook.topOfBook(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update").start()
    try {
      val size = math.max(1, updates.size / nChunks)
      updates.grouped(size).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    // latest row per market = max n_updates (monotone per key)
    spark.table(name).collect()
      .groupBy(_.getString(0))
      .map { case (m, rows) =>
        val r = rows.maxBy(_.getLong(1))
        m -> ((r.getDouble(2), r.getDouble(3), r.getInt(4), r.getInt(5)))
      }
  }

  test("streaming top-of-book equals the sequential fold under any chunking") {
    val want = OrderBook.batchReference(script).map { case (m, t) =>
      m -> ((t.best_bid, t.best_ask, t.bid_depth, t.ask_depth))
    }
    for (n <- Seq(1, 3, 7)) {
      val got = runChunked(script, n)
      assert(got == want, s"diverged at $n chunks")
    }
  }

  test("top-of-book through KafkaShapedSink.start in update mode ends equal to the batch reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, from_json, struct, to_json}
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("book_sink_out").toString
    val chk = java.nio.file.Files.createTempDirectory("book_sink_chk").toString
    val mem = MemoryStream[BookUpdate]
    val tops = OrderBook.topOfBook(mem.toDS()).toDF()
    val records = tops.select(col("market").as("key"),
      to_json(struct(tops.columns.map(col).toIndexedSeq: _*)).as("value"))
    val q = KafkaShapedSink.start(records, outDir, chk, topic = Some("tops"),
      numPartitions = 4, outputMode = "update")
    try script.grouped(5).foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    val schema = org.apache.spark.sql.Encoders.product[TopOfBook].schema
    // the latest epoch's row per market is its final top-of-book
    val got = spark.read.parquet(outDir)
      .select(col("key"), col("epoch").cast("long").as("epoch"), from_json(col("value"), schema).as("t"))
      .collect().groupBy(_.getString(0))
      .map { case (m, rows) =>
        val t = rows.maxBy(_.getAs[Long]("epoch")).getStruct(2)
        m -> TopOfBook(t.getString(0), t.getLong(1), t.getDouble(2), t.getDouble(3),
          t.getInt(4), t.getInt(5))
      }
    assert(got == OrderBook.batchReference(script))
  }

  test("final book state is exactly right after the snapshot resync") {
    val want = OrderBook.batchReference(script)
    val btc = want("BTC")
    // post-snapshot book: bids {97→5, 96→1}, asks {103→5}
    assert(btc.best_bid == 97.0 && btc.best_ask == 103.0)
    assert(btc.bid_depth == 2 && btc.ask_depth == 1)
    val eth = want("ETH")
    assert(eth.best_bid == 9.2 && eth.ask_depth == 1 && eth.bid_depth == 1)
  }

  test("a snapshot heals a reconnect gap: state converges despite lost deltas") {
    // the "lossy" stream drops the deltas between seq 2..5 (a reconnect
    // window); because a later snapshot (seq 13) rebuilds BTC from
    // scratch, the final BTC book must equal the lossless run's
    val lossless = OrderBook.batchReference(script)
    val lossy = OrderBook.batchReference(script.filterNot(u =>
      u.market == "BTC" && u.seq >= 2 && u.seq <= 5))
    assert(lossy("BTC").best_bid == lossless("BTC").best_bid)
    assert(lossy("BTC").best_ask == lossless("BTC").best_ask)
    assert(lossy("BTC").bid_depth == lossless("BTC").bid_depth)
    assert(lossy("BTC").ask_depth == lossless("BTC").ask_depth)
    // and the same through the STREAMING path
    val got = runChunked(script.filterNot(u =>
      u.market == "BTC" && u.seq >= 2 && u.seq <= 5), 4)
    assert(got("BTC") == ((97.0, 103.0, 2, 1)))
  }

  test("end-to-end reference pipeline: WebSocket book feed -> source -> JSON parse -> stateful rebuild") {
    // the reference's whole application (main.cpp:48-50 + README book
    // example) run through this engine: an in-process WS server plays
    // the exchange, frames arrive through the DataSourceV2 source, the
    // JSON payload parses into typed updates, and the keyed state
    // operator rebuilds the book.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val server = new TestWsServer
    try {
      val schema = StructType(Seq(
        StructField("seq", LongType), StructField("market", StringType),
        StructField("reset", BooleanType), StructField("side", StringType),
        StructField("price", DoubleType), StructField("size", DoubleType)))
      val updates = spark.readStream.format("websocket")
        .option("url", server.url)
        .option("key", "websocket_1")
        .option("subscribeMessage", """{"action":"subscribe","channels":["book"]}""")
        .option("reconnectDelayMs", "200")
        .load()
        .select(from_json(col("value"), schema).as("u"))
        .select("u.*")
        .as[BookUpdate](org.apache.spark.sql.Encoders.product[BookUpdate])
      val name = s"ws_book_${System.nanoTime()}"
      val q = OrderBook.topOfBook(updates).writeStream
        .format("memory").queryName(name).outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
      try {
        def deadline(ms: Long)(cond: => Boolean): Boolean = {
          val end = System.currentTimeMillis() + ms
          while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
          cond
        }
        assert(deadline(15000)(server.totalConnects >= 1), "client never connected")
        script.foreach { u =>
          server.send(
            s"""{"seq":${u.seq},"market":"${u.market}","reset":${u.reset},""" +
              s""""side":"${u.side}","price":${u.price},"size":${u.size}}""")
        }
        val want = OrderBook.batchReference(script).map { case (m, t) =>
          m -> ((t.best_bid, t.best_ask, t.bid_depth, t.ask_depth))
        }
        assert(deadline(20000) {
          val rows = spark.table(name).collect()
          val latest = rows.groupBy(_.getString(0)).map { case (m, rs) =>
            val r = rs.maxBy(_.getLong(1))
            m -> ((r.getDouble(2), r.getDouble(3), r.getInt(4), r.getInt(5)))
          }
          latest == want
        }, s"end-to-end book never converged: ${spark.table(name).collect().toSeq}")
      } finally q.stop()
    } finally server.close()
  }

  test("book state survives a checkpoint restart mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[BookUpdate]
    val chk = java.nio.file.Files.createTempDirectory("book_chk").toString
    val (first, rest) = script.splitAt(8)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double, Int, Int)]

    // memory sink can't recover a checkpoint; foreachBatch can (the
    // StreamingSpec restart idiom)
    def start() = OrderBook.topOfBook(mem.toDS()).writeStream
      .outputMode("update")
      .option("checkpointLocation", chk)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.TopOfBook], _: Long) =>
          val rows = ds.collect()
          emitted.synchronized {
            emitted ++= rows.map(t =>
              (t.market, t.n_updates, t.best_bid, t.best_ask, t.bid_depth, t.ask_depth))
          }
          ()
      }.start()

    lazy val mem = MemoryStream[BookUpdate]
    val q1 = start()
    try { mem.addData(first); q1.processAllAvailable() } finally q1.stop()
    // updates arrive while the query is DOWN; the restarted query must
    // resume from the checkpointed book state, not from scratch
    mem.addData(rest)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val want = OrderBook.batchReference(script).map { case (m, t) =>
      m -> ((t.best_bid, t.best_ask, t.bid_depth, t.ask_depth))
    }
    val latest = emitted.synchronized {
      emitted.groupBy(_._1).map { case (m, rs) =>
        val r = rs.maxBy(_._2)
        m -> ((r._3, r._4, r._5, r._6))
      }
    }
    assert(latest == want, s"restarted book diverged: $latest vs $want")
  }

  test("empty-side top-of-book reports NaN, not a crash") {
    val t = OrderBook.top(Book("X", 1L, Map(1.0 -> 1.0), Map.empty, 1L))
    assert(t.best_ask.isNaN && t.best_bid == 1.0)
  }

  test("a cross-batch out-of-order delta is dropped, and a snapshot converges to the lossless book") {
    // transport replay: seq 4 (an absolute-size delta for bid 98.5)
    // arrives one micro-batch AFTER seq 5 was applied. Applying it
    // old-on-new would resurrect/corrupt the level; the max_seq guard
    // must drop it, and the later snapshot (seq 13) must converge the
    // book to the lossless in-order run — the §1.5 resync contract.
    val inOrder = script.filter(_.market == "BTC")
    val (before, rest) = inOrder.partition(_.seq <= 5)
    val replayed = before.find(_.seq == 4).get
    // batch 1: seq 1,2,3,5 — batch 2: stale seq 4 + a fresh update —
    // batch 3: the rest (snapshot 13 included)
    val b1 = before.filterNot(_.seq == 4)
    val b2 = Seq(replayed, mk(9, "BTC", "bid", 99.5, 2.0))
    val b3 = rest.filterNot(_.seq == 9)

    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[BookUpdate]
    val mem = MemoryStream[BookUpdate]
    val name = s"book_ooo_${System.nanoTime()}"
    val q = OrderBook.topOfBook(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update").start()
    val got =
      try {
        Seq(b1, b2, b3).foreach { c => mem.addData(c); q.processAllAvailable() }
        val r = spark.table(name).collect().maxBy(_.getLong(1))
        (r.getDouble(2), r.getDouble(3), r.getInt(4), r.getInt(5))
      } finally q.stop()
    val want = OrderBook.batchReference(inOrder)("BTC")
    assert(got == ((want.best_bid, want.best_ask, want.bid_depth, want.ask_depth)),
      s"out-of-order replay did not converge: $got")

    // and WITHOUT an intervening snapshot the stale delta still never
    // applies old-on-new: direct fold check — seq 4 would set bid
    // 98.5 -> 3.0; after seq 5 is applied it must be a no-op
    val healthy = OrderBook.fold(Book.empty("BTC"), b1.iterator)
    val afterStale = OrderBook.fold(healthy, Iterator(replayed))
    assert(afterStale == healthy, "stale delta mutated newer state")
  }

  test("a reset snapshot bypasses the stale guard: a feed that restarts its sequence numbering re-syncs") {
    // ADVICE round-9: if the upstream feed restarts (seq regresses to a
    // new epoch), the max_seq guard must NOT discard the authoritative
    // snapshot — otherwise the book wedges permanently, since every
    // later new-epoch delta is also <= the old max_seq.
    val oldEpoch = Seq(snap(100, "BTC"),
      mk(101, "BTC", "bid", 99.0, 1.0), mk(102, "BTC", "ask", 101.0, 2.0))
    val newEpoch = Seq(snap(5, "BTC"),
      mk(6, "BTC", "bid", 42.0, 7.0), mk(7, "BTC", "ask", 43.0, 8.0))
    val b1 = OrderBook.fold(Book.empty("BTC"), oldEpoch.iterator)
    assert(b1.max_seq == 102L)
    // new epoch arrives in a LATER micro-batch: snapshot re-anchors
    val b2 = OrderBook.fold(b1, newEpoch.iterator)
    assert(b2.max_seq == 7L, s"snapshot did not re-anchor max_seq: ${b2.max_seq}")
    assert(b2.bids == Map(42.0 -> 7.0) && b2.asks == Map(43.0 -> 8.0),
      s"book did not re-sync from the new-epoch snapshot: $b2")
    // the delta guard still holds against the NEW anchor: a replayed
    // new-epoch delta (seq <= 7) is dropped
    val b3 = OrderBook.fold(b2, Iterator(mk(6, "BTC", "bid", 42.0, 999.0)))
    assert(b3.bids == b2.bids && b3.asks == b2.asks,
      s"stale new-epoch delta mutated the re-synced book: $b3")
  }

  test("an exact transport replay of a whole snapshot (reset + levels) is idempotent") {
    // the reset rolls max_seq back to its own seq, so the replayed
    // snapshot's level rows re-apply cleanly instead of being
    // stale-dropped into an empty book.
    val snapshot = Seq(snap(10, "ETH"),
      mk(11, "ETH", "bid", 9.0, 10.0), mk(12, "ETH", "ask", 9.5, 4.0))
    val once = OrderBook.fold(Book.empty("ETH"), snapshot.iterator)
    val twice = OrderBook.fold(once, snapshot.iterator)
    assert(twice.bids == once.bids && twice.asks == once.asks && twice.max_seq == once.max_seq,
      s"replayed snapshot corrupted the book: $twice vs $once")
  }

  test("a delta with an unknown side is left unapplied") {
    val book = OrderBook.fold(Book.empty("BTC"), script.filter(_.market == "BTC").iterator)
    val unknown = mk(17, "BTC", "BUY", 102.0, 1.0)
    assert(OrderBook.fold(book, Iterator(unknown)) == book)
    assert(OrderBook.batchReference(script :+ unknown) == OrderBook.batchReference(script))
  }

  test("a packed book unpacks to the same levels, bit for bit") {
    val book = Book("BTC", 7L,
      Map(99.0 -> 1.0, -0.0 -> 2.0, Double.MaxValue -> Double.MinPositiveValue),
      Map(101.5 -> Double.NaN), 42L)
    val back = PackedBook.unpack(PackedBook.pack(book))
    assert(back.market == book.market && back.n_updates == book.n_updates &&
      back.max_seq == book.max_seq)
    def bits(m: Map[Double, Double]) = m.toSeq
      .map { case (p, q) => (java.lang.Double.doubleToRawLongBits(p), java.lang.Double.doubleToRawLongBits(q)) }
      .sorted
    assert(bits(back.bids) == bits(book.bids) && bits(back.asks) == bits(book.asks))
    assert(PackedBook.unpack(PackedBook.pack(Book.empty("ETH"))) == Book.empty("ETH"))
  }

  test("a running top-of-book stream into the sink compiles no new class after its first batches") {
    // the state deserializer and the sink's write plan must generate the
    // same code every epoch: a new class each epoch runs interpreted
    // until the JIT compiles it again
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[BookUpdate]
    val dir = java.nio.file.Files.createTempDirectory("book_codegen").toString
    val mem = MemoryStream[BookUpdate]
    val tops = OrderBook.topOfBook(mem.toDS()).toDF()
    val q = tops.select(col("market").as("key"),
        to_json(struct(tops.columns.map(col).toIndexedSeq: _*)).as("value"), lit("tops").as("topic"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/chk")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        KafkaShapedSink.writeEpoch(batch, epoch, s"$dir/sink", 4)
      }
      .start()
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      var seq = 0L
      val perEpoch = (1 to 6).map { _ =>
        val before = compiled
        mem.addData((1 to 40).map { j =>
          seq += 1
          mk(seq, s"M${j % 8}", if (j % 2 == 0) "bid" else "ask", 100.0 + j % 5, j.toDouble)
        })
        q.processAllAvailable()
        compiled - before
      }
      assert(spark.streams.active.map(_.id).toSeq == Seq(q.id), "another stream compiles alongside")
      assert(perEpoch.drop(2).forall(_ == 0), s"classes compiled per epoch: $perEpoch")
    } finally q.stop()
  }
}
