package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One order-book update: either a SNAPSHOT RESET marker or a level
  * delta. Mirrors the payload the reference actually moves — Bitvavo
  * book events: periodic full-book snapshots requested out-of-band
  * (`/root/reference/src/main.cpp:54-58`, `README.md:45-51`) healing a
  * lossy delta stream (`/root/reference/src/wsclient.hpp:158-162`
  * reconnect gaps). `reset = true` opens a snapshot: the book for that
  * market is cleared, then the snapshot's own levels (and everything
  * after) are applied as deltas. `size == 0` removes a level.
  */
case class BookUpdate(
    seq: Long,
    market: String,
    reset: Boolean,
    side: String, // "bid" | "ask"; ignored on reset rows
    price: Double,
    size: Double)

/** Keyed order-book state: price level → size, per side. `max_seq` is
  * the highest applied sequence number — the cross-batch reorder guard:
  * intra-batch order is restored by the sort in `fold`, but a delta
  * arriving in a LATER micro-batch with a LOWER seq (transport replay,
  * source restart) would otherwise apply old-on-new and corrupt a level.
  *
  * State-schema note: the state store holds a book as a [[PackedBook]].
  * A checkpoint written with another state schema (the `Map` columns
  * of earlier builds, or no `max_seq`) does NOT restore into it
  * (Spark's state store validates compatibility at query start and
  * fails loudly rather than corrupting). The operational upgrade path
  * for a lossy-delta book is the protocol's own: start a fresh
  * checkpoint and let the first snapshot rebuild state — books
  * self-heal by construction, so nothing durable is lost.
  */
case class Book(
    market: String,
    n_updates: Long,
    bids: Map[Double, Double],
    asks: Map[Double, Double],
    max_seq: Long)

object Book {
  /** Empty book; `max_seq` below any real sequence number. */
  def empty(market: String): Book =
    Book(market, 0L, Map.empty, Map.empty, Long.MinValue)
}

/** A [[Book]] as the state store keeps it: each side's levels packed as
  * (price, size) double pairs in a byte array. A binary column decodes
  * through the same generated code every batch. A `Map` column decodes
  * through lambda variables that Spark renumbers each time it plans a
  * batch, so every batch would compile a new state deserializer and run
  * it interpreted until the JIT compiled it again.
  */
case class PackedBook(
    market: String,
    n_updates: Long,
    bids: Array[Byte],
    asks: Array[Byte],
    max_seq: Long)

object PackedBook {
  def pack(b: Book): PackedBook =
    PackedBook(b.market, b.n_updates, levels(b.bids), levels(b.asks), b.max_seq)

  def unpack(p: PackedBook): Book =
    Book(p.market, p.n_updates, levels(p.bids), levels(p.asks), p.max_seq)

  private def levels(m: Map[Double, Double]): Array[Byte] = {
    val buf = ByteBuffer.allocate(16 * m.size)
    m.foreach { case (price, size) => buf.putDouble(price).putDouble(size) }
    buf.array
  }

  private def levels(bytes: Array[Byte]): Map[Double, Double] = {
    val buf = ByteBuffer.wrap(bytes)
    val m = Map.newBuilder[Double, Double]
    while (buf.hasRemaining) {
      val price = buf.getDouble
      m += price -> buf.getDouble
    }
    m.result()
  }
}

/** Top-of-book summary emitted per market per micro-batch. */
case class TopOfBook(
    market: String,
    n_updates: Long,
    best_bid: Double,
    best_ask: Double,
    bid_depth: Int,
    ask_depth: Int)

/** Order-book reconstruction — the reference's end-to-end semantic
  * (§1.5 of SURVEY.md: lossy delta stream + periodic snapshot
  * re-request) as a first-class stateful operator. State is the full
  * keyed book (two price→size maps, stored as a [[PackedBook]]) in the
  * state store, partitioned by market: each micro-batch touches only markets with updates, state
  * size is bounded by live price levels (snapshots CLEAR the book, so a
  * reconnect gap can never leave stale levels behind — that is the whole
  * point of the snapshot protocol). Emits top-of-book per market per
  * batch (update mode).
  */
object OrderBook {

  /** Apply one ordered run of updates to a book. Updates inside a batch
    * are sorted by `seq` (iterator order within a group is not
    * guaranteed by the engine — same rule as `StatefulOps.fold`);
    * ACROSS batches, any DELTA at or below the book's `max_seq` is a
    * duplicate or a transport reorder and is DROPPED — a level delta is
    * an absolute size, so applying an old one over newer state would
    * corrupt the level (the Bitvavo protocol says resync on a sequence
    * violation; here the periodic snapshot re-request IS that resync,
    * and it heals any level a dropped stale delta would have created —
    * spec-pinned). A RESET row BYPASSES the stale guard: a snapshot is
    * authoritative full state, and if the upstream feed restarts its
    * sequence numbering (seq regresses), the guard would otherwise
    * discard the very snapshot that re-syncs the book and wedge it
    * permanently — every later low-seq delta would be stale too. The
    * reset re-anchors `max_seq = u.seq`, which also makes an EXACT
    * transport replay of a whole snapshot (reset + its level rows)
    * idempotent: the replayed reset rolls the anchor back to its own
    * seq, so the snapshot's levels re-apply cleanly. (Within one batch
    * the seq-sort still assumes one numbering epoch; a regression that
    * collides with old-epoch deltas inside the SAME micro-batch
    * converges at the next snapshot — the protocol's own guarantee.)
    * A delta whose side is neither "bid" nor "ask" is left unapplied:
    * the book, `n_updates` and `max_seq` stay as they were.
    */
  def fold(prev: Book, updates: Iterator[BookUpdate]): Book =
    updates.toSeq.sortBy(_.seq).foldLeft(prev) { (b, u) =>
      if (u.reset) Book(u.market, b.n_updates + 1, Map.empty, Map.empty, u.seq)
      else if (u.seq <= b.max_seq) b // stale or duplicate: never apply old-on-new
      else {
        def upd(m: Map[Double, Double]): Map[Double, Double] =
          if (u.size == 0.0) m - u.price else m.updated(u.price, u.size)
        u.side match {
          case "bid" => Book(u.market, b.n_updates + 1, upd(b.bids), b.asks, u.seq)
          case "ask" => Book(u.market, b.n_updates + 1, b.bids, upd(b.asks), u.seq)
          case _ => b // unknown side: neither book side is touched
        }
      }
    }

  def top(b: Book): TopOfBook = TopOfBook(
    b.market, b.n_updates,
    if (b.bids.isEmpty) Double.NaN else b.bids.keys.max,
    if (b.asks.isEmpty) Double.NaN else b.asks.keys.min,
    b.bids.size, b.asks.size)

  /** Streaming reconstruction: update-mode top-of-book per market per
    * batch. */
  def topOfBook(updates: Dataset[BookUpdate]): Dataset[TopOfBook] = {
    implicit val stateEnc = Encoders.product[PackedBook]
    implicit val outEnc = Encoders.product[TopOfBook]
    updates
      .groupByKey(_.market)(Encoders.STRING)
      .mapGroupsWithState[PackedBook, TopOfBook](GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BookUpdate], state: GroupState[PackedBook]) =>
          val prev = state.getOption.map(PackedBook.unpack).getOrElse(Book.empty(key))
          val next = fold(prev, it)
          state.update(PackedBook.pack(next))
          top(next)
      }
  }

  /** Batch reference: the same fold over the complete update list. */
  def batchReference(updates: Seq[BookUpdate]): Map[String, TopOfBook] =
    updates.groupBy(_.market).map { case (m, us) =>
      m -> top(fold(Book.empty(m), us.sortBy(_.seq).iterator))
    }
}
