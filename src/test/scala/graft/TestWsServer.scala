package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable

/** Minimal in-process RFC 6455 WebSocket server for connector tests
  * (SURVEY.md §5.2 item 4): accepts upgrades, records every text frame
  * the client sends (subscriptions, interval messages), and lets tests
  * push frames / drop the connection to script the reconnect scenario
  * the reference handles (`/root/reference/src/wsclient.hpp:158-166`).
  * Protocol essentials only: FIN text and binary frames, client-masked input,
  * ping/pong passthrough, close handshake.
  */
final class TestWsServer {
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  val url = s"ws://127.0.0.1:$port/feed"

  /** every text frame received from clients, in arrival order */
  val received = new ConcurrentLinkedQueue[String]()
  @volatile private var current: Socket = _
  @volatile private var out: DataOutputStream = _
  @volatile private var running = true
  /** completed handshakes, for awaiting (re)connects */
  private val connects = mutable.ArrayBuffer.empty[CountDownLatch]
  private var connectCount = 0

  private val acceptThread = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        handshake(s)
        synchronized {
          current = s
          out = new DataOutputStream(s.getOutputStream)
          connectCount += 1
          connects.foreach(_.countDown())
        }
        readLoop(s) // blocks until this client disconnects
      } catch { case _: Exception if !running => case _: SocketException => case _: Exception => }
    }
  }, "test-ws-server")
  acceptThread.setDaemon(true)
  acceptThread.start()

  private def handshake(s: Socket): Unit = {
    val in = s.getInputStream
    val headers = new StringBuilder
    var prev = 0
    while (!headers.endsWith("\r\n\r\n")) {
      val c = in.read()
      require(c >= 0, "socket closed during handshake")
      headers.append(c.toChar)
      prev = c
    }
    val key = headers.toString.linesIterator
      .find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(throw new IllegalStateException("no Sec-WebSocket-Key"))
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n"
    s.getOutputStream.write(resp.getBytes(UTF_8))
    s.getOutputStream.flush()
  }

  private def readLoop(s: Socket): Unit = {
    val in = new DataInputStream(s.getInputStream)
    try {
      while (running) {
        val b0 = in.readUnsignedByte()
        val opcode = b0 & 0x0f
        val b1 = in.readUnsignedByte()
        val masked = (b1 & 0x80) != 0
        var len: Long = b1 & 0x7f
        if (len == 126) len = in.readUnsignedShort()
        else if (len == 127) len = in.readLong()
        val mask = if (masked) { val m = new Array[Byte](4); in.readFully(m); m } else null
        val payload = new Array[Byte](len.toInt)
        in.readFully(payload)
        if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
        opcode match {
          case 0x1 => received.add(new String(payload, UTF_8))
          case 0x8 => // close: echo and bail
            sendRaw(0x8, payload); return
          case 0x9 => if (!muted) sendRaw(0xA, payload) // ping -> pong
          case 0xA => synchronized { pongs += 1; notifyAll() }
          case _ => ()
        }
      }
    } catch { case _: Exception => () }
  }

  private def sendRaw(opcode: Int, payload: Array[Byte]): Unit = synchronized {
    if (out == null) return
    out.writeByte(0x80 | opcode)
    if (payload.length < 126) out.writeByte(payload.length)
    else if (payload.length < 65536) { out.writeByte(126); out.writeShort(payload.length) }
    else { out.writeByte(127); out.writeLong(payload.length.toLong) }
    out.write(payload)
    out.flush()
  }

  /** Push a text frame to the connected client. */
  def send(msg: String): Unit = sendRaw(0x1, msg.getBytes(UTF_8))

  /** Push a binary frame to the connected client. */
  def sendBinary(payload: Array[Byte]): Unit = sendRaw(0x2, payload)

  /** pongs received for `roundTrip` pings */
  private var pongs = 0

  /** Ping the client and wait for its pong. The client answers pings in
    * frame order, after handing every earlier text frame to its listener,
    * so a completed round trip means all frames sent before it have been
    * delivered (recorded or shed) on the client side.
    */
  def roundTrip(timeoutMs: Long = 10000): Boolean = synchronized {
    val target = pongs + 1
    sendRaw(0x9, Array.emptyByteArray)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (pongs < target && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    pongs >= target
  }

  /** While muted the server reads frames but answers NOTHING — no pongs,
    * no data: the half-open/unresponsive-peer scenario only a client-side
    * idle watchdog can detect (TCP stays open, so no close/error fires).
    */
  @volatile var muted = false

  /** Sever the current connection without a close handshake — the
    * "server died" scenario that must trigger the client's backoff
    * reconnect. */
  def dropConnection(): Unit = synchronized {
    if (current != null) { try current.close() catch { case _: Exception => () }; current = null; out = null }
  }

  /** Latch that opens after the NEXT completed handshake. */
  def expectConnect(): CountDownLatch = synchronized {
    val l = new CountDownLatch(1); connects += l; l
  }

  def awaitConnect(timeoutSec: Int = 10): Boolean = {
    val l = expectConnect()
    l.await(timeoutSec.toLong, TimeUnit.SECONDS)
  }

  def totalConnects: Int = synchronized(connectCount)

  def close(): Unit = {
    running = false
    dropConnection()
    try server.close() catch { case _: Exception => () }
  }
}
