package perfbench

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-process S3-protocol object store for the tile workloads: answers
  * `PUT /<key>` over HTTP/1.1 with keep-alive, and keeps for each key only
  * its length, CRC32C, `Content-Type` and `x-amz-acl` (never the body).
  *
  * Latency is applied by scheduling the response, not by a sleeping
  * handler: one selector thread reads requests, two handler threads
  * digest and record them, and one scheduler thread writes each response
  * [[latencyMs]] after its request arrived. So the stub holds any number of
  * PUTs in flight and never caps a client's concurrency.
  *
  * Faults: a key in `poison` always gets 503; any other (key, attempt)
  * gets a transient 503 with probability `transientRate`, decided by a
  * hash of (seed, key, attempt) so a seed repeats its faults exactly.
  */
final class StoreStub(seed: Long, transientRate: Double, poison: Set[String]) {
  import StoreStub._

  /** Delay from a request's arrival to its response. */
  @volatile var latencyMs = 0

  val records = new ConcurrentHashMap[String, Rec]
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]
  private val puts = new AtomicLong
  /** Connections that carried at least one request since the last reset. */
  private val conns = new AtomicLong
  @volatile private var epoch = 0L
  private val busyNanos = new AtomicLong

  // in-flight requests at the store, integrated over time for the mean
  private val lock = new Object
  private var inflight = 0
  private var inflightMax = 0
  private var inflightArea = 0.0 // request-nanoseconds
  private var lastChange = System.nanoTime()
  private var windowStart = lastChange

  private def inflightDelta(d: Int): Unit = lock.synchronized {
    val now = System.nanoTime()
    inflightArea += inflight.toDouble * (now - lastChange)
    lastChange = now
    inflight += d
    if (inflight > inflightMax) inflightMax = inflight
  }

  /** Forget all objects, attempts and counters: one batch per window. */
  def reset(): Unit = {
    records.clear(); attempts.clear(); puts.set(0); conns.set(0); busyNanos.set(0)
    epoch += 1
    lock.synchronized {
      inflightArea = 0.0; inflightMax = inflight
      lastChange = System.nanoTime(); windowStart = lastChange
    }
  }

  /** Store-side counters since the last [[reset]]. */
  def stats(): Stats = lock.synchronized {
    val now = System.nanoTime()
    val area = inflightArea + inflight.toDouble * (now - lastChange)
    Stats(puts.get, conns.get, busyNanos.get / 1e9, area / math.max(1L, now - windowStart), inflightMax)
  }

  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress("127.0.0.1", 0), 1024)
  server.configureBlocking(false)
  val endpoint: String = s"http://127.0.0.1:${server.socket.getLocalPort}"

  private val selector = Selector.open()
  server.register(selector, SelectionKey.OP_ACCEPT)
  private val rearm = new ConcurrentLinkedQueue[SelectionKey]
  private val handlers = Executors.newFixedThreadPool(2, daemon("perfbench-store-handler"))
  private val scheduler = Executors.newSingleThreadScheduledExecutor(daemon("perfbench-store-sched"))
  @volatile private var running = true

  private final class Conn(val ch: SocketChannel) {
    var buf: ByteBuffer = ByteBuffer.allocate(64 * 1024)
    var lastEpoch = -1L
  }

  private val loop = new Thread(() => selectLoop(), "perfbench-store-selector")
  loop.setDaemon(true)
  loop.start()

  private def selectLoop(): Unit =
    while (running) {
      selector.select(100L)
      var k = rearm.poll()
      while (k != null) {
        if (k.isValid) k.interestOps(SelectionKey.OP_READ)
        k = rearm.poll()
      }
      val it = selector.selectedKeys.iterator
      while (it.hasNext) {
        val key = it.next()
        it.remove()
        try {
          if (key.isValid && key.isAcceptable) accept()
          else if (key.isValid && key.isReadable) read(key)
        } catch {
          case _: java.io.IOException => close(key)
        }
      }
    }

  private def accept(): Unit = {
    var ch = server.accept()
    while (ch != null) {
      ch.configureBlocking(false)
      ch.setOption(java.net.StandardSocketOptions.TCP_NODELAY, java.lang.Boolean.TRUE)
      ch.register(selector, SelectionKey.OP_READ, new Conn(ch))
      ch = server.accept()
    }
  }

  private def close(key: SelectionKey): Unit = {
    key.cancel()
    try key.channel.close()
    catch { case _: java.io.IOException => () }
  }

  private def read(key: SelectionKey): Unit = {
    val t0 = System.nanoTime()
    val c = key.attachment.asInstanceOf[Conn]
    if (!c.buf.hasRemaining) {
      val bigger = ByteBuffer.allocate(c.buf.capacity * 2)
      c.buf.flip(); bigger.put(c.buf); c.buf = bigger
    }
    if (c.ch.read(c.buf) < 0) { close(key); return }
    parse(c) match {
      case Some(req) =>
        key.interestOps(0) // HTTP/1.1 without pipelining: next request waits for this response
        if (c.lastEpoch != epoch) { c.lastEpoch = epoch; conns.incrementAndGet() }
        inflightDelta(+1)
        val arrived = System.nanoTime()
        handlers.execute(() => handle(key, req, arrived))
      case None => ()
    }
    busyNanos.addAndGet(System.nanoTime() - t0)
  }

  /** One complete request from the connection buffer, or None if more
    * bytes are needed. Consumed bytes are removed from the buffer.
    */
  private def parse(c: Conn): Option[Request] = {
    val b = c.buf
    val n = b.position()
    var end = -1
    var i = 3
    while (end < 0 && i < n) {
      if (b.get(i) == '\n' && b.get(i - 1) == '\r' && b.get(i - 2) == '\n' && b.get(i - 3) == '\r') end = i + 1
      i += 1
    }
    if (end < 0) return None
    val head = new String(b.array, 0, end - 4, ISO_8859_1).split("\r\n")
    val Array(method, target, _) = head(0).split(" ", 3)
    val headers = head.drop(1).flatMap { l =>
      val j = l.indexOf(':')
      if (j > 0) Some(l.substring(0, j).trim.toLowerCase -> l.substring(j + 1).trim) else None
    }.toMap
    val len = headers.get("content-length").map(_.toInt).getOrElse(0)
    if (n < end + len) {
      if (end + len > b.capacity) {
        val bigger = ByteBuffer.allocate(end + len)
        b.flip(); bigger.put(b); c.buf = bigger
      }
      return None
    }
    val body = java.util.Arrays.copyOfRange(b.array, end, end + len)
    val rest = n - end - len
    System.arraycopy(b.array, end + len, b.array, 0, rest)
    b.position(rest)
    Some(Request(method, java.net.URI.create(target).getPath.stripPrefix("/"), headers, body))
  }

  private def handle(key: SelectionKey, req: Request, arrived: Long): Unit = {
    val t0 = System.nanoTime()
    val status =
      if (req.method != "PUT") 405
      else {
        puts.incrementAndGet()
        val attempt = attempts.computeIfAbsent(req.key, _ => new AtomicInteger).getAndIncrement()
        if (poison.contains(req.key) || unitHash(seed, req.key, attempt) < transientRate) 503
        else {
          records.put(
            req.key,
            Rec(req.body.length, crc32c(req.body), req.headers.getOrElse("content-type", ""),
              req.headers.getOrElse("x-amz-acl", "")))
          200
        }
      }
    busyNanos.addAndGet(System.nanoTime() - t0)
    val delay = math.max(0L, arrived + latencyMs * 1000000L - System.nanoTime())
    if (delay == 0L) respond(key, status)
    else scheduler.schedule((() => respond(key, status)): Runnable, delay, TimeUnit.NANOSECONDS)
  }

  private def respond(key: SelectionKey, status: Int): Unit = {
    val t0 = System.nanoTime()
    val reason = if (status == 200) "OK" else if (status == 503) "Slow Down" else "Method Not Allowed"
    val out = ByteBuffer.wrap(s"HTTP/1.1 $status $reason\r\nContent-Length: 0\r\n\r\n".getBytes(ISO_8859_1))
    val ch = key.channel.asInstanceOf[SocketChannel]
    try {
      while (out.hasRemaining) if (ch.write(out) == 0) Thread.onSpinWait()
      rearm.add(key)
    } catch { case _: java.io.IOException => rearm.add(key) }
    inflightDelta(-1)
    selector.wakeup()
    busyNanos.addAndGet(System.nanoTime() - t0)
  }

  def close(): Unit = {
    running = false
    selector.wakeup()
    loop.join()
    handlers.shutdownNow(); scheduler.shutdownNow()
    handlers.awaitTermination(10, TimeUnit.SECONDS); scheduler.awaitTermination(10, TimeUnit.SECONDS)
    selector.keys.forEach(k => try k.channel.close() catch { case _: java.io.IOException => () })
    selector.close()
    server.close()
  }
}

object StoreStub {
  final case class Rec(length: Int, crc: Long, contentType: String, acl: String)
  final case class Stats(puts: Long, conns: Long, busyS: Double, inflightMean: Double, inflightMax: Int)
  private final case class Request(method: String, key: String, headers: Map[String, String], body: Array[Byte])

  def crc32c(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C
    c.update(bytes, 0, bytes.length)
    c.getValue
  }

  /** A uniform draw in [0, 1) fixed by (seed, key, n). */
  def unitHash(seed: Long, key: String, n: Int): Double = {
    var h = seed * 0x9E3779B97F4A7C15L + n
    key.foreach(ch => h = (h ^ ch) * 0x100000001B3L)
    Fixture.unit(Fixture.mix64(h))
  }

  private def daemon(name: String): java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }
}
