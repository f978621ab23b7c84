package perfbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

/** One request the sink received. */
final case class Receipt(key: String, path: String, body: String,
    nanos: Long)

/** Minimal HTTP/1.1 framing shared by the sink and the client. */
private object Http {
  /** Reads header lines up to the blank line; None at end of stream. */
  def readHead(in: InputStream): Option[Seq[String]] = {
    val lines = Seq.newBuilder[String]
    val line = new java.io.ByteArrayOutputStream()
    var prev = -1
    var any = false
    while (true) {
      val b = in.read()
      if (b < 0) return if (any) throw new java.io.EOFException() else None
      any = true
      if (b == '\n' && prev == '\r') {
        val s = new String(line.toByteArray, ISO_8859_1).stripSuffix("\r")
        line.reset()
        if (s.isEmpty) return Some(lines.result())
        lines += s
      } else line.write(b)
      prev = b
    }
    None
  }

  def header(head: Seq[String], name: String): Option[String] =
    head.drop(1).collectFirst {
      case h if h.regionMatches(true, 0, name + ":", 0, name.length + 1) =>
        h.substring(name.length + 1).trim
    }

  def readBody(in: InputStream, head: Seq[String]): Array[Byte] =
    in.readNBytes(header(head, "Content-Length").map(_.toInt).getOrElse(0))
}

/** Loopback destination owned by the benchmark. It binds an address that
  * `Delivery.isSimulated` does not short-circuit, so events go through
  * the real `Delivery.deliver`, and it records the `Idempotency-Key`, body
  * and receipt time of every request. Paths under `/slow` answer after a
  * fixed delay. Each answer is one bodyless write on a TCP_NODELAY socket,
  * so the sink adds no Nagle/delayed-ACK stall of its own; both settings
  * are per socket and leave the gateway's sockets alone.
  */
final class Sink(host: String = "127.0.0.2", slowDelayMs: Int)
    extends AutoCloseable {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(host, 0))
  val base = s"http://$host:${server.getLocalPort}"
  val receipts = new ConcurrentLinkedQueue[Receipt]()
  @volatile private var closed = false
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  private val threads = new ConcurrentLinkedQueue[Thread]()
  /** Test hook for the checker's self-test: rewrites every n-th body. */
  @volatile var tamperEvery = 0
  private val seen = new java.util.concurrent.atomic.AtomicLong()

  private val Ok = "HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n".getBytes(ISO_8859_1)

  private def spawn(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
  }

  spawn("perfbench-sink-accept") {
    while (!closed) {
      val s = try server.accept() catch { case _: Throwable => null }
      if (s != null) {
        s.setTcpNoDelay(true)
        conns.add(s)
        spawn("perfbench-sink-conn")(serve(s))
      }
    }
  }

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      var head = Http.readHead(in)
      while (head.isDefined) {
        val h = head.get
        val body = new String(Http.readBody(in, h), UTF_8)
        val now = System.nanoTime()
        val path = h.head.split(" ")(1)
        val key = Http.header(h, "Idempotency-Key").getOrElse("")
        val n = seen.incrementAndGet()
        val kept =
          if (tamperEvery > 0 && n % tamperEvery == 0)
            "{\"tampered\":1," + body.drop(1)
          else body
        receipts.add(Receipt(key, path, kept, now))
        if (path.startsWith("/slow")) Thread.sleep(slowDelayMs.toLong)
        out.write(Ok)
        out.flush()
        head = Http.readHead(in)
      }
    } catch { case _: Throwable => }
    finally { conns.remove(s); try s.close() catch { case _: Throwable => } }

  def received: Seq[Receipt] = receipts.asScala.toSeq

  def close(): Unit = {
    closed = true
    server.close()
    conns.asScala.foreach(c => try c.close() catch { case _: Throwable => })
    threads.asScala.foreach(_.join(5000))
  }
}

/** Persistent HTTP/1.1 connection that writes each request in one write,
  * as a webhook sender on a keep-alive connection would.
  */
final class Client(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress(host, port))
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out: OutputStream = sock.getOutputStream

  /** Sends one request and returns (status, body). */
  def call(method: String, path: String, body: String = "",
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = new StringBuilder(s"$method $path HTTP/1.1\r\nHost: $host\r\n")
    headers.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
    head.append(s"Content-Length: ${b.length}\r\n\r\n")
    out.write(head.toString.getBytes(ISO_8859_1) ++ b)
    out.flush()
    val h = Http.readHead(in).getOrElse(throw new java.io.EOFException())
    val status = h.head.split(" ")(1).toInt
    (status, new String(Http.readBody(in, h), UTF_8))
  }

  def close(): Unit = sock.close()
}
