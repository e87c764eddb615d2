package graft.etl

import java.io.{BufferedInputStream, DataInputStream, IOException,
  OutputStream}
import java.net.{InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The node's `newHeads` PUSH subscription over WebSocket — the
  * reference provider's native transport (provider.rs:26-47:
  * `connect_pubsub` + `subscribe_blocks`) on a minimal RFC 6455 client
  * ([[WsHeads.Conn]]); JSON rides on json4s. No new dependencies, same
  * as [[RpcClient]].
  *
  * Protocol (public Geth/Core pubsub convention):
  *   → `{"id":1,"method":"<ns>_subscribe","params":["newHeads"]}`
  *   ← `{"id":1,"result":"0x<subscription id>"}`
  *   ← `{"method":"<ns>_subscription","params":{"subscription":…,
  *        "result":{<block header>}}}` per new head, pushed.
  *
  * Role in the engine: the DRIVER-side arrival signal for
  * [[graft.sources.ChainHeadsSource]] — notifications carry headers,
  * the stream's `latestOffset` drains them to learn how far the chain
  * has advanced, and the DATA plane stays on the executor-side batched
  * HTTP fetch (the reference consumes its subscription the same way,
  * etl.rs:128-173: the notification triggers a fetch, it is not the
  * record of truth). Connect retries mirror provider.rs:25-38.
  *
  * A lost connection must never leave [[pollHeaders]] returning empty
  * forever. One reader thread per connection takes frames in wire
  * order, so every frame the node sent before closing is queued before
  * the loss is flagged, and the next poll reconnects. A peer that
  * vanishes without closing (a half-open socket) is caught by liveness:
  * after `livenessMs` without a frame a poll sends a ping, and no frame
  * within another `livenessMs` counts as a lost connection. */
final class WsHeads(url: String, namespace: String = "xcb",
    retries: Int = 5, retryBackoffMs: Long = 200L,
    livenessMs: Long = 30000L) extends AutoCloseable {

  private val headers = new LinkedBlockingQueue[JValue]()
  @volatile private var subscriptionId: Option[String] = None
  @volatile private var subscribeError: Option[String] = None
  /** Set by the reader thread or the liveness check: the next poll
    * reconnects and resubscribes, or throws if it can't. */
  @volatile private var connectionLost: Option[String] = None
  @volatile private var closedByUs = false
  @volatile private var lastHeardNs = System.nanoTime()
  @volatile private var pingSentNs = Option.empty[Long]

  private def handleMessage(text: String): Unit = {
    val j = JsonMethods.parse(text)
    (j \ "id", j \ "method") match {
      case (JInt(_), _) => (j \ "result", j \ "error") match {
        case (JString(sub), _) => subscriptionId = Some(sub)
        case (_, err) if err != JNothing && err != JNull =>
          // a rejected subscribe (pubsub disabled, wrong namespace)
          // must not leave the consumer stalled forever in silence —
          // record it so the next poll throws with the node's reason
          subscribeError = Some(JsonMethods.compact(err))
        case _ => ()
      }
      case (_, JString(m)) if m == s"${namespace}_subscription" =>
        headers.put(j \ "params" \ "result")
      case _ => ()
    }
  }

  /** Bumped per connection attempt: a replaced connection's reader may
    * still end after a reconnect — only the reader of the CURRENT
    * generation may flag the connection lost, or a stale one would
    * trigger a spurious reconnect loop. */
  private val generation = new java.util.concurrent.atomic.AtomicInteger(0)

  private def startReader(conn: WsHeads.Conn, gen: Int): Unit = {
    val t = new Thread(() => {
      var why = Option.empty[String]
      try while (why.isEmpty) {
        val msg = conn.next()
        lastHeardNs = System.nanoTime()
        msg match {
          case WsHeads.Text(s) => handleMessage(s)
          case WsHeads.Closed(code, reason) =>
            why = Some(s"closed by peer ($code: $reason)")
          case WsHeads.Pong => ()
        }
      } catch { case e: Throwable => why = Some(s"transport error: $e") }
      if (gen == generation.get() && !closedByUs)
        connectionLost = connectionLost.orElse(why)
    }, s"ws-heads-$gen")
    t.setDaemon(true)
    t.start()
  }

  /** Connect + subscribe with the bounded retry loop (provider.rs:25-38);
    * shared by construction and by pollHeaders' reconnect path. */
  private def connect(): WsHeads.Conn = {
    var attempt = 0
    var last: Throwable = null
    var conn: WsHeads.Conn = null
    while (conn == null && attempt < retries) {
      attempt += 1
      try {
        val gen = generation.incrementAndGet() // stale readers muted
        connectionLost = None
        val c = new WsHeads.Conn(URI.create(url))
        // subscribe INSIDE the retry loop: a socket that drops between
        // handshake and subscribe consumes one attempt, not the whole
        // budget
        try c.sendText(JsonMethods.compact(JObject(
          "jsonrpc" -> JString("2.0"), "id" -> JInt(1),
          "method" -> JString(s"${namespace}_subscribe"),
          "params" -> JArray(List(JString("newHeads"))))))
        catch {
          case e: Throwable => c.abort(); throw e
        }
        lastHeardNs = System.nanoTime()
        pingSentNs = None
        startReader(c, gen)
        conn = c
      } catch {
        case e: Throwable =>
          last = e
          if (attempt < retries) Thread.sleep(retryBackoffMs * attempt)
      }
    }
    if (conn == null) {
      // leave the loss flag SET: a caller that catches this and keeps
      // polling must keep hitting the reconnect path, not silently
      // read an empty queue off the aborted old socket forever
      connectionLost = connectionLost.orElse(Some("reconnect exhausted"))
      throw new RuntimeException(
        s"WebSocket connect to $url failed after $retries attempts", last)
    }
    conn
  }

  @volatile private var ws: WsHeads.Conn = connect()

  /** Liveness: ping a connection silent for `livenessMs`, and flag it
    * lost when the ping got no frame back within another `livenessMs`. */
  private def checkLiveness(): Unit = {
    val now = System.nanoTime()
    val limit = TimeUnit.MILLISECONDS.toNanos(livenessMs)
    pingSentNs match {
      case Some(sent) if lastHeardNs - sent >= 0 => pingSentNs = None
      case Some(sent) if now - sent > limit =>
        connectionLost = connectionLost.orElse(
          Some(s"no frame within ${livenessMs}ms of a ping"))
      case Some(_) => ()
      case None if now - lastHeardNs > limit =>
        pingSentNs = Some(now)
        try ws.ping()
        catch {
          case e: IOException =>
            connectionLost = connectionLost.orElse(Some(s"ping failed: $e"))
        }
      case None => ()
    }
  }

  /** The confirmed subscription id, once the node acked (None before). */
  def subscription: Option[String] = subscriptionId

  /** Drain every header notification received so far (non-blocking);
    * optionally wait up to `waitMs` for the first one. Throws if the
    * node REJECTED the subscription — a stalled-forever silent stream
    * is the alternative. */
  def pollHeaders(waitMs: Long = 0L): Seq[JValue] = {
    subscribeError.foreach(e => throw new RuntimeException(
      s"${namespace}_subscribe(newHeads) rejected by $url: $e"))
    checkLiveness()
    // dropped connection: reconnect-and-resubscribe (bounded retries;
    // throws if the node stays unreachable). Heads pushed during the
    // gap are fine to miss — the consumer treats notifications as an
    // arrival SIGNAL, and the next head's number covers the gap.
    connectionLost.foreach { why =>
      ws.abort()
      try ws = connect() // resets connectionLost on success
      catch {
        case e: Throwable => throw new RuntimeException(
          s"newHeads connection to $url lost ($why) and reconnect " +
            "failed", e)
      }
    }
    val out = Seq.newBuilder[JValue]
    val first =
      if (waitMs > 0) headers.poll(waitMs, TimeUnit.MILLISECONDS)
      else headers.poll()
    if (first != null) {
      out += first
      var next = headers.poll()
      while (next != null) { out += next; next = headers.poll() }
    }
    out.result()
  }

  override def close(): Unit = {
    closedByUs = true
    ws.close()
  }
}

object WsHeads {
  private[etl] sealed trait Message
  private[etl] final case class Text(text: String) extends Message
  private[etl] final case class Closed(code: Int, reason: String)
      extends Message
  private[etl] case object Pong extends Message

  /** One client WebSocket (RFC 6455) over a plain or TLS socket: the
    * HTTP Upgrade handshake, masked client frames, and a blocking
    * [[next]] that returns server messages in wire order — text
    * messages reassembled from their fragments, pings answered inline.
    * Text and control frames only, no extensions. Sends are serialized,
    * since the reader answers pings while a caller may be sending.
    * Shared by [[WsHeads]] (a reader thread blocked in [[next]]) and
    * [[RpcClient]]'s ws(s) transport (synchronous reads). A positive
    * `readTimeoutMs` bounds the upgrade and every read: a wait past it
    * throws `SocketTimeoutException`, after which the connection is
    * unusable (a frame may be half read). */
  private[etl] final class Conn(uri: URI, readTimeoutMs: Int = 0) {
    private val tls = uri.getScheme == "wss"
    private val port =
      if (uri.getPort > 0) uri.getPort else if (tls) 443 else 80
    private val sock: Socket = {
      val plain = new Socket()
      try {
        plain.connect(new InetSocketAddress(uri.getHost, port), 10000)
        if (!tls) plain
        else {
          val s = javax.net.ssl.SSLSocketFactory.getDefault
            .asInstanceOf[javax.net.ssl.SSLSocketFactory]
            .createSocket(plain, uri.getHost, port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          val p = s.getSSLParameters
          p.setEndpointIdentificationAlgorithm("HTTPS") // check the cert
          s.setSSLParameters(p)
          s
        }
      } catch { case e: Throwable => plain.close(); throw e }
    }
    private val rnd = new java.security.SecureRandom()
    private val in =
      new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out: OutputStream = sock.getOutputStream
    try { sock.setSoTimeout(readTimeoutMs); handshake() }
    catch { case e: Throwable => abort(); throw e }

    private def handshake(): Unit = {
      val nonce = new Array[Byte](16)
      rnd.nextBytes(nonce)
      val key = java.util.Base64.getEncoder.encodeToString(nonce)
      val path = Option(uri.getRawPath).filter(_.nonEmpty).getOrElse("/") +
        Option(uri.getRawQuery).map("?" + _).getOrElse("")
      val host = if (uri.getPort > 0) s"${uri.getHost}:$port" else uri.getHost
      out.write((s"GET $path HTTP/1.1\r\nHost: $host\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Key: $key\r\nSec-WebSocket-Version: 13\r\n\r\n")
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
      val lines = Iterator.continually(readLine())
        .takeWhile(_.nonEmpty).toList
      if (!lines.headOption.exists(_.split(" ").lift(1).contains("101")))
        throw new IOException(
          s"WebSocket upgrade refused: ${lines.headOption.getOrElse("EOF")}")
      val accept = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1").digest(
          (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
            .getBytes(StandardCharsets.US_ASCII)))
      val got = lines.collectFirst {
        case l if l.toLowerCase.startsWith("sec-websocket-accept:") =>
          l.split(":", 2)(1).trim
      }
      if (!got.contains(accept))
        throw new IOException(s"WebSocket upgrade: bad accept key $got")
    }

    private def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c == -1) throw new IOException("EOF during WebSocket upgrade")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    private def send(opcode: Int, payload: Array[Byte]): Unit =
      out.synchronized {
        val n = payload.length
        val head = new java.io.ByteArrayOutputStream(14)
        head.write(0x80 | opcode)
        if (n < 126) head.write(0x80 | n)
        else if (n < 65536) {
          head.write(0x80 | 126); head.write(n >>> 8); head.write(n)
        } else {
          head.write(0x80 | 127)
          (56 to 0 by -8).foreach(s => head.write((n.toLong >>> s).toInt))
        }
        val mask = new Array[Byte](4)
        rnd.nextBytes(mask)
        head.write(mask)
        out.write(head.toByteArray)
        out.write(Array.tabulate(n)(i => (payload(i) ^ mask(i % 4)).toByte))
        out.flush()
      }

    def sendText(text: String): Unit =
      send(0x1, text.getBytes(StandardCharsets.UTF_8))

    def ping(): Unit = send(0x9, Array.emptyByteArray)

    /** The next server message, blocking; EOF or a broken frame throws. */
    def next(): Message = {
      val text = new java.io.ByteArrayOutputStream()
      while (true) {
        val b0 = in.readUnsignedByte()
        val b1 = in.readUnsignedByte()
        var len = (b1 & 0x7f).toLong
        if (len == 126) len = in.readUnsignedShort().toLong
        else if (len == 127) len = in.readLong()
        if (len < 0 || len > Int.MaxValue)
          throw new IOException(s"WebSocket frame length $len")
        val mask = if ((b1 & 0x80) == 0) null else {
          val m = new Array[Byte](4); in.readFully(m); m
        }
        val payload = new Array[Byte](len.toInt)
        in.readFully(payload)
        if (mask != null)
          payload.indices.foreach(i =>
            payload(i) = (payload(i) ^ mask(i % 4)).toByte)
        (b0 & 0x0f) match {
          case 0x0 | 0x1 => // text and its continuations
            text.write(payload)
            if ((b0 & 0x80) != 0)
              return Text(new String(text.toByteArray, StandardCharsets.UTF_8))
          case 0x8 =>
            val code =
              if (len >= 2) ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
              else 1005
            val reason = if (len > 2)
              new String(payload, 2, len.toInt - 2, StandardCharsets.UTF_8)
            else ""
            try send(0x8, payload.take(2)) catch { case _: IOException => () }
            return Closed(code, reason)
          case 0x9 => send(0xa, payload)
          case 0xa => return Pong
          case _ => () // binary: not part of the pubsub protocol
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Send a normal close frame, then release the socket. */
    def close(): Unit = {
      try send(0x8, Array(0x03.toByte, 0xe8.toByte)) // 1000
      catch { case _: IOException => () }
      abort()
    }

    def abort(): Unit = try sock.close() catch { case _: IOException => () }
  }
}
