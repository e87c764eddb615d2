package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import graft.chain.ChainFixture
import graft.etl.{RpcCodec, WsHeads}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[WsHeads]] — the newHeads push subscription — driven against an
  * in-process RFC 6455 server (the WebSocket protocol is public and a
  * minimal server is ~100 lines: HTTP Upgrade handshake with the
  * SHA-1/base64 accept key, masked client→server frames, unmasked
  * server→client text frames). The server speaks the node pubsub
  * protocol from the same fixture the HTTP specs use, so both
  * transports are covered end-to-end with zero network egress:
  *
  *  - subscribe → ack → pushed notifications arrive in order;
  *  - the streaming heads source in push mode (`wsUrl` arrival signal
  *    + `apiUrl` data plane) collects every fixture head;
  *  - connect retry against a server that refuses first connections;
  *  - a connection dropped right after its pushes, and one that goes
  *    silent without closing, both reconnect and resubscribe with no
  *    pushed head lost.
  *
  * The specs wait on what the server has done — a latch it opens once a
  * connection's ack and pushes are on the wire — not on wall-clock
  * budgets; the client then drains with blocking polls that return as
  * soon as a header lands, and a deadline only bounds a failing run.
  */
class WsHeadsSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: org.apache.spark.sql.SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  private lazy val fx = ChainFixture.build(40)

  override def afterAll(): Unit = {
    servers.foreach(s => try s.close() catch { case _: Throwable => () })
    spark.stop()
    super.afterAll()
  }

  private val servers =
    scala.collection.mutable.ArrayBuffer.empty[TinyWsServer]

  private def headerJson(b: graft.chain.Block): String =
    JsonMethods.compact(JObject(
      "jsonrpc" -> JString("2.0"),
      "method" -> JString("xcb_subscription"),
      "params" -> JObject(
        "subscription" -> JString("0xfeed01"),
        "result" -> RpcCodec.encodeBlock(b, Nil, full = false))))

  /** A pubsub node on the shared [[TinyWsServer]]: on `*_subscribe` it
    * acks with a subscription id and pushes that connection's headers
    * (`pushByConnection` override, else `pushOnSubscribe`); `served(i)`
    * opens once connection i's ack and pushes are sent. A connection in
    * `dropConnections` is dropped abruptly right after its pushes. One in
    * `silentConnections` stays open but stops reading after its pushes,
    * so it answers no ping — a peer gone without closing — until
    * [[release]]. */
  private final class PubsubNode(pushOnSubscribe: Seq[String],
      refuseFirst: Int = 0,
      pushByConnection: Map[Int, Seq[String]] = Map.empty,
      dropConnections: Set[Int] = Set.empty,
      silentConnections: Set[Int] = Set.empty) {
    private val latches = new ConcurrentHashMap[Int, CountDownLatch]()
    private def served(conn: Int): CountDownLatch =
      latches.computeIfAbsent(conn, _ => new CountDownLatch(1))
    private val silence = new CountDownLatch(1)
    val server: TinyWsServer = new TinyWsServer((connIdx, text, send) => {
      if (text.contains("_subscribe")) {
        send("""{"jsonrpc":"2.0","id":1,"result":"0xfeed01"}""")
        pushByConnection.getOrElse(connIdx, pushOnSubscribe).foreach(send)
        served(connIdx).countDown()
        if (silentConnections(connIdx)) silence.await(60, TimeUnit.SECONDS)
        !dropConnections(connIdx)
      } else true
    }, refuseFirst)
    servers += server
    def url: String = server.url
    def wasServed(conn: Int): Boolean = served(conn).getCount == 0
    def awaitServed(conn: Int): Unit =
      assert(served(conn).await(60, TimeUnit.SECONDS),
        s"connection $conn never subscribed")
    def release(): Unit = silence.countDown()
  }

  /** Drain `ws` until `n` headers have arrived. */
  private def pollUntil(ws: WsHeads, n: Int): Seq[JValue] = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    var got = Seq.empty[JValue]
    while (got.size < n && System.nanoTime() < deadline)
      got = got ++ ws.pollHeaders(waitMs = 1000)
    got
  }

  private def numbers(hs: Seq[JValue]): Seq[Long] = hs.map(h =>
    RpcCodec.hexToLong(h \ "number" match {
      case JString(s) => s
      case _ => ""
    }))

  test("subscribe, ack, and pushed newHeads arrive in order") {
    val node = new PubsubNode(fx.blocks.take(5).map(headerJson))
    val ws = new WsHeads(node.url)
    try {
      node.awaitServed(0)
      val got = pollUntil(ws, 5)
      assert(got.size == 5, s"expected 5 pushed headers, got ${got.size}")
      // the ack precedes the pushes on the wire
      assert(ws.subscription.contains("0xfeed01"))
      assert(numbers(got) == (0L until 5L))
      assert(got.map(h => RpcCodec.unhexField(h \ "hash")) ==
        fx.blocks.take(5).map(_.hash))
    } finally ws.close()
  }

  test("connect retry survives refused connections") {
    val node = new PubsubNode(Nil, refuseFirst = 2)
    val ws = new WsHeads(node.url, retryBackoffMs = 50L)
    try {
      node.awaitServed(0) // the first handshake after two refusals
      assert(ws.pollHeaders() == Nil) // connected, no pushes
    } finally ws.close()
  }

  test("dropped connection: pollHeaders reconnects and resubscribes " +
      "instead of returning empty forever") {
    val headers = fx.blocks.take(5).map(headerJson)
    val node = new PubsubNode(Nil,
      pushByConnection = Map(0 -> headers.take(3), 1 -> headers.drop(3)),
      dropConnections = Set(0))
    val ws = new WsHeads(node.url, retryBackoffMs = 50L)
    try {
      // connection 0 pushes heads 0-2 then drops the socket abruptly,
      // while the client may still be taking them in
      node.awaitServed(0)
      val first = pollUntil(ws, 3)
      assert(numbers(first) == (0L until 3L),
        s"heads pushed before the drop were lost: got ${numbers(first)}")
      // later polls must notice the dead connection, reconnect and
      // resubscribe: connection 1 pushes heads 3-4 on subscribe
      val rest = pollUntil(ws, 2)
      assert(node.wasServed(1), "pollHeaders never resubscribed")
      assert(numbers(rest) == Seq(3L, 4L),
        s"reconnect did not resubscribe: got ${numbers(rest)}")
    } finally ws.close()
  }

  test("silent connection: an unanswered liveness ping makes " +
      "pollHeaders reconnect and resubscribe") {
    val headers = fx.blocks.take(5).map(headerJson)
    val node = new PubsubNode(Nil,
      pushByConnection = Map(0 -> headers.take(3), 1 -> headers.drop(3)),
      silentConnections = Set(0))
    val ws = new WsHeads(node.url, retryBackoffMs = 50L, livenessMs = 200L)
    try {
      // connection 0 pushes heads 0-2, then neither reads nor closes
      node.awaitServed(0)
      assert(numbers(pollUntil(ws, 3)) == (0L until 3L))
      // after 200 ms of silence a poll pings; with no reply in another
      // 200 ms the next poll reconnects (connection 1 pushes heads 3-4)
      val rest = pollUntil(ws, 2)
      assert(node.wasServed(1), "pollHeaders never resubscribed")
      assert(numbers(rest) == Seq(3L, 4L),
        s"reconnect did not resubscribe: got ${numbers(rest)}")
    } finally { ws.close(); node.release() }
  }

  test("heads stream in push mode: WS arrival signal + HTTP data plane " +
      "deliver every fixture head") {
    // WS server pushes all 40 headers on subscribe; the HTTP server
    // (same wire codec as RpcSourceSpec's) serves the header fetches
    val wsNode = new PubsubNode(fx.blocks.map(headerJson))
    val http = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      def handle(req: JValue): JValue = {
        val n = RpcCodec.hexToLong(
          (req \ "params")(0).asInstanceOf[JString].s)
        JObject("jsonrpc" -> JString("2.0"), "id" -> (req \ "id"),
          "result" -> RpcCodec.encodeBlock(fx.blocks(n.toInt), Nil,
            full = false))
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => JsonMethods.compact(JArray(reqs.map(handle)))
        case one => JsonMethods.compact(handle(one))
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    http.start()
    try {
      val q = spark.readStream
        .format("graft.sources.ChainHeadsProvider")
        .option("numBlocks", "40")
        .option("blocksPerBatch", "15")
        .option("wsUrl", wsNode.url)
        .option("apiUrl", s"http://127.0.0.1:${http.getAddress.getPort}/")
        .load()
        .writeStream.format("memory").queryName("ws_heads")
        .option("checkpointLocation", tempDir("graft-ws-heads-ckpt"))
        .start()
      try {
        // the source subscribes on its first trigger and the node pushes
        // all 40 headers at once; each processAllAvailable then blocks
        // until the heads the client has received so far are processed
        wsNode.awaitServed(0)
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        var n = 0L
        while (n < 40 && System.nanoTime() < deadline) {
          q.processAllAvailable()
          n = spark.table("ws_heads").count()
        }
      } finally q.stop()
      val got = spark.table("ws_heads").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val want = fx.blocks.map(b => (b.number, b.hash, b.parent_hash)).toSet
      assert(got == want, s"missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
    } finally http.stop(0)
  }
}
