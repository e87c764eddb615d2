package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import graft.chain.{Block, ChainFixture, Transaction}
import graft.etl.RpcCodec
import org.json4s._
import org.json4s.jackson.JsonMethods

/** In-process JSON-RPC node over a [[ChainFixture]] chain, the shape
  * `graft.ScaleIngest` measures against: HTTP on the loopback, a fixed
  * injected per-request delay standing in for the network round trip, and
  * counters taken where the requests arrive.
  *
  * What the node serves can change while it runs: `tip` bounds the chain
  * it reports, and a fork (heights `forkFrom` .. `forkFrom + forkLen - 1`
  * from [[ChainFixture.forkBlocks]]) can be switched in and out, which is
  * how the live workload stages a reorg. */
final class Node(fx: ChainFixture.Fixture, rttMs: Long, threads: Int)
    extends AutoCloseable {

  private val txByBlock: Map[Long, Seq[Transaction]] =
    fx.transactions.groupBy(_.block_number)
      .map { case (n, ts) => n -> ts.sortBy(_.transaction_index) }
  private val receiptByHash = fx.receipts.map(r => r.tx_hash -> r).toMap

  /** The served chain: canonical up to `tip`, or with a fork on top. */
  private final case class View(tip: Long, fork: Map[Long, Block])
  @volatile private var view = View(fx.blocks.size - 1L, Map.empty)

  def setTip(tip: Long): Unit = view = View(tip, Map.empty)
  def tip: Long = view.tip

  /** Serve a fork of `len` blocks from `from` on; the reported tip becomes
    * its last block. Returns that block. */
  def serveFork(from: Long, len: Int): Block = {
    val blocks = ChainFixture.forkBlocks(fx, from.toInt, len)
    view = View(from + len - 1, blocks.map(b => b.number -> b).toMap)
    blocks.last
  }

  // ---- counters ---------------------------------------------------------
  val roundTrips = new AtomicLong
  val requests = new AtomicLong
  val receiptRequests = new AtomicLong
  val bytesServed = new AtomicLong
  /** Handler time without the injected delay: the node's own work. */
  val busyNs = new AtomicLong

  def counters(): NodeCounters = NodeCounters(roundTrips.get, requests.get,
    receiptRequests.get, bytesServed.get, busyNs.get)

  private def handle(v: View, req: JValue): JValue = {
    import RpcCodec._
    requests.incrementAndGet()
    val method = (req \ "method").asInstanceOf[JString].s
    def params = (req \ "params").asInstanceOf[JArray].arr
    val result: JValue = method match {
      case "xcb_blockNumber" => JString(longToHex(v.tip))
      case "xcb_getBlockByNumber" =>
        val n = hexToLong(params.head.asInstanceOf[JString].s)
        val full = params(1).asInstanceOf[JBool].value
        if (n < 0 || n > v.tip) JNull
        else v.fork.get(n) match {
          case Some(b) => encodeBlock(b, Nil, full)
          case None => encodeBlock(fx.blocks(n.toInt),
            txByBlock.getOrElse(n, Nil), full)
        }
      case "xcb_getTransactionReceipt" =>
        receiptRequests.incrementAndGet()
        val h = params.head.asInstanceOf[JString].s.stripPrefix("0x")
        receiptByHash.get(h).map(encodeReceipt).getOrElse(JNull)
      case other => sys.error(s"unexpected method $other")
    }
    JObject("jsonrpc" -> JString("2.0"), "id" -> (req \ "id"),
      "result" -> result)
  }

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", { exchange =>
    try {
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      roundTrips.incrementAndGet()
      if (rttMs > 0) Thread.sleep(rttMs)
      val t0 = System.nanoTime()
      val v = view // one chain per round trip, even mid-switch
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => JsonMethods.compact(JArray(reqs.map(handle(v, _))))
        case one => JsonMethods.compact(handle(v, one))
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      busyNs.addAndGet(System.nanoTime() - t0)
      bytesServed.addAndGet(bytes.length.toLong)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
    } finally exchange.close()
  })
  server.setExecutor(pool)
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/"

  override def close(): Unit = {
    server.stop(0)
    // stop() leaves a caller-supplied executor running
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object Node {
  /** Injected per-request delay of the full-size workloads: the default of
    * `graft.ScaleIngest`, whose ingest sweep this node copies. */
  val RttMs = 25L
}

final case class NodeCounters(roundTrips: Long, requests: Long,
    receiptRequests: Long, bytes: Long, busyNs: Long) {
  def minus(o: NodeCounters): NodeCounters = NodeCounters(
    roundTrips - o.roundTrips, requests - o.requests,
    receiptRequests - o.receiptRequests, bytes - o.bytes, busyNs - o.busyNs)
}
