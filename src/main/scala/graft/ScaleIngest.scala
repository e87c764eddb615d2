package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import graft.chain.ChainFixture
import graft.etl.{RpcCodec, RpcSource}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Empirical scale harness for the WIRE INGEST path (round 11) — the
  * measurement behind SCALE.md §10. [[graft.etl.RpcSource]]'s plan-shape
  * claim is:
  *
  *   - wall-clock ≈ RTT × ceil(blocks / batchSize) / fetchPartitions
  *     (+ node service time): each executor partition owns one
  *     connection and amortizes its heights into JSON-RPC batch calls,
  *     so parallelism divides round-trips and batching multiplies what
  *     each round-trip carries;
  *   - no block payload routes through the driver — driver heap stays
  *     flat as the ingested range grows.
  *
  * The harness runs against an in-process loopback node (JDK
  * HttpServer + the [[RpcCodec]] encoders over a [[ChainFixture]]
  * chain) with an injectable per-request latency emulating network
  * RTT — on a raw loopback the RTT term is ~0 and the sweep would
  * measure only serialization, which is not what dominates against a
  * real node fleet. POST counts are measured server-side, so the
  * round-trip arithmetic is asserted by observation, not assumption.
  *
  * Usage: `graft.ScaleIngest` main; env SPARK_GRAFT_INGEST_BLOCKS
  * (default 4096), SPARK_GRAFT_INGEST_RTT_MS (injected per-request
  * latency, default 25), SPARK_GRAFT_CPUS (default 32). Writes
  * SCALE_ingest.json in the cwd; one JSON line per run on stdout. */
object ScaleIngest {

  def main(args: Array[String]): Unit = {
    val nBlocks = sys.env.getOrElse("SPARK_GRAFT_INGEST_BLOCKS", "4096").toInt
    val rttMs = sys.env.getOrElse("SPARK_GRAFT_INGEST_RTT_MS", "25").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fx = ChainFixture.build(nBlocks)
    // pre-grouped lookups: a per-request linear scan of 12k txs would
    // put O(blocks × txs) of HARNESS service time inside the measured
    // wall and dilute the RTT signal the sweep exists to isolate
    val txByBlock = fx.transactions.groupBy(_.block_number)
      .map { case (n, ts) => n -> ts.sortBy(_.transaction_index) }
    val receiptByHash = fx.receipts.map(r => r.tx_hash -> r).toMap
    val posts = new AtomicInteger(0)
    // response payload actually served — the "block bodies cross the
    // wire N times" claim, observed rather than asserted
    val bytesServed = new java.util.concurrent.atomic.AtomicLong(0L)

    // ---- the loopback node (same wire protocol as RpcSourceSpec's) ----
    def handle(req: JValue): JValue = {
      import RpcCodec._
      val method = (req \ "method").asInstanceOf[JString].s
      def params = (req \ "params").asInstanceOf[JArray].arr
      val result: JValue = method match {
        case "xcb_blockNumber" => JString(longToHex(fx.blocks.last.number))
        case "xcb_getBlockByNumber" =>
          val n = hexToLong(params.head.asInstanceOf[JString].s)
          val full = params(1).asInstanceOf[JBool].value
          fx.blocks.lift(n.toInt) match {
            case None => JNull
            case Some(b) => encodeBlock(b,
              txByBlock.getOrElse(n, Nil), full)
          }
        case "xcb_getTransactionReceipt" =>
          val h = params.head.asInstanceOf[JString].s.stripPrefix("0x")
          receiptByHash.get(h).map(encodeReceipt).getOrElse(JNull)
        case other => sys.error(s"unexpected method $other")
      }
      JObject("jsonrpc" -> JString("2.0"), "id" -> (req \ "id"),
        "result" -> result)
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      posts.incrementAndGet()
      if (rttMs > 0) Thread.sleep(rttMs) // emulated network round-trip
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => JsonMethods.compact(JArray(reqs.map(handle)))
        case one => JsonMethods.compact(handle(one))
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      bytesServed.addAndGet(bytes.length.toLong)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    // the pool must exceed the widest fan-out or the server serializes
    // what the client parallelizes and the sweep measures the harness
    val serverPool = java.util.concurrent.Executors.newFixedThreadPool(64)
    server.setExecutor(serverPool)
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/"

    // ---- measurement ---------------------------------------------------
    val out = Seq.newBuilder[String]
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def heapMb(): Long = {
      val r = Runtime.getRuntime
      System.gc()
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }

    def run(name: String, partitions: Int, batchSize: Int)(
        body: RpcSource => Long): Unit = {
      val src = new RpcSource(url, fetchPartitions = partitions,
        batchSize = batchSize)
      val p0 = posts.get()
      val by0 = bytesServed.get()
      val t0 = System.nanoTime()
      val rows = body(src)
      val sec = (System.nanoTime() - t0) / 1e9
      val trips = posts.get() - p0
      val mb = (bytesServed.get() - by0) / 1e6
      val line = s"""{"run":"$name","partitions":$partitions,""" +
        s""""batch_size":$batchSize,"blocks":$nBlocks,"rtt_ms":$rttMs,""" +
        s""""sec":${fmt(sec)},"rows":$rows,"round_trips":$trips,""" +
        s""""wire_mb":${fmt(mb)},""" +
        s""""blocks_per_sec":${fmt(nBlocks / sec)},""" +
        s""""driver_heap_mb":${heapMb()}}"""
      println(line)
      out += line
    }

    // warm codegen/scan machinery so run #1 doesn't pay first-job costs
    new RpcSource(url, fetchPartitions = 4).blocks(spark, 0, 63).count()
    posts.set(0)

    // parallelism sweep at fixed batch: wall should divide by partitions
    // while round-trips stay constant (ceil(blocks/batch) either way)
    Seq(1, 4, 16).foreach { p =>
      run(s"blocks_p$p", p, 64)(_.blocks(spark, 0, nBlocks - 1).count())
    }
    // batch-size sweep at fixed parallelism: round-trips multiply as the
    // batch shrinks and the RTT term grows with them
    Seq(8, 64, 256).foreach { b =>
      run(s"blocks_b$b", 16, b)(_.blocks(spark, 0, nBlocks - 1).count())
    }
    // per-table methods in isolation (kept for the sweep history; the
    // old Backfill composition fetched ALL of these — three passes)
    run("txs_p16", 16, 64)(_.transactions(spark, 0, nBlocks - 1).count())
    run("receipts_p16", 16, 64)(_.receipts(spark, 0, nBlocks - 1).count())

    // round 12: the single-pass Backfill composition — ONE
    // getBlockByNumber(full) pass materializes blocks AND transactions
    // (fetchRange), and receipts are fetched per SELECTOR-MATCHING tx
    // only (withReceiptStatus), reference semantics etl.rs:186-207/353-360.
    // Round-trips here vs the blocks_p16+txs_p16+receipts_p16 sum above
    // is the over-fetch fix, observed server-side.
    run("ingest_single_pass_p16", 16, 64) { src =>
      val f = src.fetchRange(spark, 0, nBlocks - 1)
      try {
        import org.apache.spark.sql.functions.col
        val b = f.blocks.count()
        val t = f.transactions.count()
        val matching = f.transactions.filter(
          col("to_addr") === ChainFixture.Watched &&
            graft.chain.ContractRegistry("cbc20").isCall(col("input")))
          .select("hash")
        val r = src.withReceiptStatus(spark, 0, nBlocks - 1, matching)
          .count()
        b + t + r
      } finally f.release()
    }

    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE_ingest.json"),
      ("[" + out.result().mkString(",\n") + "]")
        .getBytes(StandardCharsets.UTF_8))
    server.stop(0)
    // server.stop does NOT stop a caller-supplied executor, and its
    // non-daemon threads would keep the JVM alive after main returns
    serverPool.shutdownNow()
    spark.stop()
  }
}
