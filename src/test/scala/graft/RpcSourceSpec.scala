package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import graft.chain.{ChainFixture, ChainOps}
import graft.etl.{Backfill, ChainSource, FixtureSource, RpcCodec, RpcSource,
  Tail}
import graft.store.GraftStore
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The production JSON-RPC [[RpcSource]] driven end-to-end against an
  * in-process loopback HTTP server speaking the node wire protocol from
  * the SAME fixture the [[FixtureSource]] replays — zero network egress,
  * full client exercise:
  *
  *  - every [[graft.etl.ChainSource]] method round-trips the wire and
  *    must equal the fixture source row-for-row (hex quantities, U256
  *    decimal strings, null→sentinel mapping all covered by equality);
  *  - the executor-side batch fan-out really runs (the server counts
  *    single vs batch POSTs);
  *  - transport retry: a server that fails each request's first
  *    attempts is eventually answered (the reference's 5-retry
  *    connect, provider.rs:25-38);
  *  - the full [[Backfill]] ingest over HTTP commits a store identical
  *    to the fixture-sourced one.
  */
class RpcSourceSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  private lazy val fx = ChainFixture.build(60)
  private var server: com.sun.net.httpserver.HttpServer = _
  private var url: String = _
  private val posts = new AtomicInteger(0)
  private val batchPosts = new AtomicInteger(0)
  /** Per-method request counters (individual JSON-RPC requests, batch
    * members included) — the wire-cost gate for the single-pass fetch. */
  private val blockReqs = new AtomicInteger(0)
  private val receiptReqs = new AtomicInteger(0)
  /** POSTs to answer 503 before recovering — retry injection. */
  private val failures = new AtomicInteger(0)
  /** xcb_syncing calls to answer "still syncing" before reporting
    * synced — the --lazy gate's poll target. */
  private val syncingAnswers = new AtomicInteger(0)
  /** Largest JSON-RPC batch the server has seen — the chunk-size gate. */
  private val maxBatchLen = new AtomicInteger(0)

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (wsNode != null) wsNode.close()
    spark.stop()
    super.afterAll()
  }

  // ---- the loopback node: fixture rows encoded in wire format ----

  /** When set, the node's chain view becomes canonical-below-the-fork ++
    * the fork branch — a live reorg injected mid-test. Canonical txs are
    * keyed by (number, hash), so forked heights serve empty tx lists
    * exactly like [[FixtureSource]]'s fork mode. */
  @volatile private var fork: Option[Seq[graft.chain.Block]] = None
  private def viewBlocks: Seq[graft.chain.Block] = fork match {
    case Some(f) => fx.blocks.takeWhile(_.number < f.head.number) ++ f
    case None => fx.blocks
  }

  /** When set, the node answers null for every block above this height —
    * a lagging replica. */
  @volatile private var lagTip: Option[Long] = None

  /** Tx hashes whose receipt the node answers null (it has none). */
  @volatile private var nullReceipts: Set[String] = Set.empty

  private def handle(req: JValue): JValue = {
    import RpcCodec._
    val id = req \ "id"
    val method = (req \ "method").asInstanceOf[JString].s
    def params = (req \ "params").asInstanceOf[JArray].arr
    val result: JValue = method match {
      case "xcb_blockNumber" =>
        JString(longToHex(viewBlocks.last.number))
      case "net_version" => JString("1")
      case "xcb_syncing" =>
        // a syncing node answers a status OBJECT; a synced one `false`
        if (syncingAnswers.getAndUpdate(n => math.max(n - 1, 0)) > 0)
          JObject("startingBlock" -> JString("0x0"),
            "currentBlock" -> JString("0x10"))
        else JBool(false)
      case "xcb_getBlockByNumber" =>
        blockReqs.incrementAndGet()
        val n = hexToLong(params.head.asInstanceOf[JString].s)
        val full = params(1).asInstanceOf[JBool].value
        viewBlocks.find(b => b.number == n && lagTip.forall(n <= _)) match {
          case None => JNull
          case Some(b) => encodeBlock(b,
            fx.transactions.filter(t =>
                t.block_number == n && t.block_hash == b.hash)
              .sortBy(_.transaction_index), full)
        }
      case "xcb_getTransactionReceipt" =>
        receiptReqs.incrementAndGet()
        val h = params.head.asInstanceOf[JString].s.stripPrefix("0x")
        fx.receipts.find(r => r.tx_hash == h && !nullReceipts(h))
          .map(encodeReceipt).getOrElse(JNull)
      case other => sys.error(s"unexpected method $other")
    }
    JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> result)
  }

  private def startServer(): Unit = {
    server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      posts.incrementAndGet()
      if (failures.getAndUpdate(n => math.max(n - 1, 0)) > 0) {
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else {
        val resp = JsonMethods.parse(body) match {
          case JArray(reqs) =>
            batchPosts.incrementAndGet()
            maxBatchLen.getAndUpdate(n => math.max(n, reqs.size))
            JsonMethods.compact(JArray(reqs.map(handle)))
          case one => JsonMethods.compact(handle(one))
        }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(200, bytes.length.toLong)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    url = s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  private lazy val src: RpcSource = { startServer(); new RpcSource(url) }
  private lazy val fixtureSrc = new FixtureSource(fx)

  /** The SAME node behind the WebSocket transport (the reference
    * provider's native one — its `--network` presets are wss endpoints,
    * network.rs:11-17): JSON-RPC request/response text frames served by
    * the shared RFC 6455 loopback server, delegating to the identical
    * `handle`. */
  private var wsNode: TinyWsServer = _
  private def wsNodeUrl: String = {
    if (wsNode == null) wsNode = new TinyWsServer((_, text, send) => {
      val resp = JsonMethods.parse(text) match {
        case JArray(reqs) => JsonMethods.compact(JArray(reqs.map(handle)))
        case one => JsonMethods.compact(handle(one))
      }
      send(resp); true
    })
    wsNode.url
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("wire-literal pins: hand-written payloads decode to the expected " +
      "engine rows (convention check, not inverse-of-encoder)") {
    // Round-trip equality through encodeTx/decodeTx proves only that the
    // two are inverses — it passed for a full round while BOTH sides
    // inverted the tx-nonce convention. These payloads are written by
    // hand straight from the public wire format, with every quantity
    // >= 10 so hex and decimal renderings differ.
    val txJson = JsonMethods.parse("""{
      "hash": "0xABCDef0123456789abcdef0123456789abcdef0123456789abcdef0123456789",
      "nonce": "0x1a",
      "blockHash": "0x00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff00ff",
      "blockNumber": "0x2b",
      "transactionIndex": "0xc",
      "from": "0xCB57dd2aF5b1417cc51F5Ec1d52246712Ac20E8271",
      "to": null,
      "value": "0xde0b6b3a7640000",
      "energy": "0x5208",
      "energyPrice": "0x3b9aca00",
      "input": "0xA9059CBB"
    }""")
    val t = RpcCodec.decodeTx(txJson)
    // hashes/addresses/payloads: 0x stripped, lowercased
    assert(t.hash == "abcdef0123456789abcdef0123456789abcdef0123456789" +
      "abcdef0123456789")
    assert(t.nonce == "26", s"tx nonce is a wire hex QUANTITY, engine " +
      s"stores decimal (transaction.rs:33) — got '${t.nonce}'")
    assert(t.block_number == 43L && t.transaction_index == 12L)
    assert(t.from_addr == "cb57dd2af5b1417cc51f5ec1d52246712ac20e8271")
    assert(t.to_addr == "") // null → contract-creation sentinel
    assert(t.value == "1000000000000000000") // 1e18, decimal string
    assert(t.energy == "21000" && t.energy_price == "1000000000")
    assert(t.input == "a9059cbb")
    // and the encoder renders the same row back in wire convention
    val enc = RpcCodec.encodeTx(t)
    assert(enc \ "nonce" == JString("0x1a"))
    assert(enc \ "value" == JString("0xde0b6b3a7640000"))
    assert(enc \ "to" == JNull)

    // block: nonce here is an 8-byte hash-like field — stays HEX
    // (block.rs:43-46), unlike the tx quantity above
    val blockJson = JsonMethods.parse("""{
      "number": "0x1f",
      "hash": "0x11", "parentHash": "0x22",
      "nonce": "0x0000000000AB12CD",
      "sha3Uncles": "0x33", "logsBloom": "0x44",
      "transactionsRoot": "0x55", "stateRoot": "0x66",
      "receiptsRoot": "0x77", "miner": "0x88",
      "difficulty": "0xff", "totalDifficulty": "0x100",
      "extraData": "0x99",
      "energyLimit": "0x1388", "energyUsed": "0x4e",
      "timestamp": "0x5f5e0ff",
      "transactions": ["0xaa", "0xbb"]
    }""")
    val b = RpcCodec.decodeBlock(blockJson)
    assert(b.number == 31L)
    assert(b.nonce == "0000000000ab12cd", "block nonce stays hex")
    assert(b.difficulty == "255" && b.total_difficulty == "256")
    assert(b.energy_limit == 5000L && b.energy_used == 78L)
    assert(b.timestamp == 99999999L && b.transaction_count == 2L)

    val receiptJson = JsonMethods.parse(
      """{"transactionHash": "0xCC", "status": "0x1"}""")
    val r = RpcCodec.decodeReceipt(receiptJson)
    assert(r.tx_hash == "cc" && r.status)
  }

  test("driver-side calls: tip height, network id, sync gate") {
    assert(src.tipHeight(spark) == fx.blocks.last.number)
    assert(src.networkId() == 1L)
    assert(src.syncedGate())
  }

  test("blocks over the wire equal the fixture source row-for-row") {
    assert(rows(src.blocks(spark, 0, 59)) ==
      rows(fixtureSrc.blocks(spark, 0, 59)))
    // sub-range + empty range
    assert(rows(src.blocks(spark, 10, 12)) ==
      rows(fixtureSrc.blocks(spark, 10, 12)))
    assert(src.blocks(spark, 5, 4).count() == 0)
  }

  test("transactions over the wire equal the fixture source (incl. " +
      "contract-creation null->empty-to sentinel and U256 decimals)") {
    assert(rows(src.transactions(spark, 0, 59)) ==
      rows(fixtureSrc.transactions(spark, 0, 59)))
    // the fixture has contract creations (to_addr = "") in range —
    // the equality above only proves the mapping if some exist
    assert(fixtureSrc.transactions(spark, 0, 59)
      .filter("to_addr = ''").count() > 0)
  }

  test("receipts over the wire equal the fixture source") {
    assert(rows(src.receipts(spark, 0, 59)) ==
      rows(fixtureSrc.receipts(spark, 0, 59)
        .filter(org.apache.spark.sql.functions.col("tx_hash")
          .isin(fixtureSrc.transactions(spark, 0, 59)
            .select("hash").collect().map(_.getString(0)).toSeq: _*))))
  }

  test("the fan-out batches requests (JSON-RPC batch form)") {
    batchPosts.set(0)
    src.blocks(spark, 0, 59).count()
    assert(batchPosts.get() > 0, "expected batched POSTs")
    // 60 heights over <=8 partitions at batchSize 64: every partition
    // fits one batch, so far fewer POSTs than blocks
    assert(batchPosts.get() <= 8, s"too many batches: ${batchPosts.get()}")
  }

  test("transport retry survives transient server failures") {
    failures.set(2) // next two POSTs answer 503, then recover
    assert(src.tipHeight(spark) == fx.blocks.last.number)
    // and a hard-down count exhausts retries with a clear error
    failures.set(1000)
    val e = intercept[RuntimeException] {
      new RpcSource(url, retries = 2, retryBackoffMs = 1L).tipHeight(spark)
    }
    assert(e.getMessage.contains("failed after 2 attempts"), e.getMessage)
    failures.set(0)
  }

  test("the same source over the WebSocket transport equals the " +
      "fixture row-for-row (driver calls + executor fan-out)") {
    val wsSrc = new RpcSource(wsNodeUrl)
    assert(wsSrc.tipHeight(spark) == fx.blocks.last.number)
    assert(wsSrc.networkId() == 1L)
    assert(rows(wsSrc.blocks(spark, 0, 59)) ==
      rows(fixtureSrc.blocks(spark, 0, 59)))
    assert(rows(wsSrc.transactions(spark, 10, 30)) ==
      rows(fixtureSrc.transactions(spark, 10, 30)))
    // receipts: WS and HTTP transports answer identically
    assert(rows(wsSrc.receipts(spark, 0, 20)) ==
      rows(src.receipts(spark, 0, 20)))
  }

  test("WS transport: connect retry survives refused connections and " +
      "a dead connection is rebuilt") {
    wsNodeUrl // force the node up
    val refusing = new TinyWsServer((_, text, send) => {
      send(JsonMethods.compact(JsonMethods.parse(text) match {
        case one => handle(one)
      }))
      true
    }, refuseFirst = 2)
    try {
      val c = new graft.etl.RpcClient(refusing.url, 5, 20L)
      assert(RpcCodec.hexToLong(c.call("xcb_blockNumber", Nil) match {
        case JString(s) => s
        case other => sys.error(s"$other")
      }) == fx.blocks.last.number)
    } finally refusing.close()
    // a server that drops the connection after the first answer: the
    // client's next call must rebuild the connection, not hang/fail
    val dropping = new TinyWsServer((connIdx, text, send) => {
      send(JsonMethods.compact(JsonMethods.parse(text) match {
        case one => handle(one)
      }))
      connIdx > 0 // drop connection 0 right after its first answer
    })
    try {
      val c = new graft.etl.RpcClient(dropping.url, 5, 20L)
      assert(c.call("net_version", Nil) == JString("1"))
      assert(c.call("net_version", Nil) == JString("1")) // post-drop
    } finally dropping.close()
  }

  test("WS transport: a response sent right before the peer closes is " +
      "taken on the first connection, with no retry") {
    // The JDK WebSocket client lost such a last frame while taking it
    // in (5 of these 40 calls), costing a timeout and a retry per loss.
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    val closing = new TinyWsServer((_, text, send) => {
      requests.incrementAndGet()
      send(JsonMethods.compact(JsonMethods.parse(text) match {
        case JArray(reqs) => JArray(reqs.map(handle))
        case one => handle(one)
      }))
      false // drop the socket right behind the response frame
    })
    val blocks = (0 until 40).map(h => ("xcb_getBlockByNumber",
      List(JString(RpcCodec.longToHex(h)), JBool(true))))
    try (1 to 40).foreach { _ =>
      // one attempt only: a lost frame would fail the call
      val c = new graft.etl.RpcClient(closing.url, 1, 10L, 5000L)
      try assert(c.callBatch(blocks).size == 40)
      finally c.close()
    } finally closing.close()
    assert(requests.get == 40)
  }

  test("CLI export --api-url drives the RPC source end-to-end " +
      "(--rpc-batch-size caps the wire batches)") {
    val storeDir = tempDir("graft-rpc-cli")
    maxBatchLen.set(0)
    cli.Main.run(spark, Array("export", "--store", storeDir,
      "--blocks", "60", "--api-url", url, "--network", "mainnet",
      "--threads", "2", // reference --threads: fetch fan-out width
      "--rpc-batch-size", "13"))
    val store = new GraftStore(storeDir)
    assert(rows(store.read(spark, "blocks")) ==
      rows(fixtureSrc.blocks(spark, 0, 59)))
    assert(store.read(spark, "token_transfers").count() > 0)
    assert(maxBatchLen.get() <= 13,
      s"--rpc-batch-size 13 must cap batches, saw ${maxBatchLen.get()}")
  }

  test("CLI export retries a crashed attempt: the retry replaces the " +
      "stored tail, never below --block, and ends gap-free at the node's " +
      "tip (export.rs:55-69)") {
    val url = src.url // forcing `src` starts the loopback node
    val storeDir = tempDir("graft-rpc-cli-retry")
    val store = new GraftStore(storeDir, bucketSize = 10L)
    Backfill.run(spark, fixtureSrc, store, 0, 39)
    // the wipe height 39 - 100 + 1 clamps to 0, so --block 20 bounds the
    // retry: buckets 0-1 (heights 0..19) must keep their stored leaves,
    // buckets 2-3 are the tail the retry replaces
    val (kept, tail) = store.currentLeaves().partition(_.bucket < 2)
    assert(kept.nonEmpty && tail.nonEmpty)
    // six 503s outlast the client's five tries: the first attempt's tip
    // call throws, the retry's first POST fails once more and recovers
    failures.set(6)
    val out = new java.io.ByteArrayOutputStream()
    try Console.withOut(new java.io.PrintStream(out)) {
      cli.Main.run(spark, Array("export", "--store", storeDir,
        "--bucket-size", "10", "--block", "20", "--api-url", url,
        "--network", "mainnet"))
    } finally failures.set(0)
    assert(out.toString.contains("in 2 attempt(s)"), out.toString)
    val leaves = store.currentLeaves().toSet
    assert(kept.forall(leaves), "leaves below --block must stay as stored")
    assert(!tail.exists(leaves), "the retry must replace the stored tail")
    val blocks = store.read(spark, "blocks")
    assert(blocks.select("number").collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 59L))
    assert(ChainOps.continuityGaps(blocks).count() == 0)
    assert(rows(blocks) == rows(fixtureSrc.blocks(spark, 0, 59)))
  }

  test("CLI export retry never drops a stored height it does not " +
      "re-ingest: a cursor past --blocks makes no node call, and a retry " +
      "ending below the stored tip resumes from the cursor") {
    val url = src.url // forcing `src` starts the loopback node
    def export(storeDir: String, extra: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      // six 503s outlast the client's five tries: a first tip call throws
      failures.set(6)
      try Console.withOut(new java.io.PrintStream(out)) {
        cli.Main.run(spark, Array("export", "--store", storeDir,
          "--bucket-size", "10", "--api-url", url, "--network",
          "mainnet") ++ extra)
      } finally failures.set(0)
      out.toString
    }
    // the store already holds 0..59; --blocks 30 ends below its cursor
    val capped = tempDir("graft-rpc-cli-capped")
    val cappedStore = new GraftStore(capped, bucketSize = 10L)
    Backfill.run(spark, fixtureSrc, cappedStore, 0, 59)
    val cappedLeaves = cappedStore.currentLeaves().toSet
    val postsBefore = posts.get()
    val cappedOut = export(capped, "--blocks", "30")
    assert(cappedOut.contains("in 1 attempt(s), stored tip 59"), cappedOut)
    assert(posts.get() == postsBefore, "a finished cursor asks the node nothing")
    assert(cappedStore.currentLeaves().toSet == cappedLeaves)
    // the store holds 0..69 and the node's tip is 59: the retry's end is
    // below the stored tip, so it must not replace the tail from 69 - 99
    val ahead = tempDir("graft-rpc-cli-ahead")
    val aheadStore = new GraftStore(ahead, bucketSize = 10L)
    Backfill.run(spark, new FixtureSource(ChainFixture.build(70)),
      aheadStore, 0, 69)
    val aheadLeaves = aheadStore.currentLeaves().toSet
    val aheadOut = export(ahead)
    assert(aheadOut.contains("in 2 attempt(s), stored tip 69"), aheadOut)
    assert(aheadStore.currentLeaves().toSet == aheadLeaves)
    assert(aheadStore.read(spark, "blocks").count() == 70)
  }

  test("CLI export --lazy polls the node's REAL syncing gate before " +
      "ingesting (export.rs:40-43 / OP-STR-5)") {
    syncingAnswers.set(2) // node reports syncing twice, then synced
    val storeDir = tempDir("graft-rpc-lazy")
    cli.Main.run(spark, Array("export", "--store", storeDir,
      "--blocks", "20", "--api-url", url, "--lazy",
      "--gate-poll-ms", "5"))
    assert(syncingAnswers.get() == 0,
      "the lazy gate must have consumed the node's syncing answers")
    assert(new GraftStore(storeDir).read(spark, "blocks").count() == 20,
      "ingest must proceed once the node reports synced")
  }

  test("CLI verify --api-url reports the REAL chain tip and lag " +
      "(verify.rs:35-39), not fixture fiction") {
    val storeDir = tempDir("graft-rpc-verify")
    cli.Main.run(spark, Array("export", "--store", storeDir,
      "--blocks", "30", "--api-url", url))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      cli.Main.run(spark, Array("verify", "blocks", "--store", storeDir,
        "--api-url", url))
    }
    val report = out.toString
    // store holds 0..29; the node's tip is 59 → lag 30. The old code
    // resolved the tip from a fixture sized by --blocks and would have
    // reported lag 0 here.
    assert(report.contains("stored max 29") &&
      report.contains("chain tip 59") && report.contains("lag 30"), report)
  }

  test("CLI env mirror: GRAFT_* variables fall back for flags " +
      "(reference clap env, main.rs:27-58)") {
    val storeDir = tempDir("graft-rpc-cli-envvar")
    cli.Main.run(spark,
      Array("export", "--store", storeDir, "--blocks", "60"),
      env = Map("GRAFT_API_URL" -> url, "GRAFT_MODULES" -> "blocks"))
    val store = new GraftStore(storeDir)
    assert(rows(store.read(spark, "blocks")) ==
      rows(fixtureSrc.blocks(spark, 0, 59)))
    // GRAFT_MODULES gated the other tables off, like --modules would
    assert(store.leavesOf("transactions").isEmpty)
    assert(store.leavesOf("token_transfers").isEmpty)
    // an explicit flag still beats the env mirror
    val storeDir2 = tempDir("graft-rpc-cli-envvar2")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      cli.Main.run(spark,
        Array("export", "--store", storeDir2, "--blocks", "5",
          "--modules", "blocks"),
        env = Map("GRAFT_BLOCKS" -> "60", "GRAFT_MODULES" -> "blocks"))
    }
    assert(new GraftStore(storeDir2).read(spark, "blocks").count() == 5)
  }

  test("live heads stream: HTTP tip-polling releases every header over " +
      "the wire with fixture-identical hashes (batchSize option honored)") {
    maxBatchLen.set(0)
    val q = spark.readStream
      .format("graft.sources.ChainHeadsProvider")
      .option("numBlocks", "60")
      .option("blocksPerBatch", "25")
      .option("batchSize", "9")
      .option("apiUrl", url)
      .load()
      .writeStream.format("memory").queryName("rpc_heads")
      .option("checkpointLocation", tempDir("graft-rpc-heads-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rpc_heads").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = fx.blocks.map(b => (b.number, b.hash, b.parent_hash)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(maxBatchLen.get() <= 9,
      s".option(batchSize, 9) must cap the stream's wire batches, " +
        s"saw ${maxBatchLen.get()}")
  }

  test("full live pipeline: HTTP heads stream feeding tail ingest over " +
      "the RPC source builds the complete store") {
    // the production loop end-to-end, everything over the wire:
    // backfill half the chain, then the heads stream (HTTP tip-polling)
    // drives Tail.processHead, which fetches blocks/txs/receipts through
    // the SAME RpcSource — store converges to the full fixture chain
    val store = new GraftStore(tempDir("graft-rpc-tail"), bucketSize = 20L)
    Backfill.run(spark, src, store, 0, 29)
    val heads = spark.readStream
      .format("graft.sources.ChainHeadsProvider")
      .option("numBlocks", "60")
      .option("blocksPerBatch", "20")
      .option("apiUrl", url)
      .load()
    val q = graft.etl.Tail.attach(spark, store, src, heads)
      .option("checkpointLocation", tempDir("graft-rpc-tail-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val blocks = store.read(spark, "blocks")
    assert(blocks.count() == 60)
    assert(graft.chain.ChainOps.continuityGaps(blocks).count() == 0)
    assert(rows(blocks) == rows(fixtureSrc.blocks(spark, 0, 59)))
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.size)
  }

  test("live-mode reorg over the wire: the node forks mid-stream and " +
      "the store converges through the RPC source (OP-STR-3 live)") {
    // the one production path round 10 left unexercised through
    // RpcSource: the reorg seam (parent-hash check, walk-back, bucket
    // rewrite) driven entirely by wire data. The loopback node first
    // serves the canonical chain 0..59; once the stream has caught up,
    // it reorgs — heights >= 50 replaced by a fork extending to 64 —
    // and the heads stream + tail ingest must splice the store to
    // canonical<50 ++ fork 50..64.
    val store = new GraftStore(tempDir("graft-rpc-reorg"), bucketSize = 20L)
    Backfill.run(spark, src, store, 0, 44)
    val forkBranch = ChainFixture.forkBlocks(fx, 50, 15) // heights 50..64
    val heads = spark.readStream
      .format("graft.sources.ChainHeadsProvider")
      .option("numBlocks", "65")
      .option("blocksPerBatch", "20")
      .option("apiUrl", url)
      .load()
    val q = graft.etl.Tail.attach(spark, store, src, heads)
      .option("checkpointLocation", tempDir("graft-rpc-reorg-ckpt"))
      .start()
    try {
      q.processAllAvailable() // catch up to the canonical tip (59)
      assert(store.read(spark, "blocks").count() == 60)
      fork = Some(forkBranch) // the node reorgs
      val deadline = System.currentTimeMillis() + 30000
      while (store.read(spark, "blocks").count() < 65 &&
          System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
    } finally { q.stop(); fork = None }
    val blocks = store.read(spark, "blocks")
    assert(blocks.count() == 65)
    val byN = blocks.select("number", "hash", "parent_hash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byN(50L)._1 == forkBranch.head.hash,
      "height 50 must carry the fork hash after the splice")
    assert(byN(49L)._1 == fx.blocks(49).hash, "height 49 stays canonical")
    (1L to 64L).foreach(n =>
      assert(byN(n)._2 == byN(n - 1)._1, s"hash linkage broken at $n"))
    assert(graft.chain.ChainOps.continuityGaps(blocks).count() == 0)
    // fork blocks carry no txs: transfers stop below the fork point
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.count(_._1.block_number < 50))
  }

  test("wire pin: absent/null totalDifficulty and difficulty decode to " +
      "\"0\" (block.rs:54-58) — real nodes omit them on pending blocks") {
    val omitted = JsonMethods.parse("""{
      "number": "0x1f",
      "hash": "0x11", "parentHash": "0x22",
      "nonce": "0x0000000000ab12cd",
      "sha3Uncles": "0x33", "logsBloom": "0x44",
      "transactionsRoot": "0x55", "stateRoot": "0x66",
      "receiptsRoot": "0x77", "miner": "0x88",
      "difficulty": "0xff",
      "extraData": "0x99",
      "energyLimit": "0x1388", "energyUsed": "0x4e",
      "timestamp": "0x5f5e0ff",
      "transactions": []
    }""")
    val b = RpcCodec.decodeBlock(omitted)
    assert(b.total_difficulty == "0", "absent totalDifficulty -> \"0\"")
    assert(b.difficulty == "255")
    val nulled = omitted.merge(JsonMethods.parse(
      """{"totalDifficulty": null, "difficulty": null}"""))
    val b2 = RpcCodec.decodeBlock(nulled)
    assert(b2.total_difficulty == "0" && b2.difficulty == "0",
      "explicit null difficulty fields -> \"0\"")
  }

  test("backfill wire cost: ONE block pass for the whole range, receipt " +
      "lookups only for selector-matching txs (etl.rs:186-207, 353-360)") {
    import org.apache.spark.sql.functions.col
    failures.set(0)
    blockReqs.set(0); receiptReqs.set(0)
    val store = new GraftStore(tempDir("graft-rpc-wirecost"))
    Backfill.run(spark, src, store, 0, 59)
    // every height crosses the wire exactly once — the old path fetched
    // full bodies twice (blocks, transactions) plus a third hash-only
    // pass for the receipt stage: 180 block requests for 60 heights
    assert(blockReqs.get() == 60,
      s"expected 60 block fetches for 60 heights, saw ${blockReqs.get()}")
    // receipts: one request per tx passing the OP-FIL-8 selector, not
    // one per tx on the chain
    val matching = fixtureSrc.transactions(spark, 0, 59)
      .filter(col("to_addr") === ChainFixture.Watched &&
        graft.chain.ContractRegistry("cbc20").isCall(col("input")))
      .select("hash").distinct().count()
    val allTxs = fixtureSrc.transactions(spark, 0, 59).count()
    assert(matching < allTxs, "fixture must have non-matching txs for " +
      "this gate to prove anything")
    assert(receiptReqs.get() == matching,
      s"expected $matching receipt lookups (selector hits), " +
        s"saw ${receiptReqs.get()} (chain has $allTxs txs)")
    // and the store it builds is still the fixture store (redundant with
    // the dedicated equality test, cheap to keep local to this gate)
    assert(rows(store.read(spark, "token_transfers")) ==
      rows({
        val viaFx = new GraftStore(tempDir("graft-rpc-wirecost-fx"))
        Backfill.run(spark, fixtureSrc, viaFx, 0, 59)
        viaFx.read(spark, "token_transfers")
      }))
    // the fetch bundle's cache is RELEASED after the commit — a leak
    // here would accrete one pinned RDD per streaming micro-batch
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"fetchRange cache leaked: ${spark.sparkContext.getPersistentRDDs}")
  }

  test("WS transport: a response frame with a foreign id (stale leftover " +
      "of a failed exchange) is skipped, never returned as ours") {
    // Without the id check, the first non-notification frame wins — a
    // long-lived client would silently take a stale blockNumber answer
    // as its own (e.g. 0xdead = 57005 as the tip height).
    val stale = new TinyWsServer((_, text, send) => {
      send("""{"jsonrpc":"2.0","id":999999,"result":"0xdead"}""")
      send(JsonMethods.compact(JsonMethods.parse(text) match {
        case JArray(reqs) => JArray(reqs.map(handle))
        case one => handle(one)
      }))
      true
    })
    try {
      val c = new graft.etl.RpcClient(stale.url, 3, 10L)
      // single-call form
      assert(c.call("xcb_blockNumber", Nil) ==
        JString(RpcCodec.longToHex(fx.blocks.last.number)))
      // batch form: every id foreign to the batch is also skipped
      val batch = c.callBatch(Seq(
        ("net_version", Nil), ("xcb_blockNumber", Nil)))
      assert(batch == Seq(JString("1"),
        JString(RpcCodec.longToHex(fx.blocks.last.number))))
    } finally stale.close()
  }

  test("WS transport: a lone error response with id:null (whole-batch " +
      "rejection, JSON-RPC 2.0 §5) fails fast with the server's message") {
    // Only the in-flight exchange can be the addressee of an id:null
    // error; dropping it as foreign converts an immediate server error
    // into a read-timeout + full retry loop per attempt.
    val rejecting = new TinyWsServer((_, _, send) => {
      send("""{"jsonrpc":"2.0","id":null,"error":""" +
        """{"code":-32600,"message":"batch too large"}}""")
      true
    })
    try {
      val c = new graft.etl.RpcClient(rejecting.url, 1, 2000L)
      val t0 = System.nanoTime()
      val e = intercept[Exception](c.call("xcb_blockNumber", Nil))
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(e.getMessage.contains("batch too large"),
        s"server message lost: ${e.getMessage}")
      assert(ms < 1500, s"id:null error took ${ms}ms — read-timeout " +
        "path, not fail-fast")
    } finally rejecting.close()
  }

  test("live heads reader knobs: batchSize chunks the wire calls and " +
      "headsNullRetryMs bounds the null-retry budget (both options)") {
    import graft.sources.{HeadsRange, HeadsReaderFactory}
    val url = src.url // forcing `src` starts the loopback node
    // batchSize: 20 committed heights with batchSize=7 → batches of <=7
    maxBatchLen.set(0)
    val ok = new HeadsReaderFactory().createReader(
      HeadsRange(0, 20, 60, Some(url), "xcb", batchSize = 7,
        nullRetryMs = 500L))
    var n = 0
    while (ok.next()) { ok.get(); n += 1 }
    assert(n == 20)
    assert(maxBatchLen.get() <= 7,
      s"batchSize=7 must cap wire batches, saw ${maxBatchLen.get()}")
    // headsNullRetryMs: heights past the chain tip answer null — the
    // reader must fail within the configured budget, not a hardcoded 31s
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      new HeadsReaderFactory().createReader(
        HeadsRange(58, 62, 65, Some(url), "xcb", batchSize = 7,
          nullRetryMs = 400L))
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage.contains("60,61") &&
      e.getMessage.contains("headsNullRetryMs=400"), e.getMessage)
    assert(elapsedMs < 10000L,
      s"a 400ms budget must not take ${elapsedMs}ms")
  }

  test("full Backfill ingest over HTTP == fixture-sourced store") {
    val viaRpc = new GraftStore(tempDir("graft-rpc-store"))
    val viaFx = new GraftStore(tempDir("graft-fx-store"))
    Backfill.run(spark, src, viaRpc, 0, 59)
    Backfill.run(spark, fixtureSrc, viaFx, 0, 59)
    Seq("blocks", "transactions", "token_transfers").foreach { t =>
      assert(rows(viaRpc.read(spark, t)) == rows(viaFx.read(spark, t)),
        s"table $t differs between RPC and fixture ingest")
    }
    assert(viaRpc.currentMeta() == viaFx.currentMeta(), "tip meta differs")
  }

  test("full Backfill ingest over the WebSocket transport == " +
      "fixture-sourced store") {
    val viaWs = new GraftStore(tempDir("graft-ws-store"))
    val viaFx = new GraftStore(tempDir("graft-fx-store2"))
    Backfill.run(spark, new RpcSource(wsNodeUrl), viaWs, 0, 59)
    Backfill.run(spark, fixtureSrc, viaFx, 0, 59)
    Seq("blocks", "transactions", "token_transfers").foreach { t =>
      assert(rows(viaWs.read(spark, t)) == rows(viaFx.read(spark, t)),
        s"table $t differs between WS and fixture ingest")
    }
    assert(viaWs.currentMeta() == viaFx.currentMeta(), "tip meta differs")
  }

  // ---- the live head: fetch plan, jobs before the fetch, tip metadata ----

  /** `inner` recording how many jobs had started when a backfill asked it
    * for its range — the jobs a head runs before its fetch. */
  private final class FetchProbe(inner: ChainSource, started: () => Int)
      extends ChainSource {
    @volatile var jobsBeforeFetch: Option[Int] = None
    override def tipHeight(s: SparkSession): Long = inner.tipHeight(s)
    override def blocks(s: SparkSession, from: Long, to: Long): DataFrame =
      inner.blocks(s, from, to)
    override def transactions(s: SparkSession, from: Long,
        to: Long): DataFrame = inner.transactions(s, from, to)
    override def receipts(s: SparkSession, from: Long, to: Long): DataFrame =
      inner.receipts(s, from, to)
    override def withReceiptStatus(s: SparkSession, from: Long, to: Long,
        candidates: DataFrame): DataFrame =
      inner.withReceiptStatus(s, from, to, candidates)
    override def fetchRange(s: SparkSession, from: Long, to: Long)
        : ChainSource.RangeFetch = {
      jobsBeforeFetch = Some(started())
      inner.fetchRange(s, from, to)
    }
  }

  /** One `processHead` call under this thread's job group, through a
    * [[FetchProbe]] over the loopback node: its action, the job group of
    * every job it ran, and the jobs that ran before its fetch. */
  private def headUnderGroup(store: GraftStore, head: Tail.Head)
      : (Tail.Action, Seq[String], Option[Int]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val probe = new FetchProbe(src,
      () => { GraftTestBus.drain(sc); groups.size })
    sc.addSparkListener(listener)
    sc.setJobGroup("rpc-head-spec", "one processHead call")
    try {
      val action = Tail.processHead(spark, store, probe, head)
      GraftTestBus.drain(sc)
      (action, groups.asScala.toSeq, probe.jobsBeforeFetch)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def canonicalHead(n: Int): Tail.Head =
    Tail.Head(n.toLong, fx.blocks(n).hash, fx.blocks(n).parent_hash)

  /** Rewrite the current snapshot file without its `tiphash` line — the
    * manifest a store written before the key existed carries. */
  private def stripTipHash(store: GraftStore): Unit = {
    import scala.jdk.CollectionConverters._
    val snap = java.nio.file.Paths.get(store.root)
      .resolve(store.currentSnapshot().get)
    java.nio.file.Files.write(snap,
      java.nio.file.Files.readAllLines(snap).asScala
        .filterNot(_.startsWith("#meta\ttiphash\t")).asJava)
  }

  test("head fetch plan: a height range reaches the node with no exchange " +
      "before it, one height or many") {
    Seq((5L, 5L), (0L, 59L)).foreach { case (from, to) =>
      val fetch = src.fetchRange(spark, from, to)
      try Seq(src.blocks(spark, from, to), fetch.blocks, fetch.transactions)
        .foreach { df =>
          val plan = df.queryExecution.executedPlan.toString
          assert(!plan.contains("Exchange"),
            s"[$from, $to] fetch plan has an exchange:\n$plan")
        }
      finally fetch.release()
    }
  }

  test("live head: with tiphash in the manifest no job runs before the " +
      "fetch; without it one read job does and the rows are the same; " +
      "every job carries the caller's job group") {
    failures.set(0)
    val withKey = new GraftStore(tempDir("graft-rpc-head-key"))
    val legacy = new GraftStore(tempDir("graft-rpc-head-legacy"))
    Seq(withKey, legacy).foreach(Backfill.run(spark, src, _, 0, 29))
    assert(withKey.currentMeta()(withKey.metaKey("tiphash")) ==
      fx.blocks(29).hash)
    stripTipHash(legacy)
    assert(!legacy.currentMeta().contains(legacy.metaKey("tiphash")))

    val (a1, groups1, before1) = headUnderGroup(withKey, canonicalHead(30))
    val (a2, groups2, before2) = headUnderGroup(legacy, canonicalHead(30))
    assert(a1 == Tail.Appended(30, 30) && a2 == Tail.Appended(30, 30))
    assert(before1.contains(0), s"jobs before the fetch: $before1")
    assert(before2.contains(1), s"jobs before the legacy fetch: $before2")
    Seq(groups1, groups2).foreach { g =>
      assert(g.nonEmpty && g.forall(_ == "rpc-head-spec"),
        s"job groups of the call: $g")
    }
    Seq("blocks", "transactions", "token_transfers").foreach { t =>
      assert(rows(withKey.read(spark, t)) == rows(legacy.read(spark, t)),
        s"table $t differs between the two heads")
    }
    // the legacy store regains the key with its next append
    assert(legacy.currentMeta()(legacy.metaKey("tiphash")) ==
      fx.blocks(30).hash)
  }

  test("live head: the committed tiphash is the stored block's, not the " +
      "announced head's") {
    failures.set(0)
    val store = new GraftStore(tempDir("graft-rpc-head-announced"))
    Backfill.run(spark, src, store, 0, 29)
    // the announcement links to the stored tip but names a hash the node
    // does not serve at that height (it reorged after announcing)
    val announced = Tail.Head(30L, "ab" * 32, fx.blocks(29).hash)
    assert(Tail.processHead(spark, store, src, announced) ==
      Tail.Appended(30, 30))
    val stored = store.readHeightRange(spark, "blocks", 30, 30)
      .filter(org.apache.spark.sql.functions.col("number") === 30L)
      .select("hash").collect().map(_.getString(0)).toSeq
    assert(stored == Seq(fx.blocks(30).hash))
    assert(store.currentMeta()(store.metaKey("tiphash")) == stored.head)
  }

  test("a node with no block at the range's end leaves the cursor on the " +
      "last stored block, and the next head appends it") {
    failures.set(0)
    val store = new GraftStore(tempDir("graft-rpc-lagging"))
    lagTip = Some(29L)
    val n = try Backfill.run(spark, src, store, 0, 30) finally lagTip = None
    assert(n == 30L, s"heights committed: $n")
    val meta = store.currentMeta()
    assert(meta(store.metaKey("tip")) == "29")
    assert(meta(store.metaKey("tiphash")) == fx.blocks(29).hash)
    assert(Tail.processHead(spark, store, src, canonicalHead(30)) ==
      Tail.Appended(30, 30))
    val blocks = store.read(spark, "blocks")
    assert(blocks.count() == 31)
    assert(graft.chain.ChainOps.continuityGaps(blocks).count() == 0)
    assert(store.currentMeta()(store.metaKey("tip")) == "30")
  }

  // ---- the token_transfers stage: plan shape and equivalence ----

  test("a one-height backfill over the node runs 3 jobs, one write per " +
      "table, and no executed plan has an exchange") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    failures.set(0)
    val store = new GraftStore(tempDir("graft-rpc-plan-shape"))
    Backfill.run(spark, src, store, 0, 29)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(planListener)
    val (_, jobs) =
      try GraftTestBus.jobsOf(spark.sparkContext) {
        // height 30 carries a selector hit, so the receipt lookup runs
        assert(Backfill.run(spark, src, store, 30, 30) == 1L)
      } finally spark.listenerManager.unregister(planListener)
    assert(jobs == 3, s"jobs of a one-height backfill: $jobs")
    assert(plans.size == 3, s"executed plans: ${plans.size}")
    plans.asScala.foreach { p =>
      assert(!p.contains("Exchange"), s"plan with an exchange:\n$p")
    }
    assert(store.readHeightRange(spark, "token_transfers", 30, 30)
      .filter(org.apache.spark.sql.functions.col("block_number") === 30L)
      .count() == 1L)
  }

  /** Rows of a token_transfers frame in one column order, as a sorted
    * multiset. */
  private def transferRows(df: DataFrame): Seq[String] =
    df.select("block_number", "from_addr", "to_addr", "value", "tx_hash",
        "address", "transfer_index", "created_at", "status")
      .collect().map(_.mkString("|")).toSeq.sorted

  /** Backfill [0, 59] over the node into a fresh store — a source of 8
    * fetch partitions with 3-request batches, so the range spans every
    * partition and each partition several receipt chunks — returning the
    * committed transfers and the receipt requests the node saw. */
  private def transfersOverNode(watch: Map[String, Seq[String]])
      : (Seq[String], Int) = {
    failures.set(0)
    receiptReqs.set(0)
    val store = new GraftStore(tempDir("graft-rpc-transfers"))
    Backfill.run(spark, new RpcSource(src.url, fetchPartitions = 8,
      batchSize = 3), store, 0, 59, watchTokens = watch)
    (transferRows(store.read(spark, "token_transfers")), receiptReqs.get())
  }

  private lazy val selectorHits: Set[String] = fx.transactions
    .filter(t => t.to_addr == ChainFixture.Watched &&
      graft.functions.Cbc20.Selectors.contains(t.input.take(8)))
    .map(_.hash).toSet

  test("token_transfers over the node equal ChainOps.tokenTransfers over " +
      "the fixture: failed and null receipts are status 0, one receipt " +
      "request per selector hit") {
    import org.apache.spark.sql.functions.col
    val failed = fx.receipts.filter(r => !r.status && selectorHits(r.tx_hash))
      .map(_.tx_hash).toSet
    assert(failed.nonEmpty, "the range must hold a failed hit's receipt")
    // a successful hit whose receipt the node answers null
    val missing = (selectorHits -- failed).min
    nullReceipts = Set(missing)
    val (got, requests) =
      try transfersOverNode(Map("cbc20" -> Seq(ChainFixture.Watched)))
      finally nullReceipts = Set.empty
    val want = ChainOps.tokenTransfers(fx.txsDF(spark), fx.blocksDF(spark),
      fx.receiptsDF(spark).filter(col("tx_hash") =!= missing))
    assert(got == transferRows(want))
    val statusOf = want.select("tx_hash", "status").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert((failed + missing).forall(statusOf(_) == 0))
    assert(statusOf.values.exists(_ == 1))
    assert(requests == selectorHits.size,
      s"receipt requests $requests, selector hits ${selectorHits.size}")
  }

  test("two watched contract types selecting the same transactions: each " +
      "type's transfers are committed, each hit's receipt requested once") {
    graft.chain.ContractRegistry.register(graft.chain.ContractDecoder(
      "rpcsourcespec-cbc20-alias", graft.functions.Cbc20.isTransferCall,
      graft.functions.Cbc20.cbc20_decode))
    val watch = Map("cbc20" -> Seq(ChainFixture.Watched),
      "rpcsourcespec-cbc20-alias" -> Seq(ChainFixture.Watched))
    val (got, requests) = transfersOverNode(watch)
    val want = watch.toSeq.flatMap { case (ctype, addrs) =>
      transferRows(ChainOps.tokenTransfers(fx.txsDF(spark),
        fx.blocksDF(spark), fx.receiptsDF(spark), addrs, ctype))
    }.sorted
    assert(got == want)
    assert(got.size == 2 * got.distinct.size && got.nonEmpty)
    assert(requests == selectorHits.size,
      s"receipt requests $requests, selector hits ${selectorHits.size}")
  }
}
