package graft.etl

import graft.chain.{Block, Receipt, Transaction}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.BooleanType

/** JSON-RPC 2.0 against a chain node, over HTTP(S) or WebSocket by URL
  * scheme ([[RpcClient]]) — the production [[ChainSource]] the fixture
  * source stands in for. Mirrors the reference provider's surface
  * (`crates/provider/src/provider.rs:23-101`: connect-with-retries,
  * get_block(number, full), receipt by hash, network id, syncing gate;
  * its native transport is pubsub-over-wss, which is why the
  * [[Network]] presets are wss endpoints) on the JDK's HTTP client and
  * the minimal WebSocket client [[WsHeads.Conn]] — no new dependencies;
  * JSON rides on json4s, which Spark already ships.
  *
  * Distribution (the `mapPartitions` fan-out the [[ChainSource]] doc
  * promises, replacing the reference's tokio::spawn pool, etl.rs:286-303):
  * a height range becomes `spark.range(from, to+1)` split over
  * `fetchPartitions` partitions; EACH EXECUTOR PARTITION owns one HTTP
  * connection and fetches its heights in JSON-RPC BATCH calls of
  * `batchSize` requests — at 100 TB the node fleet sees
  * (partitions × ranges/batchSize) round-trips, never one per block, and
  * no block payload ever routes through the driver. The token-transfer
  * receipt lookup ([[withReceiptStatus]]) runs in those same fetch
  * partitions, batched the same way, with no exchange. Only `tipHeight` /
  * `networkId` / `syncedGate` run driver-side (single tiny calls).
  *
  * Wire conventions (public Core/Ethereum JSON-RPC): quantities are
  * 0x-hex; hashes/addresses 0x-prefixed hex; absent `to` is null. The
  * engine schema ([[graft.chain.Schemas]]) strips 0x, keeps U256
  * magnitudes AND the tx nonce as decimal strings (a tx nonce is a
  * hex *quantity* on the wire, `transaction.rs:33`; a block nonce is an
  * 8-byte hash-like field and stays hex, `block.rs:43-46`), and uses
  * sentinels instead of NULLs — [[RpcCodec]] is that bijection.
  * RpcSourceSpec pins wire-round-trip ≡ fixture equality plus the full
  * Export path over a loopback HTTP server, and — because round-trip
  * equality alone can't tell a convention from its own inverse —
  * hand-written wire-literal payloads asserted field-by-field against
  * the expected engine rows.
  *
  * The push subscription transport (provider.rs:45-47) is
  * [[graft.etl.WsHeads]]; [[graft.sources.ChainHeadsSource]] composes
  * it (or [[tipHeight]] polling) with this source's HTTP data plane. */
final class RpcSource(
    val url: String,
    val namespace: String = "xcb",
    val fetchPartitions: Int = 8,
    val batchSize: Int = 64,
    val retries: Int = 5,
    val retryBackoffMs: Long = 200L)
    extends ChainSource with Serializable with AutoCloseable {

  import RpcCodec._

  // one driver-side client for the tiny calls (tip/id/sync) — a `def`
  // would open a fresh WS connection per call on the ws(s) transport;
  // transient: executors never use it (they build their own per
  // partition inside mapPartitions). The flag keeps close() from
  // forcing a connection just to close it.
  @transient @volatile private var clientOpened = false
  @transient private lazy val client = {
    clientOpened = true
    new RpcClient(url, retries, retryBackoffMs)
  }

  override def tipHeight(spark: SparkSession): Long =
    hexToLong(client.call(s"${namespace}_blockNumber", Nil) match {
      case org.json4s.JString(s) => s
      case other => sys.error(s"blockNumber: unexpected result $other")
    })

  /** Network id the node reports (reference get_network_id,
    * provider.rs:94-97) — keys [[WatchTokens]] presets. */
  def networkId(): Long = client.call("net_version", Nil) match {
    case org.json4s.JString(s) if s.startsWith("0x") => hexToLong(s)
    case org.json4s.JString(s) => s.toLong
    case org.json4s.JInt(i) => i.toLong
    case other => sys.error(s"net_version: unexpected result $other")
  }

  /** Sync gate for [[Export.Config.lazyGate]] (reference syncing(),
    * provider.rs:99-101): a synced node reports literal `false`. */
  def syncedGate(): Boolean = client.call(s"${namespace}_syncing", Nil) match {
    case org.json4s.JBool(b) => !b
    case _ => false // an object = still syncing
  }

  /** Height range as a partitioned Dataset[Long] — the fetch fan-out's
    * unit of distribution, shared by the table methods: [from, to] split
    * into at most `fetchPartitions` contiguous chunks by the range itself,
    * so the fetch plan has no exchange and no stage before it. */
  private def heightsDs(spark: SparkSession, from: Long, to: Long) =
    spark.range(from, to + 1, 1,
      math.min(fetchPartitions.toLong, to - from + 1).toInt)
      .as(Encoders.scalaLong)

  import RpcSource.closeOnTaskEnd

  private def perHeight[T](spark: SparkSession, from: Long, to: Long,
      full: Boolean, enc: org.apache.spark.sql.Encoder[T])(
      decode: org.json4s.JValue => Iterator[T]): DataFrame = {
    if (to < from) return spark.emptyDataset(enc).toDF()
    val (u, ns, bs, rt, bo) = (url, namespace, batchSize, retries,
      retryBackoffMs)
    heightsDs(spark, from, to)
      .mapPartitions { heights: Iterator[Long] =>
        val c = new RpcClient(u, rt, bo)
        closeOnTaskEnd(c)
        heights.grouped(bs).flatMap { chunk =>
          c.callBatch(chunk.map(h =>
              (s"${ns}_getBlockByNumber",
                List(org.json4s.JString(longToHex(h)),
                  org.json4s.JBool(full)))))
            .iterator
            // null = the node has no such block (beyond tip after a
            // reorg, lagging replica) — the reference's get_block
            // returns None there (provider.rs:49-52); skip, don't crash
            .filter(j => j != org.json4s.JNull && j != org.json4s.JNothing)
            .flatMap(decode)
        }
      }(enc).toDF()
  }

  // full=false: the block row needs only the header plus the tx COUNT,
  // which the hash-only `transactions` array provides — full bodies here
  // would ship every tx payload just to take the array's length
  override def blocks(spark: SparkSession, from: Long, to: Long): DataFrame =
    perHeight(spark, from, to, full = false, Encoders.product[Block])(j =>
      Iterator.single(decodeBlock(j)))

  /** ONE `getBlockByNumber(full)` pass decoding BOTH tables from the same
    * responses (reference parity: each block is fetched once and headers +
    * bodies read from that response, etl.rs:186-207 — the separate
    * blocks()/transactions() calls would cross the wire twice). Each
    * transaction row carries the `timestamp` of the block row it was
    * exploded from, so no join restores it. The
    * decoded bundle is persisted (memory, spilling to local disk) because
    * each downstream table stage is its own Spark action: a range's rows
    * on executor-local disk cost orders of magnitude less than a second
    * pass over the node fleet. `release()` drops the cache. */
  override def fetchRange(spark: SparkSession, from: Long, to: Long)
      : ChainSource.RangeFetch = {
    import org.apache.spark.sql.functions.{col, explode}
    if (to < from)
      return ChainSource.RangeFetch(
        spark.emptyDataset(Encoders.product[Block]).toDF(),
        spark.emptyDataset(Encoders.product[Transaction]).toDF(), () => ())
    val bundles = perHeight(spark, from, to, full = true,
      Encoders.product[BlockWithTxs])(j =>
        Iterator.single(BlockWithTxs(decodeBlock(j), decodeTxs(j).toList)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ChainSource.RangeFetch(
      bundles.select(col("block.*")),
      bundles.select(col("block.timestamp").as("timestamp"),
          explode(col("txs")).as("t"))
        .select(col("t.*"), col("timestamp")),
      () => { bundles.unpersist(); () })
  }

  /** Receipt status for exactly the candidate rows' hashes, looked up
    * inside each candidate partition: its rows stream in [[batchSize]]
    * chunks, and each chunk's distinct hashes go to the node in one
    * batched `getTransactionReceipt` call. No exchange runs before or
    * after, so over a [[fetchRange]] the lookup stays in the fetch
    * partition. The reference fetches receipts per MATCHING tx only
    * (etl.rs:353-360): fed the selector's hits, receipt round-trips scale
    * with the hit count, not the chain's tx count. A hash the node has no
    * receipt for (null) reads `receipt_ok = false`. */
  override def withReceiptStatus(spark: SparkSession, from: Long, to: Long,
      candidates: DataFrame): DataFrame = {
    val (u, ns, bs, rt, bo) = (url, namespace, batchSize, retries,
      retryBackoffMs)
    val hashAt = candidates.schema.fieldIndex("hash")
    val schema = candidates.schema.add("receipt_ok", BooleanType,
      nullable = false)
    candidates.mapPartitions { rows: Iterator[Row] =>
      val c = new RpcClient(u, rt, bo)
      closeOnTaskEnd(c)
      rows.grouped(bs).flatMap { chunk =>
        val hashes = chunk.map(_.getString(hashAt)).distinct
        val answers = c.callBatch(hashes.map(h =>
          (s"${ns}_getTransactionReceipt", List(org.json4s.JString("0x" + h)))))
        val ok = hashes.zip(answers).map { case (h, j) =>
          h -> (j != org.json4s.JNull && j != org.json4s.JNothing &&
            decodeReceipt(j).status)
        }.toMap
        chunk.iterator.map(r =>
          Row.fromSeq(r.toSeq :+ ok(r.getString(hashAt))))
      }
    }(Encoders.row(schema))
  }

  override def transactions(spark: SparkSession, from: Long,
      to: Long): DataFrame =
    perHeight(spark, from, to, full = true,
      Encoders.product[Transaction])(decodeTxs)

  /** Receipts for the range's transactions: the block fetch yields the
    * hashes, a second batched pass fetches each receipt — the
    * reference's per-hash lookup (provider.rs:76-89), amortized into
    * [[batchSize]]-request round-trips per partition. */
  override def receipts(spark: SparkSession, from: Long, to: Long)
      : DataFrame = {
    val (u, ns, bs, rt, bo) = (url, namespace, batchSize, retries,
      retryBackoffMs)
    val enc = Encoders.product[Receipt]
    if (to < from) return spark.emptyDataset(enc).toDF()
    heightsDs(spark, from, to)
      .mapPartitions { heights: Iterator[Long] =>
        val c = new RpcClient(u, rt, bo)
        closeOnTaskEnd(c)
        val hashes = heights.grouped(bs).flatMap { chunk =>
          c.callBatch(chunk.map(h =>
              (s"${ns}_getBlockByNumber",
                List(org.json4s.JString(longToHex(h)),
                  org.json4s.JBool(false)))))
            .iterator
            .filter(j => j != org.json4s.JNull && j != org.json4s.JNothing)
            .flatMap(txHashes)
        }
        hashes.grouped(bs).flatMap { chunk =>
          c.callBatch(chunk.map(h =>
              (s"${ns}_getTransactionReceipt",
                List(org.json4s.JString("0x" + h)))))
            .iterator
            .filter(j => j != org.json4s.JNull && j != org.json4s.JNothing)
            .map(decodeReceipt)
        }
      }(enc).toDF()
  }

  /** Release the driver-side client's transport (the live WS
    * connection, if the lazy client was ever forced). Executor-side
    * partition clients release themselves via [[RpcSource.closeOnTaskEnd]]. */
  override def close(): Unit = if (clientOpened) client.close()
}

/** One height's block header row plus its full tx rows, decoded from a
  * single `getBlockByNumber(full)` response — the unit [[RpcSource.fetchRange]]
  * persists so both tables derive from one wire pass. */
final case class BlockWithTxs(block: Block, txs: Seq[Transaction])

object RpcSource {
  /** Release a per-partition client when its TASK completes — success
    * or failure: over the WS transport each client holds a live socket,
    * and a long-lived executor runs many tasks; an iterator-exhaustion
    * hook would leak the socket whenever the task throws mid-fetch or a
    * limit stops consumption early. No-op for HTTP and outside tasks. */
  private[etl] def closeOnTaskEnd(c: RpcClient): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => c.close()))
}

/** Minimal JSON-RPC 2.0 client: single and batch calls, bounded retries
  * with linear backoff on transport errors, and RPC error objects. Two
  * transports behind one surface, chosen by URL scheme:
  *
  *  - `http(s)://` — stateless POST per exchange on
  *    `java.net.http.HttpClient` (HTTP error statuses handled, 4xx
  *    fail-fast);
  *  - `ws(s)://` — a persistent WebSocket connection carrying
  *    request/response text frames (the reference provider's native
  *    transport, provider.rs:23-47: its `--network` presets are wss
  *    endpoints, network.rs:11-17), on [[WsHeads.Conn]]. The client is
  *    strictly one exchange at a time (one RpcClient per executor
  *    partition): after sending, it reads frames on the caller's thread
  *    until one answers its request ids or the deadline passes.
  *    Subscription notifications and frames with foreign ids (leftovers
  *    of an earlier failed exchange) are skipped. A broken or timed-out
  *    connection is torn down and rebuilt by the same retry loop.
  *
  * The reference retries its connect 5×500 ms (provider.rs:25-38) —
  * here every call retries, which subsumes connect retry for both
  * transports. */
final class RpcClient(url: String, retries: Int, backoffMs: Long,
    wsTimeoutMs: Long = 30000L) {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private val isWs = url.startsWith("ws://") || url.startsWith("wss://")
  private var wsConn: WsHeads.Conn = null
  private var nextId = 0L

  private def exchangeHttp(body: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(url))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = RpcClient.sharedHttp.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val code = resp.statusCode()
    if (code / 100 == 2) return resp.body()
    val e = new RuntimeException(s"HTTP $code: ${resp.body().take(200)}")
    // 4xx is a CONFIG error (bad path, missing auth), not a
    // transient — retrying multiplies it by attempts × partitions
    // across the whole fan-out before anyone sees the real cause.
    // 408/429 are the two retriable exceptions.
    if (code / 100 == 4 && code != 408 && code != 429) throw e
    throw new java.io.IOException(e.getMessage, e) // retriable
  }

  private def exchangeWs(body: String, ids: Set[Long]): JValue = {
    // a failed connect or upgrade throws IOException: `post` retries it
    if (wsConn == null)
      wsConn = new WsHeads.Conn(java.net.URI.create(url), wsTimeoutMs.toInt)
    try {
      wsConn.sendText(body)
      // take frames on this thread until one answers our ids: the read
      // timeout bounds a silent peer, the deadline a chatty one
      val deadline = System.nanoTime() + wsTimeoutMs * 1000000L
      var answer: JValue = null
      while (answer == null) {
        if (System.nanoTime() > deadline) throw new java.io.IOException(
          s"WebSocket response from $url timed out after ${wsTimeoutMs}ms")
        wsConn.next() match {
          case WsHeads.Text(frame) =>
            // a notification frame (carries `method`) is not our
            // response; neither is a response frame with foreign ids
            val parsed = JsonMethods.parse(frame)
            val isNotification = parsed match {
              case o: JObject => (o \ "method") != JNothing
              case _ => false
            }
            if (!isNotification && RpcClient.respondsTo(parsed, ids))
              answer = parsed
          case WsHeads.Closed(code, reason) => throw new java.io.IOException(
            s"WebSocket to $url closed by peer ($code: $reason)")
          case WsHeads.Pong => ()
        }
      }
      answer
    } catch {
      // ANY failed exchange may leave our response still in flight —
      // tear the connection down so no later call on this client can
      // receive it as its own. IOException is then retried by `post`'s
      // loop on a fresh connection; anything else (parse failure,
      // interrupt) propagates, with the connection already closed.
      case e: Throwable =>
        wsConn.abort()
        wsConn = null
        throw e
    }
  }

  /** One request/response exchange, retried; returns PARSED JSON — the
    * WS transport already parses every frame to tell responses from
    * notifications, so handing the text back out would force a second
    * parse of multi-megabyte batch responses on the ingest hot path.
    * `ids` are the request ids of this exchange: the WS transport only
    * accepts a frame answering one of them (a frame with foreign ids is
    * a leftover of an earlier failed exchange and is dropped). */
  private def post(body: String, ids: Set[Long]): JValue = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < retries) {
      attempt += 1
      try return if (isWs) exchangeWs(body, ids)
        else JsonMethods.parse(exchangeHttp(body))
      catch {
        case e: java.io.IOException => last = e
      }
      if (attempt < retries) Thread.sleep(backoffMs * attempt)
    }
    throw new RuntimeException(
      s"JSON-RPC request to $url failed after $retries attempts", last)
  }

  /** Release the transport — the live WS connection, if one is open
    * (HTTP keeps no per-client connection state). Idempotent; the
    * client remains usable (the next call reconnects). */
  def close(): Unit = if (wsConn != null) {
    wsConn.close()
    wsConn = null
  }

  private def reqJson(id: Long, method: String,
      params: List[JValue]): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> JInt(id),
      "method" -> JString(method), "params" -> JArray(params))

  private def resultOf(j: JValue): JValue = j \ "error" match {
    case JNull | JNothing => j \ "result"
    case err => sys.error(s"RPC error: ${JsonMethods.compact(err)}")
  }

  def call(method: String, params: List[JValue]): JValue = {
    nextId += 1
    resultOf(post(JsonMethods.compact(reqJson(nextId, method, params)),
      Set(nextId)))
  }

  /** One HTTP round-trip for many requests (the JSON-RPC batch form);
    * results are re-ordered by id — servers may answer out of order. */
  def callBatch(reqs: Seq[(String, List[JValue])]): Seq[JValue] = {
    if (reqs.isEmpty) return Nil
    val base = nextId + 1
    nextId += reqs.size
    val body = JArray(reqs.zipWithIndex.map { case ((m, p), i) =>
      reqJson(base + i, m, p)
    }.toList)
    post(JsonMethods.compact(body),
      reqs.indices.map(i => base + i).toSet) match {
      case JArray(items) =>
        val byId = items.map(j => (j \ "id" match {
          case JInt(i) => i.toLong
          case other => sys.error(s"batch item without id: $other")
        }) -> j).toMap
        reqs.indices.map(i => resultOf(byId(base + i)))
      case other => sys.error(s"batch call: expected array, got $other")
    }
  }
}

object RpcClient {
  import org.json4s._

  /** One process-wide JDK HttpClient for the HTTP transport's POSTs:
    * pre-JDK-21 HttpClient has no close() and every instance pins a
    * selector-manager thread until GC, and one RpcClient is built per
    * partition task. `send` is thread-safe and connections pool
    * internally. */
  private lazy val sharedHttp: java.net.http.HttpClient =
    java.net.http.HttpClient.newHttpClient()

  /** Does this frame (response object or batch array) answer any of the
    * given request ids? */
  private[etl] def respondsTo(j: JValue, ids: Set[Long]): Boolean = {
    def idOf(o: JValue): Option[Long] = o \ "id" match {
      case JInt(i) => Some(i.toLong)
      case _ => None
    }
    j match {
      case JArray(items) => items.exists(idOf(_).exists(ids))
      // JSON-RPC 2.0 §5: a server that cannot read a request (parse
      // error, whole-batch rejection) responds with `error` and
      // id:null. Only the in-flight exchange can be its addressee (a
      // failed exchange tears the connection down), so surface it —
      // dropping it as "foreign" converts an immediate server error
      // into a read-timeout plus a full retry loop per attempt.
      case o: JObject if (o \ "error") != JNothing =>
        idOf(o).forall(ids) // matching id, or id:null/absent
      case o: JObject => idOf(o).exists(ids)
      case _ => false
    }
  }
}

/** The wire ↔ engine-schema bijection (see [[RpcSource]] class doc).
  * Shared by the client decoders and the spec's fixture server encoder,
  * so a convention mismatch shows up as a test failure, not silent
  * drift. */
object RpcCodec {
  import org.json4s._

  def longToHex(v: Long): String = "0x" + java.lang.Long.toHexString(v)
  def hexToLong(s: String): Long =
    java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
  /** U256 magnitude: engine decimal string ↔ wire hex quantity. */
  def decToHex(dec: String): String = "0x" + BigInt(dec).toString(16)
  def hexToDec(s: String): String = BigInt(s.stripPrefix("0x"), 16).toString
  /** Hashes / addresses / opaque hex payloads: engine form is lowercase
    * WITHOUT 0x; empty-string sentinels ride as JSON null. */
  def hexField(s: String): JValue =
    if (s.isEmpty) JNull else JString("0x" + s)
  def unhexField(j: JValue): String = j match {
    case JString(s) => s.stripPrefix("0x").toLowerCase
    case JNull | JNothing => ""
    case other => sys.error(s"expected hex string, got $other")
  }

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other => sys.error(s"expected string, got $other")
  }

  /** Difficulty-style quantity: real nodes omit `totalDifficulty` (and
    * some `difficulty`) on pending blocks and post-merge-style endpoints;
    * the reference maps the absent field to `"0"`
    * (`crates/types/src/block.rs:54-58`). */
  private def hexToDecOrZero(j: JValue): String = j match {
    case JNull | JNothing => "0"
    case other => hexToDec(str(other))
  }

  def decodeBlock(j: JValue): Block = Block(
    number = hexToLong(str(j \ "number")),
    hash = unhexField(j \ "hash"),
    parent_hash = unhexField(j \ "parentHash"),
    nonce = unhexField(j \ "nonce"),
    sha3_uncles = unhexField(j \ "sha3Uncles"),
    logs_bloom = unhexField(j \ "logsBloom"),
    transactions_root = unhexField(j \ "transactionsRoot"),
    state_root = unhexField(j \ "stateRoot"),
    receipts_root = unhexField(j \ "receiptsRoot"),
    miner = unhexField(j \ "miner"),
    difficulty = hexToDecOrZero(j \ "difficulty"),
    total_difficulty = hexToDecOrZero(j \ "totalDifficulty"),
    extra_data = unhexField(j \ "extraData"),
    energy_limit = hexToLong(str(j \ "energyLimit")),
    energy_used = hexToLong(str(j \ "energyUsed")),
    timestamp = hexToLong(str(j \ "timestamp")),
    transaction_count = (j \ "transactions") match {
      case JArray(ts) => ts.length.toLong
      case _ => 0L
    },
    // maturity is recompute-on-read against the store tip (OP-UPD-1) —
    // a wire block always lands unmatured, exactly like the fixture's
    matured = 0)

  def decodeTx(j: JValue): Transaction = Transaction(
    hash = unhexField(j \ "hash"),
    // wire 0x-hex QUANTITY → engine decimal string (transaction.rs:33,
    // `val.nonce.to_string()`) — NOT unhexField, which would store
    // nonce 26 as "1a"
    nonce = hexToDec(str(j \ "nonce")),
    block_hash = unhexField(j \ "blockHash"),
    block_number = hexToLong(str(j \ "blockNumber")),
    transaction_index = hexToLong(str(j \ "transactionIndex")),
    from_addr = unhexField(j \ "from"),
    to_addr = unhexField(j \ "to"), // null → "" (contract creation)
    value = hexToDec(str(j \ "value")),
    energy = hexToDec(str(j \ "energy")),
    energy_price = hexToDec(str(j \ "energyPrice")),
    input = unhexField(j \ "input"))

  def decodeTxs(blockJson: JValue): Iterator[Transaction] =
    (blockJson \ "transactions") match {
      case JArray(ts) => ts.iterator.map(decodeTx)
      case _ => Iterator.empty
    }

  def txHashes(blockJson: JValue): Iterator[String] =
    (blockJson \ "transactions") match {
      case JArray(ts) => ts.iterator.map {
        case JString(h) => h.stripPrefix("0x").toLowerCase
        case obj => unhexField(obj \ "hash")
      }
      case _ => Iterator.empty
    }

  def decodeReceipt(j: JValue): Receipt = Receipt(
    tx_hash = unhexField(j \ "transactionHash"),
    status = hexToLong(str(j \ "status")) == 1L)

  // ---- encoders (the spec's loopback server; inverse of the above) ----

  def encodeBlock(b: Block, txs: Seq[Transaction],
      full: Boolean): JValue = JObject(
    "number" -> JString(longToHex(b.number)),
    "hash" -> hexField(b.hash),
    "parentHash" -> hexField(b.parent_hash),
    "nonce" -> hexField(b.nonce),
    "sha3Uncles" -> hexField(b.sha3_uncles),
    "logsBloom" -> hexField(b.logs_bloom),
    "transactionsRoot" -> hexField(b.transactions_root),
    "stateRoot" -> hexField(b.state_root),
    "receiptsRoot" -> hexField(b.receipts_root),
    "miner" -> hexField(b.miner),
    "difficulty" -> JString(decToHex(b.difficulty)),
    "totalDifficulty" -> JString(decToHex(b.total_difficulty)),
    "extraData" -> hexField(b.extra_data),
    "energyLimit" -> JString(longToHex(b.energy_limit)),
    "energyUsed" -> JString(longToHex(b.energy_used)),
    "timestamp" -> JString(longToHex(b.timestamp)),
    "transactions" -> JArray(
      if (full) txs.map(encodeTx).toList
      else txs.map(t => JString("0x" + t.hash): JValue).toList))

  def encodeTx(t: Transaction): JValue = JObject(
    "hash" -> hexField(t.hash),
    "nonce" -> JString(decToHex(t.nonce)), // quantity: decimal → 0x-hex
    "blockHash" -> hexField(t.block_hash),
    "blockNumber" -> JString(longToHex(t.block_number)),
    "transactionIndex" -> JString(longToHex(t.transaction_index)),
    "from" -> hexField(t.from_addr),
    "to" -> hexField(t.to_addr),
    "value" -> JString(decToHex(t.value)),
    "energy" -> JString(decToHex(t.energy)),
    "energyPrice" -> JString(decToHex(t.energy_price)),
    "input" -> hexField(t.input))

  def encodeReceipt(r: Receipt): JValue = JObject(
    "transactionHash" -> hexField(r.tx_hash),
    "status" -> JString(if (r.status) "0x1" else "0x0"))
}
