package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.chain.{ChainFixture, ChainOps, TransferType}
import graft.etl.{Export, RpcSource, Tail}
import graft.store.GraftStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** `live`: many small commits beside point reads, in one Spark session.
  *
  *  - Set-up is the bulk path: a backfill (`Export.run`) from genesis into
  *    an empty store over the loopback node. After the window the three
  *    `verify` checks run over the final store.
  *  - An open-loop generator announces one head per `intervalMs`
  *    (scheduled, not paced by the tail). At seeded ticks it stages a
  *    fork event: the node serves a short fork over the newest blocks and,
  *    once the tail has made the fork visible, the canonical branch
  *    overtakes it — two reorgs per event.
  *  - The tail calls `Tail.processHead` with the newest announced head,
  *    collapsing the heads queued meanwhile as `Tail.attach` does, and runs
  *    `Export.compact` every `compactEvery` calls.
  *  - One closed-loop reader runs the `view` mix at heights below the
  *    reorg window, so every answer is fixed and checked.
  *
  * A head's lag runs from its scheduled announcement to the return of the
  * `processHead` call that made it visible. */
object LiveWorkload {

  /** `warmMs`: the actors run this long before the measured window opens.
    * The engine's calls keep getting faster for tens of seconds after
    * their first use (the JIT compiling the planner's paths), and a window
    * on that slope reads how far the compiler had got. */
  final case class Sizes(pre: Int, intervalMs: Long, compactEvery: Int,
      rttMs: Long, warmMs: Long)
  def sizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(pre = 300, intervalMs = 1500, compactEvery = 2, rttMs = 1,
      warmMs = 1500)
    else Sizes(pre = 1000, intervalMs = 2000, compactEvery = 4,
      rttMs = Node.RttMs, warmMs = 16000)

  /** Reads stay this far below the pre-populated tip; forks reach at most
    * `MaxForkDepth` blocks below the newest head. */
  val ReadMargin = 20
  val MaxForkDepth = 3

  /** The `view` mix, drawn uniformly. */
  val ViewKinds: Seq[String] = Seq("block_by_number", "txs_of_block",
    "tx_by_hash", "address_transfers", "token_transfers")

  final case class Ann(seq: Int, head: Tail.Head, dueMs: Double)

  /** What one `processHead` call covered, and when. */
  final case class Call(covered: Seq[Ann], startMs: Double, endMs: Double,
      reorg: Boolean) {
    def serviceS: Double = (endMs - startMs) / 1000.0
    def lagsS: Seq[Double] = covered.map(a => (endMs - a.dueMs) / 1000.0)
    def waitsS: Seq[Double] = covered.map(a => (startMs - a.dueMs) / 1000.0)
  }

  /** Head lags of a sequence of calls: every head a call covered is
    * visible when that call returns. */
  def lags(calls: Seq[Call]): Seq[Double] = calls.flatMap(_.lagsS)

  val BlockCols = Seq("number", "hash", "parent_hash", "transaction_count",
    "timestamp", "total_difficulty")
  val TxCols = Seq("hash", "block_number", "transaction_index", "from_addr",
    "to_addr", "value", "input")
  val TransferCols = Seq("block_number", "from_addr", "to_addr", "value",
    "tx_hash", "address", "transfer_index", "status")

  /** The fixture's own rows as frames, for digests against the store. */
  final class Golden(ctx: Ctx, fx: ChainFixture.Fixture) {
    import ctx.spark.implicits._
    def blocks(to: Long): DataFrame =
      fx.blocksDF(ctx.spark).filter(col("number") <= to)
    def txs(to: Long): DataFrame =
      fx.txsDF(ctx.spark).filter(col("block_number") <= to)
    def transfers(to: Long): DataFrame =
      fx.goldenTransfers.map(_._1).toDF().filter(col("block_number") <= to)
  }

  /** Store equals the fixture chain [0, tip]: one failure per table that
    * differs. */
  def storeMismatches(ctx: Ctx, store: GraftStore, golden: Golden,
      tip: Long): Int = {
    val s = ctx.spark
    Seq(
      (store.read(s, "blocks"), golden.blocks(tip), BlockCols),
      (store.read(s, "transactions"), golden.txs(tip), TxCols),
      (store.read(s, "token_transfers"), golden.transfers(tip), TransferCols)
    ).count { case (got, want, cols) =>
      Stats.digest(got, cols) != Stats.digest(want, cols)
    }
  }

  /** The `verify blocks` + `verify transactions` checks over the whole
    * store, as the CLI runs them; each (bad rows, seconds). */
  def verify(ctx: Ctx, store: GraftStore): Seq[(Long, Double)] = {
    val blocks = store.read(ctx.spark, "blocks")
    Seq(
      Stats.time(ChainOps.continuityGapsScalable(blocks, store.bucketSize)
        .count()),
      Stats.time(ChainOps.identityMismatchesScalable(blocks, store.bucketSize)
        .count()),
      Stats.time(ChainOps.transactionCountMismatches(blocks,
        store.read(ctx.spark, "transactions")).count()))
  }

  def run(ctx: Ctx): Outcome = {
    val sz = sizes(ctx.tiny)
    val spark = ctx.spark
    val maxTicks =
      ((sz.warmMs + ctx.seconds * 1000) / sz.intervalMs).toInt + 8
    val fx = ChainFixture.build(sz.pre + 1 + 2 * maxTicks)
    val node = new Node(fx, sz.rttMs, ctx.cpus)
    val src = new RpcSource(node.url, fetchPartitions = ctx.cpus)
    ctx.mark("fixture and node")

    // ---- set-up, three times: the bulk path, a backfill from genesis into
    // an empty store over the node. The first one is the engine's cold
    // start; the warm ones are traced as the `backfill` op ----
    var store: GraftStore = null
    node.setTip(sz.pre - 1L)
    val setups = ctx.setup("live") { i =>
      store = new GraftStore(ctx.freshDir(s"live-store-$i").toString)
      if (i == 1) Export.run(spark, src, store)
      else ctx.tracer.span("backfill")(_ => Export.run(spark, src, store))
    }
    ctx.mark("set-up")
    // one head off the clock, so the first timed head runs warm
    val warmupS = Stats.time {
      node.setTip(sz.pre.toLong)
      val b = fx.blocks(sz.pre)
      Tail.processHead(spark, store, src,
        Tail.Head(b.number, b.hash, b.parent_hash))
    }._2
    ctx.mark("set-up and warm head")
    val snapshots0 = store.snapshots().size
    val fetch0 = node.counters()

    // ---- the three actors -----------------------------------------------
    val rng = new scala.util.Random(ctx.seed)
    val warmTicks = (sz.warmMs / sz.intervalMs).toInt
    val ticks = (ctx.seconds * 1000 / sz.intervalMs).toInt
    // one fork event per started ~8 ticks of the window, placed in its
    // first 60% so its overtake lands inside it
    val forkTicks = (0 until math.max(1, ticks / 8)).map(_ =>
      warmTicks + 1 + rng.nextInt(math.max(1, ticks * 6 / 10))).toSet
    val mon = new Object
    val anns = ArrayBuffer.empty[Ann]
    var taken = 0
    var busy = false
    var visibleSeq = -1
    var genDone = false
    var events = 0
    var lateMaxMs = 0.0
    val calls = ArrayBuffer.empty[Call]
    val compacts = ArrayBuffer.empty[(Double, Int)]
    val leavesLive, manifestKb = ArrayBuffer.empty[Double]
    val errors = new java.util.concurrent.atomic.AtomicLong
    // the actors start at t0; the measured window is [windowMs, endMs)
    val t0 = ctx.tracer.nowMs() + 200
    val windowMs = t0 + sz.warmMs
    val endMs = windowMs + ctx.seconds * 1000

    def announce(h: Tail.Head, due: Double): Int = {
      val a = Ann(anns.size, h, due)
      anns += a
      a.seq
    }
    def canonicalHead(n: Long): Tail.Head = {
      node.setTip(n)
      val b = fx.blocks(n.toInt)
      Tail.Head(b.number, b.hash, b.parent_hash)
    }

    val generator = thread("live-generator", errors) {
      var i = 0
      var pendingFork = false
      var forkSeq = -1
      var stop = false
      while (!stop) {
        val due = t0 + i.toLong * sz.intervalMs
        // a seeded fork event always completes, also when a loaded tail
        // left it pending or unfinished at the end of the window
        if (due >= endMs && forkSeq < 0 && !pendingFork) stop = true
        else {
          sleepUntil(ctx, due)
          lateMaxMs = math.max(lateMaxMs, ctx.tracer.nowMs() - due)
          pendingFork ||= forkTicks(i)
          mon.synchronized {
            if (forkSeq >= 0) {
              // the fork is visible: the canonical branch overtakes it;
              // until then this tick announces nothing
              if (visibleSeq >= forkSeq) {
                announce(canonicalHead(node.tip + 1), due)
                forkSeq = -1
                events += 1
              }
            } else if (pendingFork) {
              // a fork is staged only on an idle tail, so no fetch in flight
              // sees the switch; a busy tail gets this tick to drain
              if (!busy && taken == anns.size) {
                val depth = 1 + rng.nextInt(MaxForkDepth)
                val b = node.serveFork(node.tip - depth + 1, depth + 1)
                forkSeq = announce(
                  Tail.Head(b.number, b.hash, b.parent_hash), due)
                pendingFork = false
              }
            } else announce(canonicalHead(node.tip + 1), due)
            mon.notifyAll()
          }
          i += 1
        }
      }
    } { mon.synchronized { genDone = true; mon.notifyAll() } }

    val tail = thread("live-tail", errors) {
      var stop = false
      while (!stop) {
        val covered = mon.synchronized {
          while (taken == anns.size && !genDone) mon.wait()
          val c = anns.slice(taken, anns.size).toSeq
          taken = anns.size
          busy = c.nonEmpty
          c
        }
        if (covered.isEmpty) stop = true
        else {
          val start = ctx.tracer.nowMs()
          // calls of the warm-up are traced apart from the measured ones
          val measured = start >= windowMs
          val op = if (measured) "head" else "warm"
          val reorg = try ctx.tracer.span(op) { sp =>
            val r = Tail.processHead(spark, store, src, covered.last.head)
              .isInstanceOf[Tail.ReorgResolved]
            if (r && measured) sp.op = "reorg"
            r
          } catch {
            case e: Exception =>
              System.err.println(s"[live] processHead failed: $e")
              errors.incrementAndGet()
              false
          }
          val call = Call(covered, start, ctx.tracer.nowMs(), reorg)
          mon.synchronized { calls += call; visibleSeq = covered.last.seq }
          if (calls.size % sz.compactEvery == 0) {
            val (retired, s) = ctx.tracer.span(
                if (measured) "compact" else "warm")(_ =>
              Stats.time(Export.compact(spark, store)))
            if (measured) compacts += ((s, retired))
          }
          if (ctx.tracer.enabled) {
            leavesLive += store.currentLeaves().size.toDouble
            store.currentSnapshot().foreach(f => manifestKb +=
              java.nio.file.Files.size(
                java.nio.file.Paths.get(store.root, f)) / 1024.0)
          }
          mon.synchronized { busy = false; mon.notifyAll() }
        }
      }
    }()

    val reads = new Reader(ctx, store, fx, sz.pre - ReadMargin)
    // lookups per second over the reader's measured busy interval, from
    // the first lookup started in the window to the last one's end. The
    // reader runs until the window closes and the tail's last call has
    // returned, so every timed call runs beside reads.
    var readerS = 0.0
    val reader = thread("live-reader", errors) {
      sleepUntil(ctx, t0)
      while (ctx.tracer.nowMs() < windowMs) reads.once(measured = false)
      val start = ctx.tracer.nowMs()
      while (ctx.tracer.nowMs() < endMs || tail.isAlive)
        reads.once(measured = true)
      readerS = (ctx.tracer.nowMs() - start) / 1000.0
    }()
    Seq(generator, tail, reader).foreach(_.join())
    ctx.mark("window")
    val (warmCalls, timed) = calls.toSeq.partition(_.startMs < windowMs)
    System.err.println("[perfbench] processHead calls (s, * = reorg): " +
      (warmCalls.map(c => f"${c.serviceS}%.3f") ++ Seq("|") ++
        timed.map(c => f"${c.serviceS}%.3f" + (if (c.reorg) "*" else "")))
        .mkString(" "))
    val heap = Stats.heapMb()
    val fetch = node.counters().minus(fetch0)

    // ---- correctness of the final store, off the clock ------------------
    val finalTip = node.tip
    val golden = new Golden(ctx, fx)
    val stored = store.read(spark, "blocks").agg(max("number")).head()
    val tipHash = store.readHeightRange(spark, "blocks", finalTip, finalTip)
      .filter(col("number") === finalTip).select("hash").collect()
    val reorgs = calls.count(_.reorg)
    val finalBad = Seq(
      stored.isNullAt(0) || stored.getLong(0) != finalTip,
      tipHash.map(_.getString(0)).toSeq != Seq(fx.blocks(finalTip.toInt).hash),
      storeMismatches(ctx, store, golden, finalTip) > 0,
      reorgs != 2 * events || events != forkTicks.size).count(identity)
    // the three `verify` checks over the final store, as the CLI runs them;
    // each must find nothing
    val checks = ctx.tracer.span("verify")(_ => verify(ctx, store))
    val verifyBad = if (checks.exists(_._1 != 0L)) 1 else 0
    val (bytes, files) = Stats.diskUsage(java.nio.file.Paths.get(store.root))
    val commits = store.snapshots().size - snapshots0
    node.close()
    ctx.mark("final store checks")

    val headLags = lags(timed)
    val reorgLags = lags(timed.filter(_.reorg))
    val plainService = timed.filterNot(_.reorg).map(_.serviceS)
    val committed = finalTip - sz.pre
    val kblocks = math.max(1L, committed) / 1000.0
    val viewS = reads.latencies.values.flatten.toSeq
    Outcome(
      attempted = calls.size + reads.attempted + 2,
      failed = errors.get + reads.failed + finalBad + verifyBad,
      e2e = Map(
        "setup_s" -> Stats.p50(setups),
        "throughput_per_s" -> viewS.size / readerS,
        "write_p50_s" -> Stats.p50(plainService),
        "read_p50_s" -> Stats.p50(viewS),
        "driver_heap_mb" -> heap),
      layers = Map(
        "etl.fetch.round_trips" -> fetch.roundTrips / kblocks,
        "etl.fetch.requests" -> fetch.requests / kblocks,
        "etl.fetch.receipt_requests" -> fetch.receiptRequests / kblocks,
        "etl.fetch.wire_mb" -> fetch.bytes / 1e6 / kblocks,
        "etl.fetch.node_busy_s" -> fetch.busyNs / 1e9 / kblocks,
        "run.warmup_s" -> warmupS,
        "etl.tail.service_p50_s" -> Stats.p50(timed.map(_.serviceS)),
        "etl.tail.wait_p50_s" -> Stats.p50(timed.flatMap(_.waitsS)),
        "etl.tail.heads_per_call" ->
          timed.map(_.covered.size).sum.toDouble / timed.size,
        "etl.tail.reorgs" -> reorgs.toDouble,
        "etl.tail.generator_late_max_s" -> lateMaxMs / 1000.0,
        "etl.tail.head_lag_p50_s" -> Stats.p50(headLags),
        "etl.tail.head_lag_p90_s" -> Stats.quantile(headLags, 0.9),
        "etl.tail.reorg_recover_p50_s" -> Stats.p50(reorgLags),
        "etl.compact.s" -> compacts.map(_._1).sum / math.max(1, compacts.size),
        "etl.compact.leaves_retired" -> compacts.map(_._2).sum.toDouble,
        "chain.view.p90_s" -> Stats.quantile(viewS, 0.9),
        "chain.view.files_per_lookup" -> reads.filesPerLookup,
        "chain.view.rows_read_per_row_returned" -> reads.rowsReadPerReturned,
        "chain.verify.gaps_s" -> checks(0)._2,
        "chain.verify.identity_s" -> checks(1)._2,
        "chain.verify.txcount_s" -> checks(2)._2,
        "store.commits" -> commits.toDouble,
        "store.leaves_live_max" -> (0.0 +: leavesLive.toSeq).max,
        "store.manifest_kb_max" -> (0.0 +: manifestKb.toSeq).max,
        "store.files_on_disk" -> files.toDouble,
        "store.bytes_per_block" -> bytes.toDouble / (finalTip + 1)) ++
        reads.latencies.map { case (k, v) =>
          s"chain.view.$k.p50_s" -> Stats.p50(v.toSeq) },
      table = Seq(
        ("heads_announced", anns.size.toDouble, "count"),
        ("processHead_calls_in_window", timed.size.toDouble, "count"),
        ("fork_events", events.toDouble, "count"),
        ("view_lookups", viewS.size.toDouble, "count"),
        ("setup_s", Stats.p50(setups), "s"),
        ("head_lag_p50_s", Stats.p50(headLags), "s"),
        ("head_service_p50_s_outside_reorgs", Stats.p50(plainService), "s"),
        ("head_lag_p90_s", Stats.quantile(headLags, 0.9), "s"),
        ("reorg_recover_p50_s", Stats.p50(reorgLags), "s"),
        ("view_p50_s", Stats.p50(viewS), "s"),
        ("view_lookups_per_s", viewS.size / readerS, "1/s"),
        ("view_p90_s", Stats.quantile(viewS, 0.9), "s"),
        ("store_bytes_per_block", bytes.toDouble / (finalTip + 1), "B"),
        ("driver_heap_mb", heap, "MB")))
  }

  private def sleepUntil(ctx: Ctx, ms: Double): Unit = {
    val d = ms - ctx.tracer.nowMs()
    if (d > 0) Thread.sleep(d.toLong, ((d % 1) * 1e6).toInt)
  }

  /** A started thread running `body`, then `last` whatever happened; an
    * exception is printed and counted in `errors`. */
  private def thread(name: String,
      errors: java.util.concurrent.atomic.AtomicLong)(body: => Unit)(
      last: => Unit = ()): Thread = {
    val t = new Thread(() =>
      try body catch {
        case e: Throwable =>
          System.err.println(s"[live] $name failed: $e")
          errors.incrementAndGet()
      } finally last, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** The closed-loop `view` client: one lookup at a time, each answer
    * compared with the fixture's rows. Transfer lookups are bounded to the
    * same heights as the others, so their answers do not move with the
    * tail. */
  final class Reader(ctx: Ctx, store: GraftStore, fx: ChainFixture.Fixture,
      maxHeight: Long) extends AdaptiveSparkPlanHelper {
    private val spark = ctx.spark
    private val rng = new scala.util.Random(ctx.seed * 7919 + 1)
    val latencies: Map[String, ArrayBuffer[Double]] =
      ViewKinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    var attempted, failed = 0L
    private var files, rowsRead, rowsReturned = 0L

    private val golden = fx.goldenTransfers.map(_._1)
      .filter(_.block_number <= maxHeight)
    private val txsByBlock = fx.transactions.groupBy(_.block_number)

    private def boundedTransfers: DataFrame =
      store.read(spark, "token_transfers")
        .filter(col("block_number") <= maxHeight)

    /** One lookup, its key drawn here: a function that builds the frame
    * the view runs from the store, and the rows it must return, each
    * rendered as a string. */
    private def lookup(kind: String)
        : (() => DataFrame, Row => String, Seq[String]) = {
      val n = rng.nextInt(maxHeight.toInt + 1).toLong
      kind match {
        case "block_by_number" =>
          val b = fx.blocks(n.toInt)
          (() => ChainOps.blockByNumber(
            store.readHeightRange(spark, "blocks", n, n), n),
            r => s"${r.getAs[Long]("number")}|${r.getAs[String]("hash")}|" +
              r.getAs[String]("parent_hash"),
            Seq(s"${b.number}|${b.hash}|${b.parent_hash}"))
        case "txs_of_block" =>
          (() => ChainOps.txsOfBlock(
            store.readHeightRange(spark, "transactions", n, n), n),
            r => r.getAs[String]("hash"),
            txsByBlock(n).map(_.hash))
        case "tx_by_hash" =>
          val t = txsByBlock(n)(rng.nextInt(txsByBlock(n).size))
          (() => ChainOps.txByHash(store.read(spark, "transactions"), t.hash),
            r => s"${r.getAs[String]("hash")}|${r.getAs[Long]("block_number")}",
            Seq(s"${t.hash}|${t.block_number}"))
        case "address_transfers" =>
          val a = ChainFixture.addr(rng.nextInt(20))
          (() => ChainOps.addressTransfers(boundedTransfers, a,
            TransferType.All),
            r => s"${r.getAs[String]("tx_hash")}|${r.getAs[String]("to_addr")}|" +
              r.getAs[String]("value"),
            golden.filter(t => t.from_addr == a || t.to_addr == a)
              .map(t => s"${t.tx_hash}|${t.to_addr}|${t.value}"))
        case "token_transfers" =>
          val a = ChainFixture.addr(rng.nextInt(17))
          (() => ChainOps.tokenTransfersOf(boundedTransfers,
            ChainFixture.Watched, to = Some(a)),
            r => s"${r.getAs[String]("tx_hash")}|${r.getAs[Long]("transfer_index")}",
            golden.filter(_.to_addr == a)
              .map(t => s"${t.tx_hash}|${t.transfer_index}"))
      }
    }

    /** One timed lookup as the CLI's `view` runs it: the frame is built
      * from the store (manifest read, leaf pruning, file listing, schema)
      * and collected inside the same span; the expected rows are drawn
      * off the clock. */
    def once(measured: Boolean): Unit = {
      val kind = ViewKinds(rng.nextInt(ViewKinds.size))
      val (build, render, want) = lookup(kind)
      attempted += 1
      try {
        val ((df, rows), s) = ctx.tracer.span(
            if (measured) "view" else "warm")(_ => Stats.time {
          val df = build()
          (df, df.collect())
        })
        if (measured) latencies(kind) += s
        if (rows.map(render).sorted.toSeq != want.sorted) failed += 1
        if (measured && ctx.tracer.enabled) {
          val scans = collect(df.queryExecution.executedPlan) {
            case s: FileSourceScanExec => s
          }
          files += scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
          rowsRead += scans.flatMap(_.metrics.get("numOutputRows"))
            .map(_.value).sum
          rowsReturned += rows.length
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[live] view $kind failed: $e")
          failed += 1
      }
    }

    def filesPerLookup: Double =
      files.toDouble / math.max(1, latencies.values.map(_.size).sum)
    def rowsReadPerReturned: Double =
      rowsRead.toDouble / math.max(1L, rowsReturned)
  }
}
