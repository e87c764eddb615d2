package graft.etl

import graft.chain.{ChainFixture, ChainOps, ContractRegistry}
import graft.store.GraftStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

/** Batch access to chain data by height range (OP-SRC-2/3): the test/dev
  * implementation replays the deterministic fixture; a production
  * implementation fetches over RPC with one partition per height range
  * (`mapPartitions` fan-out replacing the reference's tokio::spawn pool,
  * etl.rs:286-303). The token-transfer receipt lookup
  * ([[withReceiptStatus]]) is the source's too, so a wire source can run
  * it inside the fetch partition, with no exchange. */
trait ChainSource {
  def tipHeight(spark: SparkSession): Long
  def blocks(spark: SparkSession, from: Long, to: Long): DataFrame
  def transactions(spark: SparkSession, from: Long, to: Long): DataFrame
  def receipts(spark: SparkSession, from: Long, to: Long): DataFrame

  /** Blocks AND transactions of a range from ONE fetch; each transaction
    * row also carries its block's `timestamp` (the token-transfer
    * `created_at`; the transactions table does not store it). The default
    * pairs the two single-table methods and joins the timestamp on by
    * block number — free for local sources (fixture, parquet replay).
    * Wire-backed sources override it to decode both tables from a single
    * `getBlockByNumber(full)` pass and take the timestamp from the block
    * each transaction came in (the reference fetches each block exactly
    * once and reads headers and bodies from the same response,
    * etl.rs:186-207). Callers must invoke `release()` once every
    * consuming action has run. */
  def fetchRange(spark: SparkSession, from: Long, to: Long)
      : ChainSource.RangeFetch = {
    val b = blocks(spark, from, to)
    ChainSource.RangeFetch(b,
      ChainOps.withBlockTimestamp(transactions(spark, from, to), b), () => ())
  }

  /** `candidates` (transactions of [from, to] with a `hash` column) with
    * a boolean `receipt_ok` column added: the status of each hash's
    * receipt, false or null where it failed or does not exist. The
    * default left-joins the broadcast [[receipts]] of the range — a local
    * source's receipts cost nothing to over-deliver. Wire-backed sources
    * override it to look up exactly the listed hashes inside the
    * candidates' own partitions: the reference looks up receipts per
    * MATCHING tx (etl.rs:353-360), so receipt round-trips must scale with
    * the selector hit count, not the chain's tx count. */
  def withReceiptStatus(spark: SparkSession, from: Long, to: Long,
      candidates: DataFrame): DataFrame =
    ChainOps.withReceiptOk(candidates, receipts(spark, from, to))
}

object ChainSource {
  /** One materialized range fetch; `release` frees any backing cache. */
  final case class RangeFetch(
      blocks: DataFrame,
      transactions: DataFrame,
      release: () => Unit)
}

/** Fixture-backed source; `forkAt` switches heights >= fork to the fork
  * branch (reorg scenarios, FIXTURES.md §B). */
final class FixtureSource(
    fx: ChainFixture.Fixture,
    forkAt: Option[Long] = None,
    forkLen: Int = 6) extends ChainSource {

  private def forkBlocksDF(spark: SparkSession) = {
    import spark.implicits._
    ChainFixture.forkBlocks(fx, forkAt.get.toInt, forkLen).toDF()
  }

  override def tipHeight(spark: SparkSession): Long = forkAt match {
    case Some(f) => f + forkLen - 1
    case None => fx.blocks.last.number
  }

  override def blocks(spark: SparkSession, from: Long, to: Long): DataFrame = {
    val canonical = fx.blocksDF(spark)
    val all = forkAt match {
      case Some(f) =>
        canonical.filter(col("number") < f).unionByName(forkBlocksDF(spark))
      case None => canonical
    }
    all.filter(col("number") >= from && col("number") <= to)
  }

  override def transactions(spark: SparkSession, from: Long, to: Long): DataFrame = {
    val txs = fx.txsDF(spark)
      .filter(col("block_number") >= from && col("block_number") <= to)
    forkAt match {
      // fork branch carries no transactions in the fixture
      case Some(f) => txs.filter(col("block_number") < f)
      case None => txs
    }
  }

  override def receipts(spark: SparkSession, from: Long, to: Long): DataFrame =
    fx.receiptsDF(spark)
}

/** Batch backfill (OP-SRC-3 / OP-STR-1, etl.rs:251-336): resume from the
  * store's coalesced max height, ingest [resume+1, tip] as ONE atomic
  * multi-table commit. Idempotent: re-running after a crash that staged
  * but never committed leaves no visible change. A reorg or a crash
  * retry is the same one commit from a lower height (see [[run]]).
  *
  * Each table is one write over the source's range fetch, and the three
  * writes run concurrently. Over a wire source none of them has an
  * exchange: the token_transfers write selects, looks up receipt status
  * and decodes inside the fetch partition, so a one-block head runs one
  * Spark job per table. */
object Backfill {

  /** Resume cursor (OP-AGG-2, sqlite3.rs:153-211). Fast path: the `tip`
    * snapshot metadata, committed atomically with every ingest —
    * an O(1) driver read instead of three table scans per streaming head
    * (the materialized form of the reference's MAX(number) cursor).
    * Fallback for stores without the key: coalesced max across blocks,
    * else transactions, else transfers, else -1. */
  def maxIngestedHeight(spark: SparkSession, store: GraftStore): Long =
    maxIngestedHeight(spark, store, store.currentMeta())

  /** [[maxIngestedHeight]] from an already-read snapshot meta, so a caller
    * can take the tip and the `tiphash` beside it from one snapshot. */
  private[etl] def maxIngestedHeight(spark: SparkSession, store: GraftStore,
      meta: Map[String, String]): Long =
    meta.get(store.metaKey("tip")) match {
      case Some(t) => t.toLong
      case None =>
        val b = store.read(spark, "blocks").agg(max("number")).head().get(0)
        val t = store.read(spark, "transactions").agg(max("block_number"))
          .head().get(0)
        val tr = store.read(spark, "token_transfers").agg(max("block_number"))
          .head().get(0)
        Seq(b, t, tr).collectFirst { case n: Long => n }.getOrElse(-1L)
    }

  /** Ingest heights [from, to] from the source. Returns the number of
    * heights the commit covers: up to the committed `tip`.
    *
    * `watchTokens` maps contract type → watched addresses (reference
    * `--watch-tokens`, export.rs:88-114); each type dispatches to its
    * [[graft.chain.ContractRegistry]] decoder; a transaction several types
    * select is looked up once and yields each type's transfers. `modules`
    * gates which tables are written at all (reference `--modules`,
    * main.rs:52-54): a transfers-only run stages no blocks/transactions
    * leaves.
    *
    * After the commit the store's heights >= `from` are exactly the
    * source's [from, to] (OP-DEL-1): the commit drops every leaf that can
    * hold such a height (one snapshot, pruned by footer stats), and its
    * table's stage writes the leaf's rows below `from` beside the fresh
    * ones. An append finds no such leaf and runs exactly the writes above.
    *
    * The commit's `tip` and `tiphash` come from the highest block row the
    * blocks stage actually wrote, not from `to`: a node that answers null
    * above some height (a lagging replica, a chain that shrank) leaves
    * the cursor on the last stored block; a range that stages no block
    * leaves both keys as they were, or, if it dropped leaves, commits
    * `tip = from - 1` and clears `tiphash`. A run that stages no blocks
    * table commits `tip = to` and clears `tiphash`. */
  def run(
      spark: SparkSession,
      source: ChainSource,
      store: GraftStore,
      from: Long,
      to: Long,
      watchTokens: Map[String, Seq[String]] = WatchTokens.Default,
      addressFilter: Seq[String] = Nil,
      modules: Seq[String] = Seq("blocks", "transactions", "token_transfers"))
    : Long = {
    if (to < from) return 0L
    val wantTxs = modules.contains("transactions")
    val wantTransfers =
      modules.contains("token_transfers") && watchTokens.nonEmpty
    val wantBlocks = modules.contains("blocks")
    // One wire pass serves every staged table: the source materializes the
    // range once behind fetchRange, and the stages below read it
    // concurrently. A blocks-only run skips tx bodies entirely.
    val fetch =
      if (wantTxs || wantTransfers) source.fetchRange(spark, from, to)
      else ChainSource.RangeFetch(source.blocks(spark, from, to), null,
        () => ())
    val staged = new TipAccumulator
    spark.sparkContext.register(staged)
    val replaced = store.leavesForHeights(store.Tables, from, Long.MaxValue)
    // a table's stage: its fresh rows, if the run writes it, beside the
    // rows below `from` of its leaves the commit drops
    def stage(table: String, fresh: Option[() => DataFrame]) = {
      val old = replaced.filter(_.table == store.physName(table))
      Option.when(fresh.isDefined || old.nonEmpty)(() => store.stage(table,
        (fresh.map(_()) ++ Option.when(old.nonEmpty)(store.readLeaves(spark,
          table, old).filter(col(store.heightCol(table)) < from)))
          .reduce(_ unionByName _)))
    }
    val tip = try {
      val txsRaw = fetch.transactions
      val txStage = stage("transactions", Option.when(wantTxs)(() =>
        ChainOps.addressFilter(
          ChainOps.normalizeTxs(txsRaw.drop("timestamp")), addressFilter)))
      // transfers come from UNFILTERED txs (the address filter applies to
      // the transactions table only, etl.rs:193-204). One selector over
      // every watched type picks each matching tx once; only those reach
      // the receipt lookup (etl.rs:353-360), run in the fetch partition.
      val transferStage = stage("token_transfers",
        Option.when(wantTransfers) { () =>
          val watch = watchTokens.toSeq.sortBy(_._1).map { case (t, a) =>
            ContractRegistry(t) -> a
          }
          val candidates = ChainOps.transferCandidates(
            ChainOps.normalizeTxs(txsRaw), watch)
          ChainOps.decodeTransfers(
            source.withReceiptStatus(spark, from, to, candidates), watch)
        })
      val blockStage = stage("blocks",
        Option.when(wantBlocks)(() => staged.tap(fetch.blocks)))
      val leaves = concurrently(
        Seq(txStage, transferStage, blockStage).flatten).flatten
      val (committed, meta) =
        if (!wantBlocks) (to, Map("tip" -> to.toString, "tiphash" -> ""))
        else staged.value match {
          case Some((n, h)) => (n, Map("tip" -> n.toString, "tiphash" -> h))
          case None if replaced.isEmpty => (from - 1, Map.empty[String, String])
          case None =>
            (from - 1, Map("tip" -> (from - 1).toString, "tiphash" -> ""))
        }
      store.commit(leaves, replaced, meta)
      committed
    } finally fetch.release()
    tip - from + 1
  }

  /** Runs each body on its own driver thread and returns their results in
    * order. Every thread is joined before anything else happens; then the
    * first failure in body order is rethrown as the body threw it. The
    * threads inherit the caller's local properties (job group, SQL
    * execution, scheduler pool), so a caller's `cancelJobGroup` and job
    * attribution reach every job they run. An interrupt while joining is
    * held until every thread has finished, then thrown. */
  private[etl] def concurrently[T](bodies: Seq[() => T]): Seq[T] = {
    val results = new Array[Either[Throwable, T]](bodies.size)
    val threads = bodies.zipWithIndex.map { case (body, i) =>
      val t = new Thread(() =>
        results(i) =
          try Right(body())
          catch { case e: Throwable => Left(e) },
        s"graft-backfill-stage-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    results.collectFirst { case Left(e) => e }.foreach(e => throw e)
    if (interrupted) throw new InterruptedException(
      "interrupted while staging; every stage finished, nothing committed")
    results.toSeq.map(_.toOption.get)
  }

  /** Highest (number, hash) among the block rows a stage writes. Max by
    * number is idempotent, so a retried or speculative task cannot
    * change it. */
  private final class TipAccumulator
      extends AccumulatorV2[(Long, String), Option[(Long, String)]] {
    private var tip: Option[(Long, String)] = None
    override def isZero: Boolean = tip.isEmpty
    override def copy(): TipAccumulator = {
      val a = new TipAccumulator
      a.tip = tip
      a
    }
    override def reset(): Unit = tip = None
    override def add(v: (Long, String)): Unit =
      if (tip.forall(_._1 < v._1)) tip = Some(v)
    override def merge(
        other: AccumulatorV2[(Long, String), Option[(Long, String)]]): Unit =
      other.value.foreach(add)
    override def value: Option[(Long, String)] = tip

    /** `blocks` with every written row's (number, hash) added here. */
    def tap(blocks: DataFrame): DataFrame = {
      val acc = this
      val seen = udf { (n: java.lang.Long, h: String) =>
        if (n != null) acc.add((n, h))
        h
      }.asNondeterministic()
      blocks.withColumn("hash", seen(col("number"), col("hash")))
    }
  }
}
