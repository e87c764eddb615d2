package graft.chain

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Chain-domain operators: the ETL dataflow and view/verify queries of the
  * reference, re-expressed as declarative Spark plans (SURVEY §2, §3).
  *
  * Scale intent: `blocks`/`transactions`/`token_transfers` are block-range
  * partitioned parquet at rest (see [[graft.store.TableLayout]]); every
  * query here keeps filters pushdown-able and joins broadcast-shaped where
  * the reference used in-memory hash maps (sqlite3.rs:407-415).
  */
object ChainOps {

  /** created_at derivation (OP-PRJ-3): the reference stamps rows with the
    * *block* timestamp formatted `%Y-%m-%d %H:%M:%S`, not wall clock
    * (sqlite3.rs:414). */
  def withCreatedAt(blocks: DataFrame): DataFrame =
    blocks.withColumn("created_at", to_timestamp(from_unixtime(col("timestamp"))))

  /** Sentinel normalization at the source boundary (OP-PRJ-4,
    * transaction.rs:26-35): missing to -> "", missing block_hash ->
    * zero-hash, missing numerics -> 0. */
  def normalizeTxs(raw: DataFrame): DataFrame =
    raw
      .withColumn("to_addr", coalesce(col("to_addr"), lit("")))
      .withColumn("block_hash",
        coalesce(col("block_hash"), lit(ChainFixture.ZeroHash)))
      .withColumn("block_number", coalesce(col("block_number"), lit(0L)))
      .withColumn("transaction_index",
        coalesce(col("transaction_index"), lit(0L)))
      .withColumn("energy_price", coalesce(col("energy_price"), lit("0")))

  /** OP-FIL-1 — ingest address filter (etl.rs:199-204). */
  def addressFilter(txs: DataFrame, addresses: Seq[String]): DataFrame =
    if (addresses.isEmpty) txs
    else txs.filter(col("from_addr").isin(addresses: _*) ||
      col("to_addr").isin(addresses: _*))

  /** The token-transfer extraction pipeline (etl.rs:346-384):
    * OP-FIL-8 selector filter → OP-JOIN-1/3 block timestamp →
    * OP-JOIN-2 receipt-status join → OP-UDTF-1 decode (native Generator).
    *
    * Output schema matches the reference's token_transfers DDL
    * (sqlite3.rs:247-261). `receipts` and the block-timestamp side are
    * broadcast: receipts are fetched per matching tx in the reference
    * (etl.rs:357-360) so the join is dimension-sized by construction.
    * The ETL runs the same [[transferCandidates]] and [[decodeTransfers]]
    * with the status and timestamp its source attaches in the fetch
    * partition instead of these joins.
    */
  def tokenTransfers(
      txs: DataFrame,
      blocks: DataFrame,
      receipts: DataFrame,
      watched: Seq[String] = Seq(ChainFixture.Watched),
      contractType: String = "cbc20"): DataFrame = {
    val watch = Seq(ContractRegistry(contractType) -> watched)
    decodeTransfers(withReceiptOk(
      transferCandidates(withBlockTimestamp(txs, blocks), watch), receipts),
      watch)
  }

  /** `txs` with each row's block `timestamp` appended, by a broadcast left
    * join on the block number (null where the block is absent). */
  def withBlockTimestamp(txs: DataFrame, blocks: DataFrame): DataFrame =
    appendByKey(txs, blocks.select(col("number").as("block_number"),
      col("timestamp")), "block_number")

  /** `candidates` with a `receipt_ok` column appended: the receipt status
    * of its `hash`, by a broadcast left join (null where no receipt
    * exists). */
  def withReceiptOk(candidates: DataFrame, receipts: DataFrame): DataFrame =
    appendByKey(candidates, receipts.select(col("tx_hash").as("hash"),
      col("status").as("receipt_ok")), "hash")

  /** `df` in its own column order plus `side`'s one value column, by a
    * broadcast left join on `key`. */
  private def appendByKey(df: DataFrame, side: DataFrame,
      key: String): DataFrame =
    df.join(broadcast(side), Seq(key), "left")
      .select((df.columns.toSeq :+ side.columns(1)).map(col): _*)

  private def selects(d: ContractDecoder, watched: Seq[String]): Column =
    col("to_addr").isin(watched: _*) && d.isCall(col("input"))

  /** OP-FIL-8 for every watched contract type at once: the transactions
    * (carrying their block `timestamp`) that any type's selector picks,
    * one row each however many types pick it, narrowed to the columns
    * [[decodeTransfers]] reads. */
  def transferCandidates(txs: DataFrame,
      watch: Seq[(ContractDecoder, Seq[String])]): DataFrame =
    txs.filter(watch.map { case (d, w) => selects(d, w) }.reduce(_ || _))
      .select(col("hash"), col("block_number"), col("to_addr"),
        col("from_addr"), col("input"), col("timestamp"))

  /** Decode and project, shared by [[tokenTransfers]] and the ETL:
    * [[transferCandidates]] rows with a `receipt_ok` column become
    * token_transfers rows — every watched type that selects a row decodes
    * it (OP-UDTF-1), `created_at` is the block timestamp (OP-PRJ-3), and a
    * failed or missing receipt is status 0. Row-local: no join, no
    * exchange. */
  def decodeTransfers(candidates: DataFrame,
      watch: Seq[(ContractDecoder, Seq[String])]): DataFrame =
    candidates.select(col("hash").as("tx_hash"), col("block_number"),
        col("to_addr").as("address"),
        to_timestamp(from_unixtime(col("timestamp"))).as("created_at"),
        when(col("receipt_ok") === true, 1).otherwise(0).as("status"),
        ContractRegistry.decodeWatched(
          watch.map { case (d, w) => selects(d, w) -> d },
          col("from_addr"), col("input")))
      .select(col("block_number"), col("from_addr"), col("to_addr"),
        col("value"), col("tx_hash"), col("address"), col("transfer_index"),
        col("created_at"), col("status"))

  // ---- view queries (SURVEY §2.12, view.rs:30-122) ----

  def blockByNumber(blocks: DataFrame, n: Long): DataFrame =
    blocks.filter(col("number") === n)

  def blockByHash(blocks: DataFrame, h: String): DataFrame =
    blocks.filter(col("hash") === h)

  def blocksInRange(blocks: DataFrame, start: Long, end: Long): DataFrame =
    if (end < 0) blocks.filter(col("number") >= start)
    else blocks.filter(col("number") >= start && col("number") <= end)

  def txsOfBlock(txs: DataFrame, n: Long): DataFrame =
    txs.filter(col("block_number") === n)

  def txByHash(txs: DataFrame, h: String): DataFrame =
    txs.filter(col("hash") === h)

  /** OP-FIL-5 — dynamic conjunctive predicate (sqlite3.rs:556-568). */
  def tokenTransfersOf(
      transfers: DataFrame,
      tokenAddress: String,
      from: Option[String] = None,
      to: Option[String] = None): DataFrame = {
    var df = transfers.filter(col("address") === tokenAddress)
    from.foreach(f => df = df.filter(col("from_addr") === f))
    to.foreach(t => df = df.filter(col("to_addr") === t))
    df
  }

  /** OP-FIL-6 + OP-PRJ-1 — transfers touching an address, as sender,
    * receiver, or either (sqlite3.rs:609-635). */
  def addressTransfers(
      transfers: DataFrame,
      address: String,
      transferType: TransferType): DataFrame = {
    val pred = transferType match {
      case TransferType.From => col("from_addr") === address
      case TransferType.To => col("to_addr") === address
      case TransferType.All =>
        col("from_addr") === address || col("to_addr") === address
    }
    transfers.filter(pred)
      .select("from_addr", "to_addr", "value", "tx_hash", "address")
  }

  // ---- verify (OP-WIN-1/2, verify.rs:34-91) ----

  /** Continuity gap check: heights whose predecessor is not height-1.
    * Global-ordered window over the (bounded) verify slice; at fleet scale
    * the same check runs per block-range bucket with a boundary exchange. */
  def continuityGaps(blocks: DataFrame): DataFrame = {
    val w = Window.orderBy(col("number"))
    blocks.select(col("number"),
        lag(col("number"), 1).over(w).as("prev_number"))
      .filter(col("prev_number").isNotNull &&
        col("number") =!= col("prev_number") + 1)
  }

  /** Scale path for [[continuityGaps]]: per-bucket windows (parallel, no
    * global sort) + a boundary check over one row per bucket. Identical
    * results to the global-window form; the only global window runs over
    * the bucket summaries, so the check runs on a 1000-executor table as
    * a normal job.
    *
    * The boundary pairs each bucket's first height with the last height of
    * its PREDECESSOR NON-EMPTY bucket (a bucket-level lag), not of bucket
    * `b - 1`: a gap wider than `bucketSize` leaves whole buckets empty, so
    * an adjacency join on bucket number would never form the spanning pair
    * and the scalable verify would miss exactly the large gaps it exists
    * to find (caught by WinScalableSpec's randomized sweep). */
  def continuityGapsScalable(blocks: DataFrame, bucketSize: Long): DataFrame = {
    // integer `div`, not `/`: double division mis-buckets keys once the
    // quotient's ulp exceeds 1/bucketSize (large synthetic keys; epoch-like
    // ids), shifting first/last into the wrong bucket
    val withBucket = blocks
      .select(col("number"), expr(s"number div $bucketSize").as("b"))
    val w = Window.partitionBy(col("b")).orderBy(col("number"))
    val inBucket = withBucket
      .select(col("number"), lag(col("number"), 1).over(w).as("prev_number"))
      .filter(col("prev_number").isNotNull &&
        col("number") =!= col("prev_number") + 1)
    val perBucket = withBucket.groupBy(col("b"))
      .agg(min(col("number")).as("first_key"), max(col("number")).as("last_key"))
    val boundary = perBucket
      .select(col("first_key").as("number"),
        lag(col("last_key"), 1).over(Window.orderBy(col("b")))
          .as("prev_number"))
      .filter(col("prev_number").isNotNull &&
        col("number") =!= col("prev_number") + 1)
    inBucket.unionByName(boundary)
  }

  /** Genesis-anchored identity check: sorted position == height
    * (verify.rs:74-79). Global-ordered window — fine on a bounded verify
    * slice; full-table verify uses [[identityMismatchesScalable]]. */
  def identityMismatches(blocks: DataFrame): DataFrame = {
    val w = Window.orderBy(col("number"))
    blocks.select(col("number"), (row_number().over(w) - 1).as("expected"))
      .filter(col("number") =!= col("expected"))
  }

  /** Scale path for [[identityMismatches]]: the global sorted position is
    * decomposed into per-bucket row_number (parallel windows) plus the
    * cumulative row count of all lower buckets. The only global window
    * runs over ONE ROW PER BUCKET (broadcast-joined back), so a
    * 1000-executor full-table verify never single-partitions the data.
    * Identical results to the global-window form. */
  def identityMismatchesScalable(blocks: DataFrame, bucketSize: Long): DataFrame = {
    // integer `div` for the same reason as continuityGapsScalable
    val withBucket = blocks
      .select(col("number"), expr(s"number div $bucketSize").as("b"))
    val counts = withBucket.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .select(col("b"), col("offset"))
    val w = Window.partitionBy(col("b")).orderBy(col("number"))
    withBucket
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(offsets), Seq("b"))
      .select(col("number"), (col("rn") - 1 + col("offset")).as("expected"))
      .filter(col("number") =!= col("expected"))
  }

  /** Real `verify transactions` — one groupBy + join: per-block stored tx
    * count vs the block header's `transaction_count`. The reference's
    * subcommand is a documented no-op stub (verify.rs:92); this exceeds it.
    * Blocks with no stored txs count as 0 (left join), so truncated
    * ingests surface too. */
  def transactionCountMismatches(blocks: DataFrame, txs: DataFrame): DataFrame = {
    val counts = txs.groupBy(col("block_number").as("number"))
      .agg(count(lit(1)).as("stored_txs"))
    blocks.select(col("number"), col("transaction_count"))
      .join(counts, Seq("number"), "left")
      .withColumn("stored_txs", coalesce(col("stored_txs"), lit(0L)))
      .filter(col("stored_txs") =!= col("transaction_count"))
  }

  // ---- maturity (OP-UPD-1 / OP-STR-4, etl.rs:171-172) ----

  /** Recompute-on-read maturity: a block is matured once it is at least 5
    * behind the tip. Stays fully in-plan (scalar agg broadcast-joined), no
    * driver collect. */
  def withMaturity(blocks: DataFrame): DataFrame = {
    val tip = blocks.agg(max(col("number")).as("tip"))
    blocks.crossJoin(broadcast(tip))
      .withColumn("matured",
        when(col("number") <= col("tip") - 5, 1).otherwise(0))
      .drop("tip")
  }

  /** Materialized-tip maturity (ROADMAP r1 #4): when the tip is already
    * known — the store's `tip` snapshot metadata, maintained atomically by
    * every ingest/rollback commit — maturity is a pure scan expression
    * with no aggregation at all. Equal to [[withMaturity]] whenever
    * `tip == max(number)`. */
  def withMaturityFromTip(blocks: DataFrame, tip: Long): DataFrame =
    blocks.withColumn("matured",
      when(col("number") <= tip - 5, 1).otherwise(0))

  // ---- reorg / rollback (OP-DEL-1/2, sqlite3.rs:272-392) ----

  /** Drop all rows at/above a height across the three tables (the
    * anti-join materialization of the FK cascade, OP-JOIN-4). */
  def rollbackFrom(
      blocks: DataFrame,
      txs: DataFrame,
      transfers: DataFrame,
      height: Long): (DataFrame, DataFrame, DataFrame) =
    (blocks.filter(col("number") < height),
      txs.filter(col("block_number") < height),
      transfers.filter(col("block_number") < height))

  /** OP-DEL-2 — tail rollback of the last N heights (crash-retry wipe,
    * export.rs:62): `number > max - N` removed via scalar-subquery max. */
  def rollbackLast(
      blocks: DataFrame,
      txs: DataFrame,
      transfers: DataFrame,
      n: Long): (DataFrame, DataFrame, DataFrame) = {
    val cutoff = blocks.agg((max(col("number")) - n).as("cutoff"))
    def keep(df: DataFrame, numberCol: String) =
      df.crossJoin(broadcast(cutoff))
        .filter(col(numberCol) <= col("cutoff")).drop("cutoff")
    (keep(blocks, "number"), keep(txs, "block_number"),
      keep(transfers, "block_number"))
  }

  /** OP-DEL-3 — TTL retention sweep: drop rows older than the cutoff
    * (sqlite3.rs:483-536). `now` is injected for determinism. */
  def retentionSweep(
      df: DataFrame,
      nowEpochSeconds: Long,
      retentionSeconds: Long): DataFrame =
    df.filter(col("created_at") >=
      to_timestamp(lit(nowEpochSeconds - retentionSeconds)))
}
