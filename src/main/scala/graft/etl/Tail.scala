package graft.etl

import graft.store.GraftStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming tail ingest (OP-SRC-4 / OP-STR-1..4, etl.rs:126-176).
  *
  * New-head events drive micro-batches; each batch is processed by
  * [[processHead]] inside `foreachBatch`, which is idempotent by height
  * (replay-safe, OP-STR-2) and detects reorgs by parent-hash linkage
  * instead of the reference's insert-conflict signal (OP-STR-3):
  *
  *  - head.number <= stored max → skip (OP-FIL-7 duplicate filter);
  *  - parent linkage broken → walk back to the fork point and backfill
  *    from it: one commit replaces every height >= it (OP-DEL-1);
  *  - otherwise append [storedMax+1, head.number] as one atomic commit.
  *
  * Maturity stays recompute-on-read ([[graft.chain.ChainOps.withMaturity]],
  * OP-STR-4: a 5-block finality watermark), so no UPDATE pass exists at
  * all — the reference's biggest mutation loop (etl.rs:171,318) costs
  * nothing here.
  */
object Tail {

  final case class Head(number: Long, hash: String, parent_hash: String)

  sealed trait Action
  case object Skipped extends Action
  final case class Appended(from: Long, to: Long) extends Action
  final case class ReorgResolved(forkPoint: Long, reingested: Long)
      extends Action

  /** Process one new head; returns the action taken. The stored tip and
    * its hash come from one snapshot's metadata (`tip`, `tiphash`), so a
    * contiguous head runs no Spark job before its fetch; a store without
    * `tiphash` (a legacy store, or one cut back with no block to replace)
    * reads the tip block's hash back with one single-row read. */
  def processHead(
      spark: SparkSession,
      store: GraftStore,
      source: ChainSource,
      head: Head,
      watchTokens: Map[String, Seq[String]] = WatchTokens.Default): Action = {
    val meta = store.currentMeta()
    val last = Backfill.maxIngestedHeight(spark, store, meta)
    if (head.number <= last) return Skipped

    // Parent-linkage check against the stored chain (OP-STR-3). The block
    // that will sit at last+1 must descend from the stored tip: for a
    // contiguous head that is the head itself; for a gap (attach collapses
    // each micro-batch to its max head, so gaps are routine) the SOURCE's
    // block at last+1 is fetched and its parent checked — otherwise a
    // reorg below the stored tip arriving together with later heads would
    // be appended on top of stale canonical blocks.
    if (last >= 0) {
      // collect, not head: one job however the tip's leaf is split into
      // files (head's take would scan partitions in rounds)
      val storedTipHash = meta.getOrElse(store.metaKey("tiphash"),
        store.readHeightRange(spark, "blocks", last, last)
          .filter(col("number") === last).select("hash").collect()
          .head.getString(0))
      val linked =
        if (head.number == last + 1) head.parent_hash == storedTipHash
        else {
          val seam = source.blocks(spark, last + 1, last + 1)
            .select("parent_hash").collect()
          // a source with no block at last+1 while announcing a later head
          // is itself evidence of a reorg below the tip — fall through to
          // the fork-point walk-back rather than appending blindly
          seam.nonEmpty && seam.head.getString(0) == storedTipHash
        }
      if (!linked) {
        val forkPoint = findForkPoint(spark, store, source, last)
        val n = Backfill.run(spark, source, store, forkPoint, head.number,
          watchTokens)
        return ReorgResolved(forkPoint, n)
      }
    }
    val from = last + 1
    Backfill.run(spark, source, store, from, head.number, watchTokens)
    Appended(from, head.number)
  }

  /** First height where source and store disagree, walking back from the
    * stored tip (bounded by the reference's 100-block crash-retry wipe,
    * export.rs:62). */
  private def findForkPoint(spark: SparkSession, store: GraftStore,
      source: ChainSource, storedTip: Long): Long = {
    val lookback = 100L
    val from = math.max(0L, storedTip - lookback)
    val stored = store.readHeightRange(spark, "blocks", from, Long.MaxValue)
      .filter(col("number") >= from)
      .select(col("number"), col("hash").as("stored_hash"))
    val fresh = source.blocks(spark, from, storedTip)
      .select(col("number"), col("hash").as("source_hash"))
    val firstDiff = stored.join(fresh, "number")
      .filter(col("stored_hash") =!= col("source_hash"))
      .agg(min("number")).head().get(0)
    firstDiff match {
      case n: Long => n
      case _ => storedTip + 1 // store is a strict prefix: append-only case
    }
  }

  /** Structured Streaming wiring: a stream of heads → foreachBatch over
    * [[processHead]] in head order. The heads source in production is the
    * node's newHeads subscription (a custom MicroBatchStream keyed by
    * block number); tests drive a MemoryStream. */
  def attach(
      spark: SparkSession,
      store: GraftStore,
      source: ChainSource,
      heads: DataFrame,
      watchTokens: Map[String, Seq[String]] = WatchTokens.Default)
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    heads.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // only the max head per micro-batch matters: processHead ingests the
      // whole [stored+1, head] range, subsuming intermediate heads
      val rows = batch.select("number", "hash", "parent_hash").collect()
      if (rows.nonEmpty) {
        val r = rows.maxBy(_.getAs[Long]("number"))
        processHead(spark, store, source,
          Head(r.getAs[Long]("number"), r.getAs[String]("hash"),
            r.getAs[String]("parent_hash")), watchTokens)
      }
      ()
    }
  }
}
