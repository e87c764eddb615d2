package graft.etl

import graft.store.GraftStore
import org.apache.spark.sql.SparkSession

/** Export-job orchestration (SURVEY §2.12 / OP-STR-5..7; reference
  * `bin/core-etl/src/export.rs:46-71`):
  *
  *  - lazy gate: poll until the node reports synced (etl.rs:100-117);
  *  - crash retry: up to `retries` attempts, each ingesting to the
  *    source's tip (capped at `endBlock`); one after a failure backfills
  *    from `wipeOnRetry` heights below the stored tip (but not below
  *    `startBlock`), so its one commit also replaces the possibly torn
  *    tail (export.rs:55-69 wipes 100, then re-ingests). A retry whose
  *    end falls below the stored tip resumes from the cursor instead,
  *    so it never drops a stored height it does not re-ingest;
  *  - retention: after ingest, drop buckets whose entire height range is
  *    older than the TTL (OP-DEL-3 as whole-partition deletes).
  *
  * Scheduling of the periodic sweep (OP-STR-7) belongs to an external
  * scheduler in a Spark deployment; [[retentionSweep]] is the idempotent
  * unit it invokes.
  */
object Export {

  final case class Config(
      startBlock: Long = 0L,
      endBlock: Long = Long.MaxValue,
      retries: Int = 10,
      wipeOnRetry: Long = 100L,
      watchTokens: Map[String, Seq[String]] = WatchTokens.Default,
      addressFilter: Seq[String] = Nil,
      modules: Seq[String] = Seq("blocks", "transactions", "token_transfers"),
      retentionSeconds: Long = 0L,
      lazyGate: () => Boolean = () => true,
      gatePollMs: Long = 60000L,
      maxGatePolls: Int = 10)

  /** `dropped`: leaf dirs the retention sweep retired (0 without one). */
  final case class Summary(attempts: Int, ingested: Long, finalHeight: Long,
      dropped: Int)

  def run(
      spark: SparkSession,
      source: ChainSource,
      store: GraftStore,
      cfg: Config = Config()): Summary = {
    // maxGatePolls <= 0 = wait forever (the reference's
    // loop-until-SyncStatus::None, etl.rs:99-116); a bounded budget
    // that runs out logs the abandonment rather than silently
    // proceeding against a still-syncing node. Both lines go to stdout,
    // beside the CLI's summary.
    var polls = 0
    var synced = cfg.lazyGate()
    while (!synced && (cfg.maxGatePolls <= 0 || polls < cfg.maxGatePolls)) {
      polls += 1
      println(s"[export] node still syncing (poll $polls), waiting")
      Thread.sleep(cfg.gatePollMs)
      synced = cfg.lazyGate()
    }
    if (!synced)
      println(s"[export] WARNING: sync gate abandoned after " +
        s"${cfg.maxGatePolls} polls — ingesting against a still-syncing " +
        "node (raise --gate-max-polls, or 0 to wait forever)")
    var attempt = 0
    var ingested = 0L
    var done = false
    var lastFailure: Exception = null
    var retry = false
    while (!done && attempt < cfg.retries) {
      attempt += 1
      try {
        val stored = Backfill.maxIngestedHeight(spark, store)
        val resume = math.max(stored + 1, cfg.startBlock)
        // a cursor already past endBlock has nothing to ingest: no tip call
        if (resume <= cfg.endBlock) {
          val to = math.min(cfg.endBlock, source.tipHeight(spark))
          // a retry also replaces the possibly torn tail, but only when
          // it re-ingests every stored height: Backfill.run leaves the
          // heights >= from as exactly [from, to], so a `to` below the
          // stored tip would drop the heights above it
          val from =
            if (retry && to >= stored)
              math.max(math.max(0L, stored - cfg.wipeOnRetry + 1),
                cfg.startBlock)
            else resume
          ingested += Backfill.run(spark, source, store, from, to,
            cfg.watchTokens, cfg.addressFilter, cfg.modules)
        }
        done = true
      } catch {
        case e: Exception =>
          lastFailure = e
          retry = true
      }
    }
    if (!done) throw new RuntimeException(
      s"export failed after ${cfg.retries} attempts", lastFailure)
    val dropped =
      if (cfg.retentionSeconds <= 0) 0
      else retentionSweep(spark, store, latestTimestamp(spark, store),
        cfg.retentionSeconds)
    Summary(attempt, ingested, Backfill.maxIngestedHeight(spark, store),
      dropped)
  }

  private def latestTimestamp(spark: SparkSession,
      store: GraftStore): Long = {
    import org.apache.spark.sql.functions._
    store.read(spark, "blocks").agg(max("timestamp")).head().get(0) match {
      case t: Long => t
      case _ => 0L
    }
  }

  /** Compaction: every bucket fragmented into more than
    * `maxLeavesPerBucket` leaves (streaming-tail commits append one small
    * leaf per micro-batch) is read back and rewritten as ONE leaf, with
    * the originals dropped in the same atomic commit — contents are
    * identical, untouched buckets are never rewritten, and concurrent
    * readers keep snapshot isolation throughout. Idempotent and
    * incremental like [[retentionSweep]]: the unit an external scheduler
    * invokes (OP-STR-7). Returns the number of leaves retired.
    *
    * Concurrency: the leaf list is snapshotted ONCE; the rewrite reads and
    * the commit drops exactly that set, so a leaf a concurrent tail
    * commit appends between the read and the commit simply survives
    * (its rows were never read, and it is not in the drop list). If a
    * concurrent commit DELETES one of the snapshotted leaves (a reorg's
    * backfill, retention), [[GraftStore.commit]]'s staleness guard rejects
    * the compaction and it retries from a fresh snapshot — the rewritten
    * rows of the aborted attempt were never published, so the abort is
    * clean (the orphaned staged files are unreferenced and harmless). */
  def compact(
      spark: SparkSession,
      store: GraftStore,
      maxLeavesPerBucket: Int = 1,
      maxAttempts: Int = 3): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snapshot = store.currentLeaves() // the ONE resolution
      val victims = store.Tables.map { table =>
        val mine = snapshot.filter(_.table == store.physName(table))
        val crowded = mine.groupBy(_.bucket)
          .filter(_._2.size > maxLeavesPerBucket).keySet
        table -> mine.filter(l => crowded(l.bucket))
      }.filter(_._2.nonEmpty)
      if (victims.isEmpty) return 0
      val adds = Backfill.concurrently(victims.map { case (table, vs) =>
        () => store.stage(table, store.readLeaves(spark, table, vs))
      })
      val dropped = victims.flatMap(_._2)
      try {
        store.commit(adds.flatten, dropped)
        return dropped.size
      } catch {
        case _: GraftStore.StaleSnapshotException if attempt < maxAttempts =>
        // loop: recompute from a fresh snapshot
      }
    }
    0
  }

  /** Drop every leaf whose entire bucket is older than the cutoff: a
    * metadata-only commit (no data rewrite) — the scale-correct TTL. A
    * bucket straddling the cutoff is kept whole (retention is a floor,
    * not an exact cut), matching whole-partition TTL semantics. */
  def retentionSweep(
      spark: SparkSession,
      store: GraftStore,
      nowEpochSeconds: Long,
      retentionSeconds: Long): Int = {
    import org.apache.spark.sql.functions._
    val cutoff = nowEpochSeconds - retentionSeconds
    val blocks = store.read(spark, "blocks")
    val expired = blocks
      .groupBy(store.bucketCol("blocks").as("bucket"))
      .agg(max("timestamp").as("max_ts"))
      .filter(col("max_ts") < cutoff)
      .collect().map(_.getAs[Long]("bucket")).toSet
    if (expired.isEmpty) 0
    else {
      // ownLeaves: never sweep another instance's namespace in a shared root
      val drops = store.ownLeaves().filter(l => expired.contains(l.bucket))
      store.commit(Nil, drops)
      drops.size
    }
  }
}
