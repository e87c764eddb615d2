package graft.etl

import graft.store.GraftStore
import org.apache.spark.sql.SparkSession

/** Export-job orchestration (SURVEY §2.12 / OP-STR-5..7; reference
  * `bin/core-etl/src/export.rs:46-71`):
  *
  *  - lazy gate: poll until the node reports synced (etl.rs:100-117);
  *  - crash retry: up to `retries` attempts; one after a failure
  *    backfills from `wipeOnRetry` heights below the stored tip (but not
  *    below `startBlock`), so its one commit also replaces the possibly
  *    torn tail (export.rs:55-69 wipes 100, then re-ingests);
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
      retries: Int = 10,
      wipeOnRetry: Long = 100L,
      watchTokens: Map[String, Seq[String]] = WatchTokens.Default,
      addressFilter: Seq[String] = Nil,
      modules: Seq[String] = Seq("blocks", "transactions", "token_transfers"),
      retentionSeconds: Long = 0L,
      lazyGate: () => Boolean = () => true,
      gatePollMs: Long = 60000L,
      maxGatePolls: Int = 10)

  final case class Summary(attempts: Int, ingested: Long, finalHeight: Long)

  def run(
      spark: SparkSession,
      source: ChainSource,
      store: GraftStore,
      cfg: Config = Config()): Summary = {
    // maxGatePolls <= 0 = wait forever (the reference's
    // loop-until-SyncStatus::None, etl.rs:99-116); a bounded budget
    // that runs out logs the abandonment rather than silently
    // proceeding against a still-syncing node.
    var polls = 0
    var synced = cfg.lazyGate()
    while (!synced && (cfg.maxGatePolls <= 0 || polls < cfg.maxGatePolls)) {
      polls += 1
      Thread.sleep(cfg.gatePollMs)
      synced = cfg.lazyGate()
    }
    if (!synced)
      System.err.println(s"[export] WARNING: sync gate abandoned after " +
        s"${cfg.maxGatePolls} polls — proceeding against a still-syncing " +
        "node")
    var attempt = 0
    var ingested = 0L
    var done = false
    var lastFailure: Exception = null
    var replaceFrom = Option.empty[Long]
    while (!done && attempt < cfg.retries) {
      attempt += 1
      try {
        val from = math.max(replaceFrom.getOrElse(
          Backfill.maxIngestedHeight(spark, store) + 1), cfg.startBlock)
        ingested += Backfill.run(spark, source, store, from,
          source.tipHeight(spark), cfg.watchTokens, cfg.addressFilter,
          cfg.modules)
        done = true
      } catch {
        case e: Exception =>
          lastFailure = e
          // the next attempt also replaces the possibly torn tail
          replaceFrom = Some(math.max(0L,
            Backfill.maxIngestedHeight(spark, store) - cfg.wipeOnRetry + 1))
      }
    }
    if (!done) throw new RuntimeException(
      s"export failed after ${cfg.retries} attempts", lastFailure)
    if (cfg.retentionSeconds > 0) {
      val tipTs = latestTimestamp(spark, store)
      retentionSweep(spark, store, tipTs, cfg.retentionSeconds)
    }
    Summary(attempt, ingested, Backfill.maxIngestedHeight(spark, store))
  }

  private[graft] def latestTimestamp(spark: SparkSession,
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
