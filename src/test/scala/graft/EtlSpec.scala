package graft


import graft.chain.{ChainFixture, ChainOps}
import graft.etl.{Backfill, ChainSource, FixtureSource, Tail}
import graft.store.GraftStore
import org.apache.spark.{GraftTestBus, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ETL end-to-end (SURVEY §5.2 item 5): backfill + streaming tail with an
  * injected reorg over the manifest-committed store; final tables must
  * equal the fixture-derived goldens and survive crash/replay semantics. */
class EtlSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  lazy val fx: ChainFixture.Fixture = ChainFixture.build(200)

  private def newStore(): GraftStore =
    new GraftStore(
      tempDir("graft-store"), bucketSize = 50L)

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  test("staged-but-uncommitted writes are invisible (atomicity)") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 99)
    val before = store.read(spark, "blocks").count()
    // stage without commit — a crash between stage and commit
    store.stage("blocks", fx.blocksDF(spark).filter(col("number") >= 100))
    assert(store.read(spark, "blocks").count() == before)
    // all three tables move together in one commit
    val snap = store.currentLeaves().map(_.table).distinct.sorted
    assert(snap == Seq("blocks", "token_transfers", "transactions"))
  }

  test("backfill ingests, resumes from coalesced max, and is complete") {
    val store = newStore()
    val src = new FixtureSource(fx)
    assert(Backfill.maxIngestedHeight(spark, store) == -1L)
    Backfill.run(spark, src, store, 0, 149)
    assert(Backfill.maxIngestedHeight(spark, store) == 149L)
    Backfill.run(spark, src, store, 150, 199)
    assert(store.read(spark, "blocks").count() == 200)
    assert(store.read(spark, "transactions").count() == 600)
    val transfers = store.read(spark, "token_transfers")
    assert(transfers.count() == fx.goldenTransfers.size)
    assert(ChainOps.continuityGaps(store.read(spark, "blocks")).count() == 0)
  }

  test("bucket-level manifest pruning reads only matching leaves") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 199)
    val leaves = store.currentLeaves().filter(_.table == "blocks")
    assert(leaves.map(_.bucket).distinct.size == 4) // 200 / 50
    val pruned = store.read(spark, "blocks", _ == 2L)
    assert(pruned.agg(min("number"), max("number")).head().toSeq ==
      Seq(100L, 149L))
  }

  test("token_transfers leaves are address-partitioned for pruning") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 199)
    val df = store.read(spark, "token_transfers")
    assert(df.columns.contains("address"))
    assert(df.filter(col("address") === ChainFixture.Watched).count() ==
      fx.goldenTransfers.size)
  }

  /** Row groups of all parquet files under `dir` whose (address,
    * block_number) footer stats overlap the box — what a scan's
    * row-group pruning admits (same proof shape as ZOrderSpec, on the
    * store's own leaves). */
  private def transferCandidates(dir: String, addr: String,
      hLo: Long, hHi: Long): (Int, Int) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    var hit = 0
    var total = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try reader.getFooter.getBlocks.asScala.foreach { bg =>
        total += 1
        val stats = bg.getColumns.asScala
          .map(c => c.getPath.toDotString -> c.getStatistics).toMap
        val as = stats("address")
        val aMin = new String(
          as.genericGetMin.asInstanceOf[Binary].getBytes, "UTF-8")
        val aMax = new String(
          as.genericGetMax.asInstanceOf[Binary].getBytes, "UTF-8")
        val hs = stats("block_number")
        val hMin = hs.genericGetMin.asInstanceOf[Number].longValue
        val hMax = hs.genericGetMax.asInstanceOf[Number].longValue
        if (aMin <= addr && addr <= aMax && hMax >= hLo && hMin <= hHi)
          hit += 1
      } finally reader.close()
    }
    (hit, total)
  }

  test("z-order transfer layout prunes address-height boxes " +
      "without per-address dirs") {
    import spark.implicits._
    // full-chain regime: many token addresses (per-address dirs would
    // mean one dir each), all active across the whole height range
    val nAddr = 200
    val addrs = (0 until nAddr)
      .map(i => f"${(i * 40503) % 65536}%04x" + "e" * 40)
    val rows = for (h <- 0L until 4096L; k <- 0 until 25) yield
      (h, "f" * 44, "e" * 44, "01", f"$h%044x",
        addrs(((h + k * 163L) % nAddr).toInt), k.toLong, 1)
    val df = rows.toDF("block_number", "from_addr", "to_addr", "value",
      "tx_hash", "address", "transfer_index", "status").repartition(1)
    val store = new GraftStore(
      tempDir("graft-zstore"),
      zOrderTransfers = true)
    // small row groups so pruning granularity is visible at test size
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    val zLeaves = store.stage("token_transfers", df, opts)
    // height-sorted baseline: SAME writer, same options, staged as a
    // non-z table — the sort key is the only difference
    val hLeaves = store.stage("transactions", df, opts)
    store.commit(zLeaves ++ hLeaves)

    // one plain leaf per bucket, no per-address sub-dirs
    assert(zLeaves.size == 1 && zLeaves.head.bucket == 0L)
    val zDir = s"${store.root}/${zLeaves.head.dir}"
    assert(!new java.io.File(zDir).listFiles().exists(
      _.getName.startsWith("__addr=")))

    // the view-query box: one token, one height range
    val probe = addrs(57)
    val (zHit, zTotal) = transferCandidates(zDir, probe, 1024L, 1535L)
    val (hHit, hTotal) = transferCandidates(
      s"${store.root}/${hLeaves.head.dir}", probe, 1024L, 1535L)
    assert(zTotal >= 8 && hTotal >= 8,
      s"want many row groups: z $zTotal, h $hTotal")
    val zFrac = zHit.toDouble / zTotal
    val hFrac = hHit.toDouble / hTotal
    assert(zFrac < hFrac,
      s"z layout should prune harder: z $zHit/$zTotal vs height-sort " +
        s"$hHit/$hTotal")

    // and the layout change is invisible to readers: full round-trip
    val back = store.read(spark, "token_transfers")
    assert(back.count() == rows.size)
    assert(back.filter(col("address") === probe).count() ==
      rows.count(_._6 == probe))
  }

  test("streaming tail appends new heads and skips duplicates") {
    val store = newStore()
    val src = new FixtureSource(fx)
    Backfill.run(spark, src, store, 0, 189)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Tail.Head]
    val query = Tail.attach(spark, store, src, stream.toDF())
      .option("checkpointLocation",
        tempDir("graft-ckpt"))
      .start()
    val heads = (190 to 199).map(n =>
      Tail.Head(n.toLong, fx.blocks(n).hash, fx.blocks(n).parent_hash))
    stream.addData(heads)
    stream.addData(heads.take(3)) // duplicate delivery must be a no-op
    query.processAllAvailable()
    query.stop()
    assert(store.read(spark, "blocks").count() == 200)
    assert(ChainOps.continuityGaps(store.read(spark, "blocks")).count() == 0)
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.size)
  }

  test("reorg mid-stream: fork replaces tail, tables converge (OP-STR-3)") {
    val store = newStore()
    val canonical = new FixtureSource(fx)
    Backfill.run(spark, canonical, store, 0, 155)
    // the chain reorgs: heights >= 150 are replaced by the fork branch
    val forked = new FixtureSource(fx, forkAt = Some(150), forkLen = 6)
    val fork = ChainFixture.forkBlocks(fx, 150, 6)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Tail.Head]
    val query = Tail.attach(spark, store, forked, stream.toDF())
      .option("checkpointLocation",
        tempDir("graft-ckpt"))
      .start()
    val snapshots = store.snapshots().size
    stream.addData(Tail.Head(156L, "next-after-fork", fork.last.hash))
    query.processAllAvailable()
    query.stop()
    // one reorg, one commit: the forked heights are replaced in the same
    // snapshot that adds the fork branch
    assert(store.snapshots().size == snapshots + 1)
    val blocks = store.read(spark, "blocks")
    // stored chain now = canonical < 150 ++ fork 150..155
    assert(blocks.count() == 156)
    val storedAt150 = blocks.filter(col("number") === 150).head()
    assert(storedAt150.getAs[String]("hash") == fork.head.hash)
    assert(ChainOps.continuityGaps(blocks).count() == 0)
    // fork txs are gone: transfers stop below 150
    val transfers = store.read(spark, "token_transfers")
    assert(transfers.filter(col("block_number") >= 150).count() == 0)
    assert(transfers.count() ==
      fx.goldenTransfers.count(_._1.block_number < 150))
    // blocks' own linkage across the splice survives
    val b150parent = storedAt150.getAs[String]("parent_hash")
    assert(b150parent ==
      blocks.filter(col("number") === 149).head().getAs[String]("hash"))
  }

  test("reorg below tip arriving after a gap is detected via the seam check") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 155)
    // chain reorged at 150 AND advanced to 158 before we saw any head:
    // the micro-batch collapses to head 158, leaving a gap 156..158
    val forked = new FixtureSource(fx, forkAt = Some(150), forkLen = 9)
    val fork = ChainFixture.forkBlocks(fx, 150, 9) // fork blocks 150..158
    val head158 = fork.last
    val snapshots = store.snapshots().size
    val action = Tail.processHead(spark, store, forked,
      Tail.Head(head158.number, head158.hash, head158.parent_hash))
    // without the seam check this would APPEND 156..158 on top of the
    // stale canonical 150..155 (continuity still passes — heights line up)
    assert(action == Tail.ReorgResolved(150L, 9L))
    assert(store.snapshots().size == snapshots + 1)
    val blocks = store.read(spark, "blocks")
    assert(blocks.count() == 159)
    assert(blocks.filter(col("number") === 150).head()
      .getAs[String]("hash") == fork.head.hash)
    assert(blocks.filter(col("number") === 155).head()
      .getAs[String]("hash") == fork(5).hash)
    assert(ChainOps.continuityGaps(blocks).count() == 0)
    // hash linkage holds across the splice and the formerly-gapped range
    val b = blocks.select("number", "hash", "parent_hash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    (1L to 158L).foreach(n => assert(b(n)._2 == b(n - 1)._1, s"link at $n"))
  }

  test("tip metadata tracks ingest and rollback atomically (O(1) cursor)") {
    val store = newStore()
    val src = new FixtureSource(fx)
    // an empty store answers -1 from the manifest alone, with no job
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(Backfill.maxIngestedHeight(spark, store) == -1L)
      GraftTestBus.drain(sc)
      assert(jobs.get == 0, s"${jobs.get} jobs for an empty store's cursor")
    } finally sc.removeSparkListener(listener)
    Backfill.run(spark, src, store, 0, 149)
    assert(store.currentMeta()(store.metaKey("tip")) == "149")
    assert(Backfill.maxIngestedHeight(spark, store) == 149L)
    // the chain reorgs at 100 onto a shorter branch: 100..105 replace
    // 100..149, and the cursor moves down with them in the same commit
    val fork = ChainFixture.forkBlocks(fx, 100, 6)
    assert(Backfill.run(spark, new FixtureSource(fx, Some(100L), 6), store,
      100, 105) == 6L)
    assert(store.currentMeta()(store.metaKey("tip")) == "105")
    assert(store.currentMeta()(store.metaKey("tiphash")) == fork.last.hash)
    assert(Backfill.maxIngestedHeight(spark, store) == 105L)
    // materialized-tip maturity == recompute-on-read maturity
    val blocks = store.read(spark, "blocks")
    val fromTip = ChainOps.withMaturityFromTip(blocks, 105L)
      .select("number", "matured").collect().map(r => (r.getLong(0),
        r.getInt(1))).toSet
    val recomputed = ChainOps.withMaturity(blocks)
      .select("number", "matured").collect().map(r => (r.getLong(0),
        r.getInt(1))).toSet
    assert(fromTip == recomputed)
    // a store whose snapshot lacks the key (pre-metadata layout) still
    // resumes from table contents
    val legacy = newStore()
    legacy.commit(legacy.stage("blocks",
      fx.blocksDF(spark).filter(col("number") <= 49)))
    assert(legacy.currentMeta().isEmpty)
    assert(Backfill.maxIngestedHeight(spark, legacy) == 49L)
  }

  test("compaction merges fragmented buckets, contents identical") {
    val store = newStore()
    val src = new FixtureSource(fx)
    // three tail-ish commits land three leaves in blocks bucket 0
    Backfill.run(spark, src, store, 0, 20)
    Backfill.run(spark, src, store, 21, 30)
    Backfill.run(spark, src, store, 31, 49)
    assert(store.leavesOf("blocks").count(_.bucket == 0L) == 3)
    def snapshot() = store.read(spark, "blocks")
      .select("number", "hash", "parent_hash", "timestamp").collect()
      .map(_.toSeq).toSet
    val before = snapshot()
    val retired = graft.etl.Export.compact(spark, store)
    assert(retired >= 3)
    assert(store.leavesOf("blocks").count(_.bucket == 0L) == 1)
    assert(snapshot() == before)
    // second run is a no-op: nothing fragmented remains
    assert(graft.etl.Export.compact(spark, store) == 0)
  }

  test("commit rejects drops computed from a stale snapshot") {
    val store = newStore()
    val src = new FixtureSource(fx)
    Backfill.run(spark, src, store, 0, 20)
    Backfill.run(spark, src, store, 21, 30)
    // a compactor's view of the leaves...
    val staleView = store.leavesOf("blocks")
    // ...goes stale when a concurrent reorg replaces one of them
    Backfill.run(spark, new FixtureSource(fx, Some(21L), 10), store, 21, 30)
    // committing drops from the stale view must fail loudly, not silently
    // resurrect the replaced rows via a rewrite that includes them
    intercept[graft.store.GraftStore.StaleSnapshotException] {
      store.commit(Nil, staleView)
    }
    // compact() itself retries from a fresh snapshot and stays correct:
    // replaced heights do not reappear
    graft.etl.Export.compact(spark, store)
    val hashes = store.read(spark, "blocks").select("number", "hash")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(hashes == fx.blocks.take(21).map(b => b.number -> b.hash) ++
      ChainFixture.forkBlocks(fx, 21, 10).map(b => b.number -> b.hash))
  }

  test("a backfill the source answers with no block cuts the store back " +
      "to the height below it, tip included, in one commit") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 149)
    // a node that answers null from height 100 on (a zero-length fork)
    val gone = new FixtureSource(fx, Some(100L), 0)
    val snapshots = store.snapshots().size
    assert(Backfill.run(spark, gone, store, 100, 149) == 0L)
    assert(store.snapshots().size == snapshots + 1)
    assert(store.currentMeta().get(store.metaKey("tip")).contains("99"))
    assert(!store.currentMeta().contains(store.metaKey("tiphash")))
    assert(Backfill.maxIngestedHeight(spark, store) == 99L)
    Seq("blocks" -> "number", "transactions" -> "block_number",
        "token_transfers" -> "block_number").foreach { case (t, h) =>
      assert(store.read(spark, t).agg(max(h)).head().getLong(0) <= 99L, t)
    }
    assert(store.read(spark, "blocks").count() == 100)
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.count(_._1.block_number < 100))
    // the next head reads the new tip's hash back and appends on it
    val b = fx.blocks(100)
    assert(Tail.processHead(spark, store, new FixtureSource(fx),
      Tail.Head(b.number, b.hash, b.parent_hash)) == Tail.Appended(100, 100))
    assert(ChainOps.continuityGaps(store.read(spark, "blocks")).count() == 0)
  }

  test("compaction snapshot ignores leaves committed after it was taken") {
    val store = newStore()
    val src = new FixtureSource(fx)
    Backfill.run(spark, src, store, 0, 10)
    Backfill.run(spark, src, store, 11, 20)
    // snapshot-once semantics: a leaf appended between compact's read and
    // its commit survives untouched (it is in neither adds nor drops).
    // Simulate by committing compact's plan manually around an append.
    val snapshot = store.currentLeaves()
    val victims = snapshot.filter(_.table == store.physName("blocks"))
    val rewritten = store.stage("blocks",
      store.readLeaves(spark, "blocks", victims))
    Backfill.run(spark, src, store, 21, 30) // concurrent tail commit
    store.commit(rewritten, victims) // all victims still live -> succeeds
    val nums = store.read(spark, "blocks").select("number")
      .collect().map(_.getLong(0)).toSet
    assert(nums == (0L to 30L).toSet) // appended rows survived the compact
  }

  test("retention sweep drops only expired buckets (OP-DEL-3)") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 199)
    // fixture timestamps advance 10s per block; retain last 500s
    val now = 1700000000L + 10L * 199
    val cutoffHeight = 199L - 50L + 1L
    val pred = store.leavesAtOrAbove(cutoffHeight)
    val dropLeaves = store.currentLeaves().filterNot(l => pred(l.bucket))
    store.commit(Nil, dropLeaves)
    val kept = store.read(spark, "blocks")
    assert(kept.agg(min("number")).head().getLong(0) >= 100L)
    assert(kept.agg(max("number")).head().getLong(0) == 199L)
  }

  test("a stage that fails rethrows its own exception, after every stage " +
      "has finished, and commits nothing") {
    import scala.jdk.CollectionConverters._
    val store = newStore()
    val fixture = new FixtureSource(fx)
    Backfill.run(spark, fixture, store, 0, 99)
    val boom = new IllegalStateException("receipt lookup failed")
    // the fixture, except that its receipts frame throws when it executes
    val failing = new ChainSource {
      override def tipHeight(s: SparkSession): Long = fixture.tipHeight(s)
      override def blocks(s: SparkSession, from: Long, to: Long): DataFrame =
        fixture.blocks(s, from, to)
      override def transactions(s: SparkSession, from: Long,
          to: Long): DataFrame = fixture.transactions(s, from, to)
      override def receipts(s: SparkSession, from: Long,
          to: Long): DataFrame = {
        val rdd = new RDD[Row](s.sparkContext, Nil) {
          override protected def getPartitions: Array[Partition] = throw boom
          override def compute(p: Partition, c: TaskContext): Iterator[Row] =
            Iterator.empty
        }
        s.createDataFrame(rdd, fixture.receipts(s, from, to).schema)
      }
    }
    val snapshots = store.snapshots()
    val meta = store.currentMeta()
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e.time)
    }
    sc.addSparkListener(listener)
    try {
      val thrown = intercept[Throwable](
        Backfill.run(spark, failing, store, 100, 149))
      val returnedAt = System.currentTimeMillis()
      assert(thrown eq boom, s"expected the stage's own exception: $thrown")
      // every stage thread has finished and none of its jobs still runs
      assert(!Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.isAlive && t.getName.startsWith("graft-backfill")))
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      GraftTestBus.drain(sc)
      assert(starts.asScala.nonEmpty &&
        starts.asScala.forall(_ <= returnedAt),
        "a job started after the failed backfill returned")
    } finally sc.removeSparkListener(listener)
    assert(store.snapshots() == snapshots, "the failed backfill committed")
    assert(store.currentMeta() == meta)
    assert(store.read(spark, "blocks").count() == 100)
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
