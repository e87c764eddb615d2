package graft

import java.nio.file.{Files, Paths}

import graft.store.{GraftStore, IndexStore}
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-store lifecycle beyond the single-writer happy path: commit
  * exclusion across INSTANCES (the multi-writer regime — streaming curate
  * plus an index append over one root), snapshot time travel, and vacuum
  * (physical reclamation of dropped/orphaned leaves — the manifest itself
  * never deletes files). */
class StoreSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"payload-$i")).toDF("k", "v")
  }

  private def commitKeyed(store: GraftStore, table: String,
      df: DataFrame): Unit =
    store.commit(store.stageKeyed(table, df, pmod(col("k"), lit(4L)),
      Seq(col("k"))))

  /** A store holding a backfilled 40-block fixture chain. */
  private def chainStore(name: String): GraftStore = {
    val store = new GraftStore(tempDir(name))
    graft.etl.Backfill.run(spark, new graft.etl.FixtureSource(
      graft.chain.ChainFixture.build(40)), store, 0, 39)
    store
  }

  /** Rewrite the current snapshot file without its `#schema` lines — the
    * manifest a store written before they existed carries. */
  private def stripSchemaLines(store: GraftStore): Unit = {
    import scala.jdk.CollectionConverters._
    val snap = Paths.get(store.root).resolve(store.currentSnapshot().get)
    Files.write(snap, Files.readAllLines(snap).asScala
      .filterNot(_.startsWith("#schema")).asJava)
  }

  private def inferred(store: GraftStore, table: String) =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(store.leavesOf(table).map(l => s"${store.root}/${l.dir}"): _*)

  test("manifest #schema lines: every chain table and a keyed index " +
      "table read with exactly the schema inference would return") {
    import spark.implicits._
    val store = chainStore("graft-store-schema")
    IndexStore.build(store, "span", (0L until 20L)
      .map(i => (i, (0 until 40).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text"))
    val snap = Paths.get(store.root).resolve(store.currentSnapshot().get)
    val lines = Files.readAllLines(snap).toArray.map(_.toString)
    (store.Tables :+ IndexStore.tableOf("span")).foreach { t =>
      assert(store.leavesOf(t).nonEmpty, s"no $t leaves")
      assert(lines.count(_.startsWith(s"#schema\t$t\t")) == 1,
        s"no #schema line for $t")
      assert(store.readLeaves(spark, t, store.leavesOf(t)).schema ==
        inferred(store, t).schema, s"$t schema differs from inference")
    }
  }

  test("a height-pruned read builds its frame without a Spark job and a " +
      "point lookup runs exactly one; a schema-less manifest infers") {
    val store = chainStore("graft-store-schema-jobs")
    val (df, built) =
      GraftTestBus.jobsOf(spark.sparkContext) {
        store.readHeightRange(spark, "blocks", 17L, 17L)
      }
    assert(built == 0, s"building the frame ran $built job(s)")
    val (rows, ran) =
      GraftTestBus.jobsOf(spark.sparkContext) {
        graft.chain.ChainOps.blockByNumber(df, 17L).collect()
      }
    assert(ran == 1, s"the lookup ran $ran job(s)")
    assert(rows.map(_.getAs[Long]("number")).toSeq == Seq(17L))
    // the same read over a legacy manifest pays the inference job
    stripSchemaLines(store)
    val (_, legacyBuilt) =
      GraftTestBus.jobsOf(spark.sparkContext) {
        store.readHeightRange(spark, "blocks", 17L, 17L)
      }
    assert(legacyBuilt >= 1, "a schema-less read ran no inference job")
  }

  test("a legacy manifest without #schema lines reads correctly and " +
      "regains them from leaf footers at its next commit") {
    val store = chainStore("graft-store-schema-legacy")
    def snapshotOf(t: String) = store.read(spark, t).collect()
      .map(_.toSeq).toSet
    val before = store.Tables.map(t => t -> snapshotOf(t)).toMap
    val schemas = store.Tables.map(t =>
      t -> store.read(spark, t).schema).toMap
    stripSchemaLines(store)
    val legacy = new GraftStore(store.root)
    store.Tables.foreach { t =>
      assert(legacy.read(spark, t).schema == schemas(t), s"$t schema")
      assert(legacy.read(spark, t).collect().map(_.toSeq).toSet ==
        before(t), s"$t rows")
    }
    def schemaLines() = Files.readAllLines(Paths.get(legacy.root)
      .resolve(legacy.currentSnapshot().get)).toArray.map(_.toString)
      .filter(_.startsWith("#schema")).toSeq
    // an append keeps leaves nothing recorded a schema for: the commit
    // takes each table's schema from one kept leaf's footer
    legacy.commit(legacy.stage("blocks",
      legacy.readHeightRange(spark, "blocks", 39L, 39L)
        .filter(col("number") === 39L)))
    assert(schemaLines().map(_.split("\t")(1)) == store.Tables.sorted)
    store.Tables.foreach { t =>
      val (df, built) =
        GraftTestBus.jobsOf(spark.sparkContext)(legacy.read(spark, t))
      assert(built == 0, s"$t: building the frame ran $built job(s)")
      assert(df.schema == schemas(t), s"$t schema")
      assert(df.schema == inferred(legacy, t).schema, s"$t inferred")
    }
    assert(legacy.read(spark, "blocks").count() == 41L)
  }

  test("a commit mixing schemas within a table fails loudly; a " +
      "nullability-only difference and a whole-table rewrite commit") {
    val root = tempDir("graft-store-schema-mixed")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L)) // (k bigint, v string)
    val bucket = pmod(col("k"), lit(4L))
    val widened = rows(3L).withColumn("w", lit(1))
    val staged = store.stageKeyed("t", widened, bucket, Seq(col("k")))
    val before = store.currentSnapshot()
    val err = intercept[IllegalArgumentException](store.commit(staged))
    assert(err.getMessage.contains("'t'"), err.getMessage)
    assert(store.currentSnapshot() == before, "the failed commit published")
    // two adds of one table disagreeing with each other fail the same way
    intercept[IllegalArgumentException](store.commit(staged ++
      store.stageKeyed("t", rows(4L), bucket, Seq(col("k"))),
      drops = store.leavesOf("t")))
    // k is non-nullable in `rows`; a nullable k is the same schema
    commitKeyed(store, "t", rows(5L).withColumn("k",
      when(col("k").isNotNull, col("k"))))
    // replacing every leaf of the table may change its schema
    store.commit(staged, drops = store.leavesOf("t"))
    val now = store.read(spark, "t")
    assert(now.columns.toSeq == Seq("k", "v", "w"))
    assert(now.select("k").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("appends whose columns come in another order commit and read " +
      "with the recorded order") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-store-schema-order"))
    commitKeyed(store, "t", rows(1L, 2L))
    commitKeyed(store, "t", rows(3L).select("v", "k"))
    val t = store.read(spark, "t")
    assert(t.columns.toSeq == Seq("k", "v"))
    assert(t.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // an index whose attribute columns an append lists in another order
    def vecs(ids: Range) = ids.map(i => (i.toLong,
      Seq(1f, i.toFloat, 0.5f), s"l${i % 2}", s"s${i % 3}"))
      .toDF("vec_id", "embedding", "label", "source")
    IndexStore.build(store, "vec", vecs(0 until 6))
    IndexStore.append(store, "vec", vecs(6 until 9)
      .select("vec_id", "embedding", "source", "label"))
    val idx = IndexStore.read(store, spark, "vec")
    assert(idx.count() == 9L)
    assert(idx.filter(col("vec_id") === 7L)
      .select("label", "source").as[(String, String)].collect().toSeq ==
      Seq(("l1", "s1")))
  }

  test("concurrent commits from separate instances all survive") {
    val root = tempDir("graft-store-conc")
    // each thread uses its OWN GraftStore instance — instance-level
    // synchronization alone would let publish()'s read-modify-write of
    // _current interleave and erase earlier commits
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        commitKeyed(new GraftStore(root), "t", rows(i.toLong)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val live = new GraftStore(root).read(spark, "t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(live == (0L until 8L), s"lost commits: $live")
  }

  test("vacuum looping against live commits loses nothing: every commit " +
      "survives and _current always resolves") {
    val root = tempDir("graft-store-race")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(-1L))
    // a retention daemon on the same root as a live writer: vacuum takes
    // the same file commit lock as commit (the round's ADVICE fix), so
    // no interleave may compute a reference set that misses a commit
    // publishing "between" — this hammers that window for real
    @volatile var stop = false
    @volatile var vacuumError: Option[Throwable] = None
    val vacuumer = new Thread(() =>
      try {
        while (!stop) new GraftStore(root).vacuum(
          keepSnapshots = 1, graceMs = 60000L)
      } catch { case t: Throwable => vacuumError = Some(t) })
    vacuumer.start()
    try (0L until 10L).foreach(i => commitKeyed(store, "t", rows(i)))
    finally { stop = true; vacuumer.join() }
    assert(vacuumError.isEmpty, s"vacuum crashed mid-race: $vacuumError")
    val reopened = new GraftStore(root)
    val live = reopened.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(live == (-1L +: (0L until 10L)), s"lost commits: $live")
    // the pointer target survived every sweep and is the newest snapshot
    val current = reopened.currentSnapshot().get
    assert(Files.exists(Paths.get(root, current)))
    assert(reopened.snapshots().last == current)
  }

  test("contending full-table rewrites: one wins, the loser fails stale " +
      "and converges on a fresh-snapshot retry") {
    val root = tempDir("graft-store-rewrite")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    // both writers plan a compaction from the SAME snapshot: each stages
    // a replacement and drops the leaves it read. Whichever commits
    // second must fail loudly (its drops are gone) — silently winning
    // would resurrect the first rewrite's dropped rows.
    val baseline = store.leavesOf("t")
    val stagedA = store.stageKeyed("t", rows(10L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    val stagedB = store.stageKeyed("t", rows(20L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    store.commit(stagedA, drops = baseline)
    intercept[GraftStore.StaleSnapshotException] {
      store.commit(stagedB, drops = baseline)
    }
    // the documented recovery: recompute drops from the CURRENT snapshot
    // and retry — B's rewrite then replaces A's cleanly
    store.commit(stagedB, drops = store.leavesOf("t"))
    val live = store.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(live == Set(20L), s"rewrite race left wrong state: $live")
  }

  test("time travel: a historic snapshot replays its exact version") {
    val root = tempDir("graft-store-tt")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val v1 = store.snapshots().last
    // v2 rewrites the table (drop everything, add the new rows) — the
    // compaction/rebuild shape
    store.commit(
      store.stageKeyed("t", rows(10L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t"))
    val now = store.read(spark, "t")
      .select("k").collect().map(_.getLong(0)).toSet
    val then_ = store.readAt(spark, "t", v1)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(now == Set(10L))
    assert(then_ == Set(1L, 2L))
  }

  test("manifest footer stats prune height reads below bucket " +
      "granularity; a stats-free legacy manifest falls back to keeping " +
      "every leaf") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-store-stats")
    val store = new GraftStore(root)
    def blocksDf(lo: Long, hi: Long) =
      (lo to hi).map(n => (n, s"payload-$n")).toDF("number", "payload")
    // three tail-shaped commits into the SAME height bucket (bucketSize
    // 10000) with disjoint ranges — the live-tip regime where every
    // commit adds one more leaf to bucket 0
    Seq((0L, 9L), (100L, 109L), (200L, 209L)).foreach { case (lo, hi) =>
      store.commit(store.stage("blocks", blocksDf(lo, hi)))
    }
    val all = store.leavesOf("blocks")
    assert(all.size == 3 && all.forall(_.bucket == 0L))
    // every leaf carries footer stats in the manifest
    val stats = store.currentStats()
    assert(all.forall(l => stats.contains(l.dir)),
      s"stats missing for ${all.filterNot(l => stats.contains(l.dir))}")
    assert(all.map(l => stats(l.dir).rows).sum == 30L)
    assert(stats.values.forall(s => s.minH.isDefined && s.maxH.isDefined))
    // a point lookup touches ONE leaf of the three in the bucket, and
    // lists fewer files than the unpruned read
    val hit = store.leavesForHeights(Seq("blocks"), 105L, 105L)
    assert(hit.size == 1, s"stats did not prune: $hit")
    assert(store.readHeightRange(spark, "blocks", 105L, 105L)
      .filter(col("number") === 105L).count() == 1)
    assert(store.readHeightRange(spark, "blocks", 105L, 105L)
      .inputFiles.length < store.read(spark, "blocks").inputFiles.length)
    // a range spanning two leaves keeps exactly those
    assert(store.leavesForHeights(Seq("blocks"), 5L, 102L).size == 2)
    // stats ride through a commit that doesn't touch the table
    commitKeyed(store, "other", rows(1L))
    assert(store.leavesForHeights(Seq("blocks"), 105L, 105L).size == 1)
    // legacy manifest without #stats lines (a pre-stats store): nothing
    // is pruned away and reads stay correct
    val snap = Paths.get(root).resolve(store.currentSnapshot().get)
    Files.write(snap, Files.readAllLines(snap).asScala
      .filterNot(_.startsWith("#stats")).asJava)
    val legacy = new GraftStore(root)
    assert(legacy.currentStats().isEmpty)
    assert(legacy.leavesForHeights(Seq("blocks"), 105L, 105L).size == 3)
    assert(legacy.readHeightRange(spark, "blocks", 105L, 105L)
      .filter(col("number") === 105L).count() == 1)
  }

  test("incremental read between snapshots: appends surface whole, " +
      "rewrite survivors are subtracted bucket-locally, deletes are " +
      "manifest-only") {
    val root = tempDir("graft-store-cdc")
    val store = new GraftStore(root)
    val keys = (df: DataFrame) =>
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    // v1: eight rows across the four k%4 buckets
    commitKeyed(store, "t", rows(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val v1 = store.snapshots().last
    // v2: a plain append
    commitKeyed(store, "t", rows(10L, 11L))
    val v2 = store.snapshots().last
    // v3: bucket-0 rewrite — the reorg/compaction shape: drop the bucket's
    // leaves, re-stage survivors 0 and 4 alongside new row 20, delete 8's
    // worth of nothing (no other bucket is touched)
    store.commit(
      store.stageKeyed("t", rows(0L, 4L, 20L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t").filter(_.bucket == 0L))
    val v3 = store.snapshots().last
    // append increment: exactly the appended rows
    assert(keys(store.readNewRows(spark, "t", v1, v2, Seq("k")))
      == Seq(10L, 11L))
    // rewrite increment: survivors 0 and 4 were re-staged into a fresh
    // leaf dir (physically "added"), but only 20 is logically new
    val phys = store.leavesAddedBetween("t", v2, v3)
    assert(phys.map(_.bucket).toSet == Set(0L),
      s"rewrite touched unexpected buckets: $phys")
    assert(keys(store.readLeaves(spark, "t", phys)).toSet
      == Set(0L, 4L, 20L))
    assert(keys(store.readNewRows(spark, "t", v2, v3, Seq("k"))) == Seq(20L))
    // spanning increment composes: appends + the rewrite's one new row
    assert(keys(store.readNewRows(spark, "t", v1, v3, Seq("k")))
      == Seq(10L, 11L, 20L))
    // same-snapshot increment is empty but keeps the schema
    val none = store.readNewRows(spark, "t", v3, v3, Seq("k"))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
    // the manifest diff carries the removed side (reorg/retention
    // consumers): the rewrite dropped bucket 0's original leaf
    val (added, removed) = store.leavesDiff(v2, v3)
    assert(added.forall(_.table == "t") && removed.forall(_.table == "t"))
    assert(removed.map(_.bucket).toSet == Set(0L))
  }

  test("readNewRows pinned to two snapshots is stable while writers " +
      "append and rewrite concurrently") {
    val root = tempDir("graft-store-cdc-race")
    val store = new GraftStore(root)
    val keys = (df: DataFrame) =>
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    commitKeyed(store, "t", rows(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val v1 = store.snapshots().last
    commitKeyed(store, "t", rows(10L, 11L))
    val v2 = store.snapshots().last
    // an incremental consumer's increment is pinned to two committed
    // versions; live writers churning the CURRENT snapshot (appends and
    // full-bucket compaction rewrites that re-stage the pinned leaves'
    // rows into fresh dirs) must never change what the pinned increment
    // returns — snapshot manifests are immutable and vacuum isn't running
    @volatile var stop = false
    @volatile var appended = 0
    @volatile var writerError: Option[Throwable] = None
    val appender = new Thread(() => {
      try {
        val w = new GraftStore(root)
        var i = 0
        while (!stop) {
          commitKeyed(w, "t", rows(100L + i))
          appended += 1
          i += 1
        }
      } catch { case t: Throwable => writerError = Some(t) }
    })
    val rewriter = new Thread(() => {
      try {
        val w = new GraftStore(root)
        while (!stop) {
          try {
            val drops = w.leavesOf("t").filter(_.bucket == 0L)
            if (drops.nonEmpty) {
              val survivors = w.readLeaves(spark, "t", drops)
              w.commit(
                w.stageKeyed("t", survivors, pmod(col("k"), lit(4L)),
                  Seq(col("k"))),
                drops)
            }
          } catch { // racing the appender: recompute and go again
            case _: GraftStore.StaleSnapshotException => ()
          }
        }
      } catch { case t: Throwable => writerError = Some(t) }
    })
    appender.start(); rewriter.start()
    try {
      (1 to 8).foreach { i =>
        assert(keys(store.readNewRows(spark, "t", v1, v2, Seq("k")))
          == Seq(10L, 11L), s"pinned increment drifted on iteration $i")
      }
    } finally { stop = true; appender.join(); rewriter.join() }
    assert(writerError.isEmpty, s"writer crashed mid-race: $writerError")
    // nothing the writers did was lost either: base + append rows all live
    val live = keys(new GraftStore(root).read(spark, "t"))
    val expected =
      ((0L to 7L) ++ Seq(10L, 11L) ++ (0 until appended).map(100L + _))
        .sorted
    assert(live == expected, s"lost writes: $live vs $expected")
  }

  test("height-pruned reads racing a rollback/re-ingest loop always see " +
      "one committed state, never a mix") {
    val root = tempDir("graft-store-rollback-race")
    val store = new GraftStore(root)
    val fx = graft.chain.ChainFixture.build(200)
    val canonical = new graft.etl.FixtureSource(fx)
    graft.etl.Backfill.run(spark, canonical, store, 0, 199)
    val hashes = (blocks: Seq[graft.chain.Block]) =>
      blocks.map(b => b.number -> b.hash)
        .filter { case (n, _) => n >= 120L && n <= 180L }
    val old = hashes(fx.blocks)
    val reorged = hashes(fx.blocks.take(150) ++
      graft.chain.ChainFixture.forkBlocks(fx, 150, 50))
    @volatile var stop = false
    @volatile var loopError: Option[Throwable] = None
    val roller = new Thread(() => {
      try {
        val w = new GraftStore(root)
        val forked = new graft.etl.FixtureSource(fx, Some(150L), 50)
        // each reorg (onto the fork, then back) replaces 150..199 in ONE
        // commit: no snapshot holds the chain cut back to 149
        (1 to 3).foreach { _ =>
          graft.etl.Backfill.run(spark, forked, w, 150, 199)
          graft.etl.Backfill.run(spark, canonical, w, 150, 199)
        }
      } catch { case t: Throwable => loopError = Some(t) }
      finally stop = true
    })
    roller.start()
    try {
      while (!stop) {
        // each read resolves ONE leaf list; with footer-stats pruning it
        // must return a committed state — the whole old or the whole
        // reorged 120..180 — never a shorter or mixed one
        val got = store.readHeightRange(spark, "blocks", 120L, 180L)
          .filter(col("number").between(120L, 180L))
          .select("number", "hash").collect()
          .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
        assert(got == old || got == reorged,
          s"mixed-snapshot read: ${got.size} rows [${got.headOption}" +
            s"..${got.lastOption}]")
      }
    } finally roller.join()
    assert(loopError.isEmpty, s"reorg loop crashed: $loopError")
    // the loop ends back on the canonical chain
    assert(store.readHeightRange(spark, "blocks", 0L, 199L)
      .select("number", "hash").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq ==
      fx.blocks.map(b => b.number -> b.hash))
  }

  test("snapshot sequence is monotonic across store re-instantiation " +
      "(restart/reboot survival)") {
    val root = tempDir("graft-store-seq")
    commitKeyed(new GraftStore(root), "t", rows(1L))
    commitKeyed(new GraftStore(root), "t", rows(2L)) // fresh instance =
    commitKeyed(new GraftStore(root), "t", rows(3L)) // fresh process state
    val store = new GraftStore(root)
    val seqs = store.snapshots().map(
      _.stripPrefix("snapshot-").takeWhile(_.isDigit).toLong)
    assert(seqs == seqs.sorted && seqs.distinct == seqs,
      s"non-monotonic snapshot sequence: $seqs")
    assert(store.currentSnapshot().contains(store.snapshots().last))
  }

  test("vacuum never reclaims the snapshot _current points to, even when " +
      "a higher-named stray snapshot exists") {
    val root = tempDir("graft-store-cur")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val current = store.currentSnapshot().get
    // simulate a crashed commit: a snapshot file with a HIGHER sequence
    // that _current never adopted — name order calls it "newest"
    val stray = "snapshot-00000000000000009999-deadbeef.txt"
    Files.write(Paths.get(root, stray),
      Files.readAllBytes(Paths.get(root, current)))
    assert(store.snapshots().last == stray) // adversarial name order...
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    // ...yet the live manifest survives and reads still work
    assert(Files.exists(Paths.get(root, current)),
      "_current's snapshot was vacuumed")
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("a commit whose staged leaves were vacuumed away fails loudly " +
      "instead of publishing dangling references") {
    val root = tempDir("graft-store-dangle")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L))
    // the unsafe interleave: stage, then a zero-grace vacuum sweeps the
    // orphan before the commit lands
    val staged = store.stageKeyed("t", rows(50L),
      pmod(col("k"), lit(4L)), Seq(col("k")))
    // age the staged leaves past any same-millisecond mtime/cutoff tie:
    // vacuum keeps dirs whose mtime >= cutoff, and a fast FS can land
    // the write and the vacuum in the same ms
    staged.foreach { l =>
      Files.setLastModifiedTime(Paths.get(root, l.dir),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
    }
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    val err = intercept[GraftStore.StaleSnapshotException] {
      store.commit(staged)
    }
    assert(err.getMessage.contains("grace"))
    // the manifest never adopted the dangling refs: reads still work
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("an overflow-digit stray neither poisons the sequence counter nor " +
      "survives vacuum") {
    val root = tempDir("graft-store-ovf")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L))
    // 23 digits: beyond Long — publish can never mint this. It must sort
    // FIRST (ancient garbage), not poison nextSeq into Long.MaxValue
    // saturation, and must be reclaimable by vacuum.
    val stray = "snapshot-99999999999999999999999-feedface.txt"
    Files.write(Paths.get(root, stray), "t\t0\tbogus".getBytes)
    assert(store.snapshots().head == stray)
    commitKeyed(store, "t", rows(2L)) // sequence continues normally
    val seqs = store.snapshots().filterNot(_ == stray).map(
      _.stripPrefix("snapshot-").takeWhile(_.isDigit).toLong)
    assert(seqs == seqs.sorted && seqs.last < Long.MaxValue && seqs.last < 100,
      s"sequence poisoned: $seqs")
    store.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(!Files.exists(Paths.get(root, stray)), "overflow stray retained")
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("legacy negative-nanos snapshot names neither crash listing nor " +
      "outrank real snapshots") {
    val root = tempDir("graft-store-neg")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(7L))
    Files.write(Paths.get(root, "snapshot--12345-cafe.txt"),
      "t\t0\tbogus".getBytes)
    assert(store.snapshots().head == "snapshot--12345-cafe.txt")
    assert(store.currentSnapshot().contains(store.snapshots().last))
    commitKeyed(store, "t", rows(8L)) // nextSeq must not choke either
    assert(store.read(spark, "t").select("k")
      .collect().map(_.getLong(0)).toSet == Set(7L, 8L))
  }

  test("vacuum reclaims dropped leaves and old snapshots; current reads " +
      "survive; grace shields young orphans") {
    val root = tempDir("graft-store-vac")
    val store = new GraftStore(root)
    commitKeyed(store, "t", rows(1L, 2L))
    val v1 = store.snapshots().last
    store.commit(
      store.stageKeyed("t", rows(10L), pmod(col("k"), lit(4L)),
        Seq(col("k"))),
      drops = store.leavesOf("t"))
    // stage WITHOUT committing: an in-flight writer's orphan
    val orphan = store.stageKeyed("t", rows(99L), pmod(col("k"), lit(4L)),
      Seq(col("k")))
    assert(orphan.nonEmpty)
    // a generous grace keeps both the orphan and the dropped v1 leaves
    // (all younger than the window)
    assert(store.vacuum(keepSnapshots = 2, graceMs = 3600000L) == 0L)
    // zero grace, keep only current: v1's leaves and the orphan go
    val deleted = store.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(deleted >= orphan.size)
    assert(store.snapshots() == Seq(store.snapshots().last))
    intercept[IllegalArgumentException](store.readAt(spark, "t", v1))
    val live = store.read(spark, "t")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(live.toSeq == Seq((10L, "payload-10")))
    // every surviving leaf dir on disk is referenced by the one snapshot
    val referenced = store.currentLeaves().map(_.dir).toSet
    val onDisk = Files.walk(Paths.get(root)).iterator()
    while (onDisk.hasNext) {
      val p = onDisk.next()
      val rel = Paths.get(root).relativize(p).toString
      if (rel.contains("__bucket=") && Files.isDirectory(p))
        assert(referenced.contains(rel), s"unreferenced survivor: $rel")
    }
  }
}
