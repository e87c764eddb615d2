package graft

import graft.store.{GraftStore, IndexStore}
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-index lifecycle over the store manifest: build/append
  * commit index leaves atomically, search probes them AT REST — a fresh
  * [[GraftStore]] instance per step is the process-restart story (the
  * only state is the manifest on disk). The band and pq kinds are also
  * exercised end-to-end through the CLI in CliSpec; here the
  * span/sketch/ivf/pq/ivfpq/vec kinds, the probe prunes, lifecycle
  * races, drift telemetry, dimension guards, and the
  * replace-on-rebuild contract. */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def doc(id: Long, tag: String): (Long, String) =
    (id, (0 until 60).map(j => s"$tag${id}w$j").mkString(" "))

  /** `body`'s result and the number of Spark jobs it ran. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftTestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** (vec_id, embedding) rows around 8 seeded cluster centers. */
  private def clustered(seed: Int, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = (0 until 8).map(_ => Array.fill(16)(rnd.nextGaussian()))
    ids.map(i => (i, centers((i % 8).toInt)
      .map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq))
      .toDF("vec_id", "embedding")
  }

  /** Probes near the first `n` rows of `rows`: nudged copies under
    * fresh ids, so each one's rank-1 neighbor is its source row. */
  private def nearProbes(rows: DataFrame, n: Int): DataFrame =
    rows.orderBy("vec_id").limit(n).select(
      (col("vec_id") + 90000L).as("vec_id"),
      transform(col("embedding"), x => x * 1.001f).as("embedding"))

  private def annRows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("span index: at-rest probe finds a substring dup across restarts") {
    import spark.implicits._
    val root = tempDir("graft-idx-span")
    val corpus = (0L until 30L).map(doc(_, "s"))
    IndexStore.build(new GraftStore(root), "span",
      corpus.toDF("doc_id", "text"))
    // probe: a 200-char slice of doc 11 with a fresh tail — a substring
    // dup whole-doc fingerprints miss; only the probe doc is shingled,
    // the corpus text is never re-read (it isn't even passed in)
    val probe = Seq(
      (700L, corpus(11)._2.substring(40, 240) + " fresh tail here"),
      doc(701L, "z"))
    val hits = IndexStore.search(new GraftStore(root), spark, "span",
      probe.toDF("doc_id", "text"))
      .select("new_id", "existing_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((700L, 11L)))
    assert(!hits.exists(_._1 == 701L))
  }

  test("espan index: at-rest exact-span certification across restarts — " +
      "probe spans match the inline incremental operator, appends land, " +
      "compact collapses re-deliveries, plain search refuses loudly") {
    import spark.implicits._
    import graft.operators.DedupOps
    val root = tempDir("graft-idx-espan")
    val corpus = (0L until 30L).map(doc(_, "e"))
    val corpusDf = corpus.toDF("doc_id", "text")
    IndexStore.build(new GraftStore(root), "espan", corpusDf)
    // probe: a verbatim 20-token run of doc 11 with fresh framing + a
    // novel doc. Certification reads corpus text for candidate docs
    // only; history postings come from REST (fresh store instance)
    val run11 = corpus(11)._2.split(" ").slice(10, 30).mkString(" ")
    val probe = Seq(
      (700L, s"fresh head $run11 fresh tail here"),
      doc(701L, "z")).toDF("doc_id", "text")
    def spanSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("span_tokens"))).toSet
    val atRest = spanSet(IndexStore.searchExactSpans(
      new GraftStore(root), spark, probe, corpusDf))
    // tokens 2..21 of the probe are the copied run
    assert(atRest.contains((700L, 2, 21, 20)), s"got $atRest")
    assert(!atRest.exists(_._1 == 701L), s"novel doc certified: $atRest")
    // equals the inline incremental operator over the same postings
    val inline = spanSet(DedupOps.incrementalExactSpans(probe,
      DedupOps.buildExactSpanIndex(corpusDf), corpusDf))
    assert(atRest == inline, s"atRest=$atRest inline=$inline")
    // the broadcast escape hatch: a pathological probe (candidate set
    // past the driver's broadcast budget) degrades to a shuffled
    // semi-join with IDENTICAL results
    val shuffled = spanSet(DedupOps.incrementalExactSpans(probe,
      DedupOps.buildExactSpanIndex(corpusDf), corpusDf,
      broadcastCandidates = false))
    assert(shuffled == inline,
      s"broadcastCandidates=false diverged: $shuffled vs $inline")
    // append new docs; a probe slice of the APPENDED doc certifies
    val extra = Seq(doc(500L, "y")).toDF("doc_id", "text")
    IndexStore.append(new GraftStore(root), "espan", extra)
    val run500 = doc(500L, "y")._2.split(" ").slice(0, 15).mkString(" ")
    val hits2 = spanSet(IndexStore.searchExactSpans(new GraftStore(root),
      spark, Seq((800L, s"$run500 and some closing words")).toDF(
        "doc_id", "text"),
      corpusDf.unionAll(extra)))
    assert(hits2.contains((800L, 0, 14, 15)), s"got $hits2")
    // composition: the at-rest spans cut straight out of the probe
    // (ingest-time removal with history never re-shingled)
    val cut = DedupOps.cutSpans(probe,
      IndexStore.searchExactSpans(new GraftStore(root), spark, probe,
        corpusDf)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Int]("removed_tokens"))).toMap
    assert(cut(700L) == (("fresh head fresh tail here", 20)),
      s"cut probe: ${cut(700L)}")
    assert(cut(701L)._2 == 0, s"novel doc cut: ${cut(701L)}")
    // re-delivered append collapses under compact — sized first by the
    // dry run; the real compact then dropping the SAME count proves
    // the dry run deleted nothing (a mutating dry run would leave the
    // real pass with zero to drop)
    IndexStore.append(new GraftStore(root), "espan", extra)
    val wouldDrop = IndexStore.compact(
      new GraftStore(root), spark, "espan", dryRun = true).dropped
    assert(wouldDrop > 0L, "dry compact must see the re-delivery")
    val crE = IndexStore.compact(new GraftStore(root), spark, "espan")
    val (dropped, leaves) = (crE.dropped, crE.leaves)
    assert(dropped == wouldDrop && leaves > 0L,
      s"real ($dropped) must match the dry prediction ($wouldDrop)")
    // the generic search entry refuses with the pointer, never a
    // silent wrong answer
    val err = intercept[RuntimeException] {
      IndexStore.search(new GraftStore(root), spark, "espan", probe)
    }
    assert(err.getMessage.contains("searchExactSpans"), err.getMessage)
  }

  test("band probe key-prune: search equals the unpruned probe, and the " +
      "probe-key In filter reaches the parquet scan") {
    import spark.implicits._
    val root = tempDir("graft-idx-prune")
    val corpus = (0L until 40L).map(doc(_, "p"))
    val store = new GraftStore(root)
    IndexStore.build(store, "band", corpus.toDF("doc_id", "text"))
    // near-dup probe of doc 7 (every 29th token swapped → ~2 of 60
    // tokens, est. Jaccard ≈ 0.65 — comfortably over the 0.4 gate and
    // the 8×2 band recall curve) + one novel doc
    val probe = Seq(
      (800L, corpus(7)._2.split(" ").zipWithIndex
        .map { case (t, i) => if (i % 29 == 0) "xq" else t }.mkString(" ")),
      doc(801L, "novel")).toDF("doc_id", "text")
    // 1. correctness of the superset key filter: the pruned at-rest
    //    search returns exactly what probing the FULL index returns
    //    (round-10 scale fix — without pruning, the probe join shuffled
    //    the whole index; the filter must change IO, never results)
    val pruned = IndexStore.search(store, spark, "band", probe)
      .select("new_id", "existing_id", "jaccard_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.operators.DedupOps.incrementalNearDup(probe,
      IndexStore.read(store, spark, "band"), 0.4)
      .select("new_id", "existing_id", "jaccard_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pruned == full, s"pruned=$pruned full=$full")
    assert(pruned.exists(h => h._1 == 800L && h._2 == 7L))
    // 2. the pushdown mechanics: the exact filter shape search applies
    //    reaches the scan as a pushed In predicate (row-group pruning on
    //    the band_key-sorted leaves depends on it)
    val someKeys = graft.operators.DedupOps.lshBands(
      graft.operators.DedupOps.minhashSignatures(probe))
      .select("band_key").distinct().collect().map(_.getLong(0)).toSeq
    val plan = IndexStore.read(store, spark, "band")
      .filter(col("band_key").isin(someKeys: _*))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PushedFilters: \\[.*In\\(band_key".r.findAllIn(plan).nonEmpty,
      plan)
  }

  test("bulk probe past MaxKeyPushdown: the fallback path equals the " +
      "unpruned probe") {
    import spark.implicits._
    // > 20 000 distinct probe band keys (1 300 docs × 16 bands) trips
    // prunedIndex's bounded-collect fallback — bucket pruning only, no
    // key filter. The result contract is identical to the pushdown
    // path and to probing the full index; only the plan differs.
    val root = tempDir("graft-idx-bulk")
    val corpus = (0L until 50L).map(doc(_, "b"))
    val store = new GraftStore(root)
    IndexStore.build(store, "band", corpus.toDF("doc_id", "text"))
    val bulk = ((0L until 1300L).map(i =>
      (5000L + i, (0 until 60).map(j => s"bulk${i}w$j").mkString(" "))) :+
      (800L, corpus(7)._2.split(" ").zipWithIndex
        .map { case (t, i) => if (i % 29 == 0) "xq" else t }.mkString(" ")))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "existing_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSearch = pairs(IndexStore.search(store, spark, "band", bulk))
    val viaFull = pairs(graft.operators.DedupOps.incrementalNearDup(bulk,
      IndexStore.read(store, spark, "band"), 0.4))
    assert(viaSearch == viaFull, s"search=$viaSearch full=$viaFull")
    assert(viaSearch.exists(h => h._1 == 800L && h._2 == 7L))
  }

  test("span probe key-prune: search equals the unpruned probe") {
    import spark.implicits._
    val root = tempDir("graft-idx-prune-span")
    val corpus = (0L until 40L).map(doc(_, "q"))
    val store = new GraftStore(root)
    IndexStore.build(store, "span", corpus.toDF("doc_id", "text"))
    val probe = Seq(
      (900L, corpus(13)._2.substring(40, 240) + " fresh tail here"),
      doc(901L, "novel")).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "existing_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = pairs(IndexStore.search(store, spark, "span", probe))
    val full = pairs(graft.operators.DedupOps.incrementalSharedSpans(probe,
      IndexStore.read(store, spark, "span")))
    assert(pruned == full, s"pruned=$pruned full=$full")
    assert(pruned.contains((900L, 13L)))
  }

  test("an index written under a different hash family is rejected loudly") {
    import spark.implicits._
    // Simulate a legacy (pre-round-9) index: band rows committed WITHOUT
    // the hash-format stamp. Probing it with the current engine would
    // silently match nothing (incompatible band keys) — the guard must
    // turn that into an error naming the rebuild.
    val root = tempDir("graft-idx-fmt")
    val legacy = new GraftStore(root)
    legacy.commit(IndexStore.stageRows(legacy, "band",
      graft.operators.DedupOps.buildBandIndex(
        (0L until 10L).map(doc(_, "f")).toDF("doc_id", "text"))))
    val probe = Seq(doc(3L, "f")).toDF("doc_id", "text")
    val e = intercept[RuntimeException] {
      IndexStore.search(new GraftStore(root), spark, "band", probe).collect()
    }
    assert(e.getMessage.contains("hash-format"), e.getMessage)
    // append into the unstamped index is rejected the same way
    val e2 = intercept[RuntimeException] {
      IndexStore.append(new GraftStore(root), "band",
        Seq(doc(90L, "f")).toDF("doc_id", "text"))
    }
    assert(e2.getMessage.contains("hash-format"), e2.getMessage)
    // a legacy SPAN index in the same store must stay rejected — the
    // stamp is per kind, so a band rebuild can't vouch for span rows it
    // never touched
    legacy.commit(IndexStore.stageRows(legacy, "span",
      graft.operators.DedupOps.buildSpanIndex(
        (0L until 10L).map(doc(_, "f")).toDF("doc_id", "text"))))
    // a rebuild stamps the format and everything works again
    IndexStore.build(new GraftStore(root), "band",
      (0L until 10L).map(doc(_, "f")).toDF("doc_id", "text"))
    val hits = IndexStore.search(new GraftStore(root), spark, "band", probe)
      .select("new_id", "existing_id").collect()
    assert(hits.nonEmpty)
    val e3 = intercept[RuntimeException] {
      IndexStore.search(new GraftStore(root), spark, "span", probe).collect()
    }
    assert(e3.getMessage.contains("hash-format"), e3.getMessage)
  }

  test("live concurrent appends from separate instances both land, and " +
      "the at-rest probe sees every batch") {
    import spark.implicits._
    val root = tempDir("graft-idx-conc")
    val corpus = (0L until 20L).map(doc(_, "s"))
    IndexStore.build(new GraftStore(root), "span",
      corpus.toDF("doc_id", "text"))
    // real threads, own store instance each — the multi-ingest regime
    // (two streaming curate executors appending to one shared index).
    // Appends are adds-only commits, so neither may fail stale NOR
    // erase the other's leaves at the _current read-modify-write.
    val batches = Seq(
      (100L until 120L).map(doc(_, "a")),
      (200L until 220L).map(doc(_, "b")))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = batches.map { b =>
      new Thread(() =>
        try IndexStore.append(new GraftStore(root), "span",
          b.toDF("doc_id", "text"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"append crashed mid-race: ${errs.peek()}")
    // probes that duplicate one doc from EACH batch (and the original
    // build) all hit — nothing was silently erased
    val probe = Seq(
      (900L, corpus(5)._2.substring(0, 200) + " tail"),
      (901L, batches(0)(3)._2.substring(0, 200) + " tail"),
      (902L, batches(1)(7)._2.substring(0, 200) + " tail"))
    val hits = IndexStore.search(new GraftStore(root), spark, "span",
      probe.toDF("doc_id", "text"))
      .select("new_id", "existing_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((900L, 5L)), s"build batch lost: $hits")
    assert(hits.contains((901L, 103L)), s"append A lost: $hits")
    assert(hits.contains((902L, 207L)), s"append B lost: $hits")
  }

  test("sketch index: at-rest ANN probe ranks the near-identical vector " +
      "first") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    val root = tempDir("graft-idx-sketch")
    val base = (0L until 200L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    IndexStore.build(new GraftStore(root), "sketch",
      base.toDF("vec_id", "embedding"))
    // query 9000: vector 42 nudged — its exact neighbor must rank 1
    val q = Seq((9000L, base(42)._2.map(_ * 1.001f)))
    val top = IndexStore.search(new GraftStore(root), spark, "sketch",
      q.toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[Long]("query_id") == 9000L)
    assert(top.head.getAs[Long]("neighbor_id") == 42L)
  }

  test("ivf index: cells are manifest-pruned leaves; append lands new " +
      "vectors in existing cells; probe finds the neighbor") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    // clustered corpus — the regime where IVF is the right index
    val centers = (0 until 8).map(_ =>
      Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val base = (0L until 400L).map(i => (i, point((i % 8).toInt)))
    val root = tempDir("graft-idx-ivf")
    IndexStore.build(new GraftStore(root), "ivf",
      base.toDF("vec_id", "embedding"))
    // one leaf per populated cell + the centroid model table, all in
    // one committed snapshot — the layout manifest pruning needs
    val s = new GraftStore(root)
    val cellLeaves = s.leavesOf("ivf_cells")
    assert(cellLeaves.size > 1, "want per-cell leaves")
    assert(cellLeaves.map(_.bucket).distinct.size == cellLeaves.size)
    assert(s.leavesOf("ivf_centroids").size == 1)
    // append: model fixed, new vectors land in their nearest cells
    val extra = (5000L until 5040L).map(i => (i, point((i % 8).toInt)))
    IndexStore.append(new GraftStore(root), "ivf",
      extra.toDF("vec_id", "embedding"))
    // probe a nudged copy of an APPENDED vector: found at rank 1, via a
    // search that only reads the probed cells' leaves
    val q = Seq((9000L, extra.head._2.map(_ * 1.001f)))
    val top = IndexStore.search(new GraftStore(root), spark, "ivf",
      q.toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[Long]("neighbor_id") == 5000L)
  }

  test("pq index: at-rest probe finds the neighbor; append encodes new " +
      "vectors under the FIXED committed codebook") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    val centers = (0 until 8).map(_ =>
      Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val base = (0L until 400L).map(i => (i, point((i % 8).toInt)))
    val root = tempDir("graft-idx-pq")
    IndexStore.build(new GraftStore(root), "pq",
      base.toDF("vec_id", "embedding"))
    // codes + codebook committed in ONE snapshot; the codebook is the
    // model table (M*ks rows, one leaf)
    val s = new GraftStore(root)
    assert(s.leavesOf("pq_codes").nonEmpty)
    assert(s.leavesOf("pq_codebook").size == 1)
    val cbBefore = IndexStore.read(s, spark, "pq-codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(cbBefore.size ==
      graft.operators.SimilarityOps.PqSubs *
        graft.operators.SimilarityOps.PqCodes)
    // append: the codebook must NOT move (codes are meaningless under a
    // retrained model); new vectors are encoded under the existing one
    val extra = (5000L until 5040L).map(i => (i, point((i % 8).toInt)))
    IndexStore.append(new GraftStore(root), "pq",
      extra.toDF("vec_id", "embedding"))
    val s2 = new GraftStore(root)
    val cbAfter = IndexStore.read(s2, spark, "pq-codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(cbAfter == cbBefore, "append retrained the codebook")
    // probe a nudged copy of an APPENDED vector — rank-1 neighbor
    val q = Seq((9000L, extra.head._2.map(_ * 1.001f)))
    val top = IndexStore.search(new GraftStore(root), spark, "pq",
      q.toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[Long]("neighbor_id") == 5000L)
    // at-rest probe over base-corpus queries equals the inline pipeline
    // (index rows at rest, queries sliced/tabled against the at-rest
    // codebook)
    val baseDf = base.toDF("vec_id", "embedding")
    val units = graft.operators.SimilarityOps.unitVectors(baseDf)
      .localCheckpoint()
    val (subs, cb) = graft.operators.SimilarityOps.buildPqCodebooks(units)
    val inline = graft.operators.SimilarityOps.pqSearch(
      graft.operators.SimilarityOps.pqEncode(subs, cb), units,
      graft.operators.SimilarityOps.pqDistanceTables(
        subs.filter(col("vec_id") <
          graft.operators.SimilarityOps.NumQueries), cb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // rebuild from base only so the at-rest index matches the inline
    // corpus exactly
    IndexStore.build(new GraftStore(root), "pq", baseDf)
    val atRest = IndexStore.search(new GraftStore(root), spark, "pq",
      baseDf.filter(col("vec_id") <
        graft.operators.SimilarityOps.NumQueries))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(atRest == inline)
    assert(atRest.nonEmpty)
  }

  test("ivfpq index: cell-pruned at-rest probe finds appended " +
      "neighbors; models stay fixed across appends") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    val centers = (0 until 8).map(_ =>
      Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val base = (0L until 400L).map(i => (i, point((i % 8).toInt)))
    val root = tempDir("graft-idx-ivfpq")
    IndexStore.build(new GraftStore(root), "ivfpq",
      base.toDF("vec_id", "embedding"))
    val s = new GraftStore(root)
    // codes leaf-bucketed BY CELL; both model tables in the snapshot
    val codeLeaves = s.leavesOf("ivfpq_codes")
    assert(codeLeaves.size > 1)
    assert(codeLeaves.map(_.bucket).distinct.size == codeLeaves.size)
    assert(s.leavesOf("ivfpq_centroids").size == 1)
    assert(s.leavesOf("ivfpq_codebook").size == 1)
    def models(st: GraftStore) = (
      IndexStore.read(st, spark, "ivfpq-centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap,
      IndexStore.read(st, spark, "ivfpq-codebook").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap)
    val before = models(s)
    // append under FIXED models: new vectors land as cell+codes
    val extra = (5000L until 5040L).map(i => (i, point((i % 8).toInt)))
    IndexStore.append(new GraftStore(root), "ivfpq",
      extra.toDF("vec_id", "embedding"))
    val s2 = new GraftStore(root)
    assert(models(s2) == before, "append retrained a model table")
    // probe a nudged copy of an APPENDED vector — rank-1 neighbor,
    // found through the cell-pruned codes scan + rescore
    val q = Seq((9000L, extra.head._2.map(_ * 1.001f)))
    val top = IndexStore.search(new GraftStore(root), spark, "ivfpq",
      q.toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[Long]("neighbor_id") == 5000L)
  }

  test("bucket predicates prune index reads to fewer files; an " +
      "all-miss probe keeps the schema") {
    import spark.implicits._
    val root = tempDir("graft-idx-prune")
    val store = new GraftStore(root)
    IndexStore.build(store, "span",
      (0L until 30L).map(doc(_, "p")).toDF("doc_id", "text"))
    val full = IndexStore.read(store, spark, "span")
    val liveBuckets = store.leavesOf("span_index").map(_.bucket).toSet
    assert(liveBuckets.size > 4, s"want many buckets: $liveBuckets")
    val one = IndexStore.read(store, spark, "span",
      Set(liveBuckets.head).contains)
    assert(one.inputFiles.length < full.inputFiles.length)
    assert(one.count() > 0 && one.count() < full.count())
    // a probe that misses every live bucket: empty result, full schema
    val none = IndexStore.read(store, spark, "span", _ => false)
    assert(none.count() == 0)
    assert(none.columns.toSeq == full.columns.toSeq)
  }

  test("band compact (round-17 truncation policy): re-delivered rows " +
      "collapse and leaf debris merges, but EVERY doc keeps at-rest " +
      "rows — identical-fingerprint boilerplate past the cap is the " +
      "keep-per-band liveness case the old whole-group drop erased, " +
      "and boilerplate probes now FIND their honest matches") {
    import spark.implicits._
    val root = tempDir("graft-idx-compact")
    // boilerplate: byte-identical text under distinct doc_ids — 90
    // boiler docs land in the same 8 band buckets, far past
    // MaxBucketSize (64). Distinct docs ride along in each batch.
    val boiler = (0 until 60).map(j => s"boilerw$j").mkString(" ")
    def batch(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) boiler else doc(i.toLong, "d")._2))
    val s1 = new GraftStore(root)
    IndexStore.build(s1, "band", batch(0 until 60).toDF("doc_id", "text"))
    IndexStore.append(s1, "band", batch(60 until 120).toDF("doc_id", "text"))
    IndexStore.append(s1, "band", batch(120 until 180).toDF("doc_id", "text"))
    // an at-least-once upstream re-delivers the first batch verbatim
    IndexStore.append(s1, "band", batch(0 until 60).toDF("doc_id", "text"))
    val leavesBefore = s1.leavesOf("band_index").size
    val before = IndexStore.read(s1, spark, "band")
    val rowsBefore = before.count()
    val liveRows = before.dropDuplicates("doc_id", "band").count()
    assert(rowsBefore > liveRows, "fixture: re-delivery must duplicate rows")

    val crB = IndexStore.compact(new GraftStore(root), spark, "band")
    val (dropped, leavesAfter) = (crB.dropped, crB.leaves)
    // exactly the re-delivered duplicates drop; truncation keeps the
    // boiler flood (equal fingerprints rank identically in all their
    // buckets — each keeps one row per band, the honest-match shape a
    // probe wants; liveness beats the cap, TruncateBucketsSpec's pin)
    assert(dropped == rowsBefore - liveRows,
      s"dropped $dropped, want ${rowsBefore - liveRows}")
    assert(leavesAfter < leavesBefore,
      s"leaf debris not merged: $leavesBefore -> $leavesAfter")
    val s2 = new GraftStore(root)
    val after = IndexStore.read(s2, spark, "band")
    // the exactly-once replay contract compaction must never break:
    // every indexed doc keeps at least one at-rest band row (the old
    // whole-group drop erased ALL 90 boiler docs' rows here)
    assert(after.select("doc_id").distinct().count() == 180L,
      "compaction erased some doc's last at-rest band row")
    // a probe for a non-degenerate doc is unchanged: near-copy of doc 7
    val probe = Seq((900L, doc(7L, "d")._2.split(" ").take(52).mkString(" ")
      + " x0 x1 x2 x3 x4 x5 x6 x7")).toDF("doc_id", "text")
    val hits = IndexStore.search(s2, spark, "band", probe)
      .select("new_id", "existing_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((900L, 7L)), s"non-degenerate probe broken: $hits")
    // a boilerplate probe finds its honest at-rest matches — before
    // round 17 the whole bucket was capped away and this came back empty
    val boilerHits = IndexStore.search(s2, spark, "band",
      Seq((901L, boiler)).toDF("doc_id", "text"))
      .select("existing_id").distinct().count()
    assert(boilerHits > 0, "boilerplate probe must see its dup class")
  }

  test("afp compact keeps a minority chunk's ONLY row past the cap " +
      "(per-unit liveness) and the 2-chunk self-probe's coverage " +
      "verdict stays total — the r16 per-asset residual closed") {
    import spark.implicits._
    import graft.operators.AudioDedupOps
    val store = new GraftStore(tempDir("graft-idx-afp-unit"))
    // 70 single-chunk flood assets with IDENTICAL fingerprints, plus a
    // 2-chunk victim (id 9999 — ranked LAST in every hot bucket): its
    // chunk-1 fingerprint shares ALL FOUR 16-bit bands with the flood,
    // its chunk-0 fingerprint sits in private buckets. A per-ASSET
    // liveness key kept only the victim's global-best (chunk-0) rows,
    // erased chunk 1 entirely, and the majority-coverage self-match
    // (2 of 2 chunks) could never fire again.
    val hot = (0xAAAAL << 48) | (0xBBBBL << 32) | (0xCCCCL << 16) | 0xDDDDL
    val priv =
      (0x1111L << 48) | (0x2222L << 32) | (0x3333L << 16) | 0x4444L
    val fps = (0 until 70).map(i => (100L + i, 0, 1, hot)) ++
      Seq((9999L, 0, 2, priv), (9999L, 1, 2, hot))
    val rows = AudioDedupOps.afpBandRows(
      fps.toDF("asset_id", "chunk_idx", "n_chunks", "afp"))
    store.commit(IndexStore.stageRows(store, "afp", rows),
      meta = IndexStore.formatMeta("afp"))
    IndexStore.compact(store, spark, "afp")
    val atRest = IndexStore.read(store, spark, "afp")
    assert(atRest.filter(col("asset_id") === 9999L &&
      col("chunk_idx") === 1).count() > 0,
      "compact erased the minority chunk's last at-rest row")
    // replay self-match: both chunks find themselves at Hamming 0 —
    // coverage 2/2 on both sides, the verdict fires
    val self = IndexStore.afpSearchFromHashes(store, spark,
      fps.filter(_._1 == 9999L)
        .toDF("asset_id", "chunk_idx", "n_chunks", "afp"),
      AudioDedupOps.MaxHamming)
      .filter(col("new_id") === 9999L && col("existing_id") === 9999L)
    assert(!self.isEmpty,
      "2-chunk self-match must pass total coverage after compact")
  }

  test("perceptualDupes at rest EQUALS the batch pair operator under a " +
      "planted past-cap flood — truncation drops the very band rows " +
      "two dups collide on, and the report still finds the pair by " +
      "reconstructing all 4 bands from the surviving rows") {
    import spark.implicits._
    import graft.operators.{AudioDedupOps, DedupOps}
    val store = new GraftStore(tempDir("graft-idx-afp-recall"))
    // 100 distinct single-chunk fps sharing the band-0 slice (one hot
    // bucket of 102 rows), plus a planted 2-chunk dup pair (9000, 9001)
    // at d=0 whose chunk-0 fp ALSO sits in the hot bucket ranked last
    def fp(b0: Long, b1: Long, b2: Long, b3: Long): Long =
      (b0 << 48) | (b1 << 32) | (b2 << 16) | b3
    val flood = (0 until 100).map(i =>
      (100L + i, 0, 1, fp(0xAAAAL, 1000L + i, 2000L + i, 3000L + i)))
    val pair = Seq(
      (9000L, 0, 2, fp(0xAAAAL, 0x7777L, 0x8888L, 0x9999L)),
      (9000L, 1, 2, fp(0x1212L, 0x6666L, 0x5555L, 0x4444L)),
      (9001L, 0, 2, fp(0xAAAAL, 0x7777L, 0x8888L, 0x9999L)),
      (9001L, 1, 2, fp(0x1212L, 0x6666L, 0x5555L, 0x4444L)))
    val fps = (flood ++ pair)
      .toDF("asset_id", "chunk_idx", "n_chunks", "afp")
    store.commit(
      IndexStore.stageRows(store, "afp", AudioDedupOps.afpBandRows(fps)),
      meta = IndexStore.formatMeta("afp"))
    IndexStore.compact(store, spark, "afp") // at-rest truncation applies
    val atRestRows = IndexStore.read(store, spark, "afp")
    // fixture: truncation FIRED on the hot bucket, and it dropped the
    // planted pair's band-0 rows (their best rank is in a private
    // bucket, and they rank past the cap in the hot one)
    assert(atRestRows.count() < flood.size * 4L + 16L,
      "fixture must lose rows to truncation")
    assert(atRestRows.filter(col("asset_id").isin(9000L, 9001L) &&
      col("chunk_idx") === 0 && col("band") === 0).count() == 0,
      "fixture: the pair's hot-bucket band-0 rows must be truncated away")
    // every unit stays live (the per-unit guarantee)
    assert(atRestRows.select("asset_id", "chunk_idx").distinct().count()
      == flood.size + 4L, "a unit lost its last at-rest row")
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = key(AudioDedupOps.afpNearDupPairs(fps))
    val atRest = key(IndexStore.perceptualDupes(store, spark, "afp"))
    assert(batch.contains((9000L, 9001L)), s"fixture: batch must see $batch")
    assert(atRest == batch,
      s"at-rest pair set diverged: extra=${atRest -- batch} " +
        s"missing=${batch -- atRest}")
  }

  test("vecDupes: the at-rest vector dup report equals the batch " +
      "operator over an IMPORTED (un-gated) index, and applyDupes " +
      "deletes the non-witnesses from table and index — fixpoint") {
    import spark.implicits._
    import graft.operators.DedupOps
    val store = new GraftStore(tempDir("graft-idx-vec-dupes"))
    val dim = 12
    val rnd = new scala.util.Random(23)
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map(i =>
      (1000L + i, base(i)._2.map(_ * 1.001f)))
    val all = (base ++ dups).toDF("vec_id", "embedding")
      .localCheckpoint()
    store.commit(store.stageKeyed("vecs", all,
      pmod(xxhash64(col("vec_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("vec_id"))))
    IndexStore.build(store, "vec", all)
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val atRest = key(IndexStore.vecDupes(store, spark))
    val batch = key(DedupOps.embeddingNearDupPairs(all, 0.99))
    assert(batch == (0L until 5L).map(i => (i, 1000L + i)).toSet,
      s"fixture: $batch")
    assert(atRest == batch,
      s"extra=${atRest -- batch} missing=${batch -- atRest}")
    // dry-run first: the vec kind's exclusion plumbing — pass 2 reads
    // the index minus the 5 simulated losers and must DRAIN (a no-op
    // exclusion would re-report the same pairs and never converge);
    // nothing moves
    val dry = IndexStore.applyDupes(store, spark, "vec", "vecs",
      dryRun = true)
    assert(dry.losers == 5L && dry.pairs == 5L && dry.converged &&
      dry.passes == 2, s"$dry")
    assert(store.read(spark, "vecs").count() == 45L &&
      IndexStore.read(store, spark, "vec")
        .filter(col("vec_id") >= 1000L).count() > 0,
      "dry run must not delete anything")
    val res = IndexStore.applyDupes(store, spark, "vec", "vecs")
    assert(res.losers == 5L && res.pairs == 5L && res.converged,
      s"$res")
    assert(store.read(spark, "vecs").select("vec_id")
      .collect().map(_.getLong(0)).toSet == (0L until 40L).toSet)
    assert(IndexStore.read(store, spark, "vec")
      .filter(col("vec_id") >= 1000L).count() == 0,
      "loser index rows must be gone")
    assert(IndexStore.vecDupes(store, spark).isEmpty,
      "the re-run report must find nothing")
  }

  test("vecDupes and applyDupes honor the gate's scopes: a cross-scope " +
      "near-identical pair is NOT a dup and is never deleted") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-vec-scope"))
    val dim = 12
    val rnd = new scala.util.Random(29)
    val dir = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val other = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = Seq(
      (1L, dir, "en"),
      (2L, dir.map(_ * 1.001f), "fr"), // cross-scope twin of 1 — KEPT
      (3L, dir.map(_ * 1.002f), "en"), // same-scope dup of 1 — loser
      (4L, other, "en"))
      .toDF("vec_id", "embedding", "lang").localCheckpoint()
    store.commit(store.stageKeyed("vecs", rows,
      pmod(xxhash64(col("vec_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("vec_id"))))
    IndexStore.build(store, "vec", rows)
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // scope-blind: all three pairings of the shared direction
    assert(key(IndexStore.vecDupes(store, spark)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // scoped: only the same-scope pair
    assert(key(IndexStore.vecDupes(store, spark,
      scopeCols = Seq("lang"))) == Set((1L, 3L)))
    val res = IndexStore.applyDupes(store, spark, "vec",
      "vecs", scopeCols = Seq("lang"))
    assert(res.losers == 1L && res.pairs == 1L && res.converged,
      s"$res")
    assert(store.read(spark, "vecs").select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L),
      "the cross-scope twin must survive the apply")
  }

  test("vecDupes refuses DIVERGENT scope values per vec_id loudly: " +
      "an arbitrary pick could let a scoped apply delete a row the " +
      "gate's policy retained") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-vec-divergent"))
    val dim = 12
    val rnd = new scala.util.Random(31)
    // a corrupted import: vec_id 1 indexed twice under different langs
    val rows = Seq(
      (1L, Seq.fill(dim)(rnd.nextGaussian().toFloat), "en"),
      (1L, Seq.fill(dim)(rnd.nextGaussian().toFloat), "fr"),
      (2L, Seq.fill(dim)(rnd.nextGaussian().toFloat), "en"))
      .toDF("vec_id", "embedding", "lang")
    IndexStore.build(store, "vec", rows)
    val e = intercept[IllegalArgumentException] {
      IndexStore.vecDupes(store, spark, scopeCols = Seq("lang"))
    }
    assert(e.getMessage.contains("DIVERGENT") &&
      e.getMessage.contains("1"), e.getMessage)
    // the scope-less report over the same index stays available
    IndexStore.vecDupes(store, spark).count()
  }

  test("applyDupes loops until the capped report drains: a planted " +
      "66-doc flood hides most pairs behind the whole-group cap on " +
      "pass 1, and the loop still converges to one witness") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-band-flood-apply"))
    // 66 docs, ALL mutual dups (identical sh_hashes). mh slots 0-3 are
    // shared by every doc — the derived band-0/1 buckets hold 66 > cap
    // and the whole-group pair cap hides them on pass 1 — while slots
    // 4-15 are unique per doc EXCEPT three fully-identical-mh pairs
    // visible through bands 2-7. Deleting those three losers shrinks
    // the hot buckets to 63 <= cap, pass 2 sees the complete graph
    // (estimate 4/16 = 0.25 over the shared slots, exact Jaccard 1),
    // and pass 3 reports nothing.
    def mh(id: Long, twin: Long): Seq[Long] =
      Seq(7L, 7L, 7L, 7L) ++ (4 until 16).map(s => twin * 100L + s)
    val ids = 100L until 166L
    val rows = ids.map { id =>
      val twin = if (id <= 105L) (id - 100L) / 2L else id
      (id, 0, id, mh(id, twin), Seq(1L, 2L, 3L))
    }.toDF("doc_id", "band", "band_key", "mh_arr", "sh_hashes")
      .localCheckpoint()
    store.commit(IndexStore.stageRows(store, "band", rows),
      meta = IndexStore.formatMeta("band"))
    store.commit(store.stageKeyed("docs",
      ids.map(id => (id, "x")).toDF("doc_id", "text"),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    // pass-1 visibility really is capped: only the three identical-mh
    // pairs are reportable
    assert(IndexStore.bandDupes(store, spark).count() == 3L)
    val res = IndexStore.applyDupes(store, spark, "band", "docs")
    assert(res.losers == 65L && res.converged, s"$res")
    assert(store.read(spark, "docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L),
      "the loop must converge to the single witness")
    assert(IndexStore.bandDupes(store, spark).isEmpty)
  }

  test("applyDupes is LOUD about non-convergence: a maxPasses bound " +
      "that cuts the loop while still productive returns " +
      "converged=false with the partial totals and the pass-tagged " +
      "audit trail; a re-run finishes the job") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-band-nonconv"))
    // the drain test's planted flood: pass 1 can only see the three
    // identical-mh pairs behind the whole-group cap
    def mh(id: Long, twin: Long): Seq[Long] =
      Seq(7L, 7L, 7L, 7L) ++ (4 until 16).map(s => twin * 100L + s)
    val ids = 100L until 166L
    val rows = ids.map { id =>
      val twin = if (id <= 105L) (id - 100L) / 2L else id
      (id, 0, id, mh(id, twin), Seq(1L, 2L, 3L))
    }.toDF("doc_id", "band", "band_key", "mh_arr", "sh_hashes")
      .localCheckpoint()
    store.commit(IndexStore.stageRows(store, "band", rows),
      meta = IndexStore.formatMeta("band"))
    store.commit(store.stageKeyed("docs",
      ids.map(id => (id, "x")).toDF("doc_id", "text"),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    val partial = IndexStore.applyDupes(store, spark, "band", "docs",
      maxPasses = 1)
    // productive exit at the bound: NOT a drained fixpoint, and the
    // result says so — the partial totals are pass 1's three pairs
    assert(!partial.converged && partial.passes == 1, s"$partial")
    assert(partial.losers == 3L && partial.pairs == 3L, s"$partial")
    val audit = partial.pairList
      .select("id_a", "id_b", "pass").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(audit == Set((100L, 101L, 1), (102L, 103L, 1),
      (104L, 105L, 1)), s"audit=$audit")
    // the store is honestly partial: dup pairs remain at rest
    assert(IndexStore.bandDupes(store, spark).count() > 0,
      "non-converged exit must leave the revealed pairs visible")
    // the re-run is idempotent over pass 1's deletes and converges:
    // the shrunk buckets expose the complete 63-doc graph, then drain
    val rest = IndexStore.applyDupes(store, spark, "band", "docs")
    assert(rest.converged && rest.losers == 62L, s"$rest")
    assert(rest.pairList.count() == rest.pairs,
      "the audit trail must carry every reported pair")
    assert(store.read(spark, "docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L))
  }

  test("applyDupes dryRun simulates the FULL fixpoint loop — pass N " +
      "excludes the simulated losers, so cap-hidden pairs surface " +
      "exactly as under real deletes — with per-pass anatomy equal to " +
      "the real apply's, and commits NOTHING") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-band-dryrun"))
    // the drain test's planted 66-doc flood: pass 1 sees 3 pairs, the
    // deletes shrink the hot buckets under the cap, pass 2 sees the
    // complete 63-doc graph, pass 3 drains
    def mh(id: Long, twin: Long): Seq[Long] =
      Seq(7L, 7L, 7L, 7L) ++ (4 until 16).map(s => twin * 100L + s)
    val ids = 100L until 166L
    val rows = ids.map { id =>
      val twin = if (id <= 105L) (id - 100L) / 2L else id
      (id, 0, id, mh(id, twin), Seq(1L, 2L, 3L))
    }.toDF("doc_id", "band", "band_key", "mh_arr", "sh_hashes")
      .localCheckpoint()
    store.commit(IndexStore.stageRows(store, "band", rows),
      meta = IndexStore.formatMeta("band"))
    store.commit(store.stageKeyed("docs",
      ids.map(id => (id, "x")).toDF("doc_id", "text"),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    val bandBefore = store.leavesOf("band").toSet
    val docsBefore = store.leavesOf("docs").toSet
    val dry = IndexStore.applyDupes(store, spark, "band", "docs",
      dryRun = true)
    // the simulation drains the flood a lone report can't size: pass 1
    // reports the 3 cap-visible pairs, pass 2 the revealed complete
    // graph of the 63 survivors, pass 3 nothing
    assert(dry.converged && dry.passes == 3, s"$dry")
    assert(dry.losers == 65L, s"$dry")
    assert(dry.passStats == Seq(
      IndexStore.ApplyPassStat(1, 3L, 3L),
      IndexStore.ApplyPassStat(2, 63L * 62L / 2L, 62L),
      IndexStore.ApplyPassStat(3, 0L, 0L)), s"${dry.passStats}")
    // the audit trail carries every simulated pass's pairs
    val byPass = dry.pairList.groupBy("pass").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(byPass == Map(1 -> 3L, 2 -> 63L * 62L / 2L), s"$byPass")
    // NOTHING was committed: same leaves, same rows, same lone report
    assert(store.leavesOf("band").toSet == bandBefore &&
      store.leavesOf("docs").toSet == docsBefore,
      "dry run must not move the manifest")
    assert(store.read(spark, "docs").count() == 66L)
    assert(IndexStore.bandDupes(store, spark).count() == 3L,
      "the at-rest report must still see only the cap-visible pairs")
    // the prediction is exact: the real apply reproduces the anatomy
    val real = IndexStore.applyDupes(store, spark, "band", "docs")
    assert(real.converged && real.passes == dry.passes &&
      real.losers == dry.losers && real.pairs == dry.pairs, s"$real")
    assert(real.passStats == dry.passStats,
      s"real=${real.passStats} dry=${dry.passStats}")
    assert(store.read(spark, "docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L))
  }

  test("applyDupes on a PERCEPTUAL kind (phash): the dry run predicts " +
      "the real apply's per-pass anatomy exactly and mutates nothing " +
      "(its drain pass runs the exclusion branch: a no-op exclusion " +
      "would never converge); the apply keeps one witness per planted " +
      "transform component") {
    import spark.implicits._
    import graft.operators.ImageDedupOps
    val store = new GraftStore(tempDir("graft-idx-phash-apply"))
    // 32 base images; seeds 0-7 each add re-encode (+1000), brightness
    // (+2000), resize (+3000) near-dups — 8 four-member components,
    // witness = the seed, 3 losers each
    val assets = ImageDedupOps.imageAssets(ImageDedupOps.NumImages)
      .toDF().localCheckpoint()
    store.commit(store.stageKeyed("accepted_images", assets,
      pmod(xxhash64(col("asset_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("asset_id"))))
    IndexStore.build(store, "phash", assets)
    val dry = IndexStore.applyDupes(store, spark, "phash",
      "accepted_images", dryRun = true)
    assert(dry.converged &&
      dry.losers == 3L * ImageDedupOps.DupSeeds, s"$dry")
    assert(store.read(spark, "accepted_images").count()
      == assets.count(), "dry run must not delete assets")
    val real = IndexStore.applyDupes(store, spark, "phash",
      "accepted_images")
    assert(real.converged && real.passStats == dry.passStats,
      s"real=${real.passStats} dry=${dry.passStats}")
    val kept = store.read(spark, "accepted_images").select("asset_id")
      .collect().map(_.getLong(0)).toSet
    assert((0 until ImageDedupOps.DupSeeds).forall(i =>
      kept(i.toLong) && !kept(i + 1000L) && !kept(i + 2000L) &&
        !kept(i + 3000L)), s"kept=$kept")
    assert(IndexStore.perceptualDupes(store, spark, "phash").isEmpty,
      "the re-run report must find nothing")
  }

  test("applyDupes on the CHUNK-AWARE kind (afp): dry run == real " +
      "anatomy over short transform components AND long two-chunk " +
      "clips; every chunk row of a loser leaves the index") {
    import spark.implicits._
    import graft.operators.AudioDedupOps
    val store = new GraftStore(tempDir("graft-idx-afp-apply"))
    // 32 base clips; seeds 0-7 add re-encode/gain/decimation variants
    // (4-member components, 3 losers each); 2 LONG clips add re-encode
    // + gain (3-member components, 2 losers each) — the coverage
    // verdict must fire across BOTH chunks for those pairs
    val assets = AudioDedupOps.audioAssets(AudioDedupOps.NumClips)
      .toDF().localCheckpoint()
    store.commit(store.stageKeyed("accepted_audio", assets,
      pmod(xxhash64(col("asset_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("asset_id"))))
    IndexStore.build(store, "afp", assets)
    val wantLosers = 3L * AudioDedupOps.DupSeeds +
      2L * AudioDedupOps.LongSeeds
    val dry = IndexStore.applyDupes(store, spark, "afp",
      "accepted_audio", dryRun = true)
    assert(dry.converged && dry.losers == wantLosers, s"$dry")
    assert(store.read(spark, "accepted_audio").count()
      == assets.count(), "dry run must not delete clips")
    val real = IndexStore.applyDupes(store, spark, "afp",
      "accepted_audio")
    assert(real.converged && real.passStats == dry.passStats,
      s"real=${real.passStats} dry=${dry.passStats}")
    val kept = store.read(spark, "accepted_audio").select("asset_id")
      .collect().map(_.getLong(0)).toSet
    assert((0 until AudioDedupOps.DupSeeds).forall(i =>
      kept(i.toLong) && !kept(i + 1000L) && !kept(i + 2000L) &&
        !kept(i + 3000L)), s"kept=$kept")
    assert((0 until AudioDedupOps.LongSeeds).forall(j =>
      kept(j + 4000L) && !kept(j + 5000L) && !kept(j + 6000L)),
      s"long components mis-applied: kept=$kept")
    // chunk-awareness of the delete: NO chunk row of any loser
    // survives at rest (a per-chunk anti-join miss would leave a
    // ghost chunk that could certify a future probe)
    assert(IndexStore.read(store, spark, "afp")
      .filter(col("asset_id").isin(
        (0 until AudioDedupOps.LongSeeds)
          .flatMap(j => Seq(j + 5000L, j + 6000L)): _*)).count() == 0,
      "loser chunk rows must all be gone")
    assert(IndexStore.perceptualDupes(store, spark, "afp").isEmpty)
  }

  test("applyDupes on the FRAME-GRANULAR kind (vhash): dry run == " +
      "real anatomy; a loser's EVERY frame row leaves the data table " +
      "and the index (trimmed re-cuts ARE dups and are applied away)") {
    import spark.implicits._
    import graft.operators.VideoDedupOps
    val store = new GraftStore(tempDir("graft-idx-vhash-apply"))
    // 10 base videos x 6 frames; seeds 0-2 add re-encode (+1000),
    // TRIMMED 4-frame re-cut (+2000), resize (+3000) — 3 four-member
    // components, witness = the base video
    val frames = VideoDedupOps.videoFrames(VideoDedupOps.NumVideos)
      .map(f => (f.video_id, f.frame_idx, f.payload))
      .toDF("asset_id", "frame_idx", "payload").localCheckpoint()
    store.commit(store.stageKeyed("accepted_video", frames,
      pmod(xxhash64(col("asset_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("asset_id"))))
    IndexStore.build(store, "vhash", frames)
    val dry = IndexStore.applyDupes(store, spark, "vhash",
      "accepted_video", dryRun = true)
    assert(dry.converged &&
      dry.losers == 3L * VideoDedupOps.DupSeeds, s"$dry")
    assert(store.read(spark, "accepted_video").count()
      == frames.count(), "dry run must not delete frames")
    val real = IndexStore.applyDupes(store, spark, "vhash",
      "accepted_video")
    assert(real.converged && real.passStats == dry.passStats,
      s"real=${real.passStats} dry=${dry.passStats}")
    val kept = store.read(spark, "accepted_video").select("asset_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(kept == (0L until VideoDedupOps.NumVideos.toLong).toSet,
      s"kept=$kept")
    // frame granularity of the delete, both sides: a surviving frame
    // row of a deleted video would re-admit it on a future probe
    assert(store.read(spark, "accepted_video").count() ==
      VideoDedupOps.NumVideos.toLong * VideoDedupOps.FramesPerVideo,
      "every loser frame row must leave the data table")
    assert(IndexStore.read(store, spark, "vhash")
      .filter(col("asset_id") >= 1000L).count() == 0,
      "every loser frame row must leave the index")
    assert(IndexStore.perceptualDupes(store, spark, "vhash").isEmpty)
  }

  test("applyDupes leaves sibling espan postings SEMANTICALLY INERT, " +
      "not live: the deleted doc's postings stay at rest, but the " +
      "candidate-bounded certification no longer finds its text and " +
      "no span is sourced from it; prune reclaims them with every " +
      "probe result unchanged") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-espan-inert"))
    // loser 1000003 duplicates doc 3's text AND carries a unique
    // 20-token tail no survivor shares
    val base = (0L until 30L).map(doc(_, "ei"))
    val tail = (0 until 20).map(j => s"onlyloser$j").mkString(" ")
    val corpus = (base :+ (1000003L, s"${base(3)._2} $tail"))
      .toDF("doc_id", "text").localCheckpoint()
    store.commit(store.stageKeyed("docs", corpus,
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    IndexStore.build(store, "band", corpus)
    IndexStore.build(store, "espan", corpus)
    val probe = Seq((900L, s"probe head $tail probe tail words"))
      .toDF("doc_id", "text")
    // fixture guard: before the apply, the unique tail certifies
    // against the loser's text at rest
    assert(IndexStore.searchExactSpansAtRest(store, spark, probe,
      "docs").count() > 0, "tail must certify while the loser lives")
    val res = IndexStore.applyDupes(store, spark, "band", "docs")
    assert(res.converged && res.losers == 1L && res.pairs == 1L,
      s"$res")
    // NOT cascaded: the loser's espan postings are still at rest ...
    assert(IndexStore.read(store, spark, "espan")
      .filter(col("doc_id") === 1000003L).count() > 0,
      "apply must not touch sibling index kinds")
    // ... but inert: the hash screen still finds candidates, the
    // candidate-bounded text fetch finds no doc, nothing certifies
    assert(IndexStore.searchExactSpansAtRest(store, spark, probe,
      "docs").isEmpty,
      "a deleted doc's postings must stop certifying spans")
    // contrast: text the WITNESS shares still certifies via doc 3
    val shared = base(3)._2.split(" ").slice(5, 25).mkString(" ")
    val probe2 = Seq((901L, s"fresh head $shared fresh tail"))
      .toDF("doc_id", "text")
    def sharedHits() = IndexStore.searchExactSpansAtRest(store, spark,
      probe2, "docs").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"))).toSet
    val before = sharedHits()
    assert(before.nonEmpty, "surviving docs must keep certifying")
    // PRUNE reclaims the inert rows: the deleted doc's postings leave
    // the index, the witness's stay, and probe results are UNCHANGED
    // (the read-path-invariance the inertness argument promises)
    val pr = IndexStore.prune(store, spark, "espan", "docs")
    assert(pr.dropped > 0L && pr.leaves > 0L, s"$pr")
    assert(IndexStore.read(store, spark, "espan")
      .filter(col("doc_id") === 1000003L).count() == 0,
      "prune must reclaim the dead doc's postings")
    assert(IndexStore.searchExactSpansAtRest(store, spark, probe,
      "docs").isEmpty, "the unique tail stays uncertified after prune")
    assert(sharedHits() == before,
      "prune must not change any probe result")
    // idempotent: a second prune finds nothing dead
    assert(IndexStore.prune(store, spark, "espan", "docs").dropped == 0L)
  }

  test("prune and applyDupes PRESERVE the at-rest schema stamp: a " +
      "filter-only rewrite must not launder a legacy store past the " +
      "versioned probe refusals") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-prune-stamp"))
    val corpus = (0L until 10L).map(doc(_, "st")).toDF("doc_id", "text")
    store.commit(store.stageKeyed("docs",
      corpus.filter(col("doc_id") < 5L),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    IndexStore.build(store, "espan", corpus)
    val key = store.metaKey("index_schema_version.espan")
    assert(store.currentMeta().get(key)
      .contains(IndexStore.SchemaVersion.toString))
    // simulate a legacy store: downgrade the stamp post-build
    store.commit(Seq(), meta = Map("index_schema_version.espan" -> "2"))
    assert(store.currentMeta().get(key).contains("2"))
    // prune filters rows, it upgrades nothing — the stamp must echo
    val dropped = IndexStore.prune(store, spark, "espan", "docs").dropped
    assert(dropped > 0L, "fixture: docs 5-9 postings must be dead")
    assert(store.currentMeta().get(key).contains("2"),
      "prune re-stamped the schema version — versioned refusals " +
        "downstream would now pass a legacy store")
    // compact and append-into-existing are filter/echo commits too
    IndexStore.compact(store, spark, "espan")
    assert(store.currentMeta().get(key).contains("2"),
      "compact re-stamped the schema version")
    IndexStore.append(store, "espan",
      Seq((50L, doc(50L, "st")._2)).toDF("doc_id", "text"))
    assert(store.currentMeta().get(key).contains("2"),
      "append into an existing table re-stamped the schema version")
    // only the full rewrite may upgrade
    IndexStore.build(store, "espan", corpus)
    assert(store.currentMeta().get(key)
      .contains(IndexStore.SchemaVersion.toString),
      "index build must re-stamp the engine's version")
  }

  test("append refuses an afp table whose stamped shape predates the " +
      "chunk-aware rows: mixing row shapes in one table is never an " +
      "option, index build is") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-afp-append-guard"))
    import graft.operators.AudioDedupOps
    val fps = Seq((1L, 0, 1, 12345L))
      .toDF("asset_id", "chunk_idx", "n_chunks", "afp")
    store.commit(
      IndexStore.stageRows(store, "afp", AudioDedupOps.afpBandRows(fps)),
      meta = IndexStore.formatMeta("afp"))
    // simulate a legacy (pre-chunk) afp store
    store.commit(Seq(), meta = Map("index_schema_version.afp" -> "2"))
    val e = intercept[RuntimeException] {
      IndexStore.append(store, "afp",
        Seq((2L, Array.emptyByteArray)).toDF("asset_id", "payload"))
    }
    assert(e.getMessage.contains("v2") && e.getMessage.contains("v3"),
      e.getMessage)
  }

  test("prune with tableIdCol: index ids semi-join a table keyed " +
      "under a DIFFERENT id column (the pairs-store shape), and the " +
      "unmapped default fails loudly instead of guessing") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-prune-idcol"))
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 20L).map(i =>
      (i, Seq.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    IndexStore.build(store, "vec", vecs)
    // the keep table is keyed item_id and holds only the even ids
    store.commit(store.stageKeyed("items",
      (0L until 20L by 2).map(i => (i, "x")).toDF("item_id", "meta"),
      pmod(xxhash64(col("item_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("item_id"))))
    val pr = IndexStore.prune(store, spark, "vec",
      "items", tableIdCol = "item_id")
    assert(pr.dropped > 0L && pr.leaves > 0L, s"$pr")
    assert(IndexStore.read(store, spark, "vec").select("vec_id")
      .collect().map(_.getLong(0)).toSet ==
      (0L until 20L by 2).toSet)
    // without the override the table has no vec_id — loud, not a guess
    intercept[Exception] {
      IndexStore.prune(store, spark, "vec", "items")
    }
  }

  test("prune rewrites ONLY the dirty leaves: clean leaves carry into " +
      "the new snapshot by reference with their files byte-identical, " +
      "the dry run sizes the exact rewrite footprint, and probe " +
      "results are unchanged") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-idx-prune-leafgran")
    val store = new GraftStore(root)
    val corpus = (0L until 40L).map(doc(_, "pl"))
    IndexStore.build(store, "band", corpus.toDF("doc_id", "text"))
    // keep table: every doc except 7 — a band-kind id concentrates in
    // at most Bands (8) of the 64 content buckets, so most leaves hold
    // no dead row and must never be rewritten
    store.commit(store.stageKeyed("docs",
      corpus.filter(_._1 != 7L).toDF("doc_id", "text"),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    val table = IndexStore.tableOf("band")
    val old = store.leavesOf(table)
    // MD5 every file of every leaf BEFORE the prune — "carried by
    // reference" must mean the bytes on disk, not just the dir name
    def fingerprint(dir: String): Map[String, String] = {
      val base = Paths.get(root, dir)
      val stream = Files.walk(base)
      try stream.iterator().asScala
        .filter(f => Files.isRegularFile(f)).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          base.relativize(f).toString ->
            md.digest(Files.readAllBytes(f)).map("%02x".format(_))
              .mkString
        }.toMap
      finally stream.close()
    }
    val fp0 = old.map(l => l.dir -> fingerprint(l.dir)).toMap
    val probe = Seq(
      (800L, corpus(3)._2.split(" ").zipWithIndex
        .map { case (t, i) => if (i % 29 == 0) "xq" else t }
        .mkString(" "))).toDF("doc_id", "text")
    def hits() = IndexStore.search(store, spark, "band", probe)
      .select("new_id", "existing_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = hits()
    assert(before.exists(_._2 == 3L), "fixture: the probe must hit doc 3")
    val deadRows = IndexStore.read(store, spark, "band")
      .filter(col("doc_id") === 7L).count()
    assert(deadRows > 0L, "fixture: doc 7's band rows must be at rest")
    // the dry run sizes the EXACT rewrite footprint and moves nothing
    val dry = IndexStore.prune(store, spark, "band", "docs",
      dryRun = true)
    assert(dry.dropped == deadRows && dry.leaves == old.size &&
      dry.rewrote + dry.carried == old.size, s"$dry")
    assert(dry.rewrote > 0 && dry.rewrote < old.size,
      s"a one-doc prune must dirty SOME but not all leaves: $dry")
    assert(store.leavesOf(table).map(_.dir) == old.map(_.dir),
      "dry-run prune must not commit")
    // the real prune matches its own dry run's prediction
    val pr = IndexStore.prune(store, spark, "band", "docs")
    assert(pr.dropped == dry.dropped && pr.rewrote == dry.rewrote &&
      pr.carried == dry.carried, s"dry=$dry real=$pr")
    val now = store.leavesOf(table)
    assert(pr.leaves == now.size, s"$pr vs ${now.size}")
    // carried leaves: SAME dirs in the new snapshot, bytes untouched
    val oldDirs = old.map(_.dir).toSet
    val carried = now.map(_.dir).filter(oldDirs)
    assert(carried.size.toLong == pr.carried, s"$pr")
    carried.foreach(d => assert(fingerprint(d) == fp0(d),
      s"carried leaf $d was rewritten — it held no dead row"))
    assert((oldDirs -- now.map(_.dir).toSet).size.toLong == pr.rewrote,
      "exactly the dirty leaves must leave the snapshot")
    // the reclaim itself: doc 7 gone, every other row intact, probe
    // results unchanged, second prune a no-op
    val idx = IndexStore.read(store, spark, "band")
    assert(idx.filter(col("doc_id") === 7L).count() == 0L)
    assert(idx.count() == 40L * graft.operators.DedupOps.Bands - deadRows,
      "every surviving doc's band rows must ride through the prune")
    assert(hits() == before, "prune must not change any probe result")
    assert(IndexStore.prune(store, spark, "band", "docs").dropped == 0L)
  }

  test("prune over a MULTI-SEG index (build + append): the leaf " +
      "tracing resolves both segs' dir shapes from one probe — dead " +
      "rows reclaim from each seg's dirty leaves, clean leaves of " +
      "BOTH segs carry by reference") {
    import spark.implicits._
    val root = tempDir("graft-idx-prune-multiseg")
    val store = new GraftStore(root)
    val a = (0L until 30L).map(doc(_, "msA"))
    val b = (100L until 130L).map(doc(_, "msB"))
    IndexStore.build(store, "band", a.toDF("doc_id", "text"))
    // a second SEG: appended leaves share buckets with build leaves
    // but live under a different seg dir — the leaf tracing must
    // resolve both shapes from one probe
    IndexStore.append(store, "band", b.toDF("doc_id", "text"))
    val table = IndexStore.tableOf("band")
    val old = store.leavesOf(table)
    assert(old.map(_.dir.split("/")(1)).distinct.size == 2,
      s"fixture: two segs expected, got ${old.map(_.dir).take(3)}")
    // one dead doc per seg
    store.commit(store.stageKeyed("docs",
      (a ++ b).filter(d => d._1 != 7L && d._1 != 113L)
        .toDF("doc_id", "text"),
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    val pr = IndexStore.prune(store, spark, "band", "docs")
    assert(pr.dropped == 2L * graft.operators.DedupOps.Bands, s"$pr")
    assert(pr.rewrote > 0 && pr.carried > 0 &&
      pr.rewrote + pr.carried == old.size, s"$pr")
    val now = store.leavesOf(table).map(_.dir).toSet
    // carried leaves from BOTH segs ride through untouched
    val carried = old.map(_.dir).filter(now)
    assert(carried.map(_.split("/")(1)).distinct.size == 2,
      s"both segs must contribute carried leaves: $carried")
    val idx = IndexStore.read(store, spark, "band")
    assert(idx.filter(col("doc_id").isin(7L, 113L)).count() == 0L)
    assert(idx.count() == 58L * graft.operators.DedupOps.Bands,
      "every surviving doc's rows from both segs must ride through")
  }

  test("incremental compact collapses ONLY the accreted buckets: " +
      "replay debris drops exactly as under the full compact, " +
      "single-leaf buckets carry by reference byte-identical, a " +
      "quiet index is a manifest-only no-op, and the dry run " +
      "predicts the rewrite") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val corpus = (0L until 30L).map(doc(_, "ic"))
    // two stores through IDENTICAL operations: build, then an
    // at-least-once re-delivery of docs 3 and 7 (the replay case —
    // identical content, identical band rows, same buckets accrete)
    def mk(tag: String): (String, GraftStore) = {
      val root = tempDir(s"graft-idx-compact-$tag")
      val store = new GraftStore(root)
      IndexStore.build(store, "band", corpus.toDF("doc_id", "text"))
      IndexStore.append(store, "band",
        corpus.filter(d => d._1 == 3L || d._1 == 7L)
          .toDF("doc_id", "text"))
      (root, store)
    }
    val (rootA, a) = mk("inc")
    val (_, b) = mk("full")
    val table = IndexStore.tableOf("band")
    val old = a.leavesOf(table)
    def fingerprint(dir: String): Map[String, String] = {
      val base = Paths.get(rootA, dir)
      val stream = Files.walk(base)
      try stream.iterator().asScala
        .filter(f => Files.isRegularFile(f)).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          base.relativize(f).toString ->
            md.digest(Files.readAllBytes(f)).map("%02x".format(_))
              .mkString
        }.toMap
      finally stream.close()
    }
    val single = old.groupBy(_.bucket).filter(_._2.size == 1)
      .values.flatten.toSeq
    assert(single.nonEmpty && single.size < old.size,
      s"fixture: need both quiet and accreted buckets (${old.size})")
    val fp0 = single.map(l => l.dir -> fingerprint(l.dir)).toMap
    // dry run sizes the exact rewrite and moves nothing
    val dry = IndexStore.compact(a, spark, "band", dryRun = true,
      incremental = true)
    assert(dry.dropped == 2L * graft.operators.DedupOps.Bands &&
      dry.rewrote == (old.size - single.size).toLong &&
      dry.carried == single.size.toLong, s"$dry")
    assert(a.leavesOf(table).map(_.dir) == old.map(_.dir),
      "dry-run compact must not commit")
    val inc = IndexStore.compact(a, spark, "band", incremental = true)
    assert(inc.dropped == dry.dropped && inc.rewrote == dry.rewrote &&
      inc.carried == dry.carried, s"dry=$dry real=$inc")
    // quiet buckets' leaves rode through, bytes untouched
    val now = a.leavesOf(table).map(_.dir).toSet
    single.foreach { l =>
      assert(now.contains(l.dir), s"quiet leaf ${l.dir} must carry")
      assert(fingerprint(l.dir) == fp0(l.dir),
        s"quiet leaf ${l.dir} was rewritten")
    }
    // equivalence: the full compact on the twin store drops the same
    // rows and converges to the same surviving row set
    val full = IndexStore.compact(b, spark, "band")
    assert(full.dropped == inc.dropped && full.carried == 0L, s"$full")
    def rows(s: GraftStore) = IndexStore.read(s, spark, "band")
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(a) == rows(b),
      "incremental and full compact must converge to one row set")
    // a quiet index is a manifest-only NO-OP: same snapshot, no commit
    val preNoop = a.leavesOf(table).map(_.dir)
    val noop = IndexStore.compact(a, spark, "band", incremental = true)
    assert(noop.dropped == 0L && noop.rewrote == 0L &&
      noop.carried == preNoop.size.toLong, s"$noop")
    assert(a.leavesOf(table).map(_.dir) == preNoop,
      "a no-op incremental compact must not commit")
  }

  test("incremental compact on a MODEL kind (ivf): a re-delivered " +
      "batch accretes only its cells — the pass collapses exactly " +
      "there, quiet cells carry, the centroid model is untouched, " +
      "and a follow-up pass is a manifest-only no-op") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-compact-ivf-inc"))
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 100L).map(i =>
      (i, Seq.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    IndexStore.build(store, "ivf", vecs)
    // at-least-once re-delivery of 10 vectors: the FIXED model
    // assigns each to its original cell, so only those cells accrete
    IndexStore.append(store, "ivf",
      vecs.filter(col("vec_id") < 10L))
    val table = IndexStore.tableOf("ivf")
    val models = store.leavesOf("ivf-centroids").map(_.dir)
    val inc = IndexStore.compact(store, spark, "ivf",
      incremental = true)
    assert(inc.dropped == 10L, s"$inc")
    assert(inc.rewrote > 0 && inc.carried > 0, s"$inc")
    val after = IndexStore.read(store, spark, "ivf")
    assert(after.count() == 100L &&
      after.select("vec_id").distinct().count() == 100L)
    assert(store.leavesOf("ivf-centroids").map(_.dir) == models,
      "compact must never touch the model tables")
    // quiet again: manifest-only no-op, snapshot unmoved
    val pre = store.leavesOf(table).map(_.dir)
    val noop = IndexStore.compact(store, spark, "ivf",
      incremental = true)
    assert(noop.dropped == 0L && noop.rewrote == 0L, s"$noop")
    assert(store.leavesOf(table).map(_.dir) == pre,
      "a quiet incremental compact must not commit")
  }

  test("the incremental compact's documented corner: a changed-content " +
      "re-delivery under one id lands rows in DIFFERENT buckets — no " +
      "accretion, so the incremental pass keeps both (each still " +
      "probe-able) and the FULL compact remains the collapsing verb") {
    import spark.implicits._
    val store = new GraftStore(tempDir("graft-idx-compact-corner"))
    // same (doc_id, band), different band_key → different content
    // versions of one doc; pick keys whose buckets differ so each
    // lands a single-leaf bucket
    def bucketOf(key: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(0), lit(key)),
        lit(IndexStore.Buckets.toLong))).head().getLong(0)
    val k1 = 111L
    val k2 = (112L to 200L).find(bucketOf(_) != bucketOf(k1)).get
    val rows = Seq(
      (1L, 0, k1, Seq(11L, 12L), Seq(1L, 2L)),
      (1L, 0, k2, Seq(21L, 22L), Seq(3L, 4L)))
      .toDF("doc_id", "band", "band_key", "mh_arr", "sh_hashes")
    store.commit(IndexStore.stageRows(store, "band", rows),
      meta = IndexStore.formatMeta("band"))
    val inc = IndexStore.compact(store, spark, "band",
      incremental = true)
    assert(inc.dropped == 0L && inc.rewrote == 0L, s"$inc")
    assert(IndexStore.read(store, spark, "band").count() == 2L,
      "both content versions must stay probe-able")
    val full = IndexStore.compact(store, spark, "band")
    assert(full.dropped == 1L, s"$full")
    assert(IndexStore.read(store, spark, "band").count() == 1L,
      "the full compact collapses the cross-bucket pair")
  }

  test("bandDupes: the at-rest TEXT dup report equals the batch " +
      "MinHash-LSH operator over a real corpus, across a store " +
      "restart — no text re-read, no re-shingling") {
    import spark.implicits._
    import graft.operators.DedupOps
    val root = tempDir("graft-idx-band-dupes")
    val corpus = DedupOps.withNearDups(
      (0L until 30L).map(doc(_, "bd")).toDF("doc_id", "text"))
      .localCheckpoint()
    IndexStore.build(new GraftStore(root), "band", corpus)
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("id_a", "id_b", "jaccard_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atRest = key(IndexStore.bandDupes(new GraftStore(root), spark))
    val batch = key(DedupOps.minhashNearDupPairs(corpus, 0.4))
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(atRest == batch,
      s"extra=${atRest -- batch} missing=${batch -- atRest}")
  }

  test("applyDupes: the keep-one-witness pass at rest is ATOMIC and a " +
      "FIXPOINT — losers leave the data table and the index in one " +
      "snapshot, witnesses stay, and the re-run report finds nothing") {
    import spark.implicits._
    import graft.operators.DedupOps
    val store = new GraftStore(tempDir("graft-idx-band-apply"))
    val corpus = DedupOps.withNearDups(
      (0L until 30L).map(doc(_, "ap")).toDF("doc_id", "text"))
      .localCheckpoint()
    // the imported-store shape: docs staged under the family id-hash
    // layout, the band index built from the same frame
    store.commit(store.stageKeyed("docs", corpus,
      pmod(xxhash64(col("doc_id")), lit(IndexStore.Buckets.toLong)),
      Seq(col("doc_id"))))
    IndexStore.build(store, "band", corpus)
    val snapsBefore = store.snapshots().size
    val res = IndexStore.applyDupes(store, spark, "band", "docs")
    // 25 isolated (i, i+1000000) near-copy pairs: min-id witness keeps
    // the original, the copy deletes
    assert(res.pairs == 25L && res.losers == 25L && res.converged,
      s"$res")
    assert(store.snapshots().size == snapsBefore + 1,
      "apply must be ONE atomic commit")
    val ids = store.read(spark, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 30L).toSet, s"got $ids")
    assert(IndexStore.read(store, spark, "band")
      .filter(col("doc_id") >= 1000000L).count() == 0,
      "loser index rows must be gone")
    // fixpoint: two witnesses of different components can never pair
    assert(IndexStore.bandDupes(store, spark).isEmpty,
      "the re-run report must find nothing")
    // idempotent: a second apply is a no-op (no pairs, no commit)
    val again = IndexStore.applyDupes(store, spark, "band", "docs")
    assert(again.losers == 0L && again.pairs == 0L && again.converged
      && again.passes == 1 && again.pairList.isEmpty, s"$again")
    assert(store.snapshots().size == snapsBefore + 1)
  }

  test("bandDupes equals the kernel over PRE-truncation rows under a " +
      "planted past-cap flood — compaction drops the very stored rows " +
      "the planted pair collides on, and the report still finds it by " +
      "re-deriving every band from the stored signature") {
    import spark.implicits._
    import graft.operators.DedupOps
    val store = new GraftStore(tempDir("graft-idx-band-recall"))
    // synthetic at-rest rows in the buildBandIndex schema: 70 mutually-
    // distinct docs share ONE hot stored bucket (band 0, key 777) and
    // hold a private row each; the planted dup pair (9000, 9001 —
    // identical signatures) also sits in the hot bucket, ranked LAST
    // by doc_id, so truncation deletes exactly its shared rows
    def row(id: Long, band: Int, bandKey: Long, sig: Long)
        : (Long, Int, Long, Seq[Long], Seq[Long]) =
      (id, band, bandKey, Seq.fill(16)(sig), Seq(sig))
    val flood = (0 until 70).flatMap(i => Seq(
      row(100L + i, 0, 777L, 10000L + i),
      row(100L + i, 1, 5000L + i, 10000L + i)))
    val pair = Seq(9000L, 9001L).flatMap(id => Seq(
      row(id, 0, 777L, 424242L),
      row(id, 1, id * 10L, 424242L)))
    val rows = (flood ++ pair)
      .toDF("doc_id", "band", "band_key", "mh_arr", "sh_hashes")
      .localCheckpoint()
    store.commit(IndexStore.stageRows(store, "band", rows),
      meta = IndexStore.formatMeta("band"))
    IndexStore.compact(store, spark, "band") // at-rest truncation applies
    val atRestRows = IndexStore.read(store, spark, "band")
    // fixture: truncation FIRED on the hot bucket and dropped the
    // pair's rows there (their best rank lives in the private bucket)
    assert(atRestRows.filter(col("doc_id").isin(9000L, 9001L) &&
      col("band") === 0).count() == 0,
      "fixture: the pair's hot-bucket rows must be truncated away")
    // per-doc liveness: every doc keeps >= 1 at-rest row
    assert(atRestRows.select("doc_id").distinct().count() == 72L,
      "a doc lost its last at-rest row")
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("id_a", "id_b", "jaccard_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = key(DedupOps.pairsFromBandIndexRows(rows, 0.4))
    val atRest = key(IndexStore.bandDupes(store, spark))
    assert(batch.contains((9000L, 9001L, 10000L)),
      s"fixture: the kernel must see the planted pair: $batch")
    assert(atRest == batch,
      s"extra=${atRest -- batch} missing=${batch -- atRest}")
  }

  test("compact collapses re-delivered rows in the keyless kinds") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    val root = tempDir("graft-idx-compact-sk")
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val s1 = new GraftStore(root)
    IndexStore.build(s1, "sketch", vecs.toDF("vec_id", "embedding"))
    // the same batch re-delivered (an at-least-once upstream)
    IndexStore.append(s1, "sketch", vecs.toDF("vec_id", "embedding"))
    assert(IndexStore.read(s1, spark, "sketch").count() == 100L)
    val dropped = IndexStore.compact(s1, spark, "sketch").dropped
    assert(dropped == 50L)
    val after = IndexStore.read(new GraftStore(root), spark, "sketch")
    assert(after.count() == 50L)
    assert(after.select("vec_id").distinct().count() == 50L)
    // same at-least-once story for the code-carrying kinds: compact
    // collapses the re-delivery and leaves the model tables untouched
    for (kind <- Seq("pq", "ivfpq", "vec")) {
      val kroot = tempDir(s"graft-idx-compact-$kind")
      val ks = new GraftStore(kroot)
      IndexStore.build(ks, kind, vecs.toDF("vec_id", "embedding"))
      IndexStore.append(ks, kind, vecs.toDF("vec_id", "embedding"))
      assert(IndexStore.read(ks, spark, kind).count() == 100L, kind)
      val kdropped = IndexStore.compact(ks, spark, kind).dropped
      assert(kdropped == 50L, kind)
      val kafter = IndexStore.read(new GraftStore(kroot), spark, kind)
      assert(kafter.count() == 50L, kind)
      assert(kafter.select("vec_id").distinct().count() == 50L, kind)
    }
  }

  test("ivf compact collapses re-deliveries and merges append debris " +
      "while a racing append and a live probe ride through the swap") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(19)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val root = tempDir("graft-idx-ivf-compact")
    val base = (0L until 400L).map(i => (i, point((i % 8).toInt)))
    val extra = (1000L until 1040L).map(i => (i, point((i % 8).toInt)))
    val s1 = new GraftStore(root)
    IndexStore.build(s1, "ivf", base.toDF("vec_id", "embedding"))
    IndexStore.append(s1, "ivf", extra.toDF("vec_id", "embedding"))
    // the same append re-delivered (an at-least-once upstream)
    IndexStore.append(s1, "ivf", extra.toDF("vec_id", "embedding"))
    val leavesBefore = s1.leavesOf("ivf_cells").size
    assert(IndexStore.read(s1, spark, "ivf").count() == 480L)
    // real threads, own store instance each: compact, an append of a NEW
    // batch, and a probe that lands on whichever side of the swap the
    // scheduler picks. Neither writer may fail stale (the append drops
    // nothing, so compact's drop set stays live; the append's own leaves
    // are not in it), and the probe must rank the true neighbor first
    // against EITHER snapshot (compact only collapses duplicate vec_ids).
    val racing = (2000L until 2020L).map(i => (i, point((i % 8).toInt)))
    val dropped = new java.util.concurrent.atomic.AtomicLong(-1L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val startGate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(
      new Thread(() => try {
        startGate.await()
        dropped.set(IndexStore.compact(new GraftStore(root), spark, "ivf").dropped)
      } catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try {
        startGate.await()
        IndexStore.append(new GraftStore(root), "ivf",
          racing.toDF("vec_id", "embedding"))
        ()
      } catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try {
        startGate.await()
        val top = IndexStore.search(new GraftStore(root), spark, "ivf",
          Seq((9000L, base(42)._2.map(_ * 1.001f)))
            .toDF("vec_id", "embedding"))
          .filter(col("rank") === 1).collect()
        assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == 42L,
          s"mid-swap probe missed: ${top.toSeq}")
      } catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start())
    startGate.countDown()
    threads.foreach(_.join())
    assert(errs.isEmpty, s"race crashed: ${errs.peek()}")
    // the 40 re-delivered rows are gone whichever order the race ran in
    // (the racing batch's vec_ids are fresh, so they never add dups)
    assert(dropped.get() == 40L, s"dropped ${dropped.get()} rows, want 40")
    val s2 = new GraftStore(root)
    val after = IndexStore.read(s2, spark, "ivf")
    assert(after.count() == 460L, s"rows after race: ${after.count()}")
    assert(after.select("vec_id").distinct().count() == 460L)
    assert(s2.leavesOf("ivf_cells").size < leavesBefore,
      s"leaf debris not merged: $leavesBefore -> " +
        s"${s2.leavesOf("ivf_cells").size}")
    // the model survived compact untouched (re-train is re-build's job)
    assert(s2.leavesOf("ivf_centroids").size == 1)
    // nothing was lost: nudged copies of a build vector, a re-delivered
    // vector, and the RACING append's vector all resolve at rank 1
    val probes = Seq(
      (9100L, base(42)._2.map(_ * 1.001f)),
      (9101L, extra.head._2.map(_ * 1.001f)),
      (9102L, racing.head._2.map(_ * 1.001f)))
    val got = IndexStore.search(s2, spark, "ivf",
      probes.toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(got == Map(9100L -> 42L, 9101L -> 1000L, 9102L -> 2000L),
      s"post-race neighbors wrong: $got")
  }

  test("an append racing compact survives it; a compact racing a rebuild " +
      "fails stale instead of resurrecting dropped rows") {
    import spark.implicits._
    val root = tempDir("graft-idx-race")
    val a = (0L until 20L).map(doc(_, "a")).toDF("doc_id", "text")
    val b = (100L until 110L).map(doc(_, "b")).toDF("doc_id", "text")
    val store = new GraftStore(root)
    IndexStore.build(store, "span", a)
    // interleave: compute compact's staged state from the pre-append
    // snapshot by hand (read -> stage), let an append land, THEN commit
    // the compaction — the optimistic-concurrency shape of a slow
    // compact racing a fast append
    val oldLeaves = store.leavesOf("span_index")
    val rows = store.readLeaves(spark, "span_index", oldLeaves)
      .dropDuplicates("doc_id", "fp").localCheckpoint()
    IndexStore.append(store, "span", b) // lands mid-compact
    val adds = store.stageKeyed("span_index", rows,
      pmod(col("fp"), lit(IndexStore.Buckets.toLong)), Seq(col("fp")))
    store.commit(adds, drops = oldLeaves) // compact's commit
    // the racing append's rows are alive: its leaves were not in the
    // compact's drop set
    val after = IndexStore.read(new GraftStore(root), spark, "span")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert((100L until 110L).forall(after.contains),
      s"racing append lost: $after")
    assert((0L until 20L).forall(after.contains))
    // opposite order: a REBUILD (drop-everything) lands while a compact
    // is staged from the old snapshot — the compact must fail stale, not
    // resurrect the dropped leaves
    val old2 = store.leavesOf("span_index")
    val rows2 = store.readLeaves(spark, "span_index", old2)
      .localCheckpoint()
    IndexStore.build(store, "span", b) // rebuild drops old2 first
    val adds2 = store.stageKeyed("span_index", rows2,
      pmod(col("fp"), lit(IndexStore.Buckets.toLong)), Seq(col("fp")))
    intercept[GraftStore.StaleSnapshotException] {
      store.commit(adds2, drops = old2)
    }
  }

  test("rebuild replaces the old index in one commit; append extends it") {
    import spark.implicits._
    val root = tempDir("graft-idx-rebuild")
    val a = (0L until 20L).map(doc(_, "a")).toDF("doc_id", "text")
    val b = (100L until 110L).map(doc(_, "b")).toDF("doc_id", "text")
    val s1 = new GraftStore(root)
    IndexStore.build(s1, "span", a)
    IndexStore.append(s1, "span", b)
    val s2 = new GraftStore(root)
    val both = IndexStore.read(s2, spark, "span")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(both.exists(_ < 20L) && both.exists(_ >= 100L))
    // rebuild from b alone: a's rows are gone in the same snapshot swap
    IndexStore.build(s2, "span", b)
    val after = IndexStore.read(new GraftStore(root), spark, "span")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(after.forall(_ >= 100L), s"stale rows survived: $after")
  }

  test("a repeat ANN search runs no model job; a rebuild re-collects the " +
      "model, an append keeps it") {
    val a = clustered(31, 0L until 400L)
    val b = clustered(32, 1000L until 1400L)
    val extra = clustered(33, 5000L until 5040L)
    for ((kind, modelJobs) <- Seq("ivf" -> 1, "pq" -> 1, "ivfpq" -> 2)) {
      val root = tempDir(s"graft-idx-model-$kind")
      def search(r: String, probe: DataFrame) = jobsOf(annRows(
        IndexStore.search(new GraftStore(r), spark, kind, probe)))
      IndexStore.build(new GraftStore(root), kind, a)
      val probeA = nearProbes(a, 5)
      val (first, firstJobs) = search(root, probeA)
      val (again, againJobs) = search(root, probeA)
      assert(again == first, kind)
      assert(firstJobs - againJobs == modelJobs,
        s"$kind: first search $firstJobs jobs, repeat $againJobs")
      // a rebuild writes new model leaves: the next search collects
      // them and answers like a store this JVM never searched
      IndexStore.build(new GraftStore(root), kind, b)
      val probeB = nearProbes(b, 5)
      val (rebuilt, rebuiltJobs) = search(root, probeB)
      assert(rebuiltJobs == firstJobs, s"$kind: $rebuiltJobs jobs")
      val fresh = tempDir(s"graft-idx-model-fresh-$kind")
      IndexStore.build(new GraftStore(fresh), kind, b)
      assert(rebuilt == search(fresh, probeB)._1, kind)
      // an append encodes under the fixed model: its first search
      // collects no model, and finds the appended vectors
      IndexStore.append(new GraftStore(root), kind, extra)
      val probeX = nearProbes(extra, 5)
      val (appended, appendedJobs) = search(root, probeX)
      assert(search(root, probeX)._2 == appendedJobs,
        s"$kind: the append changed the model key")
      val top = appended.collect { case Seq(q: Long, n: Long, 1, _) => q -> n }
      assert(top == (5000L until 5005L).map(i => (i + 90000L) -> i).toSet,
        s"$kind: $top")
    }
  }

  test("a search racing a rebuild answers from one index, never from the " +
      "old model over the new codes") {
    val a = clustered(41, 0L until 300L)
    val b = clustered(42, 0L until 300L)
    val probe = nearProbes(a, 5)
    for (kind <- Seq("ivf", "pq", "ivfpq")) {
      val root = tempDir(s"graft-idx-model-race-$kind")
      def search() = annRows(
        IndexStore.search(new GraftStore(root), spark, kind, probe))
      IndexStore.build(new GraftStore(root), kind, a)
      val ansA = search()
      IndexStore.build(new GraftStore(root), kind, b)
      val ansB = search()
      assert(ansA != ansB, kind)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val builder = new Thread(() =>
        try (0 until 4).foreach(i =>
          IndexStore.build(new GraftStore(root), kind, if (i % 2 == 0) a else b))
        catch { case t: Throwable => errs.add(t) }
        finally done.set(true))
      builder.start()
      var searches = 0
      try
        while (!done.get || searches == 0) {
          val got = search()
          assert(got == ansA || got == ansB,
            s"$kind: search $searches mixed two indexes")
          searches += 1
        }
      finally builder.join()
      assert(errs.isEmpty, s"$kind: rebuild crashed: ${errs.peek()}")
      assert(search() == ansB, kind)
    }
  }

  test("wrong-dimension probes against every vector kind fail loudly") {
    import spark.implicits._
    // slice + common-prefix folds would otherwise score the query
    // against truncated centroids and return plausible garbage
    val rnd = new scala.util.Random(6)
    val base = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    for (kind <- Seq("pq", "ivfpq", "sketch", "ivf", "vec")) {
      val root = tempDir(s"graft-idx-dim-$kind")
      IndexStore.build(new GraftStore(root), kind,
        base.toDF("vec_id", "embedding"))
      // a successful search first, so a model kind probes with its
      // model cached
      IndexStore.search(new GraftStore(root), spark, kind,
        base.take(1).toDF("vec_id", "embedding")).collect()
      val shortProbe = Seq((9000L, Seq.fill(8)(
        rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      // the guard is eager (requireDim batch agg) for the non-model
      // kinds and per-row inside the probe kernels (ivf_top_cells /
      // pq_table) for ivf/pq/ivfpq since round 21 — the latter surfaces
      // wrapped in Spark's job-failure exception, so walk the cause
      // chain for the guard's message
      val e = intercept[Exception] {
        IndexStore.search(new GraftStore(root), spark, kind, shortProbe)
          .collect()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        Option(c.getMessage).exists(_.contains("does not match"))),
        s"$kind: $e")
    }
  }

  test("drift report climbs when appends drift from the trained models " +
      "and falls after a re-build") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(23)
    // corpus A: tight clusters the models train on; corpus B: DIFFERENT
    // cluster centers — appended under the fixed models, so its stored
    // codes are a poor fit until `index build` re-trains
    def corpusAround(centers: Seq[Array[Double]], ids: Range) =
      ids.map { i =>
        val c = centers(i % centers.size)
        (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
      }
    val centersA = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val centersB = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val a = corpusAround(centersA, 0 until 300)
    val b = corpusAround(centersB, 5000 until 5300)
    for (kind <- Seq("pq", "ivfpq")) {
      val root = tempDir(s"graft-idx-drift-$kind")
      IndexStore.build(new GraftStore(root), kind,
        a.toDF("vec_id", "embedding"))
      def allDistortion(): (Long, Long) = {
        val r = IndexStore.driftReport(new GraftStore(root), spark, kind)
          .filter(col("scope") === "all").head()
        (r.getLong(1), r.getLong(2))
      }
      val (n0, d0) = allDistortion()
      // the 'all' row counts SUBVECTORS (vectors x M) — the
      // ann_pq_distortion convention
      assert(n0 == 300L * graft.operators.SimilarityOps.PqSubs,
        s"$kind: report covers $n0 subvectors")
      IndexStore.append(new GraftStore(root), kind,
        b.toDF("vec_id", "embedding"))
      val (n1, d1) = allDistortion()
      assert(n1 == 600L * graft.operators.SimilarityOps.PqSubs, kind)
      // per-vector distortion at least doubles once half the corpus is
      // off-model (measured ~5-10x; 2x is the loose gate)
      assert(d1.toDouble / n1 > 2.0 * d0 / n0,
        s"$kind: drift not visible (${d0 / n0} -> ${d1 / n1} per vector)")
      // re-build = re-train on the union: per-vector distortion drops
      // back toward the trained level
      IndexStore.build(new GraftStore(root),
        kind, (a ++ b).toDF("vec_id", "embedding"))
      val (n2, d2) = allDistortion()
      assert(n2 == 600L * graft.operators.SimilarityOps.PqSubs, kind)
      assert(d2 < d1, s"$kind: re-build did not reduce distortion " +
        s"($d1 -> $d2)")
    }
  }

  test("drift report against a pre-sq/cq store fails with a VERSIONED " +
      "error naming the fix, not a mid-plan missing-column exception") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    for (kind <- Seq("pq", "ivfpq")) {
      val root = tempDir(s"graft-idx-schemaver-$kind")
      val store = new GraftStore(root)
      IndexStore.build(store, kind, vecs.toDF("vec_id", "embedding"))
      // simulate a store written by the pre-v2 engine: same hash
      // family, table schema v1 (codebook without the sq/cq pair
      // columns the quantized-distortion join needs)
      store.commit(Nil, meta = Map(s"index_schema_version.$kind" -> "1"))
      val e = intercept[RuntimeException](
        IndexStore.driftReport(store, spark, kind))
      assert(e.getMessage.contains("table-schema v1"), s"$kind: $e")
      assert(e.getMessage.contains("index build"), s"$kind: $e")
      // the guard is scoped to the report: the same v1 store still
      // serves searches (codes and hash family are unchanged)
      val probe = vecs.take(3).toDF("vec_id", "embedding")
      assert(IndexStore.search(store, spark, kind, probe, 0.5)
        .count() >= 0L, s"$kind: search must not be blocked by the " +
        "schema-version guard")
    }
  }

  test("semanticDupes blind spot is exactly as documented: a coarse-" +
      "cell-straddling near-dup pair is reported by pq, invisible to " +
      "ivfpq") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    def unitv(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
    }
    val c1 = unitv(Array.fill(dim)(rnd.nextGaussian()))
    val c2 = unitv(Array.fill(dim)(rnd.nextGaussian()))
    def near(c: Array[Double]) =
      c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq
    // two tight clusters train the models; the boundary pair is
    // PLANTED afterwards, on the Voronoi boundary between two
    // neighboring TRAINED coarse centroids, and APPENDED (the
    // fixed-model encode path) — appends are exactly how boundary
    // pairs arrive in production
    val corpus = ((0 until 150).map(i => (i.toLong, near(c1))) ++
      (150 until 300).map(i => (i.toLong, near(c2))))
      .toDF("vec_id", "embedding")
    val root = tempDir("graft-idx-blindspot")
    val store = new GraftStore(root)
    IndexStore.build(store, "pq", corpus)
    IndexStore.build(store, "ivfpq", corpus)
    val cents = IndexStore.read(store, spark, "ivfpq-centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    def l2sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(u: Array[Double]): Int =
      cents.minBy { case (cell, g) => (l2sq(u, g), cell) }._1
    // pick two neighboring centroids and nudge a midpoint pair toward
    // each; the first (pair, eps) whose UNIT vectors split between
    // exactly those argmins is the plant (heuristic pre-selection —
    // the store's own stored cells re-verify it below)
    val plant = (for {
      (cellA, ga) <- cents.iterator
      (cellB, gb) = cents.filter(_._1 != cellA)
        .minBy { case (cell, g) => (l2sq(ga, g), cell) }
      eps <- Seq(0.02, 0.05, 0.1, 0.2).iterator
      d = ga.zip(gb).map { case (x, y) => x - y }
      b = ga.zip(gb).map { case (x, y) => (x + y) / 2 }
      pa = unitv(b.zip(d).map { case (x, y) => x + eps * y })
      pb = unitv(b.zip(d).map { case (x, y) => x - eps * y })
      if assign(pa) == cellA && assign(pb) == cellB
    } yield (pa, pb)).buffered.headOption
    assert(plant.nonEmpty,
      "fixture broke: no centroid pair admits a splitting midpoint — " +
        "reseed")
    val (pa, pb) = plant.get
    IndexStore.append(store, "pq", Seq(
      (900L, pa.map(_.toFloat).toSeq), (901L, pb.map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding"))
    IndexStore.append(store, "ivfpq", Seq(
      (900L, pa.map(_.toFloat).toSeq), (901L, pb.map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding"))
    // preconditions, from the STORE (not the heuristic): the pair
    // straddles coarse cells AND shares whole-space pq codes
    val cells = IndexStore.read(store, spark, "ivfpq")
      .filter(col("vec_id") >= 900L)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(900L) != cells(901L),
      s"fixture broke: appended pair not split across cells ($cells)")
    val codes = IndexStore.read(store, spark, "pq")
      .filter(col("vec_id") >= 900L)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(900L) == codes(901L),
      s"fixture broke: pair's whole-space pq codes differ ($codes)")
    // the contract: pq reports the pair, ivfpq cannot
    val pqPairs = IndexStore.semanticDupes(store, spark, "pq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpqPairs = IndexStore.semanticDupes(store, spark, "ivfpq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqPairs.contains((900L, 901L)),
      s"pq kind must report the boundary pair: $pqPairs")
    assert(!ivfpqPairs.contains((900L, 901L)),
      "ivfpq reported a cross-cell pair — the residual-code blind " +
        "spot documentation is now WRONG; update both")
  }

  test("four-kind append race on ONE store: band/ivf/pq/vec all land " +
      "and every stamp survives") {
    import spark.implicits._
    // the round-12 kinds join the cross-kind regime: four concurrent
    // adds-only appends interleave their read-modify-write meta under
    // the commit lock; a lost update would brick another kind's probes
    val root = tempDir("graft-idx-4kind")
    val corpus = (0L until 20L).map(doc(_, "x"))
    val dim = 16
    val rnd = new scala.util.Random(11)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    val vecs = (0L until 200L).map(i => (i, point((i % 8).toInt)))
    IndexStore.build(new GraftStore(root), "band",
      corpus.toDF("doc_id", "text"))
    IndexStore.build(new GraftStore(root), "ivf",
      vecs.toDF("vec_id", "embedding"))
    IndexStore.build(new GraftStore(root), "pq",
      vecs.toDF("vec_id", "embedding"))
    IndexStore.build(new GraftStore(root), "vec",
      vecs.toDF("vec_id", "embedding"))
    val ap = point(3)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(
      "band" -> (() => IndexStore.append(new GraftStore(root), "band",
        Seq(doc(500L, "y")).toDF("doc_id", "text"))),
      "ivf" -> (() => IndexStore.append(new GraftStore(root), "ivf",
        Seq((900L, ap)).toDF("vec_id", "embedding"))),
      "pq" -> (() => IndexStore.append(new GraftStore(root), "pq",
        Seq((910L, ap)).toDF("vec_id", "embedding"))),
      "vec" -> (() => IndexStore.append(new GraftStore(root), "vec",
        Seq((920L, ap)).toDF("vec_id", "embedding")))
    ).map { case (_, body) =>
      new Thread(() =>
        try { body(); () } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"four-kind append crashed: ${errs.peek()}")
    val meta = new GraftStore(root).currentMeta()
    for (kind <- Seq("band", "ivf", "pq", "vec"))
      assert(meta.get(s"index_hash_format.$kind")
        .contains(IndexStore.HashFormat), s"$kind stamp lost: $meta")
    // each kind's search sees its appended row
    val probeV = Seq((1000L, ap.map(_ * 1.001f)))
      .toDF("vec_id", "embedding")
    val pqTop = IndexStore.search(new GraftStore(root), spark, "pq",
      probeV).filter(col("rank") === 1).collect()
    assert(pqTop.length == 1 &&
      Set(900L, 910L, 920L)(pqTop.head.getAs[Long]("neighbor_id")),
      s"pq append lost: ${pqTop.mkString(",")}")
    val vecHits = IndexStore.search(new GraftStore(root), spark, "vec",
      probeV, 0.99).select("existing_id").collect()
      .map(_.getLong(0)).toSet
    assert(vecHits.contains(920L), s"vec append lost: $vecHits")
  }

  test("cross-kind commits race safely: band and ivf appends to ONE " +
      "store both land, keeping both format stamps") {
    import spark.implicits._
    // One store hosting several index kinds is the normal regime
    // (streaming curate owns band, ANN owns ivf). Appends are adds-only
    // commits, and the manifest meta is a read-modify-write under the
    // commit lock — a lost update there would drop the OTHER kind's
    // hash-format stamp and brick its probes with a rebuild error.
    val root = tempDir("graft-idx-xkind")
    val corpus = (0L until 20L).map(doc(_, "x"))
    IndexStore.build(new GraftStore(root), "band",
      corpus.toDF("doc_id", "text"))
    val dim = 16
    val rnd = new scala.util.Random(11)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def point(c: Int): Seq[Float] =
      centers(c).map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq
    IndexStore.build(new GraftStore(root), "ivf",
      (0L until 200L).map(i => (i, point((i % 8).toInt)))
        .toDF("vec_id", "embedding"))
    val appendedVec = point(3)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(
      new Thread(() =>
        try IndexStore.append(new GraftStore(root), "band",
          Seq(doc(500L, "y")).toDF("doc_id", "text"))
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try IndexStore.append(new GraftStore(root), "ivf",
          Seq((900L, appendedVec)).toDF("vec_id", "embedding"))
        catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"cross-kind append crashed: ${errs.peek()}")
    // both per-kind stamps survive the interleaved meta writes ...
    val meta = new GraftStore(root).currentMeta()
    for (kind <- Seq("band", "ivf"))
      assert(meta.get(s"index_hash_format.$kind")
        .contains(IndexStore.HashFormat), s"$kind stamp lost: $meta")
    // ... and both searches see their appended rows
    val bandHits = IndexStore.search(new GraftStore(root), spark, "band",
      Seq((700L, doc(500L, "y")._2)).toDF("doc_id", "text"))
      .select("existing_id").collect().map(_.getLong(0)).toSet
    assert(bandHits.contains(500L), s"band append lost: $bandHits")
    val top = IndexStore.search(new GraftStore(root), spark, "ivf",
      Seq((901L, appendedVec.map(x => (x + 0.01f * rnd.nextGaussian())
        .toFloat))).toDF("vec_id", "embedding"))
      .filter(col("rank") === 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == 900L,
      s"ivf append lost: ${top.mkString(",")}")
  }

  /** Exact cosine ranking replicated with the engine's own fold
    * discipline (cast to double, left-to-right Σx², per-element divide,
    * left-to-right dot) — bit-identical to the rescore's vec_dot over
    * vec_unit, so cos_bp can be compared as integers. */
  private def exactCos(corpus: Seq[(Long, Seq[Float])],
      probe: Seq[Float]): Seq[(Long, Double)] = {
    def unit(v: Seq[Float]): Array[Double] = {
      val d = v.map(_.toDouble).toArray
      var s = 0.0
      var i = 0
      while (i < d.length) { s += d(i) * d(i); i += 1 }
      val n = math.sqrt(s)
      d.map(_ / n)
    }
    val pu = unit(probe)
    corpus.map { case (id, v) =>
      val u = unit(v)
      var s = 0.0
      var i = 0
      while (i < u.length) { s += pu(i) * u(i); i += 1 }
      (id, s)
    }
  }

  test("pq index over a corpus SMALLER than PqCodes probes exactly: " +
      "the ADC stride is the codebook's actual code count") {
    import spark.implicits._
    // 10 vectors < PqCodes=16: the trainer seeds only 10 codes/sub, so
    // the flattened tables have 8x10 entries — striding them by the
    // nominal 16 would read the wrong subspace's entries (low subs) or
    // past the array (high subs): silent garbage neighbors
    val dim = 16
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 10L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val root = tempDir("graft-idx-pq-small")
    IndexStore.build(new GraftStore(root), "pq",
      corpus.toDF("vec_id", "embedding"))
    val probeVec = corpus(3)._2.map(x => x * 1.01f)
    val got = IndexStore.search(new GraftStore(root), spark, "pq",
      Seq((9000L, probeVec)).toDF("vec_id", "embedding"))
      .orderBy("rank").collect()
      .map(r => r.getAs[Long]("neighbor_id"))
    // RescoreBudget (150) covers all 10 candidates, so the exact-cosine
    // rescore must return the true top-K — rank 1 is the scaled source
    val want = exactCos(corpus, probeVec)
      .sortBy { case (id, c) => (-c, id) }
      .take(graft.operators.SimilarityOps.K).map(_._1)
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
    assert(got.head == 3L)
  }

  test("ivfpq index over a corpus smaller than PqCodes searches " +
      "consistently: rescored cosines are exact for every hit") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 10L).map(i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val root = tempDir("graft-idx-ivfpq-small")
    IndexStore.build(new GraftStore(root), "ivfpq",
      corpus.toDF("vec_id", "embedding"))
    val probeVec = corpus(5)._2.map(x => x * 0.99f)
    val rows = IndexStore.search(new GraftStore(root), spark, "ivfpq",
      Seq((9000L, probeVec)).toDF("vec_id", "embedding")).collect()
    // cell pruning may hide far neighbors on a 10-vector corpus (each
    // vector lands alone in a cell; nprobe=4 of them are scanned) — the
    // CONTRACT here is self-consistency: hits exist, come from the
    // corpus, and every reported cos_bp is the exact rescored cosine
    assert(rows.nonEmpty)
    val exact = exactCos(corpus, probeVec).toMap
    rows.foreach { r =>
      val nb = r.getAs[Long]("neighbor_id")
      assert(corpus.exists(_._1 == nb))
      assert(r.getAs[Long]("cos_bp") ==
        math.floor(exact(nb) * 10000).toLong, s"cos mismatch for $nb")
    }
    // the probe is a scaled copy of vec 5 — same direction, cosine 1 —
    // and its own cell is always the top probe, so it must be rank 1
    assert(rows.find(_.getAs[Int]("rank") == 1)
      .map(_.getAs[Long]("neighbor_id")).contains(5L))
  }

  test("wrong-dimension appends against every vector kind fail loudly " +
      "instead of committing garbage codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val base = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    for (kind <- Seq("pq", "ivfpq", "ivf", "vec", "sketch")) {
      val root = tempDir(s"graft-idx-appdim-$kind")
      IndexStore.build(new GraftStore(root), kind,
        base.toDF("vec_id", "embedding"))
      val shortBatch = Seq((9000L, Seq.fill(8)(
        rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        IndexStore.append(new GraftStore(root), kind, shortBatch)
      }
      assert(e.getMessage.contains("does not match"), s"$kind: $e")
      // the guard fired BEFORE any commit: the index is intact
      assert(IndexStore.read(new GraftStore(root), spark, kind)
        .count() == 60L, s"$kind: wrong-dim append mutated the index")
    }
  }

  test("filtered ANN at rest: an attribute predicate pre-filters every " +
      "vector kind's search and pushes into the index scan") {
    import spark.implicits._
    // clustered corpus with a label attribute riding into the index
    // rows: 6 directions x 50 members, labels alternate 0/1 WITHIN each
    // direction so the unfiltered neighborhood of any query is half
    // wrong-label — post-filtering a top-k would under-fill; the
    // pre-filter contract returns only (and all) matching neighbors
    val rnd = new scala.util.Random(31)
    val dim = 16
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val corpus = (0 until 300).map { i =>
      val c = centers(i % 6)
      // label alternates WITHIN each direction (members of direction d
      // are i = d, d+6, d+12, …), so every neighborhood is half
      // wrong-label
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq,
        (i / 6) % 2)
    }
    val probe = Seq((9000L, centers(0).map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    for (kind <- Seq("vec", "sketch", "ivf", "pq", "ivfpq")) {
      val root = tempDir(s"graft-idx-filtered-$kind")
      IndexStore.build(new GraftStore(root), kind,
        corpus.toDF("vec_id", "embedding", "label"))
      val store = new GraftStore(root)
      val thr = if (kind == "vec") 0.9 else 0.4
      val hits = IndexStore.search(store, spark, kind, probe, thr,
        Some(col("label") === 1))
      val ids = hits.select(hits.columns.filter(c =>
          c == "existing_id" || c == "neighbor_id").head)
        .collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty, s"$kind: filtered search returned nothing")
      assert(ids.forall(id => (id / 6) % 2 == 1),
        s"$kind: non-matching neighbors leaked: " +
          s"${ids.filter(id => (id / 6) % 2 == 0)}")
      // the predicate reaches the parquet scan of the index leaves
      val df = IndexStore.search(store, spark, kind, probe, thr,
        Some(col("label") === 1))
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("PushedFilters: [") &&
          p.linesIterator.exists(l => l.contains("PushedFilters") &&
            l.contains("label")),
        s"$kind: label predicate not pushed to the index scan:\n$p")
    }
  }

  test("semantic dupes from at-rest codes: pq and ivfpq report " +
      "identically-directed copies without reading embedding bytes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.ExplainMode
    val rnd = new scala.util.Random(43)
    val base = (0L until 80L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map(i =>
      (800L + i, base(i)._2.map(x => x * 1.001f)))
    for (kind <- Seq("pq", "ivfpq")) {
      val root = tempDir(s"graft-idx-semdup-$kind")
      IndexStore.build(new GraftStore(root), kind,
        (base ++ dups).toDF("vec_id", "embedding"))
      val pairs = IndexStore.semanticDupes(new GraftStore(root), spark, kind)
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (0 until 5).foreach(i => assert(got.contains((i.toLong, 800L + i)),
        s"$kind: injected copy $i not in its original's code cell: $got"))
      // the scan side reads codes (and cell for ivfpq), never unit —
      // the zero-embedding-bytes claim is a plan property
      pairs.collect()
      val p = pairs.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(schemas.nonEmpty && schemas.forall(!_.contains("unit")),
        s"$kind: dupes scan reads unit bytes:\n${schemas.mkString("\n")}")
    }
  }

  test("append with a drifted attribute set fails loudly (a missing " +
      "column would silently null out of filtered searches)") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat), i % 3))
    val root = tempDir("graft-idx-attr-drift")
    IndexStore.build(new GraftStore(root), "vec",
      vecs(0 until 40).toDF("vec_id", "embedding", "label"))
    val e = intercept[IllegalArgumentException] {
      IndexStore.append(new GraftStore(root), "vec",
        vecs(100 until 120).map { case (id, v, _) => (id, v) }
          .toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("label"), e.getMessage)
    // the matching attribute set still appends fine
    IndexStore.append(new GraftStore(root), "vec",
      vecs(100 until 120).toDF("vec_id", "embedding", "label"))
    assert(IndexStore.read(new GraftStore(root), spark, "vec")
      .count() == 60L)
  }
}
