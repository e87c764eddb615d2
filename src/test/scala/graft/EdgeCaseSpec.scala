package graft

import graft.operators.{CorpusOps, CurationOps, DedupOps}
import graft.streaming.StreamingCuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input behavior of the composable corpus API: real corpora
  * contain null, empty, whitespace-only, and single-glyph documents (the
  * driver tables never do). Every operator must pass them through or drop
  * them deterministically — never throw, never emit a phantom pair. */
class EdgeCaseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Four degenerate docs + an identical pair of real ones. */
  private def dirty: DataFrame = {
    import spark.implicits._
    val real = "the quick brown fox jumps over the lazy dog and then " +
      "the dog chases the fox back across the meadow until both rest"
    Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   \t  "),
      (4L, "x"), (5L, real), (6L, real))
      .toDF("doc_id", "text")
  }

  test("near-dup detectors pair the real dup, never the degenerate docs") {
    val mh = DedupOps.minhashNearDupPairs(dirty, 0.4).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(mh.toSet == Set((5L, 6L)))
    val spans = DedupOps.sharedSpanPairs(dirty, minShared = 2L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(spans.toSet == Set((5L, 6L)))
    val sh = DedupOps.simhashNearDupPairs(dirty, 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // simhash of degenerate token lists may collide (empty vote vector);
    // the real pair must be present and no degenerate-real pair may be
    assert(sh.contains((5L, 6L)))
    assert(!sh.exists { case (a, b) => (a <= 4) != (b <= 4) })
  }

  test("incremental span probe ignores degenerate batch and index rows") {
    val index = DedupOps.buildSpanIndex(dirty)
    val hits = DedupOps.incrementalSharedSpans(dirty, index, minShared = 2L)
      .filter(col("new_id") =!= col("existing_id")).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("existing_id")))
    assert(hits.toSet == Set((5L, 6L), (6L, 5L)))
  }

  test("span removal passes degenerates and un-cut docs through " +
      "VERBATIM (null, empty, whitespace, single glyph) and cuts the " +
      "verbatim dup whole") {
    val out = DedupOps.removeDuplicatedSpans(dirty).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Int]("removed_tokens"))).toMap
    assert(out.size == 6)
    assert(out(1L) == ((null, 0)), s"null doc: ${out(1L)}")
    assert(out(2L) == (("", 0)), s"empty doc: ${out(2L)}")
    assert(out(3L) == (("   \t  ", 0)),
      s"whitespace doc must survive untouched: ${out(3L)}")
    assert(out(4L) == (("x", 0)), s"single glyph: ${out(4L)}")
    // doc 5 holds the first occurrence: verbatim; doc 6 is an exact
    // copy: every window is non-first, the whole doc is cut
    assert(out(5L)._2 == 0 && out(5L)._1.startsWith("the quick"),
      s"doc5: ${out(5L)}")
    assert(out(6L)._1.isEmpty &&
      out(6L)._2 == out(5L)._1.split("\\s+").length,
      s"doc6: ${out(6L)}")
  }

  test("curation pipeline drops degenerates at the floor, collapses the dup") {
    val out = CurationOps.curateCorpus(dirty).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(5L), s"expected only the min-id dup survivor: $ids")
  }

  test("packing and shuffling survive null text") {
    val packed = CorpusOps.packChunks(dirty).collect()
    assert(packed.length == 6)
    // null text contributes nothing to downstream offsets; real docs get
    // real token counts
    val byId = packed.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(5L).getAs[Long]("n_tokens") == 23L)
    assert(byId(6L).getAs[Long]("tok_offset") >=
      byId(5L).getAs[Long]("tok_offset"))
    val ranks = CorpusOps.sampleShuffle(dirty)
      .select("shuffle_rank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to 6L))
  }

  test("line dedup drops frequent lines, keeps order, survives all-boiler docs") {
    import spark.implicits._
    // 4 docs, frac 0.5 → threshold df <= 2: 'boiler' (3 docs) drops,
    // 'pair' (2 docs) stays, uniques stay; doc 4 is all-boilerplate
    val lines = Seq(
      (1L, 0, "alpha"), (1L, 1, "boiler"), (1L, 2, "pair"),
      (2L, 0, "boiler"), (2L, 1, "beta"),
      (3L, 0, "pair"), (3L, 1, "gamma"),
      (4L, 0, "boiler"))
      .toDF("doc_id", "idx", "line")
    val total = lines.select(countDistinct(col("doc_id")).as("n_docs"))
    val got = DedupOps.removeBoilerplateLines(lines, total, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("removed_cnt")))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "alpha\npair", 1L),
      (2L, "beta", 1L),
      (3L, "pair\ngamma", 0L),
      (4L, "", 1L)))
  }

  test("degenerate-key skew: 500 identical docs never explode the candidate join") {
    import spark.implicits._
    // every doc lands in the SAME band buckets — uncapped, the self-join
    // would emit 500*499/2 ≈ 125k candidate pairs; the MaxBucketSize cap
    // drops the degenerate buckets instead (the 100 TB skew guard)
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "the dog chases the fox back across the meadow until both rest"
    val clones = (1L to 500L).map(id => (id, text))
      .toDF("doc_id", "text").repartition(8)
    val pairs = DedupOps.minhashNearDupPairs(clones, 0.4)
    val n = pairs.count()
    // the cap DROPS over-sized buckets (it does not keep a prefix), so
    // a fully degenerate corpus produces exactly zero candidates
    assert(n == 0, s"degenerate buckets not dropped: $n pairs")
    // the cross-doc boilerplate remover handles the same corpus: every
    // line is in 100% of docs, so every doc empties
    val cleaned = DedupOps.removeBoilerplateLines(
      clones.selectExpr("doc_id", "0 AS idx", "text AS line"),
      clones.select(countDistinct(col("doc_id")).as("n_docs")))
      .collect()
    assert(cleaned.length == 500)
    assert(cleaned.forall(_.getAs[String]("clean_text") == ""))
    assert(cleaned.forall(_.getAs[Long]("removed_cnt") == 1L))
  }

  test("line-dedup operators equal driver-side references on random tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 4) {
      val nDocs = 5 + rnd.nextInt(15)
      // tiny line alphabet → heavy intra- and cross-doc collisions
      val rows = (1L to nDocs.toLong).flatMap { doc =>
        (0 until 3 + rnd.nextInt(8)).map(idx =>
          (doc, idx, s"line${rnd.nextInt(6)}"))
      }
      val lines = rows.toDF("doc_id", "idx", "line").repartition(4)
      val frac = 0.4
      // cross-doc reference
      val df = rows.groupBy(_._3).map { case (l, g) =>
        l -> g.map(_._1).distinct.size
      }
      val keepLine = (l: String) => df(l) <= nDocs * frac
      val wantCross = rows.groupBy(_._1).map { case (doc, g) =>
        val sorted = g.sortBy(_._2)
        doc -> (sorted.filter(r => keepLine(r._3)).map(_._3).mkString("\n"),
          sorted.count(r => !keepLine(r._3)).toLong)
      }
      val gotCross = DedupOps.removeBoilerplateLines(lines,
          lines.select(countDistinct(col("doc_id")).as("n_docs")), frac)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Long]("removed_cnt")))
        .toMap
      assert(gotCross == wantCross, s"cross-doc diverged, trial $trial")
      // intra-doc reference: first occurrence per (doc, line)
      val wantIntra = rows.groupBy(_._1).map { case (doc, g) =>
        val sorted = g.sortBy(_._2)
        val seen = collection.mutable.Set.empty[String]
        val kept = sorted.filter(r => seen.add(r._3))
        doc -> (kept.map(_._3).mkString("\n"),
          (sorted.length - kept.length).toLong)
      }
      val gotIntra = DedupOps.dedupLinesWithinDoc(lines)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Long]("removed_cnt")))
        .toMap
      assert(gotIntra == wantIntra, s"intra-doc diverged, trial $trial")
    }
  }

  test("intra-doc line dedup keeps first occurrences in order") {
    import spark.implicits._
    val lines = Seq(
      (1L, 0, "a"), (1L, 1, "b"), (1L, 2, "a"), (1L, 3, "a"),
      (2L, 0, "x"))
      .toDF("doc_id", "idx", "line")
    val got = DedupOps.dedupLinesWithinDoc(lines).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("removed_cnt"))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a\nb", 2L), (2L, "x", 0L)))
  }

  test("embedding operators drop zero/empty vectors, keep real directions") {
    import spark.implicits._
    val dirty = Seq(
      (1L, Seq.empty[Float]),
      (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(1f, 2f, 3f, 4f)),
      (4L, Seq(1.001f, 2.002f, 3.003f, 4.004f))) // same direction as 3
      .toDF("vec_id", "embedding")
    val buckets = DedupOps.normalizedWithBucket(dirty).collect()
    // empty and zero-norm vectors drop at normalization; the two real
    // vectors normalize into the same sign bucket (identical direction)
    assert(buckets.map(_.getAs[Long]("vec_id")).toSet == Set(3L, 4L))
    assert(buckets.map(_.getAs[Long]("bucket")).distinct.length == 1)
    val cos = {
      val u = DedupOps.normalizedWithBucket(dirty)
      u.select(col("vec_id"), col("unit")).as("a")
        .crossJoin(u.select(col("unit").as("u_b"), col("vec_id").as("id_b"))
          .as("b"))
        .filter(col("vec_id") < col("id_b"))
        .select(graft.functions.Vec.vec_dot(col("unit"), col("u_b")))
        .head().getDouble(0)
    }
    assert(math.abs(cos - 1.0) < 1e-9)
    // IVF build tolerates a corpus smaller than the cell count
    val units = dirty
      .withColumn("unit", graft.functions.Vec.vec_unit(col("embedding")))
      .filter(col("unit").isNotNull)
      .select(col("vec_id"), col("unit"))
    val (cells, centroids) = operators.SimilarityOps.buildIvfIndex(units)
    assert(cells.count() == 2 && centroids.length >= 1)
  }

  test("streaming curation batch handles degenerates against an empty index") {
    val emptyIndex = DedupOps.buildBandIndex(dirty.filter(lit(false)))
    val (survivors, indexRows) =
      StreamingCuration.curateBatch(dirty, emptyIndex)
    val ids = survivors.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(5L))
    assert(indexRows.select("doc_id").distinct().count() == 1)
  }
}
