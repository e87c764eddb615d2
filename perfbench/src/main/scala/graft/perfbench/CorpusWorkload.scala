package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import graft.operators.{CurationOps, DedupOps, SimilarityOps}
import graft.store.{GraftStore, IndexStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `corpus`: the `operators` layer. A cycle curates the documents plus
  * their injected near-copies (the `curation_pipeline` input) through
  * `CurationOps.curateCorpus`, builds an `ivfpq` index over the embeddings
  * into a fresh store and searches it once; cycles repeat while another
  * fits in the window, then a closed loop of `IndexStore.search` batches
  * runs against the last index. Never touches `etl` or the chain store. */
object CorpusWorkload {

  /** Seeded query vectors per run, searched `BatchSize` at a time. */
  val Queries = 40
  val BatchSize = 10
  /** The fewest search batches a run makes, however long the rest took. */
  val MinSearches = 5
  /** Whole cycles run before the window opens. The operators' calls keep
    * getting faster over the first few cycles (3.6 s per build in the
    * first measured cycle after one warm-up cycle, 2.2 s by the sixth on a
    * 4-vCPU VM), and a window on that slope reads how far the JIT had
    * got rather than the operators. */
  def warmCycles(ctx: Ctx): Int = if (ctx.tiny) 1 else 3
  /** The fewest measured cycles a run makes, so every run has the same
    * number of curate and build samples. */
  val MinCycles = 2
  val K: Int = SimilarityOps.K

  def sf(ctx: Ctx): String = if (ctx.tiny) "sf0.001" else "sf0.1"

  /** The curated set as the oracle hashes it: rows sorted by doc_id,
    * `doc_id,quality_bp,split` per line. */
  def curatedSha256(rows: Seq[(Long, Long, String)]): String = {
    val text = rows.sortBy(_._1).map { case (d, q, s) => s"$d,$q,$s" }
      .mkString("\n")
    MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** (rows, sha256) of `curation_pipeline` at `sf`, computed once by
    * DuckDB from the oracle SQL (perfbench/oracle.py). */
  def oracle(ctx: Ctx): (Long, String) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(new String(Files.readAllBytes(
      ctx.data.resolve("curation_oracle.json")), StandardCharsets.UTF_8))
    val e = j \ sf(ctx)
    ((e \ "rows").asInstanceOf[JInt].num.toLong,
      (e \ "sha256").asInstanceOf[JString].s)
  }

  /** Brute-force top-K by cosine, self excluded, ties by id. */
  def groundTruth(vecs: Map[Long, Array[Double]], q: Long): Seq[Long] = {
    val u = vecs(q)
    vecs.iterator.filter(_._1 != q)
      .map { case (id, v) => (id, u.indices.map(i => u(i) * v(i)).sum) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data.resolve(sf(ctx))
    def docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    def embeddings = spark.read.parquet(dir.resolve("embeddings.parquet")
      .toString).select(col("vec_id"), col("embedding"))
    val (oracleRows, oracleSha) = oracle(ctx)

    // ---- inputs, off the clock: seeded queries and their true top-K ------
    val raw = embeddings.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray)
    val units = raw.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      id -> v.map(_ / n)
    }.toMap
    val rng = new scala.util.Random(ctx.seed)
    val queryIds = rng.shuffle(raw.map(_._1).toSeq).take(Queries)
    val truth = queryIds.map(q => q -> groundTruth(units, q)).toMap
    val probeSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rawById = raw.toMap
    ctx.mark("queries and ground truth")
    def probe(ids: Seq[Long]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(ids.map(i => Row(i, rawById(i).toSeq)): _*),
      probeSchema)

    // ---- cycles: curate, build a fresh index, search it once -----------
    val curateS, buildS, searchS = ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    var hits, searched = 0L
    var kept = 0L
    var indexMb = 0.0
    val storeDir = ctx.work.resolve("corpus-index")
    var store: GraftStore = null
    var batch = 0
    /** One timed call, traced as `op` when it is measured and apart from
      * the measured ones when it is the warm-up. */
    def call[T](op: String, measured: Boolean)(body: => T): (T, Double) =
      ctx.tracer.span(if (measured) op else "warm")(_ => Stats.time(body))
    def search(measured: Boolean): Unit = {
      val ids = (0 until BatchSize).map(j =>
        queryIds((batch * BatchSize + j) % Queries))
      batch += 1
      val p = probe(ids)
      val (res, ss) = call("ann_search", measured)(
        IndexStore.search(store, spark, "ivfpq", p).collect())
      attempted += 1
      val byQuery = res.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")) }
      if (ids.exists(q => byQuery.get(q).forall(_.length != K))) failed += 1
      if (measured) {
        searchS += ss
        ids.foreach { q =>
          hits += byQuery.getOrElse(q, Array.empty[Long])
            .count(truth(q).contains).toLong
          searched += 1
        }
      }
    }
    def cycle(measured: Boolean): Unit = {
      val (rows, cs) = call("curate", measured)(
        CurationOps.curateCorpus(DedupOps.withNearDups(docs)).collect())
      attempted += 1
      val got = rows.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Number]("quality_bp").longValue, r.getAs[String]("split")))
      if (got.length != oracleRows || curatedSha256(got.toSeq) != oracleSha)
        failed += 1
      kept = got.length
      // curation pins localCheckpoint blocks; release them (as graft.Bench
      // does between entries) so the index calls do not run beside them
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

      store = new GraftStore(ctx.freshDir("corpus-index").toString)
      val (leaves, bs) = call("ann_build", measured)(
        IndexStore.build(store, "ivfpq", embeddings))
      attempted += 1
      if (leaves <= 0) failed += 1
      indexMb = Stats.diskUsage(storeDir)._1 / 1e6
      if (measured) { curateS += cs; buildS += bs }
      search(measured)
    }

    // the engine's first use, off the set-up clock: whole cycles, so the
    // timed calls run warm
    val warmupS = Stats.time(
      (1 to warmCycles(ctx)).foreach(_ => cycle(measured = false)))._2
    ctx.mark("warm-up")

    // ---- set-up, three times: load the corpus the way the timed calls
    // read it (near-copies injected) ----
    var inputDocs = 0L
    val setups = ctx.setup("corpus") { _ =>
      inputDocs = DedupOps.withNearDups(docs).count()
      embeddings.count()
    }

    // ---- timed phase: cycles while another one fits in the window (at
    // least `MinCycles`), then searches of the last index until the window
    // closes ----
    val t0 = ctx.nowS()
    ctx.mark("set-up")
    var cycles = 0
    while (cycles < MinCycles ||
        ctx.fits(t0, cycles, (ctx.nowS() - t0) / cycles)) {
      cycle(measured = true)
      cycles += 1
      ctx.mark(s"cycle $cycles")
    }
    while (searchS.size < MinSearches ||
        ctx.fits(t0, searchS.size, searchS.sum / searchS.size))
      search(measured = true)
    ctx.mark("searches")
    System.err.println("[perfbench] curate, build, search (s): " +
      Seq(curateS, buildS, searchS).map(_.map(x => f"$x%.3f").mkString(" "))
        .mkString(" | "))
    val heap = Stats.heapMb()
    GraftStore.deleteTree(storeDir)

    val docsPerS = inputDocs / Stats.p50(curateS.toSeq)
    val recall = hits.toDouble / (searched * K)
    Outcome(attempted, failed,
      e2e = Map(
        "setup_s" -> Stats.p50(setups),
        "throughput_per_s" -> docsPerS,
        "write_p50_s" -> Stats.p50(buildS.toSeq),
        "read_p50_s" -> Stats.p50(searchS.toSeq),
        "driver_heap_mb" -> heap),
      layers = Map(
        "operators.curate.kept_docs" -> kept.toDouble,
        "operators.ann.search_p90_s" -> Stats.quantile(searchS.toSeq, 0.9),
        "run.warmup_s" -> warmupS,
        "operators.curate.s" -> Stats.p50(curateS.toSeq),
        "operators.ann.index_mb" -> indexMb,
        "operators.ann.recall_at_5" -> recall),
      table = Seq(
        ("input_docs", inputDocs.toDouble, "count"),
        ("cycles", cycles.toDouble, "count"),
        ("search_batches", searchS.size.toDouble, "count"),
        ("setup_s", Stats.p50(setups), "s"),
        ("curate_docs_per_s", docsPerS, "1/s"),
        ("ann_build_s", Stats.p50(buildS.toSeq), "s"),
        ("ann_search_p50_s", Stats.p50(searchS.toSeq), "s"),
        (s"ann_recall_at_$K", recall, "ratio"),
        ("driver_heap_mb", heap, "MB")))
  }
}

/** Prints the DuckDB oracle SQL of `curation_pipeline`, for
  * perfbench/oracle.py. */
object OracleSql {
  def main(args: Array[String]): Unit =
    print(CurationOps.curationPipeline.oracle.get)
}
