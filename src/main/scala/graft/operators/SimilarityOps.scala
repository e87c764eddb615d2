package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.Vec.{hamming64, sign_sketch, vec_dot, vec_unit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §7.6).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the full corpus; the scan side stays partition-parallel and the
  * per-row work is a codegen'd dot product ([[graft.functions.Vec]]).
  *
  * Scale path: two-stage sketch search.
  *   1. Every row carries a 256-bit sign sketch: the signs of its dot
  *      products with 256 seeded Rademacher (±1) hyperplanes derived
  *      from the portable hash (a random-projection LSH family — unlike
  *      axis-aligned sign bits, the sketch is distribution-free, and
  *      unlike Gaussian planes it is reproducible by any engine; see
  *      [[graft.functions.Vec.planes]]). Hamming distance between
  *      sketches estimates the angle (E[hamming] ≈ bits·θ/π).
  *   2. A query scans sketches only (4 longs/row: xor + bit_count, ~3% of
  *      the bytes of the float embedding), keeps the top `RescoreBudget`
  *      rows by hamming, and rescores just those with the exact cosine.
  *
  * At 100 TB the sketch column is persisted at ingest (computed once, in
  * the write path) in its own compact column/table; the candidate scan
  * reads no embedding bytes, and only `RescoreBudget` embeddings per query
  * are fetched for rescoring. The top [[IndexBits]] sketch bits double as
  * a coarse partition bucket — on *clustered* real-world embeddings,
  * probing buckets within a hamming radius of the query prunes most
  * partitions; on isotropic corpora (like this synthetic one) bucket
  * pruning is disabled because neighbors spread across buckets — the
  * full-sketch scan is the honest default, and it is cheap.
  *
  * Measured recall vs [[bruteForce]] (this corpus, top-5, 10 queries):
  * 0.96 at sf0.01 (n=500, budget 150; the Gaussian planes measured
  * 0.98 — the portable family costs two points of recall here and buys
  * the full DuckDB hash gate).
  */
object SimilarityOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  val K = 5
  val NumQueries = 10

  /** Sketch width. 256 bits ⇒ hamming std ≈ 8 on random pairs; enough to
    * rank a true neighbor (θ ≈ 60–70° on this corpus) clearly above the
    * 90° bulk. 64 bits measured 0.16–0.24 lower recall at equal budget. */
  val SketchBits = 256

  /** Candidate rows rescored exactly per query (stage-2 budget). */
  val RescoreBudget = 150

  /** Deterministic hyperplane seed (sketches must be stable across
    * executors, replays, and incremental ingests). */
  val SketchSeed = 42L

  /** Coarse bucket width for at-rest partitioning (see class doc). */
  val IndexBits = 8

  private def unit(df: DataFrame): DataFrame =
    df.withColumn("unit", vec_unit(col("embedding")))
      .filter(col("unit").isNotNull)

  /** Run a model-sized driver round-trip (a Lloyd-round sum collect, a
    * trainer init) without AQE and with a single reduce partition. The
    * exchange inside such an action carries O(model) rows (k·dim
    * partial sums per map task — partial aggregation has already
    * reduced the data) at ANY corpus scale, so adaptive re-planning
    * buys nothing (one extra job + planning pass per query stage, which
    * dominates the iterative trainers' wall clock) and fanning the
    * model-sized final merge across the full shuffle-partition count
    * only schedules empty tasks. Scale-safe by construction: this
    * scopes only actions whose shuffled payload is model parameters,
    * never data — the map side stays partition-parallel. */
  private def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val prevAqe = spark.conf.getOption(aqeKey)
    val prevPart = spark.conf.getOption(partKey)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(partKey, "1")
    try body finally {
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
      prevPart match {
        case Some(v) => spark.conf.set(partKey, v)
        case None => spark.conf.unset(partKey)
      }
    }
  }

  private def cosine = vec_dot(col("q_unit"), col("unit"))

  /** Materialize a frame on a background driver thread (optimization
    * guide §2.6 — overlap independent jobs): the recall reports' exact
    * ground truth is independent of the approx side, whose trainer's
    * driver-synchronous Lloyd rounds leave executors idle between
    * model-sized jobs; submitting the brute-force jobs from a second
    * thread back-fills that idle capacity instead of running strictly
    * before it (FIFO scheduling — the trainer's small jobs are not
    * starved). Results are unchanged: the checkpoint holds exactly the
    * rows the eager inline form held, only its wall-clock position
    * moves. The physical plan is pinned on the calling thread BEFORE
    * the thread starts, so a trainer's temporary session-conf flips
    * ([[withoutAqe]]) cannot reach this frame's INITIAL planning — note
    * the precise scope: under AQE the plan re-optimizes at runtime and
    * execution-start conf propagation could still observe a flip that
    * happens mid-execution, which for the two keys [[withoutAqe]]
    * touches (AQE on/off, shuffle partition count) is a perf-only
    * effect, never a correctness one. Callers hold the
    * single-threaded-trainer invariant: one trainer drives the session
    * conf at a time, with only this helper's background thread running
    * concurrently.
    * Returns a handle that blocks until the checkpoint is live; a
    * failure on the background thread (including fatal ones — OOM,
    * linkage) re-throws at the handle, never a bare NPE. The background
    * jobs run under their own job group so a caller's failure path can
    * [[CkptHandle.cancel]] them instead of orphaning them. */
  private[graft] def checkpointAsync(df: DataFrame): CkptHandle = {
    df.queryExecution.executedPlan // pin the plan under the caller's conf
    val sc = df.sparkSession.sparkContext
    val group = s"graft-ckpt-async-${java.util.UUID.randomUUID()}"
    @volatile var out: scala.util.Try[DataFrame] =
      scala.util.Failure(new IllegalStateException(
        "checkpointAsync thread died before recording a result"))
    val t = new Thread(() => {
      // job group is thread-local — tag only the background jobs
      sc.setJobGroup(group, "checkpointAsync background materialization",
        interruptOnCancel = true)
      out =
        try scala.util.Success(df.localCheckpoint())
        catch { case e: Throwable => scala.util.Failure(e) }
    })
    t.setDaemon(true)
    t.start()
    new CkptHandle(t, sc, group, () => out)
  }

  /** Handle for [[checkpointAsync]]: `apply()` blocks until the
    * background checkpoint is live (re-throwing its failure, if any);
    * `cancel()` cancels the background job group — the caller's failure
    * path between spawn and join, so an aborted trainer never leaves an
    * orphaned thread scheduling jobs. */
  private[graft] final class CkptHandle(t: Thread,
      sc: org.apache.spark.SparkContext, group: String,
      result: () => scala.util.Try[DataFrame]) extends (() => DataFrame) {
    def apply(): DataFrame = { t.join(); result().get }
    def cancel(): Unit = sc.cancelJobGroup(group)
  }

  /** Run `body` (the approx side's trainer + report construction) with
    * the background ground truth in flight; if it throws (a trainer
    * precondition, an OOM), cancel the orphaned background jobs before
    * propagating — closes the spawn-to-join cancellation gap. */
  private def withGroundTruth[T](exactF: CkptHandle)(body: => T): T =
    try body
    catch { case e: Throwable => exactF.cancel(); throw e }

  /** sketch: array of SketchBits/64 longs; bit i is the sign of
    * ⟨unit, hyperplane_i⟩. A codegen'd [[graft.functions.Vec]] kernel —
    * computed in the scan stage, no interpreted lambdas. */
  def withSketch(df: DataFrame): DataFrame =
    df.withColumn("sketch", sign_sketch(col("unit"), SketchSeed, SketchBits))

  /** Exact top-k neighbors for query vectors vec_id < NumQueries. */
  val bruteForce: GraftQuery = GraftQuery(
    "ann_topk_brute",
    (s, dir) => {
      val all = unit(emb(s, dir))
      val queries = all.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      all.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
    },
    Some(
      // u mirrors the engine's unit() (zero-norm filter + fixed-order
      // norm fold) and the ranking key is the same left-to-right
      // unit-dot fold the codegen'd kernel computes — NOT DuckDB's
      // list_cosine_similarity over raw embeddings, whose ~1-ulp
      // differences from the engine's fold could swap near-tied ranks
      // (the vec_id tie-break only covers exact ties). Bit-identical
      // ranking keys make the gate robust under corpus regeneration,
      // like the lsh/ivf oracles.
      s"""WITH $unitCteSql
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.unit", "n.unit")}
         |        DESC, n.vec_id) AS rank
         |  FROM u q, u n
         |  WHERE q.vec_id < $NumQueries AND n.vec_id <> q.vec_id) sub
         |WHERE rank <= $K""".stripMargin))

  /** Metadata-filtered top-k — the filtered-ANN shape every production
    * vector search needs (neighbors among vectors satisfying an
    * attribute predicate; here: sharing the QUERY's label, the
    * same-category search). PRE-filtered by construction: the label
    * equi-join replaces the crossJoin, so a candidate outside the
    * query's label partition is never ranked (and with a label-
    * partitioned or label-sorted at-rest layout the predicate prunes
    * IO before any distance math — the composition [[graft.operators
    * .LayoutOps]] provides). Post-filtering a plain top-k instead would
    * under-fill k whenever the unfiltered neighborhood is dominated by
    * other labels — the classic filtered-ANN correctness trap. */
  val filteredTopK: GraftQuery = GraftQuery(
    "ann_topk_filtered",
    (s, dir) => {
      val all = unit(emb(s, dir))
        .select(col("vec_id"), col("unit"), col("label"))
      val queries = all.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"),
          col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      all.join(broadcast(queries), "label")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"), col("label"))
    },
    Some(
      s"""WITH $unitCteSql,
         |ul AS (
         |  SELECT u.vec_id, u.unit, e.label
         |  FROM u JOIN embeddings e USING (vec_id))
         |SELECT query_id, neighbor_id, rank, label FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    q.label AS label,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.unit", "n.unit")}
         |        DESC, n.vec_id) AS rank
         |  FROM ul q JOIN ul n
         |    ON n.label = q.label AND n.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries) sub
         |WHERE rank <= $K""".stripMargin))

  /** Range-search similarity floor in integer basis points: every
    * neighbor whose RENDERED cos_bp = floor(cos·10⁴) meets this is
    * returned (vs top-k's fixed count). Thresholding the same integer
    * the row renders leaves ONE floor boundary per row (the accepted
    * per-row cos_bp exposure every sketch/vec probe shares) instead of
    * adding a second, independent raw-double membership boundary with
    * no tie-break. 2500 ≈ 2σ on this isotropic corpus — a stable,
    * non-trivial result set. */
  val RangeCosBp = 2500L

  /** Radius/range search: ALL neighbors within a similarity floor per
    * query — the other half of the standard vector-search API (top-k
    * bounds the count, range bounds the distance; dedup gating and
    * "find everything similar enough" recall jobs need the latter).
    * This is the exact reference implementation; at rest the `vec`
    * index kind IS the scale path for high thresholds
    * ([[graft.store.IndexStore.search]]'s sign-bucket + Hamming-1
    * multi-probe serves range queries without scanning history), and
    * the sketch/ivf kinds serve lower thresholds with their own
    * prunes. */
  val rangeSearch: GraftQuery = GraftQuery(
    "ann_range_search",
    (s, dir) => {
      val all = unit(emb(s, dir)).select(col("vec_id"), col("unit"))
      val queries = all.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
      all.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine)
        .withColumn("cos_bp", floor(col("cos") * 10000).cast("long"))
        .filter(col("cos_bp") >= lit(RangeCosBp))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cos_bp"))
    },
    Some(
      s"""WITH $unitCteSql
         |SELECT query_id, neighbor_id, cos_bp FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    CAST(floor(${dotSql("q.unit", "n.unit")} * 10000) AS BIGINT)
         |      AS cos_bp
         |  FROM u q, u n
         |  WHERE q.vec_id < $NumQueries AND n.vec_id <> q.vec_id) s
         |WHERE cos_bp >= $RangeCosBp""".stripMargin))

  /** The ingest-side index: unit-normalized vectors with their sketches —
    * persist this (parquet) and every later search reads sketches at
    * rest instead of recomputing them. */
  def buildSketchIndex(e: DataFrame): DataFrame = withSketch(unit(e))

  /** Two-stage search over a sketch-indexed corpus (`vec_id`, `unit`,
    * `sketch` columns — inline from [[buildSketchIndex]] or read from a
    * persisted index table): hamming scan, exact rescore of the top
    * [[RescoreBudget]], top-k by cosine.
    *
    * The candidate stage really does read no embedding bytes: the scan
    * side projects (vec_id, sketch) only, so the crossJoin and the
    * per-query row_number shuffle move 4 longs per row, not the float
    * vector. Unit vectors are fetched afterwards, by joining the
    * numQueries·RescoreBudget survivor ids (broadcast — it is tiny by
    * construction) back to the index; with a persisted columnar index,
    * column pruning makes that deferred fetch the only embedding read. */
  def sketchSearch(all: DataFrame, numQueries: Int = NumQueries): DataFrame =
    twoStageSearch(all,
      all.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"),
          col("sketch").as("q_sketch")))

  /** Search an at-rest sketch index with EXTERNAL query embeddings
    * (`vec_id`, `embedding`): the queries are sketched on the fly —
    * O(queries) work — while the index side reads its sketches from
    * parquet, never recomputing them ([[graft.store.IndexStore]] search
    * path). A query whose vec_id collides with an index id is excluded
    * from its own neighbor list, same as the inline search. */
  def sketchProbe(index: DataFrame, queryEmb: DataFrame): DataFrame =
    twoStageSearch(index,
      withSketch(unit(queryEmb))
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"),
          col("sketch").as("q_sketch")))

  private def twoStageSearch(all: DataFrame, qs: DataFrame): DataFrame = {
    val queries = qs
    val byHamming = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val survivors = all.select(col("vec_id"), col("sketch"))
      .crossJoin(broadcast(queries.select(col("query_id"), col("q_sketch"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", hamming64(col("sketch"), col("q_sketch")))
      .withColumn("cand_rank", row_number().over(byHamming))
      .filter(col("cand_rank") <= RescoreBudget)
      .select(col("query_id"), col("vec_id"))
    all.select(col("vec_id"), col("unit"))
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("q_unit"))),
        "query_id")
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= K)
      // floor(cos·10⁴): one double multiply + floor — exact cross-engine
      // (a decimal ROUNDING of the double would ride on each engine's
      // convention; floor does not)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** Sketch-LSH approximate top-k: hamming scan over the 256-bit sketches,
    * exact rescore of the top [[RescoreBudget]] candidates. FULLY
    * hash-oracled since round 9: the Rademacher planes derive from the
    * portable hash, the unit norm / projection / cosine folds are all
    * fixed-order double arithmetic, so DuckDB recomputes sketch bits,
    * hamming ranks, the rescore and the final ranking bit-for-bit.
    * TrainingOpsSpec additionally asserts recall ≥ 0.8 vs [[bruteForce]]
    * at sf0.01 and persisted-index equivalence. */
  val lshTopK: GraftQuery = GraftQuery(
    "ann_topk_lsh",
    (s, dir) =>
      // localCheckpoint: sketches feed both join sides; truncating the
      // lineage keeps AQE from re-canonicalizing the self-join plan per
      // query stage (see graft-build-notes).
      sketchSearch(buildSketchIndex(emb(s, dir)).localCheckpoint()),
    Some(lshOracleSql))

  // ---------------------------------------------------------------------
  // IVF (inverted-file) index — the clustered-data scale path
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // Oracle SQL for the sketch search: DuckDB recomputes unit vectors
  // (fixed-order norm fold), the Rademacher plane matrix (popcount
  // parity of the portable hash of "seed:i:j" — see Vec.planes), the
  // per-vector sketch bits, the hamming candidate ranking, and the
  // exact-cosine rescore, all with the same left-to-right double folds
  // the codegen'd kernels use, so every intermediate is bit-identical.
  // ---------------------------------------------------------------------

  /** Zero-norm-filtered unit vectors as a DuckDB CTE — mirrors the
    * engine's [[unit]] (fixed-order norm fold, null-filter). Shared by
    * the sketch and ivf oracles so the two can never drift. */
  private def unitCteSqlFrom(src: String, name: String = "u"): String =
    s"""$name AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(embedding,
       |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
       |        (a, b) -> a + b))) AS unit
       |  FROM $src
       |  WHERE list_sum(list_transform(embedding,
       |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0)""".stripMargin

  private def unitCteSql: String = unitCteSqlFrom("embeddings")

  /** DuckDB mirror of [[graft.functions.Vec.dot]] (left-to-right fold
    * over the common prefix). Lambda vars are obscure (dj/da/db) so the
    * fragment composes inside callers' windows without shadowing. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, least(len($a), len($b))), " +
      s"dj -> ($a)[dj] * ($b)[dj])), (da, db) -> da + db)"

  /** CTE chain: u (unit vectors) / pl (plane matrix) / sk (sketch bits)
    * / surv (hamming top-budget) / lsh (rescored top-k). */
  private def sketchCtesSql: String = {
    val planeHash = DedupOps.pHashSql(
      s"('$SketchSeed:' || CAST(i.i AS VARCHAR) || ':' || " +
        "CAST(j - 1 AS VARCHAR))")
    s"""$unitCteSql,
       |pl AS (
       |  SELECT list(srow ORDER BY i) AS mat FROM (
       |    SELECT i.i, list_transform(
       |      generate_series(1, (SELECT max(len(embedding)) FROM embeddings)),
       |      j -> CASE WHEN bit_count($planeHash) & 1 = 1
       |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS srow
       |    FROM (SELECT unnest(generate_series(0, ${SketchBits - 1})) AS i) i)),
       |sk AS (
       |  SELECT vec_id, list_transform(generate_series(1, $SketchBits), bi ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(generate_series(1, len(unit)),
       |          j -> unit[j] * mat[bi][j])),
       |      (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END) AS bits
       |  FROM u CROSS JOIN pl),
       |surv AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, $SketchBits), i ->
       |          CASE WHEN q.bits[i] <> n.bits[i] THEN 1 ELSE 0 END)),
       |        n.vec_id) AS cand_rank
       |    FROM sk q JOIN sk n ON n.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries)
       |  WHERE cand_rank <= $RescoreBudget),
       |lsh AS (
       |  SELECT query_id, vec_id AS neighbor_id, rank,
       |    CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
       |  FROM (
       |    SELECT s.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY cos DESC, s.vec_id) AS rank, cos
       |    FROM (
       |      SELECT s.query_id, s.vec_id,
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(generate_series(1, len(uq.unit)),
       |            j -> uq.unit[j] * un.unit[j])), (a, b) -> a + b) AS cos
       |      FROM surv s
       |      JOIN u uq ON uq.vec_id = s.query_id
       |      JOIN u un ON un.vec_id = s.vec_id) s)
       |  WHERE rank <= $K)""".stripMargin
  }

  private def lshOracleSql: String =
    s"""WITH $sketchCtesSql
       |SELECT query_id, neighbor_id, rank, cos_bp FROM lsh""".stripMargin

  /** IVF cell count. Real deployments size this ~sqrt(corpus); 16 keeps
    * the driver corpus's cells populated. */
  val IvfCells = 16

  /** Cells probed per query. The scan-fraction/recall dial: on clustered
    * corpora (where IVF belongs) a query's true neighbors concentrate in
    * a few cells and nprobe/k is the fraction of the corpus touched. On
    * an ISOTROPIC corpus neighbors spread across cells and recall decays
    * toward nprobe/k — that is this synthetic corpus, which is why
    * [[lshTopK]] (full sketch scan) is the driver-facing default and the
    * IVF recall gate runs on a clustered spec corpus instead. */
  val IvfProbes = 4

  /** Fixed Lloyd rounds — no convergence test, so runs are deterministic
    * and replay-identical. */
  val IvfIters = 4

  /** Centroid-sum quantization grid: unit components are snapped to
    * 1/2^40 before the per-cell Lloyd sum, making the sum an EXACT
    * integer — order-independent across partitions (double summation is
    * not), and recomputable verbatim by any engine. The quantization
    * error (~1e-12 relative) is noise next to the cluster noise k-means
    * averages over. The 1/n of the mean is skipped entirely: the
    * spherical update only needs the DIRECTION, and normalize(sum/n) =
    * normalize(sum). */
  val IvfQuant: Double = (1L << 40).toDouble

  /** The centroid model as a driver array indexed by cell — the literal
    * the assignment expressions close over ([[graft.functions.Vec
    * .ivf_cell]]). Model-sized by construction (k rows); collecting an
    * at-rest centroid table is one tiny read, and a trainer-local
    * LocalTableScan collects without a job at all. */
  private[graft] def collectCents(centroids: DataFrame): Array[Array[Double]] = {
    val rows = centroids.select(col("cell"), col("centroid")).collect()
    require(rows.nonEmpty, "centroid model is empty")
    val arr = new Array[Array[Double]](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => arr(r.getInt(0)) = r.getSeq[Double](1).toArray)
    require(arr.forall(_ != null),
      "centroid model has holes — cells must be dense 0..k-1")
    arr
  }

  /** The PQ codebook as a driver [m][ks][dsub] array — the literal the
    * code-assignment expressions close over ([[graft.functions.Vec
    * .pq_codes]] / [[graft.functions.Vec.pq_table]]). Model-sized (M·ks
    * rows). */
  private[graft] def collectCodebook(
      codebook: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebook.select(col("sub"), col("code"), col("centroid"))
      .collect()
    require(rows.nonEmpty, "pq codebook is empty")
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val arr = Array.ofDim[Array[Double]](m, ks)
    rows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    require(arr.forall(_.forall(_ != null)),
      "pq codebook has holes — (sub, code) must be dense")
    arr
  }

  /** The codebook's exact integer pairs as driver arrays — sq indexed
    * [sub][code][dpos], cq indexed [sub][code] — for the literal-closure
    * distortion kernel ([[graft.functions.Vec.pq_dist_q_all]]). */
  private[graft] def collectExactPairs(codebook: DataFrame)
      : (Array[Array[Array[Long]]], Array[Array[Long]]) = {
    val rows = codebook.select(col("sub"), col("code"), col("sq"),
      col("cq")).collect()
    require(rows.nonEmpty, "pq codebook is empty")
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val sq = Array.ofDim[Array[Long]](m, ks)
    val cq = Array.ofDim[Long](m, ks)
    rows.foreach { r =>
      sq(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
      cq(r.getInt(0))(r.getInt(1)) = r.getLong(3)
    }
    require(sq.forall(_.forall(_ != null)),
      "pq codebook has holes — (sub, code) must be dense")
    (sq, cq)
  }

  /** Spherical k-means coarse quantizer over (vec_id, unit) rows.
    * Returns (cells, centroids): cells = (vec_id, unit, cell) — persist
    * this partitioned BY cell so a probe prunes partitions; centroids =
    * (cell, centroid), O(k·dim) — the model, not data.
    *
    * Distribution (round 20): the model is driver-resident between
    * rounds anyway, so assignment is a literal-closure argmax
    * projection ([[graft.functions.Vec.ivf_cell]] — same dot fold, same
    * max(struct(dot, cell)) tie-break) instead of a crossJoin with k
    * broadcast centroids followed by a groupBy(vec_id) exchange: each
    * Lloyd round is now ONE scan → partial-agg sum → k·dim collect,
    * with no unit bytes ever shuffled. Only the k·dim centroid matrix
    * reaches the driver (model PARAMETERS between rounds — ~4 KB here;
    * the corpus itself never leaves the executors).
    * Deterministic end-to-end AND portable (round-9): seeded init = k
    * smallest portable pair-hash of 'ivf:vec_id', fixed iteration
    * count, [[IvfQuant]]-integer sums (exact at any partitioning; the
    * decimal accumulator never wraps), struct-max tie-breaks. Every
    * step is plain integer arithmetic or a fixed-order double fold, so
    * the `ann_topk_ivf` oracle unrolls the whole trainer in DuckDB. */
  def buildIvfIndex(units: DataFrame, k: Int = IvfCells,
      iters: Int = IvfIters, checkpointCells: Boolean = true)
      : (DataFrame, DataFrame) = {
    val spark = units.sparkSession
    var centroids: Seq[(Int, Seq[Double])] = withoutAqe(spark)(units
      .orderBy(graft.functions.Vec.portable_hash64(
        concat(lit("ivf:"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(k)
      .select(col("unit")).collect())
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0) }.toSeq
    require(centroids.nonEmpty, "buildIvfIndex: empty corpus")
    val dim = centroids.head._2.length

    def centDf: DataFrame = {
      import spark.implicits._
      centroids.toDF("cell", "centroid")
    }
    // Argmax assignment as a literal-closure projection over the
    // driver-resident centroid matrix — no crossJoin fan-out, no
    // groupBy(vec_id) exchange, no unit bytes shuffled per round.
    def centArr: Array[Array[Double]] = {
      val arr = new Array[Array[Double]](centroids.length)
      centroids.foreach { case (cell, v) => arr(cell) = v.toArray }
      arr
    }
    def assign(): DataFrame = ivfAssignArr(units, centArr)

    for (round <- 1 to iters) {
      // floor(x·Q + 0.5) (explicit round-half-up on both engines — JVM
      // Math.round and SQL round() disagree on negative halves) happens
      // INSIDE the round-rows kernel, which emits (cell, pos, xq)
      // structs in one call per row: the argmax cannot be re-evaluated
      // per exploded element by projection collapse.
      val sums = withoutAqe(spark)(units
        .select(explode(graft.functions.Vec.ivf_round_rows(col("unit"),
          centArr, IvfQuant)).as("r"))
        .select(col("r.cell").as("cell"), col("r.pos").as("pos"),
          col("r.xq").as("xq"))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("xq").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("c"))
        .collect())
      val byCell = sums.groupBy(_.getInt(0))
      // Fixed-dimension precondition, checked from the round-1 sums (no
      // extra corpus pass — posexplode already visited every component).
      // Vec.dot tolerates ragged lengths via common-prefix semantics,
      // but the Lloyd sum does not: a dimension a vector lacks reads as
      // 0.0 in the engine's dense array and as NULL in the oracle's
      // unnest — silently divergent centroids (or an out-of-range write
      // when a vector is LONGER than the init centroid). A fixed-dim
      // cell shows exactly `dim` pos groups with one uniform member
      // count; any ragged shape breaks one of the three checks.
      if (round == 1) byCell.foreach { case (cell, rows) =>
        require(rows.length == dim && rows.forall(_.getInt(1) < dim) &&
            rows.map(_.getLong(3)).distinct.length == 1,
          s"buildIvfIndex: embeddings must share one dimension (cell " +
            s"$cell saw ${rows.length} dimensions, init expects $dim)")
      }
      centroids = centroids.map { case (cell, old) =>
        byCell.get(cell) match {
          case None => cell -> old // empty cell keeps its centroid
          case Some(rows) =>
            val sv = new Array[Double](dim)
            rows.foreach(r => sv(r.getInt(1)) =
              r.getDecimal(2).doubleValue)
            val norm = math.sqrt(sv.map(x => x * x).sum)
            cell -> (if (norm == 0) old
                     else sv.map(_ / norm).toSeq)
        }
      }
    }
    // centDf is a LocalTableScan over driver data — free to re-evaluate,
    // no checkpoint job needed. The cells output is checkpointed when
    // the caller scans it more than once (ivfSearch: probe list + cell
    // scan); residual-based callers consume it exactly once into their
    // own checkpoint and pass checkpointCells = false to skip the
    // wasted materialization job.
    val cells = assign().select(col("vec_id"), col("unit"), col("cell"))
    (if (checkpointCells) cells.localCheckpoint() else cells, centDf)
  }

  /** IVF search: rank cells by query-centroid affinity, scan the top
    * `nprobe` cells only, exact top-k by cosine inside them. The probe
    * list is O(queries·nprobe) — broadcast; with `cells` persisted
    * partitioned by cell, the probe join prunes all unprobed partitions
    * and the scan touches nprobe/k of the corpus. */
  def ivfSearch(cells: DataFrame, centroids: DataFrame, nprobe: Int,
      numQueries: Int = NumQueries): DataFrame =
    ivfSearchWithProbes(cells,
      ivfProbes(cells.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit")),
        centroids, nprobe))

  /** The probe list — each query's top-`nprobe` cells by centroid
    * affinity: O(queries·k) work against the tiny centroid table, no
    * corpus access at all. Split out so an at-rest search
    * ([[graft.store.IndexStore]]) can compute WHICH cells it needs
    * before reading any cell data, and prune the rest from the
    * manifest. */
  def ivfProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    ivfProbesArr(queries, collectCents(centroids), nprobe)

  /** [[ivfProbes]] against an ALREADY-COLLECTED centroid matrix — the
    * form for callers that need the model array anyway (at-rest
    * searches), so the model parquet is read by exactly ONE driver job
    * per query instead of once per consumer (round-21: the eager
    * per-consumer collects were ~1 scheduled job each inside the timed
    * search region). Wrong-dimension queries fail loudly inside the
    * [[graft.functions.Vec.ivf_top_cells]] kernel. */
  def ivfProbesArr(queries: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    // literal-closure top-cells selection (aff DESC, cell ASC — the
    // row_number tie-break) over the collected model: one projection,
    // no crossJoin, no per-query window exchange
    queries.select(col("query_id"), col("q_unit"),
      explode(graft.functions.Vec.ivf_top_cells(col("q_unit"), cents,
        nprobe)).as("cell"))

  /** Scan stage of the IVF search: exact top-[[K]] by cosine inside the
    * probed cells only (`probes` from [[ivfProbes]]). */
  def ivfSearchWithProbes(cells: DataFrame, probes: DataFrame): DataFrame = {
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vec_dot(col("q_unit"), col("unit")))
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= K)
      // floor-basis-points render like the lsh search — floor is the
      // same function on both engines (round() half-behavior is not)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** Unit-normalize raw (vec_id, embedding) rows — the public form for
    * index builders outside this object (zero-norm vectors dropped). */
  def unitVectors(e: DataFrame): DataFrame =
    unit(e).select(col("vec_id"), col("unit"))

  /** Assign unit vectors to their nearest EXISTING centroid — the IVF
    * ingest path for new batches: the model (centroids) stays fixed, the
    * new vectors just land in their cells. One shuffle-free projection
    * of the batch against the collected (model-sized) centroid matrix —
    * same dot fold and max(struct(dot, cell)) tie-break as the
    * crossJoin + groupBy form it replaces ([[graft.functions.Vec
    * .ivfCell]]). */
  def ivfAssign(units: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignArr(units, collectCents(centroids))

  private def ivfAssignArr(units: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    units.select(col("vec_id"),
      graft.functions.Vec.ivf_cell(col("unit"), cents).as("cell"),
      col("unit"))

  /** Argmax-assignment SQL body shared by every trainer round and the
    * final `cells` CTE (one copy, so the engine's struct-max tie-break —
    * dot DESC, cell DESC — cannot drift between them). */
  private def ivfAssignSql(centTable: String): String =
    s"""SELECT vec_id, unit, cell FROM (
       |    SELECT q.vec_id, q.unit, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dotSql("q.unit", "c.centroid")} DESC, c.cell DESC) AS ark
       |    FROM u q CROSS JOIN $centTable c) s
       |  WHERE ark = 1""".stripMargin

  /** The [[buildIvfIndex]] trainer unrolled as DuckDB CTEs (the BPE
    * pattern: a fixed-round iterative fold has no single-statement SQL
    * form, but a FIXED iteration count unrolls; MATERIALIZED stops the
    * per-reference re-inlining that would re-run every earlier round
    * exponentially). Round r: `asg{r}` = argmax assignment under the
    * previous centroids (dot DESC, cell DESC tie — the engine's
    * struct-max), `csum{r}` = per-(cell, dim) sum of [[IvfQuant]]-
    * quantized components (BIGINT → exact, order-free), `ivf{r}` = the
    * normalized sum directions, empty/zero-sum cells keeping their old
    * centroid. `ivf0` is the init: the k smallest portable hashes of
    * 'ivf:vec_id'. */
  private def ivfTrainCtesSql(k: Int, iters: Int): String = {
    val qLit = java.lang.Double.toString(IvfQuant)
    val dimSql = "(SELECT max(len(unit)) FROM u)"
    val init =
      s"""ivf0 AS MATERIALIZED (
         |  SELECT CAST(irn - 1 AS INTEGER) AS cell, unit AS centroid FROM (
         |    SELECT unit, row_number() OVER (ORDER BY
         |      ${DedupOps.pHashSql("('ivf:' || CAST(vec_id AS VARCHAR))")},
         |      vec_id) AS irn FROM u) i
         |  WHERE irn <= $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""asg$r AS MATERIALIZED (
         |  ${ivfAssignSql(s"ivf${r - 1}")}),
         |csum$r AS MATERIALIZED (
         |  SELECT cell, dpos,
         |    sum(CAST(floor(unit[dpos] * $qLit + 0.5) AS BIGINT)) AS s
         |  FROM asg$r, (SELECT unnest(generate_series(1, $dimSql)) AS dpos) d
         |  GROUP BY 1, 2),
         |ivf$r AS MATERIALIZED (
         |  SELECT p.cell,
         |    CASE WHEN n.nrm IS NULL OR n.nrm = 0 THEN p.centroid
         |         ELSE list_transform(n.sv, sx -> sx / n.nrm) END AS centroid
         |  FROM ivf${r - 1} p LEFT JOIN (
         |    SELECT cell, sv,
         |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(sv, sy -> sy * sy)), (na, nb) -> na + nb))
         |        AS nrm
         |    FROM (SELECT cell, list(CAST(s AS DOUBLE) ORDER BY dpos) AS sv
         |      FROM csum$r GROUP BY cell) g) n
         |  ON n.cell = p.cell)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** The whole `ann_topk_ivf` pipeline in one DuckDB statement: unit
    * vectors → the unrolled trainer → final cell assignment → per-query
    * probe list (top-nprobe cells by centroid affinity, cell ASC tie) →
    * exact top-[[K]] inside the probed cells. Every double is a
    * fixed-order fold over integers or previously-pinned doubles, so
    * the hash gate holds bit-for-bit. */
  private def ivfOracleSql: String =
    s"""WITH $unitCteSql,
       |${ivfTrainCtesSql(IvfCells, IvfIters)},
       |cells AS MATERIALIZED (
       |  ${ivfAssignSql(s"ivf$IvfIters")}),
       |probes AS MATERIALIZED (
       |  SELECT query_id, q_unit, cell FROM (
       |    SELECT a.vec_id AS query_id, a.unit AS q_unit, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dotSql("a.unit", "c.centroid")} DESC, c.cell ASC) AS prk
       |    FROM cells a CROSS JOIN ivf$IvfIters c
       |    WHERE a.vec_id < $NumQueries) s
       |  WHERE prk <= $IvfProbes)
       |SELECT query_id, neighbor_id, rank, cos_bp FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY s.cos DESC, s.vec_id) AS rank,
       |    CAST(floor(s.cos * 10000) AS BIGINT) AS cos_bp
       |  FROM (
       |    SELECT p.query_id, t.vec_id,
       |      ${dotSql("p.q_unit", "t.unit")} AS cos
       |    FROM cells t JOIN probes p ON p.cell = t.cell
       |    WHERE t.vec_id <> p.query_id) s) r
       |WHERE rank <= $K""".stripMargin

  /** IVF approximate top-k over the driver corpus. Hash-oracled since
    * round 9 (see [[ivfTrainCtesSql]] — the "iterative FP centroid
    * means" blocker fell to integer-quantized sums plus the
    * normalize(sum/n) = normalize(sum) identity). Recall semantics
    * unchanged: on this isotropic corpus recall tracks nprobe/k (see
    * [[IvfProbes]]); the recall contract (≥ 0.9 at nprobe/k = 1/5 scan
    * fraction) stays spec-asserted on a clustered corpus in
    * TrainingOpsSpec, where IVF is the right index. */
  val ivfTopK: GraftQuery = GraftQuery(
    "ann_topk_ivf",
    (s, dir) => {
      val units = unit(emb(s, dir))
        .select(col("vec_id"), col("unit")).localCheckpoint()
      val (cells, cents) = buildIvfIndex(units)
      ivfSearch(cells, cents, IvfProbes)
    },
    Some(ivfOracleSql))

  /** Self-measuring ANN quality: recall@[[K]] of the sketch-LSH search
    * against the exact brute-force top-k, per query plus an "all" total
    * row, in integer basis points. This is the telemetry a real
    * deployment runs on a sampled query set to pick its rescore budget;
    * after the two searches themselves, the recall join touches
    * NumQueries·K rows — negligible. IVF is deliberately absent: on
    * this isotropic corpus its recall is the misleading ~nprobe/cells
    * number (see [[IvfProbes]]) — its gate lives in TrainingOpsSpec on
    * a clustered corpus, where the index belongs. Hash-oracled since
    * round 9: the sketch engine is portable, so DuckDB recomputes BOTH
    * searches and the recall arithmetic; TrainingOpsSpec additionally
    * bounds the values. */
  val recallReport: GraftQuery = GraftQuery(
    "ann_recall_report",
    (s, dir) => {
      // ground truth on a background thread (guide §2.6): its jobs
      // back-fill the executors while the sketch index materializes
      val exactF = checkpointAsync(bruteForce.fn(s, dir)
        .select(col("query_id"), col("neighbor_id")))
      withGroundTruth(exactF) {
      val lsh = sketchSearch(buildSketchIndex(emb(s, dir)).localCheckpoint())
        .select(col("query_id"), col("neighbor_id"))
      val perQuery = exactF()
        .join(lsh.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L)))
          .as("hits"))
        // NumQueries rows, feeding both union branches — without the
        // truncation the whole sketch search would run twice
        .localCheckpoint()
      perQuery
        .select(col("query_id").cast("string").as("query"),
          expr("hits * 10000 div n").as("recall_bp"))
        .unionAll(perQuery
          .agg(sum(col("hits")).as("hits"), sum(col("n")).as("n"))
          .select(lit("all").as("query"),
            expr("hits * 10000 div n").as("recall_bp")))
      }
    },
    Some(
      // brute ranks with the same fixed-order unit-dot fold as the
      // engine (and as the lsh CTE's rescore) — see ann_topk_brute's
      // oracle for why list_cosine_similarity over raw embeddings
      // would be ulp-fragile. sketchCtesSql already defines u.
      s"""WITH $sketchCtesSql,
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotSql("q.unit", "n.unit")}
         |          DESC, n.vec_id) AS rank
         |    FROM u q, u n
         |    WHERE q.vec_id < $NumQueries AND n.vec_id <> q.vec_id) sub
         |  WHERE rank <= $K),
         |perq AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS hits
         |  FROM brute b LEFT JOIN lsh l
         |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |  GROUP BY 1)
         |SELECT CAST(query_id AS VARCHAR) AS query,
         |  hits * 10000 // n AS recall_bp FROM perq
         |UNION ALL
         |SELECT 'all',
         |  CAST(sum(hits) * 10000 // sum(n) AS BIGINT) FROM perq""".stripMargin))

  /** Vectors kept per IVF cell by [[diverseSample]]. */
  val DiversePerCell = 10

  /** Embedding-diversity sample: at most [[DiversePerCell]] vectors per
    * space cell, chosen by deterministic hash rank — the
    * spread-across-the-space subset a curation pipeline feeds to
    * expensive downstream stages (human review, teacher scoring)
    * instead of a uniform draw that oversamples dense regions. Takes
    * any (vec_id, cell) partition of the space: a persisted IVF
    * index's cells ([[buildIvfIndex]]) when one exists, or the
    * scan-speed sign-bucket partition the driver query uses. The
    * sample itself is one window shuffle keyed by cell; the in-cell
    * rank hash is the portable pair-hash of the id, so any engine
    * reproduces the draw (hash-oracled since round 9; TrainingOpsSpec
    * pins the quota, rank shape, and determinism). */
  def diverseSample(cells: DataFrame,
      perCell: Int = DiversePerCell): DataFrame = {
    val byHash = Window.partitionBy(col("cell"))
      .orderBy(graft.functions.Vec
          .portable_hash64(col("vec_id").cast("string")),
        col("vec_id"))
    cells
      .withColumn("rnk", row_number().over(byHash))
      .filter(col("rnk") <= perCell)
      .select(col("vec_id"), col("cell"), col("rnk"))
  }

  val diverse: GraftQuery = GraftQuery(
    "sample_diverse",
    (s, dir) =>
      // sign-bucket cells (one codegen'd scan, no Lloyd): 6 bits → 64
      // cells, same order of magnitude as IvfCells. With a persisted
      // IVF index, pass its cells instead.
      diverseSample(graft.operators.DedupOps
        .normalizedWithBucket(emb(s, dir), bits = 6)
        .select(col("vec_id"), col("bucket").as("cell"))),
    Some(
      s"""WITH nz AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE list_sum(list_transform(embedding,
         |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0),
         |cells AS (
         |  SELECT vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(generate_series(1, 6), i ->
         |      CASE WHEN embedding[i] >= 0 THEN CAST(1 AS BIGINT)
         |           ELSE 0 END)),
         |    (a, x) -> a * 2 + x) AS cell
         |  FROM nz)
         |SELECT vec_id, cell, rnk FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY ${DedupOps.pHashSql("CAST(vec_id AS VARCHAR)")},
         |      vec_id) AS rnk
         |  FROM cells)
         |WHERE rnk <= $DiversePerCell""".stripMargin))

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the memory-bound scale path
  // ---------------------------------------------------------------------

  /** PQ subspace count M: the unit vector splits into M contiguous
    * subvectors, each quantized independently. With [[PqCodes]] = 16 a
    * code is 4 bits — a 64-dim double corpus compresses 512 bytes →
    * M·4 bits of code payload, measured 8.2 B/row as a parquet int
    * array, 50× under the unit column (plus one shared M·ks·dsub
    * codebook), the
    * Jégou/Douze/Schmid IVF-ADC design: at 100 TB the code table is
    * the only per-row ANN state resident in memory, ~1% of the
    * embedding bytes, and the ADC scan does M integer lookups per row
    * instead of a dim-wide float dot. */
  val PqSubs = 8

  /** Codes per subspace (codebook rows per sub). 16 keeps the oracle's
    * unrolled trainer tractable and the driver corpus's cells populated;
    * production uses 256 (1 byte/sub) — nothing below depends on the
    * value. */
  val PqCodes = 16

  /** Fixed Lloyd rounds per subspace — deterministic, replay-identical,
    * and unrollable in the oracle (the [[IvfIters]] discipline). */
  val PqIters = 3

  /** Quantization grid for BOTH the centroid sums and the ADC distance
    * tables: 2^32 (not [[IvfQuant]]'s 2^40) so count·grid stays exactly
    * representable in a double up to ~2M rows per (sub, code) — the
    * centroid mean is S/(c·Q) with S, c, c·Q all exact, making the
    * codebook bit-identical at ANY partitioning and in any engine.
    * Table entries floor(d2·Q + 0.5) are BIGINT, so the ADC distance is
    * an integer SUM — order-free, and the oracle can recompute it with
    * a plain join-aggregate while the engine uses an array lookup. */
  val PqQuant: Double = (1L << 32).toDouble

  /** Train per-subspace codebooks over (vec_id, unit) rows: M·ks
    * centroids of dimension dim/M. Returns (subs, codebook):
    * `subs` = (vec_id, sub, subvec) — the one-scan subvector explode,
    * checkpointed for reuse by [[pqEncode]]/[[pqDistanceTables]];
    * `codebook` = (sub, code, centroid), O(M·ks·dsub) — the model.
    *
    * Distribution: assignment is a broadcast join on `sub` (M·ks rows)
    * + codegen'd [[graft.functions.Vec.l2sq]]; the Lloyd update
    * collects only the M·ks·dsub quantized sums (model parameters,
    * ~1024 rows here — the corpus never leaves the executors). Init =
    * the ks corpus vectors with the smallest portable hash of
    * 'pq:vec_id', each sliced into its M subvectors, so every engine
    * reproduces the draw. Requires one shared dimension divisible by M
    * (checked loudly — a ragged corpus would silently skew subspace
    * boundaries). */
  def buildPqCodebooks(units: DataFrame, m: Int = PqSubs,
      ks: Int = PqCodes, iters: Int = PqIters): (DataFrame, DataFrame) = {
    val spark = units.sparkSession
    val initRows = withoutAqe(spark)(units
      .orderBy(graft.functions.Vec.portable_hash64(
        concat(lit("pq:"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(ks)
      .select(col("unit")).collect())
      .map(_.getSeq[Double](0))
    require(initRows.nonEmpty, "buildPqCodebooks: empty corpus")
    val dim = initRows.head.length
    require(dim % m == 0,
      s"buildPqCodebooks: dim $dim not divisible by $m subspaces")
    val dsub = dim / m
    var cents: Map[(Int, Int), Seq[Double]] = (for {
      (v, code) <- initRows.zipWithIndex
      sub <- 0 until m
    } yield (sub, code) -> v.slice(sub * dsub, (sub + 1) * dsub)).toMap
    // Exact integer twin of every centroid: (sq, cq) with value
    // sq/(cq·Q) — the pair the hash-gated distortion statistic is
    // defined against ([[graft.functions.Vec.distq]]: no double feeds a
    // floor). Updated cells carry the round's (S, c) verbatim; an init
    // cell that never wins a member is represented as its Q-quantized
    // slice with cq = 1 (≈ the double centroid to within ½ grid step —
    // the oracle mirrors the same convention, so both sides agree
    // bit-for-bit by construction rather than by IEEE luck).
    var exacts: Map[(Int, Int), (Seq[Long], Long)] = (for {
      (v, code) <- initRows.zipWithIndex
      sub <- 0 until m
    } yield (sub, code) -> ((v.slice(sub * dsub, (sub + 1) * dsub)
      .map(x => math.floor(x * PqQuant + 0.5).toLong), 1L))).toMap

    def centDf: DataFrame = {
      import spark.implicits._
      cents.toSeq.map { case ((sub, code), c) =>
        val (sq, cq) = exacts((sub, code))
        (sub, code, c, sq, cq)
      }.toDF("sub", "code", "centroid", "sq", "cq")
    }
    // Ragged rows would slice short (training a WRONG low-d codebook
    // for tail subs) or slice LONG rows cleanly while ignoring their
    // excess dimensions — both silent. The init only checks ks rows, so
    // pin the whole corpus's dimension before slicing (one array-length
    // agg; subvector sizes after the explode could not catch the
    // longer-row case, since slices cap at dsub).
    val dims = withoutAqe(spark)(units.agg(min(size(col("unit"))).as("mn"),
      max(size(col("unit"))).as("mx")).head())
    require(dims.getInt(0) == dim && dims.getInt(1) == dim,
      s"buildPqCodebooks: embeddings must share dimension " +
        s"(saw ${dims.getInt(0)}..${dims.getInt(1)}, init expects $dim)")
    // Code assignment as a literal-closure projection over the
    // driver-resident codebook ([[graft.functions.Vec.pq_codes]] — same
    // l2sq fold and min(struct(d2, code)) tie-break as the broadcast
    // join + groupBy(vec_id, sub) form): each Lloyd round is ONE scan
    // of `units` (no subvector explode materialized, no exchange before
    // the partial-agg sums). sub/pos derive from the flat position:
    // sub = pos div dsub, in-subvector pos = pos mod dsub.
    def cbArr: Array[Array[Array[Double]]] = {
      val ksA = initRows.length
      Array.tabulate(m)(s => Array.tabulate(ksA)(c => cents((s, c)).toArray))
    }

    for (_ <- 1 to iters) {
      // (sub, code, pos, xq) structs from ONE kernel call per row —
      // argmin and the floor(x·Q + ½) quantization both inside it (same
      // rationale as the ivf round: projection collapse cannot
      // re-evaluate the assignment per exploded element)
      val sums = withoutAqe(spark)(units
        .select(explode(graft.functions.Vec.pq_round_rows(col("unit"),
          cbArr, PqQuant)).as("r"))
        .select(col("r.sub").as("sub"), col("r.code").as("code"),
          col("r.pos").as("pos"), col("r.xq").as("xq"))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("xq").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("c"))
        .collect())
      val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = cents.map { case (key, old) =>
        byCell.get(key) match {
          case None => key -> old // empty cell keeps its centroid
          case Some(rows) =>
            val sv = new Array[Double](dsub)
            rows.foreach { r =>
              // S/(c·Q): S exact (decimal over BIGINT-range values), c·Q
              // exact in double below 2^53 — one division, same on every
              // engine
              sv(r.getInt(2)) =
                r.getDecimal(3).doubleValue / (r.getLong(4).toDouble * PqQuant)
            }
            key -> sv.toSeq
        }
      }
      exacts = exacts.map { case (key, old) =>
        byCell.get(key) match {
          case None => key -> old // empty cell keeps its exact pair too
          case Some(rows) =>
            val sv = new Array[Long](dsub)
            var cq = 1L
            rows.foreach { r =>
              // longValueExact: |S| ≤ c·2³², so this only throws past
              // ~2²⁰ members per cell × full-scale components — loud,
              // not a silently rounded statistic
              sv(r.getInt(2)) = r.getDecimal(3).longValueExact()
              cq = r.getLong(4)
            }
            key -> ((sv.toSeq, cq))
        }
      }
    }
    // subs returns LAZY (callers only slice query rows out of it, or
    // re-derive it in specs); centDf is a LocalTableScan over driver
    // data — free to re-evaluate and to collect, no checkpoint job.
    (pqSubvectors(units, dsub, m), centDf)
  }

  /** Nearest-code assignment of subvectors under a fixed codebook —
    * broadcast join on `sub`, argmin by (squared L2, code): the
    * trainer's inner step and the PQ INGEST path for new batches.
    * Keeps the subvector in the aggregate so callers need no re-join. */
  def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs.join(broadcast(codebook), "sub")
      .withColumn("d2", graft.functions.Vec
        .vec_l2sq(col("subvec"), col("centroid")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).as("m"),
        first(col("subvec")).as("subvec"))
      .select(col("vec_id"), col("sub"), col("m.code").as("code"),
        col("m.d2").as("d2"), col("subvec"))

  /** Encode a corpus: (vec_id, codes) with codes = array of M code ids
    * ordered by sub — the at-rest PQ index row (M·4 bits of payload).
    * Kept on the exploded-subvector shape for API compatibility; the
    * hot paths use [[pqEncodeUnits]] (one shuffle-free projection). */
  def pqEncode(subs: DataFrame, codebook: DataFrame): DataFrame =
    pqAssign(subs, codebook)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code"))))
        .as("sc"))
      .select(col("vec_id"), expr("transform(sc, p -> p.code)").as("codes"))

  /** Encode (vec_id, unit) rows in ONE shuffle-free projection: all M
    * codes per row from the literal-closure argmin kernel
    * ([[graft.functions.Vec.pq_codes]] — same per-sub l2sq fold and
    * min(struct(d2, code)) tie-break as [[pqEncode]]'s join + two
    * groupBy exchanges). */
  def pqEncodeUnits(unitsDf: DataFrame, codebook: DataFrame): DataFrame =
    pqEncodeUnitsArr(unitsDf, collectCodebook(codebook))

  /** [[pqEncodeUnits]] against an ALREADY-COLLECTED codebook. */
  def pqEncodeUnitsArr(unitsDf: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame =
    unitsDf.select(col("vec_id"), graft.functions.Vec
      .pq_codes(col("unit"), cb).as("codes"))

  /** Per-query quantized ADC tables: (query_id, tblq) with tblq =
    * flattened M·ks BIGINT array, entry s·ks+c = floor(Q·‖q_sub −
    * centroid(s,c)‖² + ½). O(queries·M·ks) work against the broadcast
    * codebook — no corpus access. */
  def pqDistanceTables(querySubs: DataFrame, codebook: DataFrame): DataFrame =
    querySubs.join(broadcast(codebook), "sub")
      .withColumn("d2q", floor(graft.functions.Vec
        .vec_l2sq(col("subvec"), col("centroid")) * lit(PqQuant) + lit(0.5))
        .cast("long"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code"),
        col("d2q")))).as("tc"))
      .select(col("vec_id").as("query_id"),
        expr("transform(tc, p -> p.d2q)").as("tblq"))

  /** The one-scan subvector explode: (vec_id, unit) → (vec_id, sub,
    * subvec) under the M×dsub subspace geometry. */
  def pqSubvectors(units: DataFrame, dsub: Int,
      m: Int = PqSubs): DataFrame =
    units.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> slice(unit, s*$dsub+1, $dsub))"))
      .as(Seq("sub", "subvec")))

  /** Distance tables for EXTERNAL query units against an at-rest
    * codebook (the [[pqDistanceTables]] entry point when the queries
    * did not come from the trainer's subvector explode): slices the
    * query vectors with the codebook's own subspace geometry —
    * O(queries) work, no corpus access. */
  def pqQueryTables(queryUnits: DataFrame, codebook: DataFrame,
      m: Int = PqSubs): DataFrame =
    pqQueryTablesArr(queryUnits, collectCodebook(codebook), m)

  /** [[pqQueryTables]] against an ALREADY-COLLECTED codebook — the form
    * for callers that hold the model array (at-rest searches collect the
    * codebook parquet exactly once per query and derive tables, ks and
    * the dimension guard from it; round-20's shape paid one driver job
    * per consumer: collect + an eager requireDim agg + a pqKsOf agg, all
    * inside the timed region). The dimension guard now lives in the
    * [[graft.functions.Vec.pq_table]] kernel — per-row, loud, no extra
    * job. */
  def pqQueryTablesArr(queryUnits: DataFrame,
      cb: Array[Array[Array[Double]]], m: Int = PqSubs): DataFrame = {
    // literal-closure table build ([[graft.functions.Vec.pq_table]] —
    // the same floor(d2·Q + ½) entries in the same (sub, code) order as
    // the join + collect_list form): one projection over the queries
    require(cb.length == m,
      s"codebook has ${cb.length} subspaces, caller expects $m")
    queryUnits.select(col("vec_id").as("query_id"), graft.functions.Vec
      .pq_table(col("unit"), cb, PqQuant).as("tblq"))
  }

  /** Loud dimension check for a query/probe/ingest batch: slicing and
    * the common-prefix distance folds would silently score a
    * wrong-dimension vector against truncated centroids — a batch that
    * cannot match the model must fail, not return (or COMMIT) plausible
    * garbage. One tiny agg over the (small by construction) batch;
    * empty batches pass. Shared by every vector-kind guard
    * ([[graft.store.IndexStore]] probe AND append sides) so a fix here
    * reaches all of them. */
  private[graft] def requireDim(batch: DataFrame, dimCol: String,
      expected: Int, model: String): Unit = {
    val r = batch.agg(min(size(col(dimCol))).as("mn"),
      max(size(col(dimCol))).as("mx")).head()
    if (!r.isNullAt(0))
      require(r.getInt(0) == expected && r.getInt(1) == expected,
        s"batch dimension ${r.getInt(0)}..${r.getInt(1)} does not match " +
          s"the $model's $expected")
  }

  /** Codes per subspace recorded in a codebook — max code + 1 (codes
    * are dense 0..c−1 for every sub by construction: the trainer seeds
    * all subs from the same ≤[[PqCodes]] row sample and empty cells
    * keep their centroid). A codebook trained over a corpus SMALLER
    * than ks has fewer codes, and the flattened ADC table layout and
    * the [[graft.functions.Vec]].pq_adc stride must both use this
    * actual count — striding a short table by the nominal [[PqCodes]]
    * would read the wrong subspace's entries for low subs and past the
    * array's end for high ones: silent garbage neighbors, the failure
    * mode the probe-side dimension guards exist to prevent. One tiny
    * agg over the broadcast-sized model table. */
  def pqKsOf(codebook: DataFrame): Int =
    codebook.agg(max(col("code"))).head().getInt(0) + 1

  /** ADC top-k search over an encoded corpus: the candidate scan reads
    * CODES only (M ints/row — with ks=16, M·4 bits of entropy; ~1% of
    * the embedding bytes), ranks by the integer ADC distance, and exact
    * cosine rescores just the top [[RescoreBudget]] — the sketch-search
    * shape with the byte footprint of the index divided by ~64.
    * `ks` must be the codebook's ACTUAL code count ([[pqKsOf]]) — the
    * ADC stride over the flattened tables; the default is only correct
    * for codebooks trained over ≥ [[PqCodes]] vectors. */
  def pqSearch(codes: DataFrame, units: DataFrame, tables: DataFrame,
      ks: Int = PqCodes): DataFrame =
    pqSearchWith(codes, units, tables,
      units.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit")), ks)

  private def pqSearchWith(codes: DataFrame, units: DataFrame,
      tables: DataFrame, queries: DataFrame, ks: Int): DataFrame = {
    val byAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val survivors = codes
      .crossJoin(broadcast(tables))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", graft.functions.Vec
        .pq_adc(col("codes"), col("tblq"), ks))
      .withColumn("cand_rank", row_number().over(byAdc))
      .filter(col("cand_rank") <= RescoreBudget)
      .select(col("query_id"), col("vec_id"))
    units.select(col("vec_id"), col("unit"))
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** Encode a batch against an at-rest codebook (model fixed — the PQ
    * ingest path for new vectors, [[graft.store.IndexStore]] append):
    * (vec_id, codes, unit) rows, unit kept alongside so the columnar
    * index leaf serves both the code scan (codes column only — ~1% of
    * the bytes) and the deferred rescore fetch (unit column, survivors
    * only). */
  def pqEncodeWith(unitsDf: DataFrame, codebook: DataFrame): DataFrame = {
    val cb = collectCodebook(codebook)
    val dsub = cb(0)(0).length
    // ingest-side guard: a wrong-dimension batch would slice tail
    // subspaces empty (their l2sq over the empty prefix is 0 to every
    // centroid → code 0) and COMMIT meaningless codes permanently
    requireDim(unitsDf, "unit", PqSubs * dsub, "codebook")
    // one shuffle-free projection — no explode, no join back to units
    unitsDf.select(col("vec_id"), graft.functions.Vec
      .pq_codes(col("unit"), cb).as("codes"), col("unit"))
  }

  /** Search an at-rest PQ index (`vec_id`, `codes`, `unit` columns)
    * with EXTERNAL query embeddings (`vec_id`, `embedding`): queries
    * are sliced/tabled against the codebook on the fly — O(queries)
    * work — while the candidate scan reads only the index's codes
    * column and the rescore fetches only survivor units (column
    * pruning does both under one relation). A query whose vec_id
    * collides with an index id is excluded from its own neighbors,
    * like the sketch/ivf probes. */
  def pqProbe(index: DataFrame, codebook: DataFrame,
      queryEmb: DataFrame): DataFrame = {
    // collect the model table ONCE: tables, ks (= codes per subspace)
    // and the dimension guard all derive from the same array — the
    // separate pqKsOf agg and eager requireDim jobs this path paid per
    // search are gone (round-21, guide §1.2 driver overhead)
    val cb = collectCodebook(codebook)
    val qUnits = unit(queryEmb).select(col("vec_id"), col("unit"))
    pqSearchWith(index.select(col("vec_id"), col("codes")),
      index.select(col("vec_id"), col("unit")),
      pqQueryTablesArr(qUnits, cb),
      qUnits.select(col("vec_id").as("query_id"),
        col("unit").as("q_unit")), cb(0).length)
  }

  // ---- PQ oracle SQL (the IVF unroll pattern, per-subspace) ----

  /** dsub as an inline scalar (the oracle cannot know dim statically —
    * it derives it from the corpus exactly like the engine's init).
    * `src` is the (vec_id, unit) CTE the trainer reads — `u` for plain
    * PQ, the residual CTE for IVF-PQ. */
  private def pqDsubSql(src: String): String =
    s"(SELECT CAST(max(len(unit)) / $PqSubs AS INTEGER) FROM $src)"

  /** DuckDB mirror of [[graft.functions.Vec.l2sq]] — same left-to-right
    * fold, same (a-b)*(a-b) per element. */
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, least(len($a), len($b))), " +
      s"qj -> (($a)[qj] - ($b)[qj]) * (($a)[qj] - ($b)[qj]))), " +
      "(qa, qb) -> qa + qb)"

  /** Trainer CTE chain over `src` (vec_id, unit): subs (subvector
    * explode) / pq0 (init codebook) / rounds (pasg{r}: argmin
    * assignment, pcs{r}: quantized sums, pq{r}: mean update) / pasgF
    * (final assignment). Shared by plain PQ (src = u) and IVF-PQ
    * (src = the residual CTE) so the two trainers cannot drift. */
  private def pqTrainCtesSql(m: Int, ks: Int, iters: Int,
      src: String): String = {
    val qLit = java.lang.Double.toString(PqQuant)
    val dsub = pqDsubSql(src)
    val subIdx = s"(SELECT unnest(generate_series(0, ${m - 1})) AS sub)"
    val dposIdx =
      s"(SELECT unnest(generate_series(1, $dsub)) AS dpos)"
    val header =
      s"""subs AS MATERIALIZED (
         |  SELECT vec_id, s.sub,
         |    list_slice(unit, s.sub * $dsub + 1,
         |      (s.sub + 1) * $dsub) AS subvec
         |  FROM $src, $subIdx s),
         |pinit AS MATERIALIZED (
         |  SELECT CAST(irn - 1 AS INTEGER) AS code, unit FROM (
         |    SELECT unit, row_number() OVER (ORDER BY
         |      ${DedupOps.pHashSql("('pq:' || CAST(vec_id AS VARCHAR))")},
         |      vec_id) AS irn FROM $src) z
         |  WHERE irn <= $ks),
         |pq0 AS MATERIALIZED (
         |  SELECT s.sub, i.code,
         |    list_slice(i.unit, s.sub * $dsub + 1,
         |      (s.sub + 1) * $dsub) AS centroid
         |  FROM pinit i, $subIdx s)""".stripMargin
    def asgSql(cb: String): String =
      s"""SELECT vec_id, sub, code, d2, subvec FROM (
         |    SELECT t.vec_id, t.sub, c.code,
         |      ${l2sqSql("t.subvec", "c.centroid")} AS d2, t.subvec,
         |      row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
         |        ${l2sqSql("t.subvec", "c.centroid")} ASC, c.code ASC)
         |        AS ark
         |    FROM subs t JOIN $cb c ON c.sub = t.sub) z
         |  WHERE ark = 1""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""pasg$r AS MATERIALIZED (
         |  ${asgSql(s"pq${r - 1}")}),
         |pcs$r AS MATERIALIZED (
         |  SELECT sub, code, dpos,
         |    sum(CAST(floor(subvec[dpos] * $qLit + 0.5) AS BIGINT)) AS s,
         |    count(*) AS c
         |  FROM pasg$r, $dposIdx d
         |  GROUP BY 1, 2, 3),
         |pq$r AS MATERIALIZED (
         |  SELECT p.sub, p.code,
         |    CASE WHEN n.cd IS NULL THEN p.centroid
         |         ELSE list_transform(n.sv, sx -> sx / (n.cd * $qLit))
         |    END AS centroid
         |  FROM pq${r - 1} p LEFT JOIN (
         |    SELECT sub, code,
         |      list(CAST(s AS DOUBLE) ORDER BY dpos) AS sv,
         |      CAST(max(c) AS DOUBLE) AS cd
         |    FROM pcs$r GROUP BY 1, 2) n
         |  ON n.sub = p.sub AND n.code = p.code)""".stripMargin
    }
    val tail =
      s"""pasgF AS MATERIALIZED (
         |  ${asgSql(s"pq$iters")})""".stripMargin
    (header +: rounds :+ tail).mkString(",\n")
  }

  /** Exact-pair codebook chain pqx0..pqx{iters} — the INTEGER twin of
    * pq0..pq{iters}: (sub, code, sq = per-position quantized sums on
    * the 2³² grid, cq = member count), tracked through the rounds with
    * the same keep-on-empty rule, init cells as (quantized slice, 1).
    * Mirrors [[buildPqCodebooks]]'s `exacts` map term-for-term; the
    * chain reads the trainer's `pinit`/`pcs{r}` CTEs, so append it
    * AFTER [[pqTrainCtesSql]] in the same WITH list. Only the
    * distortion oracles reference it (unreferenced CTEs cost nothing
    * in the other oracles sharing the trainer chain). */
  private def pqExactCtesSql(m: Int, ks: Int, iters: Int,
      src: String): String = {
    val qLit = java.lang.Double.toString(PqQuant)
    val dsub = pqDsubSql(src)
    val subIdx = s"(SELECT unnest(generate_series(0, ${m - 1})) AS sub)"
    val header =
      s"""pqx0 AS (
         |  SELECT s.sub, i.code,
         |    list_transform(list_slice(i.unit, s.sub * $dsub + 1,
         |      (s.sub + 1) * $dsub),
         |      qx -> CAST(floor(qx * $qLit + 0.5) AS BIGINT)) AS sq,
         |    CAST(1 AS BIGINT) AS cq
         |  FROM pinit i, $subIdx s)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""pqx$r AS (
         |  SELECT p.sub, p.code,
         |    CASE WHEN n.cd IS NULL THEN p.sq ELSE n.sv END AS sq,
         |    CASE WHEN n.cd IS NULL THEN p.cq ELSE n.cd END AS cq
         |  FROM pqx${r - 1} p LEFT JOIN (
         |    SELECT sub, code,
         |      list(CAST(s AS BIGINT) ORDER BY dpos) AS sv,
         |      CAST(max(c) AS BIGINT) AS cd
         |    FROM pcs$r GROUP BY 1, 2) n
         |  ON n.sub = p.sub AND n.code = p.code)""".stripMargin
    }
    (header +: rounds).mkString(",\n")
  }

  /** DuckDB mirror of [[graft.functions.Vec.distq]]: Σⱼ qⱼ² with qⱼ =
    * round-half-up(|cq·floor(subvecⱼ·2³²+½) − sqⱼ| / (cq·2¹⁶)) — every
    * operand BIGINT, the division nonnegative (truncation = floor in
    * any dialect); the only double op is the one exponent-shift
    * multiply + single add feeding the xq floor, exact by IEEE
    * construction on both engines. */
  private def distqSql(subvec: String, sq: String, cq: String): String = {
    val qLit = java.lang.Double.toString(PqQuant)
    s"CAST(list_sum(list_transform(" +
      s"list_transform(generate_series(1, len($subvec)), " +
      s"dj -> abs($cq * CAST(floor(($subvec)[dj] * $qLit + 0.5) AS BIGINT)" +
      s" - ($sq)[dj])), " +
      s"da -> ((2 * da + $cq * 65536) // (2 * $cq * 65536)) * " +
      s"((2 * da + $cq * 65536) // (2 * $cq * 65536)))) AS BIGINT)"
  }

  /** Plain-PQ chain: the trainer over `u` plus the per-query tables
    * (ptbl) and the integer ADC distances (padist) — the CTE set the
    * `ann_topk_pq`/`ann_pq_distortion`/`ann_pq_recall` oracles share. */
  private def pqCtesSql(m: Int, ks: Int, iters: Int): String = {
    val qLit = java.lang.Double.toString(PqQuant)
    s"""${pqTrainCtesSql(m, ks, iters, "u")},
       |ptbl AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.sub, c.code,
       |    CAST(floor(${l2sqSql("q.subvec", "c.centroid")} * $qLit + 0.5)
       |      AS BIGINT) AS d2q
       |  FROM subs q JOIN pq$iters c ON c.sub = q.sub
       |  WHERE q.vec_id < $NumQueries),
       |padist AS MATERIALIZED (
       |  SELECT t.query_id, a.vec_id, sum(t.d2q) AS adist
       |  FROM pasgF a JOIN ptbl t
       |    ON t.sub = a.sub AND t.code = a.code
       |    AND a.vec_id <> t.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Candidate truncation + exact rescore as CTEs over `padist`/`u` —
    * `pqk` is the search's final (query_id, neighbor_id, rank, cos_bp)
    * frame, shared by the top-k oracle and the recall report so the two
    * can never drift. */
  private def pqTopCtesSql: String =
    s"""psurv AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist ASC, vec_id) AS crk
       |    FROM padist) z
       |  WHERE crk <= $RescoreBudget),
       |pqk AS (
       |  SELECT query_id, neighbor_id, rank, cos_bp FROM (
       |    SELECT s.query_id, s.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY s.cos DESC, s.vec_id) AS rank,
       |      CAST(floor(s.cos * 10000) AS BIGINT) AS cos_bp
       |    FROM (
       |      SELECT v.query_id, v.vec_id,
       |        ${dotSql("uq.unit", "un.unit")} AS cos
       |      FROM psurv v
       |      JOIN u uq ON uq.vec_id = v.query_id
       |      JOIN u un ON un.vec_id = v.vec_id) s) r
       |  WHERE rank <= $K)""".stripMargin

  private def pqOracleSql: String =
    s"""WITH $unitCteSql,
       |${pqCtesSql(PqSubs, PqCodes, PqIters)},
       |$pqTopCtesSql
       |SELECT query_id, neighbor_id, rank, cos_bp FROM pqk""".stripMargin

  /** PQ-ADC approximate top-k over the driver corpus, hash-oracled end
    * to end: codebook training (integer-quantized Lloyd means), corpus
    * encoding, quantized distance tables, integer ADC candidate
    * ranking, exact-cosine rescore. On this isotropic corpus the PQ
    * candidate ranking behaves like any coarse metric approximation
    * (the rescore recovers exact-rank output); the recall/compression
    * CONTRACT is spec-gated on a clustered corpus in TrainingOpsSpec,
    * where quantization cells align with real structure. */
  val pqTopK: GraftQuery = GraftQuery(
    "ann_topk_pq",
    (s, dir) => {
      val units = unit(emb(s, dir))
        .select(col("vec_id"), col("unit")).localCheckpoint()
      val (_, codebook) = buildPqCodebooks(units)
      // one collect feeds encode, tables and the ADC stride (the
      // codebook is a LocalTableScan — collecting is driver-local, but
      // re-collecting per consumer re-analyzed the frame three times)
      val cb = collectCodebook(codebook)
      pqSearch(pqEncodeUnitsArr(units, cb), units,
        pqQueryTablesArr(units.filter(col("vec_id") < NumQueries), cb),
        cb(0).length)
    },
    Some(pqOracleSql))

  /** Per-subspace quantization telemetry: rows quantized and total
    * quantized distortion under the FINAL codebook — the number a
    * deployment watches to size M/ks (distortion up ⇒ codes too coarse
    * for the corpus), plus an 'all' total row. The statistic is
    * INTEGER END TO END ([[graft.functions.Vec.distq]] against the
    * codebook's exact (sq, cq) pairs — same 2³²·d2 magnitude as the
    * floor(Q·d2+½) form it replaces, but no double ever feeds a floor:
    * summing 60k×8 IEEE folds through floor() flipped a BIGINT on
    * one-ulp DuckDB `list_reduce` divergence in the round-12 driver
    * run; rank outputs tolerate an ulp, a total sum amplifies it). */
  val pqDistortion: GraftQuery = GraftQuery(
    "ann_pq_distortion",
    (s, dir) => {
      val units = unit(emb(s, dir))
        .select(col("vec_id"), col("unit")).localCheckpoint()
      val (_, codebook) = buildPqCodebooks(units)
      val cb = collectCodebook(codebook)
      val (sq, cq) = collectExactPairs(codebook)
      // one scan: assign all M codes and compute all M per-sub integer
      // distortions per row in a single projection (same argmin and
      // distq arithmetic as the exploded join-aggregate form), then a
      // tiny 8-group partial-agg — no subvector explode, no model joins
      val perSub = units
        .select(posexplode(graft.functions.Vec.pq_dist_q_all(col("unit"),
          graft.functions.Vec.pq_codes(col("unit"), cb), sq, cq))
          .as(Seq("sub", "d2q")))
        .groupBy(col("sub"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d2q")).as("distortion_q"))
        .localCheckpoint()
      perSub
        .select(col("sub").cast("string").as("scope"), col("n_vecs"),
          col("distortion_q"))
        .unionAll(perSub
          .agg(sum(col("n_vecs")).as("n_vecs"),
            sum(col("distortion_q")).as("distortion_q"))
          .select(lit("all").as("scope"), col("n_vecs"),
            col("distortion_q")))
    },
    Some(
      s"""WITH $unitCteSql,
         |${pqCtesSql(PqSubs, PqCodes, PqIters)},
         |${pqExactCtesSql(PqSubs, PqCodes, PqIters, "u")},
         |persub AS (
         |  SELECT a.sub, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(${distqSql("a.subvec", "x.sq", "x.cq")})
         |      AS BIGINT) AS distortion_q
         |  FROM pasgF a JOIN pqx$PqIters x
         |    ON x.sub = a.sub AND x.code = a.code
         |  GROUP BY 1)
         |SELECT CAST(sub AS VARCHAR) AS scope, n_vecs, distortion_q
         |FROM persub
         |UNION ALL
         |SELECT 'all', CAST(sum(n_vecs) AS BIGINT),
         |  CAST(sum(distortion_q) AS BIGINT) FROM persub""".stripMargin))

  /** Per-query + 'all' recall of an approximate (query_id, neighbor_id)
    * frame against the exact one — integer basis points, the shared
    * arithmetic of every hash-oracled recall report. */
  private def recallFrame(exact: DataFrame, approx: DataFrame): DataFrame = {
    val perQuery = exact
      .join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L)))
        .as("hits"))
      .localCheckpoint()
    perQuery
      .select(col("query_id").cast("string").as("query"),
        expr("hits * 10000 div n").as("recall_bp"))
      .unionAll(perQuery
        .agg(sum(col("hits")).as("hits"), sum(col("n")).as("n"))
        .select(lit("all").as("query"),
          expr("hits * 10000 div n").as("recall_bp")))
  }

  /** Recall tail over `pqk` (any search's final frame named pqk) vs the
    * brute-force ground truth — the DuckDB mirror of [[recallFrame]],
    * shared by the PQ and IVF-PQ recall oracles so the two cannot
    * drift. Appended LAST in a WITH list (it ends with the SELECT). */
  private def recallTailSql: String =
    s"""brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q.unit", "n.unit")}
       |          DESC, n.vec_id) AS rank
       |    FROM u q, u n
       |    WHERE q.vec_id < $NumQueries AND n.vec_id <> q.vec_id) sub
       |  WHERE rank <= $K),
       |perq AS (
       |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |      AS BIGINT) AS hits
       |  FROM brute b LEFT JOIN pqk l
       |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
       |  GROUP BY 1)
       |SELECT CAST(query_id AS VARCHAR) AS query,
       |  hits * 10000 // n AS recall_bp FROM perq
       |UNION ALL
       |SELECT 'all',
       |  CAST(sum(hits) * 10000 // sum(n) AS BIGINT) FROM perq""".stripMargin

  /** Recall@[[K]] of the PQ-ADC search against exact brute force, per
    * query plus an 'all' row — the [[recallReport]] telemetry for the
    * compressed index (a deployment watches it to size M/ks/budget).
    * Unlike IVF (whose cell pruning is meaningless on isotropic data),
    * the ADC ranking approximates DISTANCES directly, so it stays
    * honest on this corpus — measured 0.92 at sf0.01. Hash-oracled:
    * both searches and the recall arithmetic recompute in DuckDB. */
  val pqRecallReport: GraftQuery = GraftQuery(
    "ann_pq_recall",
    (s, dir) => {
      // ground truth on a background thread (guide §2.6): its jobs
      // back-fill the executors while the PQ trainer's model-sized
      // rounds hold the driver
      val exactF = checkpointAsync(bruteForce.fn(s, dir)
        .select(col("query_id"), col("neighbor_id")))
      withGroundTruth(exactF) {
        val units = unit(emb(s, dir))
          .select(col("vec_id"), col("unit")).localCheckpoint()
        val (_, codebook) = buildPqCodebooks(units)
        val cb = collectCodebook(codebook)
        val pq = pqSearch(pqEncodeUnitsArr(units, cb), units,
          pqQueryTablesArr(units.filter(col("vec_id") < NumQueries), cb),
          cb(0).length)
          .select(col("query_id"), col("neighbor_id"))
        recallFrame(exactF(), pq)
      }
    },
    Some(
      s"""WITH $unitCteSql,
         |${pqCtesSql(PqSubs, PqCodes, PqIters)},
         |$pqTopCtesSql,
         |$recallTailSql""".stripMargin))

  // ---------------------------------------------------------------------
  // IVF-PQ — the full Jégou et al. composition: coarse cells prune the
  // scan, product-quantized RESIDUALS (vector − cell centroid) shrink
  // its bytes
  // ---------------------------------------------------------------------

  /** IVF-PQ search over (vec_id, unit) rows: train the coarse
    * quantizer, PQ the residuals under ONE shared codebook (the classic
    * single-codebook residual design), then per query probe `nprobe`
    * cells with per-(query, cell) quantized ADC tables — a candidate is
    * scanned only if its cell is probed, and the scan reads M codes per
    * row. Exact-cosine rescore of the top [[RescoreBudget]] on the
    * ORIGINAL units. Returns the ANN output shape (query_id,
    * neighbor_id, rank, cos_bp). */
  def ivfPqSearch(units: DataFrame, nprobe: Int = IvfProbes,
      numQueries: Int = NumQueries): DataFrame = {
    // cells flows once into the residual checkpoint — skip its own
    val (cells, cents) = buildIvfIndex(units, checkpointCells = false)
    // residual against the literal centroid matrix — a projection over
    // the checkpointed cells, no broadcast join
    val centsArr = collectCents(cents)
    val residuals = cells.select(col("vec_id"), col("cell"),
      graft.functions.Vec.ivf_residual(col("unit"), col("cell"), centsArr)
        .as("unit"))
      .localCheckpoint()
    val (_, cb) = buildPqCodebooks(
      residuals.select(col("vec_id"), col("unit")))
    val cbArr = collectCodebook(cb)
    // codes in one projection over the checkpointed residuals — the
    // encode + two joins the exploded form paid are gone
    val codes = residuals.select(col("vec_id"), col("cell"),
      graft.functions.Vec.pq_codes(col("unit"), cbArr).as("codes"))
    val queries = units.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
    ivfPqSearchWithProbesArr(codes, units, centsArr, cbArr,
      ivfProbesArr(queries, centsArr, nprobe), queries)
  }

  /** Encode a batch against FIXED at-rest IVF-PQ models (centroids +
    * codebook): cell assignment, residual, PQ codes — the ingest path
    * for new vectors ([[graft.store.IndexStore]] append). Returns
    * (vec_id, codes, cell, unit). */
  def ivfPqEncodeWith(unitsDf: DataFrame, cents: DataFrame,
      cb: DataFrame): DataFrame = {
    val centsArr = collectCents(cents)
    val cbArr = collectCodebook(cb)
    // ingest-side guard (same rationale as [[pqEncodeWith]]): cells and
    // residuals from truncated-prefix distances would commit silently
    requireDim(unitsDf, "unit", centsArr(0).length, "coarse model")
    // cell → residual → codes as ONE shuffle-free projection over the
    // batch (the exploded form paid an assignment exchange, an encode
    // exchange and two joins back)
    val cellCol = graft.functions.Vec.ivf_cell(col("unit"), centsArr)
    unitsDf.select(col("vec_id"),
      graft.functions.Vec.pq_codes(
        graft.functions.Vec.ivf_residual(col("unit"), cellCol, centsArr),
        cbArr).as("codes"),
      cellCol.as("cell"), col("unit"))
  }

  /** Scan + rescore stage of the IVF-PQ search, over explicit probes
    * (from [[ivfProbes]]) and queries — the entry point for at-rest
    * searches that compute WHICH cells they need before reading any
    * cell data. `codes`: (vec_id, cell, codes); `units`: (vec_id, unit)
    * for the rescore fetch. */
  def ivfPqSearchWithProbes(codes: DataFrame, units: DataFrame,
      cents: DataFrame, cb: DataFrame, probes: DataFrame,
      queries: DataFrame): DataFrame =
    ivfPqSearchWithProbesArr(codes, units, collectCents(cents),
      collectCodebook(cb), probes, queries)

  /** [[ivfPqSearchWithProbes]] against ALREADY-COLLECTED model arrays —
    * at-rest searches collect each model table exactly once per query
    * (round-20's shape re-collected the centroids here after the probe
    * list had already collected them, plus an eager requireDim agg —
    * two extra driver jobs inside the timed region; the dimension guard
    * now fires per-row inside [[graft.functions.Vec.ivf_top_cells]] /
    * [[graft.functions.Vec.pq_table]]). */
  def ivfPqSearchWithProbesArr(codes: DataFrame, units: DataFrame,
      centsArr: Array[Array[Double]], cbArr: Array[Array[Array[Double]]],
      probes: DataFrame, queries: DataFrame): DataFrame = {
    // per-(query, cell) tables over the QUERY residual for that cell —
    // one literal-closure projection over the (queries × nprobe)-sized
    // probe list: residual, slices, floor(d2·Q + ½) entries all inside
    // [[graft.functions.Vec.pq_table]], no model joins, no per-query
    // collect_list exchange
    val tables = probes.select(col("query_id"), col("cell"),
      graft.functions.Vec.pq_table(
        graft.functions.Vec.ivf_residual(col("q_unit"), col("cell"),
          centsArr), cbArr, PqQuant).as("tblq"))
    val byAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // joining on cell IS the probe prune: unprobed cells never match
    val survivors = codes.join(broadcast(tables), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", graft.functions.Vec
        .pq_adc(col("codes"), col("tblq"), cbArr(0).length))
      .withColumn("crk", row_number().over(byAdc))
      .filter(col("crk") <= RescoreBudget)
      .select(col("query_id"), col("vec_id"))
    units.select(col("vec_id"), col("unit"))
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** Quantized distortion of STORED codes under a codebook: for every
    * (vec_id, codes, unit) row — `unit` in the codebook's own space
    * (raw unit for plain PQ, residual for IVF-PQ) — the integer-domain
    * [[graft.functions.Vec.distq]] statistic against centroid[stored
    * code]'s exact (sq, cq) pair, per sub plus an 'all' row (same
    * no-double-feeds-a-floor discipline as [[pqDistortion]]). NOT a
    * re-assignment: this measures the codes as committed, so the number
    * drifts UP as the corpus distribution moves away from the trained
    * model — the re-build trigger a deployment watches
    * ([[graft.store.IndexStore.driftReport]]). */
  def pqStoredDistortion(rows: DataFrame, codebook: DataFrame): DataFrame = {
    val (sq, cq) = collectExactPairs(codebook)
    // all M per-sub distortions per row in one projection against the
    // collected exact pairs (same distq arithmetic) — the exploded form
    // paid two explodes and two joins before its aggregation
    val perSub = rows
      .select(posexplode(graft.functions.Vec.pq_dist_q_all(col("unit"),
        col("codes"), sq, cq)).as(Seq("sub", "d2q")))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2q")).as("distortion_q"))
      .localCheckpoint()
    perSub
      .select(col("sub").cast("string").as("scope"), col("n_vecs"),
        col("distortion_q"))
      .unionAll(perSub
        .agg(sum(col("n_vecs")).as("n_vecs"),
          sum(col("distortion_q")).as("distortion_q"))
        .select(lit("all").as("scope"), col("n_vecs"),
          col("distortion_q")))
  }

  /** The complete IVF-PQ CTE chain (both trainers + probes + quantized
    * tables + ADC distances + the shared `pqk` rescore tail) — the WITH
    * body the top-k and recall oracles share. */
  private def ivfPqCtesSql: String = {
    val qLit = java.lang.Double.toString(PqQuant)
    val resOf = (u: String, c: String) =>
      s"list_transform(generate_series(1, len($u)), rj -> " +
        s"($u)[rj] - ($c)[rj])"
    val dsub = pqDsubSql("ur")
    s"""$unitCteSql,
       |${ivfTrainCtesSql(IvfCells, IvfIters)},
       |cells AS MATERIALIZED (
       |  ${ivfAssignSql(s"ivf$IvfIters")}),
       |ur AS MATERIALIZED (
       |  SELECT t.vec_id, ${resOf("t.unit", "c.centroid")} AS unit, t.cell
       |  FROM cells t JOIN ivf$IvfIters c ON c.cell = t.cell),
       |${pqTrainCtesSql(PqSubs, PqCodes, PqIters, "ur")},
       |probes AS MATERIALIZED (
       |  SELECT query_id, q_unit, cell FROM (
       |    SELECT a.vec_id AS query_id, a.unit AS q_unit, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dotSql("a.unit", "c.centroid")} DESC, c.cell ASC) AS prk
       |    FROM cells a CROSS JOIN ivf$IvfIters c
       |    WHERE a.vec_id < $NumQueries) s
       |  WHERE prk <= $IvfProbes),
       |qsubs AS MATERIALIZED (
       |  SELECT query_id, cell, s.sub,
       |    list_slice(unit, s.sub * $dsub + 1,
       |      (s.sub + 1) * $dsub) AS subvec
       |  FROM (
       |    SELECT p.query_id, p.cell,
       |      ${resOf("p.q_unit", "c.centroid")} AS unit
       |    FROM probes p JOIN ivf$IvfIters c ON c.cell = p.cell) qr,
       |    (SELECT unnest(generate_series(0, ${PqSubs - 1})) AS sub) s),
       |itbl AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, c.sub, c.code,
       |    CAST(floor(${l2sqSql("q.subvec", "c.centroid")} * $qLit + 0.5)
       |      AS BIGINT) AS d2q
       |  FROM qsubs q JOIN pq$PqIters c ON c.sub = q.sub),
       |padist AS MATERIALIZED (
       |  SELECT t.query_id, a.vec_id, sum(t.d2q) AS adist
       |  FROM pasgF a
       |  JOIN ur r ON r.vec_id = a.vec_id
       |  JOIN itbl t ON t.sub = a.sub AND t.code = a.code
       |    AND t.cell = r.cell AND a.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |$pqTopCtesSql""".stripMargin
  }

  private def ivfPqOracleSql: String =
    s"""WITH $ivfPqCtesSql
       |SELECT query_id, neighbor_id, rank, cos_bp FROM pqk""".stripMargin

  /** IVF-PQ approximate top-k, hash-oracled end to end: both trainers
    * unrolled (the ivf CTEs feeding residuals into the pq CTEs), the
    * per-(query, cell) quantized tables as a join-aggregate of the same
    * BIGINTs the engine's ADC kernel looks up, and the shared `pqk`
    * rescore tail. On this isotropic corpus the cell prune costs recall
    * exactly like plain IVF (see [[IvfProbes]]) — the composition's
    * recall contract is spec-gated on a clustered corpus, where both
    * stages belong. */
  val ivfPqTopK: GraftQuery = GraftQuery(
    "ann_topk_ivfpq",
    (s, dir) => ivfPqSearch(
      unit(emb(s, dir)).select(col("vec_id"), col("unit"))
        .localCheckpoint()),
    Some(ivfPqOracleSql))

  /** Recall@[[K]] of the IVF-PQ search against exact brute force —
    * completes the telemetry symmetry ([[pqRecallReport]] exists for
    * plain PQ): a deployment sizes nprobe/M/ks/budget against this
    * number. Hash-oracled end to end: BOTH trainers unroll in the one
    * statement ([[ivfPqCtesSql]]) and the recall arithmetic is the
    * shared integer-basis-points tail. On this isotropic corpus the
    * coarse prune costs recall exactly like plain IVF (see
    * [[IvfProbes]]) — the number reported here is the honest composed
    * figure, spec-gated ≥0.9 on a clustered corpus in TrainingOpsSpec
    * where the cells align with real structure. */
  val ivfPqRecallReport: GraftQuery = GraftQuery(
    "ann_ivfpq_recall",
    (s, dir) => {
      // ground truth on a background thread (guide §2.6): its jobs
      // back-fill the executors while the two trainers' model-sized
      // rounds hold the driver
      val exactF = checkpointAsync(bruteForce.fn(s, dir)
        .select(col("query_id"), col("neighbor_id")))
      val approx = ivfPqSearch(
        unit(emb(s, dir)).select(col("vec_id"), col("unit"))
          .localCheckpoint())
        .select(col("query_id"), col("neighbor_id"))
      recallFrame(exactF(), approx)
    },
    Some(
      s"""WITH $ivfPqCtesSql,
         |$recallTailSql""".stripMargin))

  /** Group-size ceiling for the code-equality dedup: a degenerate
    * codebook (tiny or collapsed corpus) could put a large fraction of
    * the corpus in one code cell, and emitting that group's pairs is
    * quadratic — groups past the cap drop entirely, the
    * [[DedupOps.MaxBucketSize]] boilerplate policy applied to code
    * space (deterministic, mirrored in the oracle's HAVING). */
  val SemanticGroupCap = 1024

  /** Semantic (codebook-space) dedup over PQ codes — the SemDeDup-style
    * coarse pass: two vectors quantizing to the SAME code in every
    * subspace sit in the same tiny product cell of the trained
    * codebook, the cheapest large-scale signal of semantic
    * near-duplication. Cost shape is the selling point: where
    * cosine-based near-dup pays an in-bucket pair join over unit
    * vectors, this is ONE keyed exchange over the M·4-bit code arrays
    * (the at-rest `pq` index payload — no embedding bytes read at all
    * when codes are persisted), then pair fan-out bounded by
    * [[SemanticGroupCap]]. Precision is the codebook's: cell mates are
    * near in quantized space, not certified by an exact cosine — a
    * deployment uses this as the cheap FIRST pass and rescores
    * survivors with `dedup_embedding_cosine` where certification
    * matters. Injected ×1.001 copies land in their original's cell
    * (identical direction ⇒ per-subspace argmin ties bit-for-bit), so
    * the gate has guaranteed, hash-oracled output. */
  val pqSemanticDedup: GraftQuery = GraftQuery(
    "dedup_pq_semantic",
    (s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val dups = emb(s, dir).filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("transform(embedding, x -> x * CAST(1.001 AS FLOAT))")
            .as("embedding"))
      val units = unit(base.unionAll(dups))
        .select(col("vec_id"), col("unit")).localCheckpoint()
      val (_, cb) = buildPqCodebooks(units)
      pqEncodeUnits(units, cb)
        .groupBy(col("codes"))
        .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
        .filter(size(col("ids")).between(2, SemanticGroupCap))
        .select(explode(expr(
          """flatten(transform(ids, (xa, ia) ->
            |  transform(slice(ids, ia + 2, size(ids)), xb ->
            |    struct(xa AS id_a, xb AS id_b))))""".stripMargin)).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
    },
    Some(
      s"""WITH uaug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> x * CAST(1.001 AS FLOAT))
         |  FROM embeddings WHERE vec_id < 10),
         |${unitCteSqlFrom("uaug")},
         |${pqTrainCtesSql(PqSubs, PqCodes, PqIters, "u")},
         |cvec AS (
         |  SELECT vec_id, list(code ORDER BY sub) AS codes
         |  FROM pasgF GROUP BY 1),
         |grp AS (
         |  SELECT codes FROM cvec GROUP BY 1
         |  HAVING count(*) BETWEEN 2 AND $SemanticGroupCap)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM cvec a
         |JOIN grp g ON a.codes = g.codes
         |JOIN cvec b ON b.codes = a.codes AND a.vec_id < b.vec_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Semantic decontamination (benchmark-vs-corpus in PQ code space)
  // ---------------------------------------------------------------------

  /** Exact-cosine certification floor for semantic contamination, in
    * rendered basis points (the round-13 rule: membership thresholds
    * compare the rendered integer, never a raw double). 9900 = cosine
    * 0.99, the dedup family's near-identical bar. */
  val DecontamCertBp = 9900L

  /** Code-space contamination pairs + exact-cosine certification, from
    * ALREADY-ENCODED sides — the [[pqSemanticDedup]] keyed exchange
    * with a two-sided source. The benchmark side is model-sized
    * (an eval suite: thousands of rows, not billions) and broadcasts;
    * the corpus side contributes only its (vec_id, codes) rows to the
    * join — at rest that is a codes-column-only scan — and corpus
    * UNITS are fetched for certification only for code-join HITS (the
    * join output is semi-join-pruned before any unit is read), so the
    * exact-cosine pass touches a contamination-sized row set, not the
    * corpus. */
  def contaminationFromCodes(corpusCodes: DataFrame,
      corpusUnits: DataFrame, benchCodes: DataFrame,
      benchUnits: DataFrame, certBp: Long = DecontamCertBp): DataFrame = {
    val hits = corpusCodes.select(col("vec_id"), col("codes"))
      .join(broadcast(benchCodes.select(col("eval_id"), col("codes"))),
        Seq("codes"))
      .select(col("eval_id"), col("vec_id"))
    hits
      .join(corpusUnits.select(col("vec_id"), col("unit")), Seq("vec_id"))
      .join(broadcast(benchUnits.select(col("eval_id"),
        col("unit").as("b_unit"))), Seq("eval_id"))
      .withColumn("cos_bp",
        floor(vec_dot(col("b_unit"), col("unit")) * lit(10000))
          .cast("long"))
      .filter(col("cos_bp") >= certBp)
      .select(col("eval_id"), col("vec_id").as("corpus_id"), col("cos_bp"))
  }

  /** Semantic decontamination of a benchmark against a corpus:
    * paraphrased contamination shares few token n-grams (the
    * `text_decontaminate` gate passes it) but the SAME embedding
    * neighborhood under the corpus's encoder — so compare in PQ code
    * space. Trains the [[buildPqCodebooks]] model on the CORPUS,
    * encodes both sides under it (the benchmark via [[pqEncodeWith]] —
    * the fixed-model ingest path), joins on exact code vectors (the
    * SemDeDup-style coarse screen), then certifies each hit with the
    * exact cosine at ≥ `certBp` rendered basis points. Input frames:
    * corpus (vec_id, embedding), benchmark (eval_id, embedding).
    * Output: one row per CERTIFIED contaminated (eval_id, corpus_id)
    * pair — eval items absent from the output are clean under the
    * model. At rest the corpus side needs no training or encoding at
    * all: [[graft.store.IndexStore]]'s `pq` kind already stores
    * (codes, unit) under a committed codebook, so the same exchange
    * runs over a codes-only scan (see `IndexStore.semanticContamination`). */
  def semanticContamination(corpusEmb: DataFrame, benchEmb: DataFrame,
      certBp: Long = DecontamCertBp): DataFrame = {
    val cu = unit(corpusEmb).select(col("vec_id"), col("unit"))
      .localCheckpoint()
    val bu = unit(benchEmb.withColumnRenamed("eval_id", "vec_id"))
      .select(col("vec_id"), col("unit"))
    val (_, cb) = buildPqCodebooks(cu)
    contaminationFromCodes(
      pqEncodeUnits(cu, cb), cu,
      pqEncodeWith(bu, cb)
        .select(col("vec_id").as("eval_id"), col("codes")),
      bu.select(col("vec_id").as("eval_id"), col("unit")), certBp)
  }

  /** Driver gate: the corpus is the embeddings table; the benchmark is
    * 10 planted CONTAMINATED items (×1.001-scaled copies of corpus
    * vectors — the "benchmark question embedded by the same encoder"
    * shape, textually paraphrased so an n-gram gate sees nothing) and
    * 10 planted CLEAN items (negated corpus directions — antipodal,
    * cosine ≈ −1 to their source and ≈ chance to everything else on
    * this isotropic corpus). Expected output: exactly the contaminated
    * pairs, certified at cos_bp ≈ 10⁴; the clean ids must not appear —
    * which the oracle recomputes end-to-end (trainer unrolled, both
    * encodings, the code join, the certification floor). */
  val decontamSemantic: GraftQuery = GraftQuery(
    "text_decontaminate_semantic",
    (s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val contaminated = emb(s, dir).filter(col("vec_id") < 10)
        .select((col("vec_id") + 5000000).as("eval_id"),
          expr("transform(embedding, x -> x * CAST(1.001 AS FLOAT))")
            .as("embedding"))
      val clean = emb(s, dir)
        .filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select((col("vec_id") + 6000000).as("eval_id"),
          expr("transform(embedding, x -> -x)").as("embedding"))
      semanticContamination(base, contaminated.unionAll(clean))
    },
    Some {
      val dsub = pqDsubSql("u")
      val subIdx = s"(SELECT unnest(generate_series(0, ${PqSubs - 1})) AS sub)"
      s"""WITH baug AS (
         |  SELECT vec_id + 5000000 AS vec_id,
         |    list_transform(embedding, x -> x * CAST(1.001 AS FLOAT))
         |      AS embedding
         |  FROM embeddings WHERE vec_id < 10
         |  UNION ALL
         |  SELECT vec_id + 6000000, list_transform(embedding, x -> -x)
         |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 20),
         |$unitCteSql,
         |${unitCteSqlFrom("baug", "bu")},
         |${pqTrainCtesSql(PqSubs, PqCodes, PqIters, "u")},
         |cvec AS (
         |  SELECT vec_id, list(code ORDER BY sub) AS codes
         |  FROM pasgF GROUP BY 1),
         |bsubs AS MATERIALIZED (
         |  SELECT vec_id, s.sub,
         |    list_slice(unit, s.sub * $dsub + 1,
         |      (s.sub + 1) * $dsub) AS subvec
         |  FROM bu, $subIdx s),
         |basg AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT t.vec_id, t.sub, c.code,
         |      row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
         |        ${l2sqSql("t.subvec", "c.centroid")} ASC, c.code ASC)
         |        AS ark
         |    FROM bsubs t JOIN pq$PqIters c ON c.sub = t.sub) z
         |  WHERE ark = 1),
         |bcvec AS (
         |  SELECT vec_id, list(code ORDER BY sub) AS codes
         |  FROM basg GROUP BY 1)
         |SELECT b.vec_id AS eval_id, c.vec_id AS corpus_id,
         |  CAST(floor(${dotSql("bu.unit", "cu.unit")} * 10000) AS BIGINT)
         |    AS cos_bp
         |FROM bcvec b JOIN cvec c ON b.codes = c.codes
         |JOIN bu ON bu.vec_id = b.vec_id
         |JOIN u cu ON cu.vec_id = c.vec_id
         |WHERE floor(${dotSql("bu.unit", "cu.unit")} * 10000)
         |  >= $DecontamCertBp""".stripMargin
    })

  val all: Seq[GraftQuery] =
    Seq(bruteForce, filteredTopK, rangeSearch, lshTopK, ivfTopK,
      recallReport, diverse, pqTopK, pqDistortion, pqRecallReport,
      ivfPqTopK, ivfPqRecallReport, pqSemanticDedup, decontamSemantic)
}
