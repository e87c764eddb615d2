package graft

import graft.operators.SimilarityOps
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 optimization pins: the literal-closure assignment kernels
  * (ivf_cell / ivf_top_cells / pq_codes / pq_table) must reproduce the
  * aggregate/window forms they replaced BIT-FOR-BIT — same fixed-order
  * folds, same tie-breaks (max(struct(dot, cell)): ties → higher cell;
  * min(struct(d2, code)): ties → lower code; probe rank (aff DESC,
  * cell ASC)). Each test recomputes the legacy distributed form inline
  * and compares row-for-row against the kernel path. */
class LiteralModelAssignSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def units: DataFrame =
    SimilarityOps.unitVectors(Tables.t(spark, dir, "embeddings"))
      .localCheckpoint()

  test("ivfAssign kernel matches the crossJoin + max(struct) form") {
    val u = units
    val (_, cents) = SimilarityOps.buildIvfIndex(u)
    val legacy = u.crossJoin(broadcast(SimilarityOps.ivfCentroidRows(spark,
        cents)))
      .withColumn("dot", graft.functions.Vec
        .vec_dot(col("unit"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("dot"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SimilarityOps.ivfAssign(u, cents)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == legacy)
    assert(got.size == u.count())
  }

  test("ivfProbes kernel matches the window (aff DESC, cell ASC) form") {
    val u = units
    val (_, cents) = SimilarityOps.buildIvfIndex(u)
    val queries = u.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("aff").desc, col("cell"))
    val legacy = queries.crossJoin(broadcast(SimilarityOps
        .ivfCentroidRows(spark, cents)))
      .withColumn("aff", graft.functions.Vec
        .vec_dot(col("q_unit"), col("centroid")))
      .withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= SimilarityOps.IvfProbes)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = SimilarityOps
      .ivfProbes(queries, cents, SimilarityOps.IvfProbes)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == legacy)
  }

  /** A trained codebook with the reference forms' inputs: its rendered
    * table and the subvector explode of `u`. */
  private def pqModel(u: DataFrame)
      : (SimilarityOps.PqCodebook, DataFrame, DataFrame) = {
    val cb = SimilarityOps.buildPqCodebooks(u)
    (cb, SimilarityOps.pqCodebookRows(spark, cb),
      SimilarityOps.pqSubvectors(u, cb.centroids(0)(0).length))
  }

  test("the rendered model tables collect back to the trained arrays, " +
      "with the at-rest column types") {
    import org.apache.spark.sql.types._
    val u = units
    val (_, cents) = SimilarityOps.buildIvfIndex(u, checkpointCells = false)
    val centRows = SimilarityOps.ivfCentroidRows(spark, cents)
    assert(centRows.schema.map(f => f.name -> f.dataType) ==
      Seq("cell" -> IntegerType, "centroid" -> ArrayType(DoubleType, false)))
    assert(SimilarityOps.collectCents(centRows).map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)
    val (cb, cbRows, _) = pqModel(u)
    assert(cbRows.schema.map(f => f.name -> f.dataType) ==
      Seq("sub" -> IntegerType, "code" -> IntegerType,
        "centroid" -> ArrayType(DoubleType, false),
        "sq" -> ArrayType(LongType, false), "cq" -> LongType))
    def deep[A](a: Array[Array[Array[A]]]) = a.map(_.map(_.toSeq).toSeq).toSeq
    assert(deep(SimilarityOps.collectCodebook(cbRows)) == deep(cb.centroids))
    val (sq, cq) = SimilarityOps.collectExactPairs(cbRows)
    assert(deep(sq) == deep(cb.sq))
    assert(cq.map(_.toSeq).toSeq == cb.cq.map(_.toSeq).toSeq)
  }

  test("pqEncodeUnits matches the exploded pqEncode form") {
    val u = units
    val (cb, cbRows, subs) = pqModel(u)
    val legacy = SimilarityOps.pqEncode(subs, cbRows)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val got = SimilarityOps.pqEncodeUnits(u, cb.centroids)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == legacy)
    assert(got.size == u.count())
  }

  test("pqQueryTables kernel matches the join + collect_list table form") {
    val u = units
    val (cb, cbRows, subs) = pqModel(u)
    val legacy = SimilarityOps
      .pqDistanceTables(subs.filter(col("vec_id") < 10), cbRows)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = SimilarityOps
      .pqQueryTables(u.filter(col("vec_id") < 10), cb.centroids)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == legacy)
    assert(got.nonEmpty)
  }

  test("pq_dist_q_all matches per-sub pq_dist_q over pqAssign") {
    val u = units
    val (cb, cbRows, subs) = pqModel(u)
    val legacy = SimilarityOps.pqAssign(subs, cbRows)
      .join(broadcast(cbRows.select(col("sub"), col("code"), col("sq"),
        col("cq"))), Seq("sub", "code"))
      .withColumn("d2q", graft.functions.Vec
        .pq_dist_q(col("subvec"), col("sq"), col("cq")))
      .groupBy(col("sub"))
      .agg(sum(col("d2q")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = u
      .select(posexplode(graft.functions.Vec.pq_dist_q_all(col("unit"),
        graft.functions.Vec.pq_codes(col("unit"), cb.centroids), cb.sq,
        cb.cq))
        .as(Seq("sub", "d2q")))
      .groupBy(col("sub"))
      .agg(sum(col("d2q")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == legacy)
  }

  /** Every populated slot of a fold as (group, pos) -> (sum, count). */
  private def foldMap(acc: SimilarityOps.LloydSums, groups: Int,
      width: Int): Map[(Int, Int), (java.math.BigInteger, Long)] =
    (for {
      g <- 0 until groups if acc.counts(g) > 0
      p <- 0 until width
    } yield (g, p) -> ((acc.sum(g * width + p), acc.counts(g)))).toMap

  test("ivf Lloyd fold's sums and counts equal the exploded sum form") {
    val u = units
    val (_, centsArr) = SimilarityOps.buildIvfIndex(u)
    val dim = centsArr(0).length
    val legacy = SimilarityOps.ivfAssign(u, centsArr)
      .select(col("cell"), posexplode(col("unit")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(floor(col("col") * lit(SimilarityOps.IvfQuant) + lit(0.5))
        .cast("decimal(38,0)")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDecimal(2).toBigInteger, r.getLong(3)))).toMap
    val acc = SimilarityOps.lloydSums(u, centsArr.length, dim, dim,
      SimilarityOps.IvfQuant)(v =>
      Array(graft.functions.Vec.ivfCell(v, centsArr)))
    assert(foldMap(acc, centsArr.length, dim) == legacy)
    assert(acc.minLen == dim && acc.maxLen == dim)
  }

  test("pq Lloyd fold's sums and counts equal the exploded " +
      "(sub, code, pos) sum form") {
    val u = units
    val cbArr = SimilarityOps.buildPqCodebooks(u).centroids
    val (m, ks, dsub) = (cbArr.length, cbArr(0).length, cbArr(0)(0).length)
    val legacy = u
      .select(graft.functions.Vec.pq_codes(col("unit"), cbArr).as("codes"),
        posexplode(col("unit")))
      .select((col("pos") / dsub).cast("int").as("sub"),
        col("pos").mod(dsub).as("p"), col("col"), col("codes"))
      .select(col("sub"), element_at(col("codes"), col("sub") + 1)
        .as("code"), col("p"), col("col"))
      .groupBy(col("sub"), col("code"), col("p"))
      .agg(sum(floor(col("col") * lit(SimilarityOps.PqQuant) + lit(0.5))
        .cast("decimal(38,0)")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0) * ks + r.getInt(1), r.getInt(2)) ->
        ((r.getDecimal(3).toBigInteger, r.getLong(4)))).toMap
    val acc = SimilarityOps.lloydSums(u, m * ks, dsub, m * dsub,
      SimilarityOps.PqQuant) { v =>
      val codes = graft.functions.Vec.pqCodes(v, cbArr)
      Array.tabulate(m)(s => s * ks + codes.getInt(s))
    }
    assert(foldMap(acc, m * ks, dsub) == legacy)
  }

  test("Lloyd partials past Long.MaxValue merge to the exact sum") {
    val big = java.math.BigInteger.valueOf(Long.MaxValue)
    def partial(xs: Long*): SimilarityOps.LloydSums = {
      val p = new SimilarityOps.LloydSums(1, 2)
      xs.foreach { x => p.add(0, x); p.add(1, -x) }
      p
    }
    val a = partial(Long.MaxValue, Long.MaxValue, 5L)
    assert(a.sum(0) == big.shiftLeft(1).add(java.math.BigInteger.valueOf(5)))
    val b = partial(Long.MaxValue, 7L)
    val merged = a.merge(b)
    val want = big.multiply(java.math.BigInteger.valueOf(3))
      .add(java.math.BigInteger.valueOf(12))
    assert(merged.sum(0) == want)
    assert(merged.sum(1) == want.negate())
  }

  test("each Lloyd round is one job and the trainers leave the session " +
      "conf untouched") {
    val u = units
    val conf0 = spark.conf.getAll
    val (_, ivfJobs) = GraftTestBus.jobsOf(spark.sparkContext)(
      SimilarityOps.buildIvfIndex(u, checkpointCells = false))
    assert(ivfJobs == 1 + SimilarityOps.IvfIters)
    assert(spark.conf.getAll == conf0)
    val (_, pqJobs) = GraftTestBus.jobsOf(spark.sparkContext)(
      SimilarityOps.buildPqCodebooks(u))
    assert(pqJobs == 1 + SimilarityOps.PqIters)
    assert(spark.conf.getAll == conf0)
  }
}
