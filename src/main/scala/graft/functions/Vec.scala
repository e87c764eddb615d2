package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Dense-vector kernels for the similarity/ANN operators (SURVEY §7.6).
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`)
  * evaluate one interpreted lambda per ELEMENT; for the 256-bit sketch
  * that is bits × dims ≈ 16k lambda invocations per row — seconds of pure
  * interpretation overhead at sf0.1. These expressions follow the same
  * pattern as [[U256]]: a static JVM kernel (tight `while` loop, no
  * boxing) invoked directly from whole-stage-generated code via
  * `nullSafeCodeGen`, so the surrounding plan stays one codegen span.
  *
  * Numerics: every kernel accumulates strictly left to right in DOUBLE
  * precision throughout (the HOF forms squared float elements in float
  * before widening — the kernels are slightly MORE precise, diffs ~1e-8).
  * The oracled queries built on these emit ranks (`ann_topk_brute`) or
  * 3-dp-rounded values (`dedup_embedding_cosine`), far above that noise.
  */
object Vec {

  /** Unit-normalize a double vector; null when the norm is zero (callers
    * filter nulls — the HOF form's `filter(norm > 0)`). */
  def unit(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    if (s <= 0) return null
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }

  /** Left-to-right dot product over the common prefix. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Left-to-right squared-L2 distance over the common prefix — the
    * product-quantization assignment/table metric. Same fold discipline
    * as [[dot]]: one `d = aᵢ-bᵢ; s += d*d` per element, so the DuckDB
    * oracle's `list_reduce` over `(a[j]-b[j])*(a[j]-b[j])` reproduces
    * every intermediate bit-for-bit. */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Element-wise difference a − b over the common prefix — the IVF-PQ
    * residual (vector minus its cell centroid). A kernel, not a
    * zip_with lambda: the residual is computed once per corpus row in
    * the encode scan. */
  def sub(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) - b.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Asymmetric-distance (ADC) lookup: Σ_s tbl[s·ks + codes[s]] over a
    * row's M PQ codes and one query's flattened (M×ks) quantized
    * distance table. Plain integer adds — exact at any order, but the
    * loop is left-to-right anyway. The scan-side cost of a PQ search:
    * M array reads + adds per row, no float math at all. */
  def adc(codes: ArrayData, tbl: ArrayData, ks: Int): Long = {
    val m = codes.numElements()
    // Stride guard: an UnsafeArrayData read past numElements returns
    // unchecked memory, not an exception — a wrong ks (nominal PqCodes
    // against a small-corpus codebook with fewer codes; see
    // SimilarityOps.pqSearch) would produce plausible-garbage distances.
    // One well-predicted compare per row vs M lookups.
    if (tbl.numElements() < m.toLong * ks)
      throw new IllegalArgumentException(
        s"pq_adc: table has ${tbl.numElements()} entries, need m*ks = " +
          s"$m*$ks — ks must be the codebook's actual code count")
    var s = 0L
    var i = 0
    while (i < m) { s += tbl.getLong(i * ks + codes.getInt(i)); i += 1 }
    s
  }

  /** Integer-domain quantized distortion between a (double) subvector
    * and a centroid held as its EXACT pair (sq = per-position quantized
    * sums S on the 2³² grid, c = member count, so the centroid value is
    * S/(c·2³²)): Σⱼ qⱼ² with qⱼ = round(|c·xqⱼ − Sⱼ| / (c·2¹⁶)) and
    * xqⱼ = floor(xⱼ·2³² + ½). qⱼ is the residual on the 2⁻¹⁶ grid, so
    * qⱼ² sits on the 2⁻³² grid — the statistic has the same magnitude
    * as floor(2³²·‖x − centroid‖²), but NO double ever feeds a floor
    * whose argument an engine could perturb: xⱼ·2³² is a pure exponent
    * shift (2³² is a power of two — exact), +½ is ONE IEEE add, and
    * everything after is BIGINT arithmetic with a nonnegative
    * truncating division (= floor), reproducible term-for-term by the
    * DuckDB oracle's list arithmetic. This is the hash-gated distortion
    * statistic ([[graft.operators.SimilarityOps.pqDistortion]]) —
    * the floor(2³²·d2 + ½) form it replaces summed 60k×8 IEEE folds and
    * flipped on one-ulp `list_reduce` divergence in the driver's DuckDB.
    *
    * Bounds: the statistic also runs in RESIDUAL space
    * ([[graft.operators.SimilarityOps.pqStoredDistortion]] for IVF-PQ),
    * where components reach |x| ≤ 2, so xq ≤ 2³³ and |c·xq − S| ≤
    * c·2³⁴: 2·|N| + c·2¹⁶ stays in int64 for c up to 2²⁸ − 2⁹ (~268M
    * members per (sub, code) cell); above that the rounding numerator
    * 2a + dn can exceed 2⁶³ at the |x| = 2 extreme. Guarded loudly,
    * not silently wrapped — the c guard covers the documented bound
    * exactly, and every multiply/add in the kernel uses
    * Math.multiplyExact/addExact so even an input OUTSIDE the modeled
    * envelope (a component beyond |x| = 2, say) raises instead of
    * wrapping (the DuckDB mirror raises on the same out-of-range
    * BIGINT op; a wrapped long here would diverge silently instead).
    * qⱼ ≤ 2¹⁸ ⇒ qⱼ² ≤ 2³⁶; the per-row sum over dsub ≤ 64 stays far
    * under 2⁶³. */
  def distq(x: ArrayData, sq: ArrayData, c: Long): Long = {
    if (c <= 0L || c >= (1L << 28) - (1L << 9))
      throw new IllegalArgumentException(
        s"pq_dist_q: centroid member count $c outside (0, 2^28 - 2^9) — " +
          "the rounding numerator 2|c*xq - S| + c*2^16 would overflow " +
          "int64 (residual-space components reach |x| = 2)")
    val n = math.min(x.numElements(), sq.numElements())
    val dn = c * 65536L
    val dn2 = dn * 2L
    var s = 0L
    var i = 0
    while (i < n) {
      val xq = math.floor(x.getDouble(i) * 4294967296.0 + 0.5).toLong
      val a = math.abs(Math.subtractExact(Math.multiplyExact(c, xq),
        sq.getLong(i)))
      val q = Math.addExact(Math.multiplyExact(a, 2L), dn) / dn2
      s += q * q
      i += 1
    }
    s
  }

  // ---- Literal-model assignment kernels (round 20) ----
  //
  // The IVF/PQ trainers and encoders assign rows to model cells/codes.
  // The models are driver-resident by construction (k×dim centroids,
  // M×ks×dsub codebooks — a few KB), so the assignment is a pure
  // per-row function of (vector, model literal): one codegen'd
  // projection, no crossJoin fan-out, no groupBy exchange. Every fold
  // below reuses the exact arithmetic of [[dot]]/[[l2sq]] (same
  // left-to-right order over the common prefix), and the tie-breaks
  // mirror the aggregate forms they replace term-for-term:
  //   - [[ivfCell]]: max(struct(dot, cell)) ⇒ higher dot, ties → higher
  //     cell (iterate cells ascending, replace on dot >= best);
  //   - [[pqCodes]]: min(struct(d2, code)) ⇒ lower d2, ties → lower
  //     code (iterate codes ascending, replace on d2 < best strictly);
  //   - [[ivfTopCells]]: row_number over (aff DESC, cell ASC) ⇒ select
  //     the max remaining with strict >, keeping the lowest cell on
  //     ties.
  // The DuckDB oracles are unchanged — they recompute the same folds.

  /** Argmax cell of a unit vector under a centroid matrix indexed by
    * cell id — the [[graft.operators.SimilarityOps.ivfAssign]] kernel. */
  def ivfCell(v: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bestCell = -1
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      val n = math.min(v.numElements(), ct.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * ct(i); i += 1 }
      if (s >= best) { best = s; bestCell = c }
      c += 1
    }
    bestCell
  }

  /** Top-`nprobe` cells by (affinity DESC, cell ASC) — the probe-list
    * kernel. Returns an int array in rank order.
    *
    * Guarded: a query whose dimension differs from the model's would
    * rank cells by a truncated-prefix affinity and return plausible
    * garbage probes — fail loudly instead (the row-level twin of the
    * eager [[graft.operators.SimilarityOps.requireDim]] batch guard,
    * moved into the kernel so probe paths need no extra driver job). */
  def ivfTopCells(v: ArrayData, cents: Array[Array[Double]],
      nprobe: Int): ArrayData = {
    if (v.numElements() != cents(0).length)
      throw new IllegalArgumentException(
        s"probe dimension ${v.numElements()} does not match the " +
          s"centroid model's ${cents(0).length}")
    val k = cents.length
    val affs = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ct = cents(c)
      val n = math.min(v.numElements(), ct.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * ct(i); i += 1 }
      affs(c) = s
      c += 1
    }
    val take = math.min(nprobe, k)
    val out = new Array[Int](take)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      c = 0
      while (c < k) {
        if (!used(c) && (best < 0 || affs(c) > affs(best))) best = c
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  /** v − cents(cell) over the common prefix — the residual against a
    * literal centroid matrix (same arithmetic as [[sub]]). */
  def centroidResidual(v: ArrayData, cell: Int,
      cents: Array[Array[Double]]): ArrayData = {
    val ct = cents(cell)
    val n = math.min(v.numElements(), ct.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) - ct(i); i += 1 }
    new GenericArrayData(out)
  }

  /** All M PQ codes of a vector in one pass: code s = argmin over the
    * sub-s centroids of the [[l2sq]] fold over the s-th dsub-wide slice
    * (slice semantics mirror `slice(unit, s·dsub+1, dsub)` + the
    * common-prefix fold: a short tail slices short). */
  def pqCodes(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val vn = v.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val codes = cb(s)
      val dsub = if (codes.length > 0) codes(0).length else 0
      val off = s * dsub
      val avail = math.max(vn - off, 0)
      var bestD = Double.PositiveInfinity
      var bestC = 0
      var ci = 0
      while (ci < codes.length) {
        val ct = codes(ci)
        val n = math.min(avail, ct.length)
        var d2 = 0.0
        var j = 0
        while (j < n) {
          val d = v.getDouble(off + j) - ct(j)
          d2 += d * d
          j += 1
        }
        if (d2 < bestD) { bestD = d2; bestC = ci }
        ci += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Flattened M×ks quantized ADC table of a query vector: entry
    * s·ks + c = floor(‖slice_s − centroid(s,c)‖²·quant + ½) as a long —
    * exactly the floor(d2·Q + ½) the join-aggregate form computed. */
  def pqTable(v: ArrayData, cb: Array[Array[Array[Double]]],
      quant: Double): ArrayData = {
    val m = cb.length
    val ks = if (m > 0) cb(0).length else 0
    val vn = v.numElements()
    // loud dimension guard (same rationale as [[ivfTopCells]]): a
    // wrong-dimension query would slice tail subspaces empty and build
    // a garbage ADC table
    val expected = if (m > 0 && ks > 0) m * cb(0)(0).length else vn
    if (vn != expected)
      throw new IllegalArgumentException(
        s"query dimension $vn does not match the codebook's $expected")
    val out = new Array[Long](m * ks)
    var s = 0
    while (s < m) {
      val codes = cb(s)
      val dsub = if (codes.length > 0) codes(0).length else 0
      val off = s * dsub
      val avail = math.max(vn - off, 0)
      var ci = 0
      while (ci < codes.length) {
        val ct = codes(ci)
        val n = math.min(avail, ct.length)
        var d2 = 0.0
        var j = 0
        while (j < n) {
          val d = v.getDouble(off + j) - ct(j)
          d2 += d * d
          j += 1
        }
        out(s * ks + ci) = math.floor(d2 * quant + 0.5).toLong
        ci += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Per-sub integer distortion of a vector against its ASSIGNED codes'
    * exact centroid pairs — [[distq]] applied slice-by-slice in one
    * pass (sq indexed [sub][code][dpos], cq indexed [sub][code]; same
    * guards, same arithmetic). Returns an M-long array. */
  def pqDistQAll(v: ArrayData, codes: ArrayData,
      sq: Array[Array[Array[Long]]], cq: Array[Array[Long]]): ArrayData = {
    val m = codes.numElements()
    val vn = v.numElements()
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val code = codes.getInt(s)
      val sqv = sq(s)(code)
      val c = cq(s)(code)
      if (c <= 0L || c >= (1L << 28) - (1L << 9))
        throw new IllegalArgumentException(
          s"pq_dist_q: centroid member count $c outside (0, 2^28 - 2^9) — " +
            "the rounding numerator 2|c*xq - S| + c*2^16 would overflow " +
            "int64 (residual-space components reach |x| = 2)")
      val dsub = sqv.length
      val off = s * dsub
      val avail = math.max(vn - off, 0)
      val n = math.min(avail, dsub)
      val dn = c * 65536L
      val dn2 = dn * 2L
      var acc = 0L
      var j = 0
      while (j < n) {
        val xq = math.floor(v.getDouble(off + j) * 4294967296.0 + 0.5).toLong
        val a = math.abs(Math.subtractExact(Math.multiplyExact(c, xq),
          sqv(j)))
        val q = Math.addExact(Math.multiplyExact(a, 2L), dn) / dn2
        acc += q * q
        j += 1
      }
      out(s) = acc
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Σ popcount(aᵢ xor bᵢ) over two long-array sketches. */
  def hamming(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1
    }
    h
  }

  /** Seeded Rademacher (±1) hyperplanes, cached per (seed, bits, dim) —
    * one generation per executor JVM. Entry (i, j) is the POPCOUNT
    * PARITY of the portable hash of "seed:i:j" mapped to ±1, so the
    * whole plane matrix — and therefore every sketch bit — is
    * reproducible by any engine (the DuckDB oracles rebuild it as
    * bit_count(hash) & 1). Parity over ALL bits, not one bit: the
    * pair-fold is linear in the character codes, so any single output
    * bit is strongly correlated across the related "seed:i:j" strings
    * (measured row-correlation std 0.85 vs the 0.125 an i.i.d. matrix
    * gives — recall collapsed to 0.36); popcount parity mixes the full
    * word and restores i.i.d.-grade correlations (0.138) and recall
    * (0.96 vs 0.98 Gaussian on the driver corpus, TrainingOpsSpec
    * gates ≥ 0.8). Sign-LSH with ±1 projections is the Achlioptas-style
    * database-friendly variant of the Gaussian family. */
  private val planeCache =
    new ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  def planes(seed: Long, bits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, bits, dim), { key =>
      Array.tabulate(key._2)(i => Array.tabulate(key._3) { j =>
        val h = portableHash(org.apache.spark.unsafe.types.UTF8String
          .fromString(s"${key._1}:$i:$j"))
        if ((java.lang.Long.bitCount(h) & 1) != 0) 1.0 else -1.0
      })
    })

  /** bits-wide sign sketch of a unit vector: bit i of the packed words is
    * sign(⟨v, plane_i⟩). Hyperplane count = `bits` (multiple of 64). */
  def sketch(v: ArrayData, seed: Long, bits: Int): ArrayData = {
    val dim = v.numElements()
    val ps = planes(seed, bits, dim)
    val words = new Array[Long](bits >> 6)
    val x = new Array[Double](dim)
    var j = 0
    while (j < dim) { x(j) = v.getDouble(j); j += 1 }
    var i = 0
    while (i < bits) {
      val p = ps(i)
      var s = 0.0
      j = 0
      while (j < dim) { s += x(j) * p(j); j += 1 }
      if (s >= 0) words(i >> 6) |= 1L << (63 - (i & 63))
      i += 1
    }
    new GenericArrayData(words)
  }

  // ---- Portable hash family (cross-engine oracle-able) ----
  //
  // The dedup kernels below (token/shingle/char-gram hashes, MinHash
  // slots, SimHash) all ride on ONE portable 60-bit hash: a pair of
  // polynomial folds
  //     f1 = fold((a, c) -> (a*131 + c) mod 1e9+7,    0, codepoints)
  //     f2 = fold((a, c) -> (a*137 + c) mod 998244353, 0, codepoints)
  //     P(s) = f1 << 30 | f2
  // — plain 64-bit integer arithmetic any engine reproduces exactly
  // (both moduli are < 2^30, so every intermediate fits in a signed
  // long; the DuckDB oracles recompute the folds with list_reduce).
  // This is the winnowFingerprints portability pattern widened to 60
  // bits so the collision behavior stays xxhash64-class (p ≈ n²/2⁶¹)
  // while the whole MinHash/SimHash/LSH family becomes hash-checkable
  // cross-engine. Code POINTS (not UTF-8 bytes) are the hashed units,
  // matching DuckDB's ascii(s[j]); an all-ASCII fast path walks bytes.

  val HashP1 = 1000000007L
  val HashP2 = 998244353L
  val HashB1 = 131L
  val HashB2 = 137L
  /** f1 occupies bits 30..59, f2 bits 0..29 — P(s) < 2^60. */
  val HashPairShift = 30

  /** The portable pair-hash P(s) over a string's code points. */
  def portableHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    if (s == null) return 0L
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < nb) {
      if (s.getByte(i) < 0) ascii = false else i += 1
    }
    var h1 = 0L
    var h2 = 0L
    if (ascii) {
      i = 0
      while (i < nb) {
        val c = s.getByte(i) & 0xffL
        h1 = (h1 * HashB1 + c) % HashP1
        h2 = (h2 * HashB2 + c) % HashP2
        i += 1
      }
    } else {
      val str = s.toString
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        h1 = (h1 * HashB1 + cp) % HashP1
        h2 = (h2 * HashB2 + cp) % HashP2
        j += Character.charCount(cp)
      }
    }
    (h1 << HashPairShift) | h2
  }

  /** The portable pair-hash lifted to a long window: the same two folds
    * over already-hashed values (each < 2^60, so acc*131 + v < 2^61 —
    * no overflow before the mod). */
  private def foldLongs(hs: Array[Long], from: Int, n: Int): Long = {
    var g1 = 0L
    var g2 = 0L
    var j = from
    val end = from + n
    while (j < end) {
      val h = hs(j)
      g1 = (g1 * HashB1 + h) % HashP1
      g2 = (g2 * HashB2 + h) % HashP2
      j += 1
    }
    (g1 << HashPairShift) | g2
  }

  /** Per-token portable hashes of a string array — the SimHash input and
    * the inner stage of [[shingleHashes]]. Null elements hash to 0. */
  def tokenHashes(toks: ArrayData): ArrayData = {
    val cnt = toks.numElements()
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      out(i) = portableHash(toks.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash slot constants: the affine 2-universal family
    * g_j(h) = (A_j·h + B_j) mod p1 over h mod p1, with (A_j, B_j) drawn
    * from fixed integer recurrences so the DuckDB oracle derives them
    * from j with the same two multiplications. */
  val MinhashMulA = 2654435761L
  val MinhashMulB = 2246822519L
  def minhashA(j: Int): Long = (j * MinhashMulA) % (HashP1 - 1) + 1
  def minhashB(j: Int): Long = (j * MinhashMulB) % HashP1

  /** k MinHash slots over pre-hashed shingles: slot j is
    * min over h of (A_j·(h mod p1) + B_j) mod p1 — one pass over the
    * hash array; every product stays under 2^60 (A_j, h mod p1 < 2^30). */
  def minhash(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    val as = Array.tabulate(k)(minhashA)
    val bs = Array.tabulate(k)(minhashB)
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val hm = hashes.getLong(i) % HashP1
      var j = 0
      while (j < k) {
        val v = (as(j) * hm + bs(j)) % HashP1
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash width: the portable pair-hash carries 60 meaningful bits,
    * so the vote vector (and the packed sketch) is 60 bits wide — banded
    * 4 × 15 by the near-dup pair kernel. */
  val SimHashBits = 60

  /** 60-bit SimHash over token hashes: per-bit majority vote (term
    * frequency counts — duplicates vote once per occurrence), packed with
    * bit b set when votes are positive. One per-row pass — replaces an
    * explode + per-bit groupBy aggregation (a full shuffle). */
  def simhash(hashes: ArrayData): Long = {
    val votes = new Array[Int](SimHashBits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < SimHashBits) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < SimHashBits) {
      if (votes(b) > 0) packed |= 1L << b
      b += 1
    }
    packed
  }

  /** Distinct portable hashes of the n-token shingles of a token array —
    * first-seen order, one tight pass: tokens are pair-hashed once, each
    * shingle is the pair-fold of its n token hashes. Shingle STRINGS are
    * never materialized as a column, and the values are exactly what the
    * DuckDB oracle recomputes from the same token array. */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { th(i) = portableHash(toks.getUTF8String(i)); i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i <= cnt - n) {
      seen.add(foldLongs(th, i, n))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL portable hashes of the n-token shingles of a token
    * array: entry i is the pair-fold of token hashes i..i+n-1 — ALL
    * shingles, in order, duplicates kept (unlike [[shingleHashes]],
    * whose distinct set serves set-similarity). The exact-span screen
    * keys its postings exchange on these, so the position is the array
    * index and the hash is DuckDB-recomputable term-for-term. */
  def shinglePosHashes(toks: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { th(i) = portableHash(toks.getUTF8String(i)); i += 1 }
    val out = new Array[Long](cnt - n + 1)
    i = 0
    while (i <= cnt - n) { out(i) = foldLongs(th, i, n); i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct portable hashes of the n-char grams of a string — the
    * character analogue of [[shingleHashes]]. Mirrors
    * `substring(text, i, n) for i in 1..greatest(len-n+1, 1)` (so a
    * shorter-than-n text yields one truncated gram). */
  def charGramHashes(
      text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    val grams = math.max(len - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < grams) {
      seen.add(portableHash(text.substringSQL(i + 1, n)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every k-char gram,
    * take the min hash of each w-gram window, deduplicate in first-
    * occurrence order. Guarantees any k+w-1-char match between two
    * documents shares a fingerprint, at ~1/w the gram density.
    *
    * Unlike the xxhash64 dedup family, the gram hash here is a
    * polynomial fold h = (h·131 + char) mod 1e9+7 — plain integer
    * arithmetic any engine reproduces exactly (the DuckDB oracle
    * recomputes it with list_reduce), so the operator is hash-checkable
    * cross-engine. Input must be pre-normalized to single-byte chars
    * (the query feeds regexp_replace(lower(text), "[^a-z0-9]", "")) —
    * bytes are the units hashed. */
  def winnowFingerprints(
      text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val n = text.numBytes()
    val grams = n - k + 1
    if (grams <= 0) return new GenericArrayData(Array.empty[Long])
    val M = 1000000007L
    val B = 131L
    val hs = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * B + (text.getByte(i + j) & 0xffL)) % M; j += 1 }
      hs(i) = h
      i += 1
    }
    val windows = math.max(grams - w + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < windows) {
      var m = java.lang.Long.MAX_VALUE
      var j = i
      val end = math.min(i + w, grams)
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    new GenericArrayData(out)
  }

  // ---- Column API ----

  /** array<float|double> → unit-normalized array<double>; null for the
    * zero vector. */
  def vec_unit(c: Column): Column =
    columnOf(VecUnit(exprOf(c.cast("array<double>"))))

  /** Dot product of two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    columnOf(VecDot(exprOf(a), exprOf(b)))

  /** Squared L2 distance of two array<double> columns. */
  def vec_l2sq(a: Column, b: Column): Column =
    columnOf(VecL2Sq(exprOf(a), exprOf(b)))

  /** Element-wise difference (array<double>) of two array<double>
    * columns. */
  def vec_sub(a: Column, b: Column): Column =
    columnOf(VecSub(exprOf(a), exprOf(b)))

  /** ADC distance (bigint): PQ codes (array<int>) looked up in a
    * query's flattened M×ks quantized table (array<bigint>). */
  def pq_adc(codes: Column, tbl: Column, ks: Int): Column =
    columnOf(PqAdc(exprOf(codes), exprOf(tbl), ks))

  /** Integer-domain quantized distortion (bigint) of a subvector
    * (array<double>) against a centroid's exact pair: sq =
    * array<bigint> of per-position quantized sums, cq = bigint member
    * count. See [[distq]]. */
  def pq_dist_q(x: Column, sq: Column, cq: Column): Column =
    columnOf(PqDistQ(exprOf(x), exprOf(sq), exprOf(cq)))

  /** Argmax cell (int) of a unit-vector column under a driver-resident
    * centroid matrix indexed by cell — see [[ivfCell]]. */
  def ivf_cell(c: Column, cents: Array[Array[Double]]): Column =
    columnOf(IvfCellExpr(exprOf(c), cents))

  /** Top-`nprobe` cells (array<int>, rank order) of a query vector
    * under a driver-resident centroid matrix — see [[ivfTopCells]]. */
  def ivf_top_cells(c: Column, cents: Array[Array[Double]],
      nprobe: Int): Column =
    columnOf(IvfTopCellsExpr(exprOf(c), cents, nprobe))

  /** Residual (array<double>) of a vector against its cell's centroid
    * in a driver-resident matrix — see [[centroidResidual]]. */
  def ivf_residual(v: Column, cell: Column,
      cents: Array[Array[Double]]): Column =
    columnOf(IvfResidualExpr(exprOf(v), exprOf(cell), cents))

  /** All M PQ codes (array<int>) of a unit-vector column under a
    * driver-resident [m][ks][dsub] codebook — see [[pqCodes]]. */
  def pq_codes(c: Column, cb: Array[Array[Array[Double]]]): Column =
    columnOf(PqCodesExpr(exprOf(c), cb))

  /** Flattened M×ks quantized ADC table (array<bigint>) of a query
    * vector under a driver-resident codebook — see [[pqTable]]. */
  def pq_table(c: Column, cb: Array[Array[Array[Double]]],
      quant: Double): Column =
    columnOf(PqTableExpr(exprOf(c), cb, quant))

  /** Per-sub integer distortion (array<bigint>) of a vector against its
    * assigned codes' exact pairs — see [[pqDistQAll]]. */
  def pq_dist_q_all(v: Column, codes: Column,
      sq: Array[Array[Array[Long]]], cq: Array[Array[Long]]): Column =
    columnOf(PqDistQAllExpr(exprOf(v), exprOf(codes), sq, cq))

  /** Packed sign sketch (array<bigint>) of a unit vector column. */
  def sign_sketch(c: Column, seed: Long, bits: Int): Column =
    columnOf(SignSketchExpr(exprOf(c), seed, bits))

  /** Hamming distance between two packed sketches. */
  def hamming64(a: Column, b: Column): Column =
    columnOf(Hamming64(exprOf(a), exprOf(b)))

  /** k-slot MinHash signature (array<bigint>) of an array<bigint> of
    * shingle hashes. */
  def minhash_sig(c: Column, k: Int): Column =
    columnOf(MinHashSig(exprOf(c), k))

  /** Per-token portable pair-hashes (array<bigint>) of an array<string>
    * column — the SimHash input stage. */
  def token_hashes(c: Column): Column = columnOf(TokenHashes(exprOf(c)))

  /** Portable pair-hash (bigint) of a string column — the cross-engine
    * stand-in for xxhash64 wherever a deterministic scatter/rank needs a
    * DuckDB-recomputable value. */
  def portable_hash64(c: Column): Column = columnOf(PortableHash64(exprOf(c)))

  /** 60-bit SimHash (bigint) of an array<bigint> of token hashes. */
  def simhash64(c: Column): Column = columnOf(SimHash64(exprOf(c)))

  /** Distinct n-token shingle hashes (array<bigint>) of an array<string>
    * token column. */
  def shingle_hashes(c: Column, n: Int): Column =
    columnOf(ShingleHashes(exprOf(c), n))

  /** Positional (all, in order) n-token shingle hashes (array<bigint>)
    * of an array<string> token column. */
  def shingle_pos_hashes(c: Column, n: Int): Column =
    columnOf(ShinglePosHashes(exprOf(c), n))

  /** Distinct n-char gram hashes (array<bigint>) of a string column. */
  def char_gram_hashes(c: Column, n: Int): Column =
    columnOf(CharGramHashes(exprOf(c), n))

  /** Winnowed k-gram/w-window fingerprints (array<bigint>) of a
    * normalized string column. */
  def winnow_fps(c: Column, k: Int, w: Int): Column =
    columnOf(WinnowFps(exprOf(c), k, w))
}

case class VecUnit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Vec.unit(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.Vec.unit($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): VecUnit = copy(c)
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Vec.dot($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecDot = copy(l, r)
}

case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Vec.l2sq($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecL2Sq = copy(l, r)
}

case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Vec.sub($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecSub = copy(l, r)
}

case class PqAdc(left: Expression, right: Expression, ks: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Vec.adc($a, $b, $ks);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdc = copy(l, r)
}

case class PqDistQ(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(x: Any, s: Any, c: Any): Any =
    Vec.distq(x.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData],
      c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, s, c) =>
      s"${ev.value} = graft.functions.Vec.distq($x, $s, $c);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqDistQ = copy(f, s, t)
}

case class SignSketchExpr(child: Expression, seed: Long, bits: Int)
    extends UnaryExpression {
  require(bits % 64 == 0, s"sketch bits must be a multiple of 64, got $bits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.sketch(v.asInstanceOf[ArrayData], seed, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.sketch($c, ${seed}L, $bits);")
  override protected def withNewChildInternal(c: Expression): SignSketchExpr =
    copy(child = c)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.minhash(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.minhash($c, $k);")
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.shingleHashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

case class ShinglePosHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.shinglePosHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.shinglePosHashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): ShinglePosHashes =
    copy(child = c)
}

case class CharGramHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.charGramHashes(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.charGramHashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): CharGramHashes =
    copy(child = c)
}

case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.winnowFingerprints(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.winnowFingerprints($c, $k, $w);")
  override protected def withNewChildInternal(c: Expression): WinnowFps =
    copy(child = c)
}

case class PortableHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    Vec.portableHash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.portableHash($c);")
  override protected def withNewChildInternal(c: Expression): PortableHash64 =
    copy(child = c)
}

case class TokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.tokenHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.tokenHashes($c);")
  override protected def withNewChildInternal(c: Expression): TokenHashes =
    copy(child = c)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    Vec.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.simhash($c);")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

case class IvfCellExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    Vec.ivfCell(v.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.ivfCell($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): IvfCellExpr =
    copy(child = c)
}

case class IvfTopCellsExpr(child: Expression, cents: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.ivfTopCells(v.asInstanceOf[ArrayData], cents, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.ivfTopCells($c, $ref, $nprobe);")
  }
  override protected def withNewChildInternal(c: Expression): IvfTopCellsExpr =
    copy(child = c)
}

case class IvfResidualExpr(left: Expression, right: Expression,
    cents: Array[Array[Double]]) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(v: Any, cell: Any): Any =
    Vec.centroidResidual(v.asInstanceOf[ArrayData], cell.asInstanceOf[Int],
      cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, cell) =>
      s"${ev.value} = graft.functions.Vec.centroidResidual($v, $cell, $ref);")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IvfResidualExpr = copy(l, r)
}

case class PqCodesExpr(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.pqCodes(v.asInstanceOf[ArrayData], cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.pqCodes($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): PqCodesExpr =
    copy(child = c)
}

case class PqTableExpr(child: Expression, cb: Array[Array[Array[Double]]],
    quant: Double) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    Vec.pqTable(v.asInstanceOf[ArrayData], cb, quant)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Vec.pqTable($c, $ref, $quant);")
  }
  override protected def withNewChildInternal(c: Expression): PqTableExpr =
    copy(child = c)
}

case class PqDistQAllExpr(left: Expression, right: Expression,
    sq: Array[Array[Array[Long]]], cq: Array[Array[Long]])
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any, codes: Any): Any =
    Vec.pqDistQAll(v.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      sq, cq)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sqRef = ctx.addReferenceObj("pqSq", sq, "long[][][]")
    val cqRef = ctx.addReferenceObj("pqCq", cq, "long[][]")
    nullSafeCodeGen(ctx, ev, (v, codes) =>
      s"${ev.value} = graft.functions.Vec.pqDistQAll($v, $codes, $sqRef, $cqRef);")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqDistQAllExpr = copy(l, r)
}

case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Vec.hamming($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Hamming64 = copy(l, r)
}
