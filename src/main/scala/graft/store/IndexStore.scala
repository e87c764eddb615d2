package graft.store

import graft.operators.{AudioDedupOps, DedupOps, ImageDedupOps, SimilarityOps, VideoDedupOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the persisted operator indexes over [[GraftStore]]'s
  * manifest — the at-rest form of the incremental dedup/ANN paths
  * (`index build|append|search` CLI verbs):
  *
  *  - `band`   — MinHash band index ([[DedupOps.buildBandIndex]]),
  *    probed by [[DedupOps.incrementalNearDup]];
  *  - `span`   — winnow-postings substring index
  *    ([[DedupOps.buildSpanIndex]]), probed by
  *    [[DedupOps.incrementalSharedSpans]];
  *  - `sketch` — ANN sign-sketch index
  *    ([[SimilarityOps.buildSketchIndex]]), probed by
  *    [[SimilarityOps.sketchProbe]];
  *  - `ivf`    — ANN inverted-file index
  *    ([[SimilarityOps.buildIvfIndex]]; cells + a centroid model table
  *    committed in one snapshot), probed by
  *    [[SimilarityOps.ivfSearchWithProbes]] over manifest-pruned cells;
  *  - `pq`     — ANN product-quantization index
  *    ([[SimilarityOps.buildPqCodebooks]]; (vec_id, codes, unit) rows +
  *    the M×ks codebook model table in one snapshot), probed by
  *    [[SimilarityOps.pqProbe]] — the code scan reads only the codes
  *    COLUMN of the leaves, the rescore only survivor units;
  *  - `ivfpq`  — the full IVF-ADC composition at rest: residual PQ
  *    codes leaf-bucketed BY CELL with both model tables (coarse
  *    centroids + residual codebook) in the same snapshot, probed by
  *    [[SimilarityOps.ivfPqSearchWithProbesArr]] — manifest prune to
  *    the probed cells AND codes-column-only scanning compose;
  *  - `vec`    — near-identical-vector dedup index: unit vectors leaf-
  *    bucketed by their FIXED 16-bit sign bucket
  *    ([[DedupOps.normalizedWithBucket]] — content-keyed, stable across
  *    appends, unlike the batch operator's adaptive split), so a probe
  *    batch manifest-prunes to its own buckets and pushes its distinct
  *    bucket ids as a scan filter (the band-index two-level prune).
  *    Same documented recall caveat as the batch operator: a true pair
  *    split by a sign-boundary flip is missed; exact-direction dups
  *    always share every sign bit.
  *  - `phash`  — image perceptual-hash near-dup index: 64-bit dHash
  *    rows ([[ImageDedupOps]]) stored as 4×16-bit band rows, bucketed
  *    and sorted by (band, band_key) — the band kind's two-level probe
  *    prune applied to images. Probe input is binary (asset_id,
  *    payload); decode+hash runs per partition on the probe side only
  *    (history pixels are never re-decoded).
  *  - `espan`  — exact positional shingle-hash postings
  *    ([[DedupOps.buildExactSpanIndex]]), probed by
  *    [[searchExactSpans]] — ingest-time exact-span certification
  *    without re-shingling history (corpus text read for candidate
  *    docs only).
  *  - `afp`    — audio perceptual-fingerprint near-dup index
  *    ([[AudioDedupOps]] 64-bit integer PCM fingerprint, one row per
  *    CHUNK of long clips), stored like `phash` (4×16-bit band rows,
  *    (band, band_key) layout, probe-side-only decode) and probed
  *    chunk-aware: matches aggregate per asset pair under the
  *    majority-coverage verdict.
  *  - `vhash`  — video near-dup index over PRE-EXTRACTED frame stills
  *    ([[VideoDedupOps]]: per-frame dHash, one row per frame), probed
  *    frame-aware with the same coverage verdict — frames are to a
  *    video what chunks are to a long clip. Input is (asset_id,
  *    frame_idx, payload).
  *
  * Index rows are plain parquet leaves committed through the SAME
  * manifest swap as everything else in the store: a probe always sees a
  * consistent index snapshot, an append is atomic, and a crash between
  * stage and commit leaves no trace. Leaves are bucketed by a hash of
  * the index's own probe key ([[bucketOf]]) and sorted by it inside each
  * leaf, so (a) [[search]] can prune whole leaves from the manifest when
  * the probe batch touches few buckets — no file is even LISTED for an
  * untouched bucket — and (b) row-group stats stay tight on the key for
  * the scan that remains. History is never re-shingled / re-winnowed /
  * re-sketched: build and append compute index rows for their OWN input
  * batch only, and search reads index rows at rest.
  *
  * Scale note: the per-batch skew caps (band bucket cap, span df cap)
  * apply within each build/append batch independently; a key that stays
  * under the cap in every batch but is degenerate across the union is
  * not re-capped at probe time. [[compact]] closes exactly that gap —
  * it re-applies the caps GLOBALLY from the at-rest rows alone (no
  * source text is ever re-shingled) and also merges the leaf debris N
  * appends accumulate. At 100 TB, schedule it like any table
  * compaction; re-[[build]] is only needed when the ivf model should
  * re-train.
  */
object IndexStore {

  /** Leaf-bucket count per index table. 64 bounds manifest size while
    * letting a small probe batch (the "is this doc a dup" path) prune
    * most leaves; size it ~sqrt(index rows / target leaf rows) at scale. */
  val Buckets = 64

  val Kinds = Seq("band", "span", "sketch", "ivf", "pq", "ivfpq", "vec",
    "phash", "afp", "vhash", "espan")

  /** Hash/projection family version stamped into the store manifest by
    * every index commit. The round-9 migration changed the signature
    * hashes (xxhash64 → portable pair-fold) and the sketch planes
    * (Gaussian → portable Rademacher): index rows written under one
    * family are SILENTLY incompatible with probes computed under another
    * — a band probe joins nothing and reports "no duplicates", a sketch
    * probe ranks hamming against noise. The stamp turns that silent
    * wrong answer into a loud rebuild instruction.
    *
    * The stamp is PER KIND: one store can hold several index kinds, and
    * a `build("band", ...)` must not vouch for sketch/span/ivf rows it
    * never touched (a store-wide stamp would launder a legacy store's
    * other kinds through any one rebuild). */
  val HashFormat = "portable-v1"
  private def formatKey(kind: String): String = {
    tableOf(kind) // validates the kind name
    s"index_hash_format.$kind"
  }

  /** At-rest TABLE-SCHEMA version, stamped per kind alongside the hash
    * family. Version 2 = the pq/ivfpq codebook tables carry the exact
    * quantized-centroid pair columns (sq, cq) that the integer-domain
    * drift report joins on; a version-1 store (pre-round-13) holds
    * valid codes and serves every probe, but its codebook cannot feed
    * [[driftReport]] — without this stamp that surfaced as an opaque
    * missing-column AnalysisException mid-join instead of a guarded,
    * versioned error naming the fix. Version 3 = the `afp` kind's rows
    * carry (chunk_idx, n_chunks) for chunked long-audio fingerprints
    * ([[graft.operators.AudioDedupOps.chunkBounds]]); a version-2 afp
    * index holds single-fingerprint rows the chunk-aware probe cannot
    * aggregate — [[afpSearchFromHashes]] refuses it loudly. */
  val SchemaVersion = 3
  private def schemaKey(kind: String): String = {
    tableOf(kind)
    s"index_schema_version.$kind"
  }

  /** Commit meta every index writer of `kind` must include (commit
    * itself applies the store's key prefix) — public so callers that
    * commit staged index rows themselves
    * ([[graft.streaming.StreamingCuration]]'s atomic docs+index
    * snapshot) stamp the same version for the kind they stage. */
  def formatMeta(kind: String): Map[String, String] =
    Map(formatKey(kind) -> HashFormat,
      schemaKey(kind) -> SchemaVersion.toString)

  /** Meta for a commit that FILTERS a kind's rows without rewriting
    * them into the engine's newest table schema ([[prune]], the
    * apply's index anti-join): echo the store's CURRENT schema stamp
    * (default 1 — the pre-versioning floor [[checkSchemaVersion]]
    * assumes) instead of re-stamping [[SchemaVersion]]. An upgrade
    * stamp from a row filter would launder a legacy store past the
    * versioned probe refusals: a pre-v3 afp index pruned and
    * re-stamped v3 would pass the chunk-aware probe's gate and die
    * mid-plan on the missing chunk columns — the exact opaque failure
    * the stamp exists to prevent. */
  private def preservingMeta(store: GraftStore, kind: String)
      : Map[String, String] =
    Map(formatKey(kind) -> HashFormat,
      schemaKey(kind) -> store.currentMeta()
        .get(store.metaKey(schemaKey(kind))).getOrElse("1"))

  /** Reject a `kind` whose at-rest table schema predates `need` before
    * a reader joins columns that would not exist — loud and versioned,
    * not an AnalysisException from the middle of a plan. */
  private def checkSchemaVersion(store: GraftStore, kind: String,
      need: Int, why: String): Unit = {
    val have = store.currentMeta()
      .get(store.metaKey(schemaKey(kind))).map(_.toInt).getOrElse(1)
    if (have < need) sys.error(
      s"'$kind' index at ${store.root} has table-schema v$have; $why " +
        s"needs v$need (engine writes v$SchemaVersion). Re-run " +
        "`index build` to rewrite the model tables.")
  }

  /** Reject an at-rest `kind` index written under a different (or
    * unstamped — pre-versioning) hash family before any probe runs
    * against it. */
  private def checkFormat(store: GraftStore, kind: String): Unit =
    store.currentMeta().get(store.metaKey(formatKey(kind))) match {
      case Some(HashFormat) => ()
      case Some(other) => sys.error(
        s"'$kind' index at ${store.root} was written under hash format " +
          s"'$other'; this engine computes '$HashFormat' — probes would " +
          "silently match nothing. Re-run `index build` (and re-append " +
          "batches).")
      case None => sys.error(
        s"'$kind' index at ${store.root} predates hash-format stamping " +
          s"(engine family '$HashFormat') — rebuild it with `index build`.")
    }

  /** Companion model table for the `ivf` kind: the k centroids. Committed
    * in the SAME snapshot swap as the cells, so the model and the data it
    * partitioned can never drift apart. */
  val IvfCentroidsTable = "ivf_centroids"

  /** Companion model table for the `pq` kind: the M×ks subspace
    * codebook — same one-snapshot contract as the ivf centroids (codes
    * are meaningless under any other codebook). */
  val PqCodebookTable = "pq_codebook"

  /** Companion model tables for the `ivfpq` kind: its OWN coarse
    * centroids and residual codebook (independent of any plain ivf/pq
    * index in the same store), committed with the codes in one
    * snapshot. */
  val IvfPqCentroidsTable = "ivfpq_centroids"
  val IvfPqCodebookTable = "ivfpq_codebook"

  /** The model of one model-carrying ANN kind as driver arrays —
    * centroids for `ivf`, the codebook's centroids for `pq`, both for
    * `ivfpq`; an array the kind has no table for is empty — with the
    * leaf dirs of the model tables that hold it. */
  private final case class AnnModel(dirs: Seq[String],
      cents: Array[Array[Double]], codebook: Array[Array[Array[Double]]])

  /** One collected model per (canonical store root, kind), JVM-wide.
    * Committed leaves never change and leaf dirs are unique per write,
    * so the model tables' dirs name the model: a build that re-trains
    * writes new dirs and puts the model it trained under them
    * ([[seedModel]]), while an append (which encodes under the fixed
    * model) or a compaction keeps them and the search runs no model
    * job. A miss replaces the entry. */
  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnnModel]()

  /** Forget every collected model, so the next search of each index
    * collects its model again (a benchmark timing a first search). */
  private[graft] def clearModels(): Unit = models.clear()

  /** The (centroids, codebook) model tables of a model-carrying ANN
    * kind. */
  private def modelTables(kind: String): (Option[String], Option[String]) =
    kind match {
      case "ivf" => (Some(IvfCentroidsTable), None)
      case "pq" => (None, Some(PqCodebookTable))
      case _ => (Some(IvfPqCentroidsTable), Some(IvfPqCodebookTable))
    }

  /** `kind`'s model leaves among `leaves`, by model table. */
  private def modelLeaves(store: GraftStore, kind: String)(
      leaves: Seq[store.Leaf]): Map[String, Seq[store.Leaf]] = {
    val (centsTable, cbTable) = modelTables(kind)
    (centsTable ++ cbTable)
      .map(t => t -> leaves.filter(_.table == store.physName(t))).toMap
  }

  private def modelKey(store: GraftStore, kind: String): (String, String) =
    (java.nio.file.Paths.get(store.root).toAbsolutePath.normalize.toString,
      kind)

  /** `kind`'s collected model as of the snapshot `snap` (one manifest's
    * leaves): from the cache when its dirs match, else collected from
    * exactly those leaves — one driver job per model table. */
  private def modelOf(store: GraftStore, spark: SparkSession, kind: String)(
      snap: Seq[store.Leaf]): AnnModel = {
    val (centsTable, cbTable) = modelTables(kind)
    val leaves = modelLeaves(store, kind)(snap)
    leaves.foreach { case (t, ls) => require(ls.nonEmpty,
      s"no '$t' leaves in store ${store.root} — run `index build` first") }
    checkFormat(store, kind)
    val dirs = leaves.values.flatten.map(_.dir).toSeq.sorted
    val key = modelKey(store, kind)
    Option(models.get(key)).filter(_.dirs == dirs).getOrElse {
      def rows(t: String) = store.readLeaves(spark, t, leaves(t))
      val model = AnnModel(dirs,
        centsTable.fold(Array.empty[Array[Double]])(t =>
          SimilarityOps.collectCents(rows(t))),
        cbTable.fold(Array.empty[Array[Array[Double]]])(t =>
          SimilarityOps.collectCodebook(rows(t))))
      models.put(key, model)
      model
    }
  }

  /** Put the `trained` model of a build under the dirs of the model
    * leaves it committed (`adds`) — the entry [[modelOf]] looks up for
    * any snapshot holding exactly those leaves — so the first search
    * after a build collects no model table. The arrays are the ones the
    * committed rows were rendered from, so they equal a collect of
    * those rows. */
  private def seedModel(store: GraftStore, kind: String,
      trained: AnnModel)(adds: Seq[store.Leaf]): Unit =
    models.put(modelKey(store, kind), trained.copy(dirs =
      modelLeaves(store, kind)(adds).values.flatten.map(_.dir).toSeq.sorted))

  def tableOf(kind: String): String = kind match {
    case "band" => "band_index"
    case "span" => "span_index"
    case "sketch" => "sketch_index"
    case "ivf" => "ivf_cells"
    case "pq" => "pq_codes"
    case "ivfpq" => "ivfpq_codes"
    case "vec" => "vec_index"
    case "phash" => "phash_index"
    case "afp" => "afp_index"
    case "vhash" => "vhash_index"
    case "espan" => "espan_index"
    case other => sys.error(s"unknown index kind '$other' " +
      s"(expected one of ${Kinds.mkString("|")})")
  }

  /** The leaf-bucket expression — a hash of the PROBE key, so a probe
    * batch's candidate leaves are computable from the batch alone. For
    * ivf the bucket IS the cell: `ivfProbes` decides which cells a query
    * set needs, and every other cell's leaves are manifest-pruned. */
  private def bucketOf(kind: String): Column = kind match {
    // phash/afp share the band kind's probe-computable layout: the
    // probe batch hashes its own images / fingerprints its own audio,
    // so its (band, band_key) rows prune leaves and push key filters
    // exactly like text band probes
    case "band" | "phash" | "afp" | "vhash" =>
      pmod(xxhash64(col("band"), col("band_key")), lit(Buckets))
    case "span" => pmod(col("fp"), lit(Buckets))
    // exact positional postings: bucket by the shingle hash itself, so
    // a probe batch's own hashes name its candidate leaves
    case "espan" => pmod(col("h"), lit(Buckets))
    case "ivf" | "ivfpq" => col("cell")
    // content-keyed: a probe computes its own sign buckets, so untouched
    // leaves are never listed (band/span discipline for vectors). The
    // bucket id is HASHED first: its low bits are the signs of the last
    // tested dimensions, which are constant zero-padding whenever
    // dim < 16 — a plain pmod would collapse every row into a handful
    // of leaves there.
    case "vec" => pmod(xxhash64(col("bucket")), lit(Buckets))
    // sketch search is a full hamming scan by design — spread evenly
    case _ => pmod(col("vec_id"), lit(Buckets))
  }

  private def sortOf(kind: String): Seq[Column] = kind match {
    case "band" | "phash" | "afp" | "vhash" =>
      Seq(col("band"), col("band_key"))
    case "span" => Seq(col("fp"))
    case "espan" => Seq(col("h"))
    // sorted by the probe key so row-group stats prune the In() filter
    case "vec" => Seq(col("bucket"), col("vec_id"))
    case _ => Seq(col("vec_id"))
  }

  /** Index rows for one input batch: (doc_id, text) for band/span,
    * (vec_id, embedding) for sketch/ivf (ivf handled by its callers —
    * it also produces a model table). */
  private def rowsFor(kind: String, input: DataFrame): DataFrame =
    kind match {
      case "band" => DedupOps.buildBandIndex(input)
      case "span" => DedupOps.buildSpanIndex(input)
      // exact positional shingle-hash postings (doc_id, pos, h) — NO
      // df cap by design: exact-span probing is linear in matching
      // postings, never a pair join (DedupOps.exactDuplicatedSpans doc)
      case "espan" => DedupOps.buildExactSpanIndex(input)
      // binary (asset_id, payload) in; decode+dHash per partition, the
      // 4x16-bit band explode, build-time skew TRUNCATION (the at-rest
      // perceptual policy, [[DedupOps.truncateBuckets]]: a degenerate
      // band value - e.g. flat-color images - keeps its first cap rows
      // plus one row per UNIT, so probe fan-out stays bounded while
      // every unit remains live at rest - the streaming gates'
      // replay self-match contract; the liveness key is the UNIT -
      // asset for images, (asset, chunk) / (asset, frame) for the
      // multi-unit kinds - so a replayed asset's coverage verdict is
      // total, not merely nonzero)
      case "phash" => DedupOps.truncateBuckets(
        ImageDedupOps.bandRows(ImageDedupOps.imageHashRows(input)),
        Seq("band", "band_key"), DedupOps.MaxBucketSize,
        Seq("asset_id"), Seq("asset_id"))
      // same shape for audio: (asset_id, payload) in, decode+chunk+
      // afp64 per partition (chunk_idx/n_chunks ride every row),
      // 4x16-bit band explode, build-time skew truncation per chunk
      case "afp" => DedupOps.truncateBuckets(
        AudioDedupOps.afpBandRows(AudioDedupOps.audioHashRows(input)),
        Seq("band", "band_key"), DedupOps.MaxBucketSize,
        Seq("asset_id", "chunk_idx"), Seq("asset_id", "chunk_idx"))
      // video: (asset_id, frame_idx, payload) frame stills in —
      // per-frame dHash, band explode with frame_idx/n_frames riding,
      // same at-rest truncation policy (frame granularity)
      case "vhash" => DedupOps.truncateBuckets(
        VideoDedupOps.assetBandRows(VideoDedupOps.assetHashRows(input)),
        Seq("band", "band_key"), DedupOps.MaxBucketSize,
        Seq("asset_id", "frame_idx"), Seq("asset_id", "frame_idx"))
      // drop(embedding), not select(3): normalizedWithBucket keeps every
      // input column, so attributes ride through WITHOUT the keyed
      // re-join [[withAttrs]] would otherwise pay
      case "vec" => DedupOps.normalizedWithBucket(input).drop("embedding")
      case _ => SimilarityOps.buildSketchIndex(input)
    }

  /** Attribute passthrough for the vector kinds: any input column
    * besides (vec_id, embedding) rides into the at-rest index rows —
    * label, source, language, whatever a deployment filters on — so an
    * at-rest search can apply an attribute predicate that PUSHES DOWN
    * to the index scan and composes with bucket/cell pruning (filtered
    * ANN, the [[search]] `where` parameter). Pre-filtering at the scan
    * is the correct semantics: post-filtering a top-k under-fills k
    * whenever a neighborhood is dominated by non-matching rows. The
    * attribute SET must stay stable across appends to one index (parquet
    * schemas union at read; a column present in some leaves and absent
    * in others reads as null and silently un-matches predicates).
    *
    * Cost shape: the scan-stage kinds (vec, sketch) carry attributes
    * through their row builders for FREE (pass-through below); the
    * model kinds (ivf, pq, ivfpq) aggregate the attributes away in
    * their trainers/encoders, so carrying them costs ONE vec_id-keyed
    * join per build/append — paid only when attributes exist. */
  private def withAttrs(rows: DataFrame, input: DataFrame): DataFrame = {
    val attrs = input.columns
      .filterNot(c => c == "vec_id" || c == "embedding").toSeq
    if (attrs.isEmpty) rows
    // already carried through the builder (vec/sketch): no join to pay
    else if (attrs.forall(rows.columns.contains)) rows
    else rows.drop(attrs: _*).join(input.select("vec_id", attrs: _*),
      "vec_id")
  }

  /** Stage ALREADY-COMPUTED index rows of `kind` without committing —
    * for callers that commit index rows atomically WITH other tables in
    * one snapshot swap (streaming curate stages its accepted docs and
    * their band rows together, so a replayed micro-batch can never see
    * one without the other). */
  def stageRows(store: GraftStore, kind: String,
      rows: DataFrame): Seq[store.Leaf] =
    store.stageKeyed(tableOf(kind), rows, bucketOf(kind), sortOf(kind))

  /** Build a FRESH index from `input`: new leaves replace any existing
    * leaves of the table in one commit (this is also the periodic
    * compaction that re-applies global skew caps — and, for ivf, the
    * re-train that adapts centroids to distribution drift). Returns
    * leaves added. */
  def build(store: GraftStore, kind: String, input: DataFrame): Long = {
    val spark = input.sparkSession
    // the model kinds also return the model they trained, which seeds
    // the search cache once the commit makes its leaves live
    val (adds, trained) =
      if (kind == "ivf") {
        val (cells, cents) =
          SimilarityOps.buildIvfIndex(SimilarityOps.unitVectors(input))
        (store.stageKeyed(tableOf(kind), withAttrs(cells, input),
          bucketOf(kind), sortOf(kind)) ++
          store.stageKeyed(IvfCentroidsTable,
            SimilarityOps.ivfCentroidRows(spark, cents), lit(0L),
            Seq(col("cell"))),
          Some(AnnModel(Nil, cents, Array.empty)))
      } else if (kind == "pq") {
        val units = SimilarityOps.unitVectors(input).localCheckpoint()
        val cb = SimilarityOps.buildPqCodebooks(units)
        // one shuffle-free encode projection (codes + unit in place) —
        // the exploded encode paid two exchanges and a join back
        (store.stageKeyed(tableOf(kind),
          withAttrs(SimilarityOps.pqEncodeWith(units, cb.centroids), input),
          bucketOf(kind), sortOf(kind)) ++
          store.stageKeyed(PqCodebookTable,
            SimilarityOps.pqCodebookRows(spark, cb), lit(0L),
            Seq(col("sub"), col("code"))),
          Some(AnnModel(Nil, Array.empty, cb.centroids)))
      } else if (kind == "ivfpq") {
        val units = SimilarityOps.unitVectors(input).localCheckpoint()
        // cells flows once into the residual checkpoint — skip its own
        val (cells, cents) = SimilarityOps.buildIvfIndex(units,
          checkpointCells = false)
        // carry the ORIGINAL unit through the residual frame so the
        // final rows need no join back to `units`; the residual and the
        // codes are literal-closure projections
        val residuals = cells.select(col("vec_id"), col("cell"),
          col("unit"), graft.functions.Vec
            .ivf_residual(col("unit"), col("cell"), cents).as("runit"))
          .localCheckpoint()
        val cb = SimilarityOps.buildPqCodebooks(
          residuals.select(col("vec_id"), col("runit").as("unit")))
        val rows = residuals.select(col("vec_id"),
          graft.functions.Vec.pq_codes(col("runit"), cb.centroids)
            .as("codes"),
          col("cell"), col("unit"))
        (store.stageKeyed(tableOf(kind), withAttrs(rows, input),
          bucketOf(kind), sortOf(kind)) ++
          store.stageKeyed(IvfPqCentroidsTable,
            SimilarityOps.ivfCentroidRows(spark, cents), lit(0L),
            Seq(col("cell"))) ++
          store.stageKeyed(IvfPqCodebookTable,
            SimilarityOps.pqCodebookRows(spark, cb), lit(0L),
            Seq(col("sub"), col("code"))),
          Some(AnnModel(Nil, cents, cb.centroids)))
      } else
        (store.stageKeyed(tableOf(kind),
          if (kind == "vec" || kind == "sketch")
            withAttrs(rowsFor(kind, input), input)
          else rowsFor(kind, input),
          bucketOf(kind), sortOf(kind)), None)
    store.commit(adds, drops =
      store.leavesOf(tableOf(kind)) ++
        store.leavesOf(IvfCentroidsTable).filter(_ => kind == "ivf") ++
        store.leavesOf(PqCodebookTable).filter(_ => kind == "pq") ++
        (store.leavesOf(IvfPqCentroidsTable) ++
          store.leavesOf(IvfPqCodebookTable)).filter(_ => kind == "ivfpq"),
      meta = formatMeta(kind))
    trained.foreach(seedModel(store, kind, _)(adds))
    adds.size.toLong
  }

  /** Re-apply the GLOBAL skew-cap policies across the union of every
    * build/append batch — WITHOUT re-shingling, re-winnowing or
    * re-sketching any source text: the at-rest index rows carry
    * everything the policies key on. The per-batch caps bound each
    * batch independently, so a boilerplate key that stays under the cap
    * in every batch can still be degenerate across the union (the
    * documented honest caveat of [[append]]); compact closes it:
    *
    *  - `band`: duplicate (doc_id, band) rows from re-delivered docs
    *    collapse, then buckets whose UNION size exceeds
    *    [[DedupOps.MaxBucketSize]] drop entirely (the build-time
    *    boilerplate policy, now global);
    *  - `span`: duplicate (doc_id, fp) postings collapse, then
    *    fingerprints whose union df exceeds [[DedupOps.MaxSpanDf]] drop;
    *  - `sketch`/`ivf`/`pq`: no cap policy — compact collapses
    *    re-delivered vec_ids and, like the keyed kinds, merges the
    *    N-appends × 64 leaf dirs back to one leaf set per bucket (the
    *    ivf/pq MODEL stays fixed; re-[[build]] to re-train).
    *
    * One scan of the index, narrow keyed exchanges only, and the swap is
    * a single atomic commit: a concurrent probe sees the old index or
    * the new one, never a mix. A concurrent APPEND is safe too — its
    * leaves are not in the drop set, so optimistic concurrency keeps
    * them live (its rows just miss this compaction round); a commit
    * that DROPS leaves mid-compact (a rebuild, another compact) makes
    * the stale commit throw, and compact recomputes from a fresh
    * snapshot — the same retry loop as [[graft.etl.Export.compact]].
    * Returns a [[CompactResult]]: rows dropped by the global
    * policies, leaves after, leaves rewritten, leaves carried by
    * reference (0 for the full compact — it rewrites everything).
    *
    * `dryRun = true` computes the same dedup + global-cap result and
    * returns what WOULD drop with the exact rewrite footprint, staging
    * and committing nothing — compact deletes rows (over-cap
    * truncation is recoverable only by `index build`), so it sizes
    * before it runs like every other deleting verb.
    *
    * `incremental = true` compacts ONLY the accreted buckets — the
    * buckets holding more than one leaf, derivable purely from the
    * manifest (compact itself emits one leaf per bucket, so a
    * multi-leaf bucket is exactly "appended to since the last
    * compact"); single-leaf buckets carry into the new snapshot BY
    * REFERENCE, and an index with no accretion is a manifest-only
    * NO-OP (no scan, no commit). This is the crowded-bucket
    * discipline the CHAIN tables have always compacted under
    * ([[graft.etl.Export.compact]]'s `maxLeavesPerBucket` filter),
    * brought to the index side — where, unlike the chain tables, a
    * rewritten bucket also re-applies the kind's dedup/cap POLICY,
    * which is why the skip needs the policy contract below — a SCHEDULED compact must not pay a
    * whole-index rewrite to discover there was nothing to do (the
    * [[prune]] no-op discipline applied to compaction). Soundness of
    * skipping single-leaf buckets rests on the stage-path policy
    * contract: every production write path stages batch-policy-clean
    * rows ([[build]]/[[append]] through [[rowsFor]]'s dedup+truncation;
    * the streaming gates truncate before [[stageRows]]), and the
    * dedup/cap GROUPS (band+band_key, fp, ...) never span buckets, so
    * a bucket whose rows all came from one stage has nothing left to
    * collapse or cap. Equivalence with the full compact is
    * unconditional for the kinds whose dedup key determines the
    * bucket (span: fp; sketch/pq: vec_id) and holds for the rest
    * under IDENTICAL-content re-delivery (the replay case the gates
    * produce — same content, same band_key/h/cell, same bucket). The
    * one documented divergence: a CHANGED-content re-delivery under
    * one id lands rows in different buckets; the incremental pass
    * keeps both (each still probe-able), where the full compact's
    * global dropDuplicates collapses them arbitrarily — run the full
    * compact (or `index build`) to collapse those, and run one FULL
    * compact over any store fed raw rows through the [[stageRows]]
    * escape hatch (its caller owns batch policy). */
  def compact(store: GraftStore, spark: SparkSession, kind: String,
      maxAttempts: Int = 3, dryRun: Boolean = false,
      incremental: Boolean = false): CompactResult = {
    var attempt = 0
    while (true) {
      attempt += 1
      val table = tableOf(kind)
      val old = store.leavesOf(table) // the ONE snapshot resolution
      require(old.nonEmpty,
        s"no '$table' leaves in store ${store.root} — run `index build` first")
      checkFormat(store, kind)
      if (kind == "afp") checkSchemaVersion(store, "afp", 3,
        "chunk-aware afp compaction")
      val victims =
        if (!incremental) old
        else {
          val perBucket = old.groupBy(_.bucket)
          old.filter(l => perBucket(l.bucket).size > 1)
        }
      val carried = (old.size - victims.size).toLong
      if (victims.isEmpty) // nothing accreted: manifest-only no-op
        return CompactResult(0L, old.size.toLong, 0L, carried)
      val live = store.readLeaves(spark, table, victims)
      val rows = (kind match {
        // text band rows share the perceptual kinds' at-rest TRUNCATION
        // policy (keyed on doc_id): compaction may shrink a hot bucket
        // to its first cap rows but can never erase a committed
        // survivor's LAST band row — the whole-group drop this case
        // applied before round 17 could, re-admitting that survivor on
        // replay (the streaming curation gate's exactly-once argument
        // needs every accepted doc to self-match at rest)
        case "band" =>
          DedupOps.truncateBuckets(live.dropDuplicates("doc_id", "band"),
            Seq("band", "band_key"), DedupOps.MaxBucketSize,
            Seq("doc_id"), Seq("doc_id"))
        case "span" =>
          DedupOps.capBuckets(live.dropDuplicates("doc_id", "fp"),
            Seq("fp"), DedupOps.MaxSpanDf)
        // re-delivered rows collapse; no cap (see rowsFor)
        case "espan" => live.dropDuplicates("doc_id", "pos")
        // perceptual kinds: re-delivered assets collapse, then the
        // at-rest TRUNCATION policy re-applies globally — same
        // definition as rowsFor, preserving the >=1-row-per-UNIT
        // liveness the streaming gates' replay self-match needs (a
        // whole-group drop here could erase a committed survivor's
        // last band row and re-admit it on replay; a per-ASSET key
        // could erase a minority chunk/frame's last row and fail the
        // majority-coverage self-match the same way)
        case "phash" =>
          DedupOps.truncateBuckets(
            live.dropDuplicates("asset_id", "band"),
            Seq("band", "band_key"), DedupOps.MaxBucketSize,
            Seq("asset_id"), Seq("asset_id"))
        case "afp" =>
          DedupOps.truncateBuckets(
            live.dropDuplicates("asset_id", "chunk_idx", "band"),
            Seq("band", "band_key"), DedupOps.MaxBucketSize,
            Seq("asset_id", "chunk_idx"), Seq("asset_id", "chunk_idx"))
        case "vhash" =>
          DedupOps.truncateBuckets(
            live.dropDuplicates("asset_id", "frame_idx", "band"),
            Seq("band", "band_key"), DedupOps.MaxBucketSize,
            Seq("asset_id", "frame_idx"), Seq("asset_id", "frame_idx"))
        case _ => live.dropDuplicates("vec_id")
      }).localCheckpoint() // counted AND staged — one computation
      val dropped = live.count() - rows.count()
      if (dryRun)
        return CompactResult(dropped, old.size.toLong,
          victims.size.toLong, carried)
      val adds = store.stageKeyed(table, rows, bucketOf(kind), sortOf(kind))
      try {
        // preservingMeta: compaction collapses/caps rows, it does not
        // rewrite them into the newest table schema — re-stamping a
        // legacy store (e.g. a pre-sq/cq pq codebook) would launder it
        // past the versioned refusals downstream
        store.commit(adds, drops = victims,
          meta = preservingMeta(store, kind))
        return CompactResult(dropped, carried + adds.size,
          victims.size.toLong, carried)
      } catch {
        case _: GraftStore.StaleSnapshotException if attempt < maxAttempts =>
        // loop: a concurrent commit dropped one of our victims —
        // recompute from a fresh snapshot (our staged leaves are
        // orphans; vacuum reclaims them past the grace window)
      }
    }
    sys.error("unreachable")
  }

  /** Typed result of [[compact]], shaped like [[PruneResult]]:
    * `dropped` rows left the index (or WOULD, under `dryRun`);
    * `leaves` is the live tally after the commit (pre-compact tally
    * under `dryRun`); `rewrote` leaves were read and rewritten (the
    * whole index for a full compact; the accreted buckets' leaves for
    * an incremental one); `carried` leaves rode into the new snapshot
    * by reference, files untouched. */
  final case class CompactResult(dropped: Long, leaves: Long,
      rewrote: Long, carried: Long)

  /** Typed result of [[prune]]. `dropped` rows left the index (or
    * WOULD, under `dryRun`); `leaves` is the live leaf tally after the
    * commit (the pre-prune tally under `dryRun` — nothing moved);
    * `rewrote` leaves contained dead rows and were rewritten (would
    * be); `carried` leaves were untouched and ride into the new
    * snapshot BY REFERENCE — same dirs, same files, byte-identical
    * (spec-pinned). `rewrote + carried` is always the pre-prune
    * tally; the rewrite's IO is proportional to `rewrote`, never to
    * the index. */
  final case class PruneResult(dropped: Long, leaves: Long,
      rewrote: Long, carried: Long)

  /** PRUNE an index against its data table: delete every index row
    * whose id no longer exists in `dataTable` — the reclaim verb for
    * rows a keep-one-witness apply leaves semantically INERT in
    * sibling kinds ([[applyDupes]] deliberately does not cascade: a
    * deleted doc's espan postings stay at rest and merely stop
    * certifying, because the candidate-bounded text fetch no longer
    * finds the doc — spec-pinned). One left-semi join against the
    * table's DISTINCT ids (narrow — the id column only crosses the
    * exchange) reclaims the bytes WITHOUT re-shingling, re-hashing,
    * or re-encoding any payload (the `index build` rebuild
    * alternative re-reads the whole corpus). Read-path invariant by
    * the inertness argument: a pruned row could never certify
    * anything (spec pins probe-result equality before/after).
    *
    * The rewrite is DIRTY-LEAF-GRANULAR, not whole-index: the
    * dead-probe traces each dead row to the leaf it lives in (scan
    * metadata — the probe stays one narrow id-column pass), and only
    * leaves that actually hold dead rows are rewritten; every clean
    * leaf is carried into the new snapshot by reference, its files
    * untouched. Content-bucketed kinds concentrate an id's rows in
    * few buckets (band: [[DedupOps.Bands]] of [[Buckets]]; ivf /
    * ivfpq / sketch: one), so a scheduled prune reclaiming a small
    * dead fraction pays a proportionally small rewrite — never the
    * whole-index [[compact]] cost the verb previously shared.
    * Scatter kinds (espan/span bucket per shingle hash) degrade
    * honestly: a dead doc's postings touch most buckets, most leaves
    * are dirty, and the rewrite approaches the old compact-class
    * bound. Same optimistic retry as every destructive verb.
    *
    * `tableIdCol` names the data table's id column when it differs
    * from the index's (a [[graft.streaming.StreamingPairs]] store
    * keys `accepted_pairs` by pair_id while its phash index rows
    * carry asset_id — same values, different name). Model tables
    * (ivf centroids, pq/ivfpq codebooks) are untouched: models are
    * id-less aggregates and stay valid over any subset of the
    * vectors they were trained on (the same argument that lets
    * [[append]] skip retraining). A clean index (nothing dead) is a
    * NO-OP: no staging, no commit — a scheduled prune must not pay
    * rewrite IO to discover there was nothing to do.
    *
    * `dryRun = true` stops after the dead-probe (the narrow anti-join
    * the no-op path pays anyway) and returns what WOULD drop plus the
    * exact rewrite footprint (`rewrote` dirty leaves of `leaves`) —
    * the sizing step before the destructive rewrite, symmetric with
    * [[applyDupes]]' dry run. Nothing is staged or committed. */
  def prune(store: GraftStore, spark: SparkSession, kind: String,
      dataTable: String, tableIdCol: String = "",
      maxAttempts: Int = 3, dryRun: Boolean = false): PruneResult = {
    val idxIdCol = kind match {
      case "band" | "span" | "espan" => "doc_id"
      case "phash" | "afp" | "vhash" => "asset_id"
      case "vec" | "sketch" | "pq" | "ivfpq" | "ivf" => "vec_id"
      case other => sys.error(s"unknown index kind '$other' " +
        s"(expected one of ${Kinds.mkString("|")})")
    }
    val tCol = if (tableIdCol.nonEmpty) tableIdCol else idxIdCol
    var attempt = 0
    while (true) {
      attempt += 1
      val table = tableOf(kind)
      val old = store.leavesOf(table) // the ONE snapshot resolution
      require(old.nonEmpty,
        s"no '$table' leaves in store ${store.root} — run `index build` first")
      require(store.leavesOf(dataTable).nonEmpty,
        s"no '$dataTable' leaves in store ${store.root} — pruning an " +
          "index against an EMPTY table would delete every row; " +
          "drop the index instead if that is intended")
      checkFormat(store, kind)
      val live = store.readLeaves(spark, table, old)
      val keep = store.read(spark, dataTable)
        .select(col(tCol).as(idxIdCol)).distinct()
      // dead-probe FIRST, on the id column alone — plus the LEAF each
      // dead row came from (input_file_name is scan metadata, the read
      // stays narrow): the steady-state scheduled prune finds a clean
      // index from this one pass, and a dirty index comes back with
      // the exact dirty-leaf set in the same job, so the rewrite
      // below never has to re-derive it. The leaf rides the exchange
      // as its 8-byte xxhash64, NOT the path string — past broadcast
      // scale the anti-join shuffles both sides, and the probe's
      // documented cost contract (narrow columns only) must survive
      // that. The driver resolves hash → dir over the manifest's own
      // leaf list (a leaf-count-sized micro-job through the SAME
      // hash function); the per-leaf aggregate is bounded by the
      // manifest's leaf count, never by rows.
      val leafOf = regexp_extract(input_file_name(),
        "([^/]+/seg-[^/]+/__bucket=[^/]+)/[^/]+$", 1)
      val perLeaf = live
        .select(col(idxIdCol), xxhash64(leafOf).as("__leafh"))
        .join(keep, Seq(idxIdCol), "left_anti")
        .groupBy("__leafh").count().collect()
      val dropped = perLeaf.map(_.getLong(1)).sum
      if (dropped == 0L)
        return PruneResult(0L, old.size.toLong, 0L, old.size.toLong)
      val dirByHash = {
        import spark.implicits._
        val m = old.map(_.dir).toDF("dir")
          .select(xxhash64(col("dir")), col("dir")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        require(m.size == old.size,
          s"xxhash64 collision across ${old.size} leaf dirs of " +
            s"'$table' — run `index build` to re-lay the table")
        m
      }
      val dirtyHashes = perLeaf.map(_.getLong(0)).toSet
      // every traced leaf must be one of THIS snapshot's — a mismatch
      // (foreign layout, path surgery) must refuse, not half-rewrite
      val unknown = dirtyHashes -- dirByHash.keySet
      require(unknown.isEmpty,
        s"${unknown.size} dead row group(s) traced to paths outside " +
          s"the snapshot's leaf list — refusing a partial rewrite; " +
          "run `index build` to re-lay the table")
      val dirtyDirs = dirtyHashes.map(dirByHash)
      val dirty = old.filter(l => dirtyDirs.contains(l.dir))
      val clean = (old.size - dirty.size).toLong
      // the dry run IS the dead-probe: counts are exact (one
      // snapshot), and the rewrite is the only thing skipped
      if (dryRun)
        return PruneResult(dropped, old.size.toLong, dirty.size.toLong,
          clean)
      // rewrite ONLY the dirty leaves; clean ones carry by reference
      val rows = store.readLeaves(spark, table, dirty)
        .join(keep, Seq(idxIdCol), "left_semi")
        .localCheckpoint() // staged below; count forces materialization
      rows.count()
      val adds = store.stageKeyed(table, rows, bucketOf(kind), sortOf(kind))
      try {
        // preservingMeta, NOT formatMeta: a filter-only rewrite must
        // not upgrade the schema stamp of rows it never transformed
        store.commit(adds, drops = dirty,
          meta = preservingMeta(store, kind))
        return PruneResult(dropped, clean + adds.size,
          dirty.size.toLong, clean)
      } catch {
        case _: GraftStore.StaleSnapshotException if attempt < maxAttempts =>
        // recompute from a fresh snapshot; staged orphans are vacuum's
      }
    }
    sys.error("unreachable")
  }

  /** Append index rows for a NEW batch — existing leaves untouched,
    * history never re-processed. For ivf the MODEL stays fixed (the
    * standard IVF ingest: new vectors land in their nearest existing
    * cell; re-[[build]] periodically to re-train). Returns leaves
    * added. */
  def append(store: GraftStore, kind: String, input: DataFrame): Long = {
    // appending to EXISTING leaves must not mix hash families; an
    // append into an empty table acts as the first build and stamps
    val existing = store.leavesOf(tableOf(kind)).nonEmpty
    if (existing) checkFormat(store, kind)
    // appending CURRENT-shape rows into an older-shape table would mix
    // row shapes in one table (a v2 afp table has no chunk columns;
    // the chunk-aware rows below do) — refuse loudly before any work;
    // `index build` is the rewrite. Kinds whose row shape never
    // changed across schema versions append fine and keep their stamp
    // (see the preservingMeta commit below).
    if (kind == "afp" && existing)
      checkSchemaVersion(store, "afp", 3,
        "appending chunk-aware afp rows into an existing table")
    // ingest-side dimension guards (the probe-side guards' twin): a
    // wrong-dimension append would assign cells / sketch bits from
    // truncated-prefix folds and COMMIT the garbage permanently. The
    // pq/ivfpq encode paths guard against their model geometry inside
    // SimilarityOps; ivf guards against its centroids here; the
    // model-less vector kinds (vec, sketch) guard against the dimension
    // already at rest (one-leaf read — nothing to check on first write).
    if ((kind == "vec" || kind == "sketch") && existing)
      SimilarityOps.requireDim(input, "embedding",
        indexDim(store, input.sparkSession, kind), s"'$kind' index")
    // the model kinds encode under the model of the snapshot they read,
    // from the cache a build seeded or a search filled
    def model = modelOf(store, input.sparkSession, kind)(
      store.currentLeaves())
    val rows =
      if (kind == "ivf") {
        val cents = model.cents
        val units = SimilarityOps.unitVectors(input)
        SimilarityOps.requireDim(units, "unit", cents(0).length,
          "ivf centroids")
        withAttrs(SimilarityOps.ivfAssign(units, cents)
          .select(col("vec_id"), col("unit"), col("cell")), input)
      } else if (kind == "pq")
        withAttrs(SimilarityOps.pqEncodeWith(SimilarityOps.unitVectors(input),
          model.codebook), input)
      else if (kind == "ivfpq") {
        val m = model
        withAttrs(SimilarityOps.ivfPqEncodeWith(
          SimilarityOps.unitVectors(input), m.cents, m.codebook), input)
      }
      else if (kind == "vec" || kind == "sketch")
        withAttrs(rowsFor(kind, input), input)
      else rowsFor(kind, input)
    // Attribute-set stability, enforced loudly ([[withAttrs]]): a batch
    // missing a previously-carried attribute column would write leaves
    // whose schema unions to null for that column — filtered searches
    // would then silently exclude every row of this append.
    if (existing) {
      val stored = read(store, input.sparkSession, kind).columns.toSet
      val batch = rows.columns.toSet
      require(batch == stored,
        s"'$kind' append: columns must match the stored index (stored: " +
          s"${stored.toSeq.sorted.mkString(",")}; batch: " +
          s"${batch.toSeq.sorted.mkString(",")}) — a missing attribute " +
          "reads as null at rest and silently un-matches filtered " +
          "searches")
    }
    val adds = store.stageKeyed(tableOf(kind), rows, bucketOf(kind),
      sortOf(kind))
    // first write stamps the engine's version; an append into an
    // EXISTING table echoes the store's stamp — only `index build`
    // (the full rewrite) may upgrade it
    store.commit(adds, meta =
      if (existing) preservingMeta(store, kind) else formatMeta(kind))
    adds.size.toLong
  }

  /** The live index as a DataFrame (one manifest snapshot). */
  def read(store: GraftStore, spark: SparkSession, kind: String,
      bucketPred: Long => Boolean = _ => true): DataFrame =
    if (kind == "ivf-centroids")
      // the model rides the `ivf` kind's stamp (committed together)
      readTable(store, spark, "ivf", IvfCentroidsTable, bucketPred)
    else if (kind == "pq-codebook")
      readTable(store, spark, "pq", PqCodebookTable, bucketPred)
    else if (kind == "ivfpq-centroids")
      readTable(store, spark, "ivfpq", IvfPqCentroidsTable, bucketPred)
    else if (kind == "ivfpq-codebook")
      readTable(store, spark, "ivfpq", IvfPqCodebookTable, bucketPred)
    else readTable(store, spark, kind, tableOf(kind), bucketPred)

  /** Dimension of the vectors at rest in a `unit`-carrying index, read
    * from ONE leaf. The obvious `read(store, spark, kind).select(size(
    * col("unit"))).head()` would resolve a DataFrame over EVERY leaf
    * dir (the file listing alone grows with append count) on the probe
    * hot path — this lists a single leaf and falls through to the next
    * only if that leaf is empty. */
  private def indexDim(store: GraftStore, spark: SparkSession,
      kind: String): Int = {
    val table = tableOf(kind)
    val leaves = store.leavesOf(table)
    require(leaves.nonEmpty,
      s"no '$table' leaves in store ${store.root} — run `index build` first")
    checkFormat(store, kind)
    leaves.iterator
      .map(l => store.readLeaves(spark, table, Seq(l))
        .select(size(col("unit"))).head(1).headOption)
      .collectFirst { case Some(r) => r.getInt(0) }
      .getOrElse(sys.error(s"'$table' index at ${store.root} has no rows"))
  }

  private def readTable(store: GraftStore, spark: SparkSession,
      kind: String, table: String, bucketPred: Long => Boolean): DataFrame =
    readIn(store, spark, kind, table, bucketPred)(store.currentLeaves())

  /** [[readTable]] over the leaves of one manifest snapshot `snap` the
    * caller took — so a search reads its rows from the snapshot its
    * model came from. */
  private def readIn(store: GraftStore, spark: SparkSession, kind: String,
      table: String, bucketPred: Long => Boolean = _ => true)(
      snap: Seq[store.Leaf]): DataFrame = {
    val all = snap.filter(_.table == store.physName(table))
    require(all.nonEmpty,
      s"no '$table' leaves in store ${store.root} — run `index build` first")
    checkFormat(store, kind)
    val hit = all.filter(l => bucketPred(l.bucket))
    // a probe batch can miss every live bucket — keep the schema, read
    // nothing (limit(0) prunes the scan to zero files at planning)
    if (hit.isEmpty) store.readLeaves(spark, table, all).limit(0)
    else store.readLeaves(spark, table, hit)
  }

  /** Drift telemetry for the model-carrying ANN kinds: quantized
    * distortion of the STORED codes/cells under the COMMITTED models —
    * per scope (subspace or cell) plus an 'all' row, integer output.
    * Appends encode under fixed models, so as the ingested distribution
    * moves away from what the models were trained on this number
    * drifts UP; a deployment alerts on it and schedules `index build`
    * (the re-train) when it crosses its budget. One scan of the index
    * against broadcast model tables — no re-assignment, no re-train. */
  def driftReport(store: GraftStore, spark: SparkSession,
      kind: String): DataFrame = kind match {
    case "pq" =>
      checkSchemaVersion(store, kind, 2,
        "the quantized-distortion report (codebook columns sq/cq)")
      val (sq, cq) = SimilarityOps.collectExactPairs(
        read(store, spark, "pq-codebook"))
      SimilarityOps.pqStoredDistortion(read(store, spark, "pq"), sq, cq)
    case "ivfpq" =>
      checkSchemaVersion(store, kind, 2,
        "the quantized-distortion report (codebook columns sq/cq)")
      val cents = read(store, spark, "ivfpq-centroids")
      val residualRows = read(store, spark, "ivfpq")
        .join(broadcast(cents), "cell")
        .select(col("vec_id"), col("codes"), graft.functions.Vec
          .vec_sub(col("unit"), col("centroid")).as("unit"))
      val (sq, cq) = SimilarityOps.collectExactPairs(
        read(store, spark, "ivfpq-codebook"))
      SimilarityOps.pqStoredDistortion(residualRows, sq, cq)
    case "ivf" =>
      // per-cell quantized residual energy ‖unit − centroid‖² — same
      // grid and shape as the pq reports. Deliberately NOT the
      // integer-domain distq statistic the pq/ivfpq reports use: ivf
      // centroids are SPHERICALLY normalized (sv/‖sv‖ — the norm is
      // irrational), so no exact integer pair exists to define the
      // statistic against. This telemetry is spec-gated on RATIOS
      // (IndexStoreSpec drift test), never hash-gated, so the
      // floor-of-computed-double exposure that flipped the round-12
      // driver gate cannot reach a correctness row here.
      val q = SimilarityOps.PqQuant
      val perCell = read(store, spark, "ivf")
        .join(broadcast(read(store, spark, "ivf-centroids")), "cell")
        .withColumn("d2q", floor(graft.functions.Vec
          .vec_l2sq(col("unit"), col("centroid")) * lit(q) + lit(0.5))
          .cast("long"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d2q")).as("distortion_q"))
        .localCheckpoint()
      perCell
        .select(col("cell").cast("string").as("scope"), col("n_vecs"),
          col("distortion_q"))
        .unionAll(perCell
          .agg(sum(col("n_vecs")).as("n_vecs"),
            sum(col("distortion_q")).as("distortion_q"))
          .select(lit("all").as("scope"), col("n_vecs"),
            col("distortion_q")))
    case other => sys.error(s"drift report supports the model-carrying " +
      s"kinds (pq|ivfpq|ivf), not '$other'")
  }

  /** Semantic duplicate pairs from the at-rest PQ codes — the
    * [[graft.operators.SimilarityOps.pqSemanticDedup]] pass where its
    * cost claim is literal: the scan reads the code arrays ONLY (M·4
    * bits/row; the unit column stays on disk), one groupBy over them,
    * group-capped pair fan-out. The coarse first pass a deployment runs
    * over an index it already maintains; survivors get exact-cosine
    * certification where it matters. Kinds: `pq` (whole-space codes) —
    * ivfpq codes are RESIDUAL-space (per-cell) and only comparable
    * within a cell, so this report composes (cell, codes) as the group
    * key there. BLIND SPOT, stated plainly: under `ivfpq` a
    * near-duplicate pair that straddles two coarse cells (members
    * assigned to different centroids — a pair sitting on a cell
    * boundary) is INVISIBLE to this report, inherent to residual
    * codes; the `pq` kind has no such gap and reports the same pair
    * (spec-pinned in IndexStoreSpec). Run this report over a `pq`
    * index when boundary pairs matter. */
  def semanticDupes(store: GraftStore, spark: SparkSession,
      kind: String): DataFrame = {
    require(kind == "pq" || kind == "ivfpq",
      s"semantic dupes need stored codes (pq|ivfpq), not '$kind'")
    val keyCols =
      if (kind == "ivfpq") Seq(col("cell"), col("codes"))
      else Seq(col("codes"))
    read(store, spark, kind)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids"))
        .between(2, SimilarityOps.SemanticGroupCap))
      .select(explode(expr(
        """flatten(transform(ids, (xa, ia) ->
          |  transform(slice(ids, ia + 2, size(ids)), xb ->
          |    struct(xa AS id_a, xb AS id_b))))""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
  }

  /** Perceptual duplicate pairs from the AT-REST band rows — NO
    * payload decode: the index already holds every fingerprint, so
    * the modality's batch pair operator runs straight over one index
    * scan (distinct hash rows reconstruct the full fingerprint from
    * ANY surviving band row — the pair path re-derives all 4 bands),
    * capped candidate join, coverage verdict for the unit-granular
    * kinds. This is the retroactive closer for the streaming gates'
    * documented near-identical-flood residual: pairs the per-batch
    * cap let through are reported here from rows at rest — run it
    * with `index compact` cadence and feed the pairs to a
    * keep-one-witness pass.
    *
    * Recall bound, CLOSED in round 17: at-rest truncation keeps ≥1
    * row per UNIT (asset / chunk / frame — [[DedupOps
    * .truncateBuckets]]'s per-unit liveness key), and this report
    * reconstructs the full fingerprint from ANY surviving row before
    * re-deriving all 4 bands — so the pair set equals the batch
    * operator's over the full corpus even when bucket skew truncated
    * the very bands two dups collide on (IndexStoreSpec pins it with
    * a planted past-cap flood). Before round 17 the liveness key was
    * the ASSET, and a long asset's minority units could vanish at
    * rest. Kinds: phash | afp | vhash. */
  def perceptualDupes(store: GraftStore, spark: SparkSession,
      kind: String): DataFrame =
    perceptualDupesOn(store, spark, kind, None)

  /** Anti-join an index read against an optional loser-id frame — how
    * a DRY-RUN apply pass sees the index AS IF earlier simulated
    * passes had committed: the real apply's index-side effect is
    * exactly this `left_anti` on ids, so excluding the cumulative
    * simulated losers reproduces the committed state each real pass
    * would read. `None` (every ordinary report) is the identity. */
  private def minusIds(idx: DataFrame, idCol: String,
      exclude: Option[DataFrame]): DataFrame =
    exclude.fold(idx)(e =>
      idx.join(e.select(col(idCol)), Seq(idCol), "left_anti"))

  private def perceptualDupesOn(store: GraftStore, spark: SparkSession,
      kind: String, exclude: Option[DataFrame]): DataFrame = kind match {
    case "phash" =>
      ImageDedupOps.phashNearDupPairs(
        minusIds(read(store, spark, "phash"), "asset_id", exclude)
          .select(col("asset_id"), col("phash")).distinct())
    case "afp" =>
      checkSchemaVersion(store, "afp", 3, "the chunk-aware dup report")
      AudioDedupOps.afpNearDupPairs(
        minusIds(read(store, spark, "afp"), "asset_id", exclude)
          .select(col("asset_id"), col("chunk_idx"), col("n_chunks"),
            col("afp")).distinct())
    case "vhash" =>
      VideoDedupOps.assetNearDupPairs(
        minusIds(read(store, spark, "vhash"), "asset_id", exclude)
          .select(col("asset_id"), col("frame_idx"), col("n_frames"),
            col("phash")).distinct())
    case other => sys.error(
      s"perceptual dupes need stored fingerprints (phash|afp|vhash), " +
        s"not '$other'")
  }

  /** Near-dup pairs from the AT-REST text band index — the text
    * transposition of [[perceptualDupes]], closing the same symmetry:
    * every perceptual kind has had a retroactive at-rest dup report
    * since round 16; the text `band` kind now has its own. No corpus
    * text is fetched: the at-rest rows carry each doc's full signature
    * (mh_arr + sh_hashes), truncation keeps ≥ 1 row per doc, and
    * [[graft.operators.DedupOps.pairsFromBandIndexRows]] re-derives
    * all bands from mh_arr — so the pair set equals the batch
    * MinHash-LSH operator's over the indexed corpus (hash-oracled by
    * the `dedup_band_dupes` driver query against the batch operator's
    * own oracle). Run on `index compact` cadence as the retroactive
    * closer for the streaming text gates' documented intra-batch
    * flood residual. */
  def bandDupes(store: GraftStore, spark: SparkSession,
      threshold: Double = 0.4): DataFrame =
    bandDupesOn(store, spark, threshold, None)

  private def bandDupesOn(store: GraftStore, spark: SparkSession,
      threshold: Double, exclude: Option[DataFrame]): DataFrame =
    DedupOps.pairsFromBandIndexRows(
      minusIds(read(store, spark, "band"), "doc_id", exclude), threshold)

  /** Table the pair gate ([[graft.streaming.StreamingPairs]]) commits
    * accepted (pair_id, payload, caption) samples to — the constant
    * lives here so the at-rest report below needs no dependency on the
    * streaming package. */
  val AcceptedPairsTable = "accepted_pairs"

  /** SAMPLE-level dup pairs at rest — [[perceptualDupes]]' conjunctive
    * sibling for a [[graft.streaming.StreamingPairs]] store: image
    * pairs reconstruct from the stored `phash` fingerprints (the same
    * closed per-unit recall bound), then
    * [[graft.operators.PairedDedupOps.captionVerify]] gates them
    * against the ACCEPTED captions — fetched for candidate ids only,
    * and the payload column never reads (parquet prunes to pair_id +
    * caption). Equals the batch operator over the accepted corpus; in
    * particular an accepted image-dup-different-caption pair is NOT
    * reported. */
  def pairDupes(store: GraftStore, spark: SparkSession): DataFrame =
    pairDupesOn(store, spark, None)

  /** `exclude` holds pair_ids (the kind's id); phash index rows key
    * asset_id = pair_id for a pairs store. The captions side needs no
    * exclusion: a candidate pair can only reference surviving ids
    * (its phash rows survived the anti-join), so fetching an excluded
    * id's caption can never happen. */
  private def pairDupesOn(store: GraftStore, spark: SparkSession,
      exclude: Option[DataFrame]): DataFrame =
    graft.operators.PairedDedupOps.captionVerify(
      ImageDedupOps.phashNearDupPairs(
        minusIds(read(store, spark, "phash"), "asset_id",
          exclude.map(_.select(col("pair_id").as("asset_id"))))
          .select(col("asset_id"), col("phash")).distinct()),
      store.read(spark, AcceptedPairsTable)
        .select(col("pair_id"), col("caption")))

  /** Near-identical vector pairs from the AT-REST `vec` index — the
    * embedding modality's retroactive dup report, completing the
    * family: every dup-bearing index kind now has one. A GATED store
    * ([[graft.streaming.StreamingVectors]]) is dup-free at rest by
    * construction — the gate drops near-identicals before they index —
    * so this report exists for IMPORTED indexes (`index build --kind
    * vec` over raw embeddings, which gates nothing) and as the audit
    * that the gate invariant actually holds. The stored unit vectors
    * feed the UNCHANGED batch kernel
    * ([[graft.operators.DedupOps.embeddingNearDupPairs]]: adaptive
    * capped sign buckets + margin-gated Hamming-1 multi-probe), so the
    * pair set equals the batch operator's over the indexed vectors,
    * with the same quantified residual (≥2-bit sign splits). One index
    * scan, no re-normalization cost of note (units re-unitize to
    * themselves). `threshold` is COSINE here (default 0.99, the
    * near-identity dial of the batch operator and the gate).
    *
    * `scopeCols`: a store fed by a SCOPED gate
    * ([[graft.streaming.StreamingVectors]] `scopeCols` — per-language
    * corpora, per-split eval protection) deliberately KEEPS cross-scope
    * near-identicals; a scope-blind report would call them dups and a
    * scope-blind APPLY would delete rows the gate's policy explicitly
    * retained. Pass the SAME scope columns here: cross-scope pairs are
    * filtered out on null-safe struct equality (the gate's scope-key
    * recipe). Post-filtering is exact for a PAIR report — unlike a
    * top-k, dropping a pair under-fills nothing. A vec_id whose rows
    * carry DIVERGENT scope values is refused loudly (no well-defined
    * scope — an arbitrary pick could mis-route a scoped apply); scope
    * attrs are constant per vec_id under every gate commit. */
  def vecDupes(store: GraftStore, spark: SparkSession,
      threshold: Double = 0.99,
      scopeCols: Seq[String] = Nil): DataFrame =
    vecDupesOn(store, spark, threshold, scopeCols, None)

  private def vecDupesOn(store: GraftStore, spark: SparkSession,
      threshold: Double, scopeCols: Seq[String],
      exclude: Option[DataFrame]): DataFrame = {
    val idx = minusIds(read(store, spark, "vec"), "vec_id", exclude)
    scopeCols.foreach(c => require(idx.columns.contains(c),
      s"scope column '$c' is not carried by the vec index " +
        s"(has: ${idx.columns.mkString(", ")})"))
    val pairs = DedupOps.embeddingNearDupPairs(
      idx.select(col("vec_id"), col("unit").as("embedding")), threshold)
    if (scopeCols.isEmpty) pairs
    else {
      val attrs = idx
        .select(col("vec_id"), struct(scopeCols.map(col): _*)
          .as("scope_key"))
        .distinct()
        .localCheckpoint() // divergence probe + both pair joins
      // A vec_id carrying DIVERGENT scope values at rest has no
      // well-defined scope: an arbitrary pick could classify a pair as
      // same-scope and let a scoped APPLY delete a row the gate's
      // policy retained. The gate commits scope attrs once per vec_id,
      // so divergence means a corrupted import — refuse loudly (the
      // index-contract stance) instead of collapsing silently.
      // limit 6, show 5: the extra row is only there to know whether
      // the sample is truncated (exactly-5 must not print "…")
      val divergent = attrs.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("variants"))
        .filter(col("variants") > 1)
        .select(col("vec_id")).limit(6)
        .collect().map(_.getLong(0))
      require(divergent.isEmpty,
        s"vec index carries DIVERGENT (${scopeCols.mkString(",")}) " +
          s"values for vec_id(s) ${divergent.take(5).mkString(", ")}" +
          (if (divergent.length == 6) ", …" else "") +
          " — scope attrs must be constant per vec_id (every gate " +
          "commit guarantees this); rebuild the index from a " +
          "deduplicated import before a scoped report/apply")
      pairs
        .join(attrs.select(col("vec_id").as("id_a"),
          col("scope_key").as("sk_a")), "id_a")
        .join(attrs.select(col("vec_id").as("id_b"),
          col("scope_key").as("sk_b")), "id_b")
        .filter(col("sk_a") <=> col("sk_b"))
        .drop("sk_a", "sk_b")
    }
  }

  /** APPLY an at-rest dup report to the store — the keep-one-witness
    * pass every report's doc ends with ("feed the pairs to a
    * keep-one-witness pass"), as one atomic operation: compute the
    * kind's at-rest pairs ([[bandDupes]] / [[perceptualDupes]] /
    * [[pairDupes]]), take connected components over them
    * ([[graft.operators.CurationOps.connectedComponents]] — the same
    * min-id witness policy as `assets dedup --report clusters`), then
    * DELETE every non-witness from `dataTable` AND from the kind's
    * index rows in ONE snapshot swap per pass. A reader sees the store
    * before or after a pass, never half-deduped.
    *
    * FIXPOINT, stated precisely: the operation LOOPS until a pass
    * reports zero pairs (each productive pass deletes ≥1 id per
    * component, so it terminates; `maxPasses` bounds pathology). One
    * pass is provably enough for the pairs one report can SEE (two
    * surviving witnesses can never pair — a pair would have merged
    * their components), but deleting losers can shrink a skew-CAPPED
    * band bucket below [[DedupOps.MaxBucketSize]] and reveal pairs the
    * first report's whole-group cap hid — the loop drains those
    * (spec-pinned on a planted 66-doc flood that takes three passes).
    * What no pass can see is the batch operator's own documented cap
    * blindness: a bucket of MUTUAL duplicates that stays over the cap
    * after every visible deletion (65+ byte-identical docs collide in
    * EVERY band) — identical floods are exact-dedup's job
    * (`dedup_exact`), run it first.
    *
    * `dataTable` must be keyed by the family id-hash layout
    * (pmod(xxhash64(id), [[Buckets]]), sorted by id — what every
    * streaming gate commits and the CLI import examples stage): the
    * data-side rewrite is pruned to the leaf buckets that can hold a
    * loser, so payload bytes of untouched buckets are neither read nor
    * rewritten. The INDEX rows are keyed by band-key hash (losers
    * scatter across all buckets), so the index side rewrites whole —
    * the [[compact]] cost class, which is also this operation's
    * natural cadence. Concurrency: same optimistic retry as compact —
    * a concurrent append's leaves are not in the drop set and survive
    * (its rows just miss this round); a concurrent drop makes the
    * commit throw and the pass recomputes from a fresh snapshot.
    *
    * Kinds: band (doc_id, `threshold` = Jaccard) | vec (vec_id,
    * `threshold` = cosine) | phash | afp | vhash (asset_id) | pair
    * (pair_id; the index side is the `phash` table). The semantic
    * kinds (pq/ivfpq) stay REPORT-only by design: their pairs are
    * code-coarse (un-certified — deleting on them would destroy
    * merely-similar samples), and a pq-backed store has no canonical
    * data table; the certified path is the report feeding `assets
    * dedup` on the source table. NOT cascaded: other index kinds over
    * the same table (espan postings of deleted docs) keep their rows —
    * semantically inert, since the candidate-bounded text fetch no
    * longer finds the deleted doc and its extents stop certifying
    * (spec-pinned); [[prune]] that index against the surviving table
    * to reclaim the bytes — an id anti-join, never a corpus re-read. `scopeCols` (vec kind only): the scoped gate's columns —
    * cross-scope near-identicals are NOT dups and are never deleted
    * ([[vecDupes]]). Returns an [[ApplyDupesResult]]: cumulative
    * deleted-id / pair totals, the pass count, the CONVERGED flag, and
    * the cumulative pair list as the audit trail (every pair each pass
    * reported, tagged with its 1-based `pass` — the report a user
    * would otherwise have to run twice to keep). An id is removed from
    * the INDEX always, and from `dataTable` where present (an id the
    * index holds but the table never staged still counts — its index
    * rows are gone).
    *
    * NON-CONVERGENCE IS LOUD: if the pass loop exhausts `maxPasses`
    * while the last pass was still productive, the store is left
    * PARTIALLY deduped (each completed pass committed atomically —
    * nothing is rolled back), `converged` comes back false, and a
    * warning lands on stderr. A destructive operator that can exit
    * partially-applied must say so — a caller that ignores the flag
    * had to destructure past it. The CLI refuses to print a
    * success-shaped message on a false flag.
    *
    * `dryRun = true` SIMULATES the full pass loop without committing
    * anything — the sizing step before a destructive pass (the report
    * alone shows pass-1 pairs only; cap floods hide later-pass pairs
    * by construction). It is not "run the report N times": pass N's
    * report reads the index MINUS the cumulative simulated losers —
    * exactly the anti-join a real pass N would have committed — so
    * skew-capped buckets shrink and reveal their hidden pairs just as
    * they would under real deletes. Totals, pass count, `converged`,
    * the audit trail, and `passStats` all come back identical to what
    * a real apply over the same snapshot would produce (spec-pinned
    * on the planted cap flood), while `leavesOf` before == after. The
    * data-side staging, commit, and optimistic retry are skipped
    * (nothing can go stale when nothing writes). */
  def applyDupes(store: GraftStore, spark: SparkSession, kind: String,
      dataTable: String, threshold: Double = Double.NaN,
      scopeCols: Seq[String] = Nil,
      maxAttempts: Int = 3, maxPasses: Int = 8,
      dryRun: Boolean = false): ApplyDupesResult = {
    val idCol = kind match {
      case "band" => "doc_id"
      case "vec" => "vec_id"
      case "pair" => "pair_id"
      case "phash" | "afp" | "vhash" => "asset_id"
      case other => sys.error(
        s"apply-dupes supports the at-rest report kinds " +
          s"(band|vec|phash|afp|vhash|pair), not '$other'")
    }
    require(scopeCols.isEmpty || kind == "vec",
      "scope columns apply to the vec kind (the scoped gate); " +
        s"'$kind' reports are scope-less")
    // kind-aware default, the [[search]] NaN-sentinel recipe: 0.4 is
    // the band kind's JACCARD dial but would be corpus-destroying as
    // the vec kind's COSINE floor
    val th = if (!threshold.isNaN) threshold
      else if (kind == "vec") 0.99 else 0.4
    require(maxPasses >= 1,
      s"applyDupes needs at least one pass (got maxPasses=$maxPasses)")
    val idxKind = if (kind == "pair") "phash" else kind
    var totalLosers = 0L
    var totalPairs = 0L
    var pass = 0
    val audit = Seq.newBuilder[DataFrame]
    val stats = Seq.newBuilder[ApplyPassStat]
    // dry-run state: the cumulative simulated losers. A real pass
    // reads committed state, so `exclude` stays None there.
    var simulated: Option[DataFrame] = None
    // block ids of the CURRENT cumulative-union checkpoint (created by
    // the fold below — never a pass's own frames or the audit's), so a
    // superseded union can be released instead of pinning every
    // intermediate exclusion frame until session end on a deep
    // --max-passes sizing run
    var unionRddIds: Set[Int] = Set.empty
    while (pass < maxPasses) {
      pass += 1
      val out = applyDupesPass(store, spark, kind, dataTable,
        th, scopeCols, idCol, idxKind, maxAttempts,
        exclude = simulated, dryRun = dryRun)
      audit += out.report.withColumn("pass", lit(pass))
      stats += ApplyPassStat(pass, out.pairs, out.losers)
      totalLosers += out.losers
      totalPairs += out.pairs
      // checkpoint each cumulative union so pass N's exclusion frame
      // stays flat instead of an N-deep union plan re-evaluated per
      // index read (only matters for a large --max-passes sizing run,
      // but the real apply never pays that shape so neither should we);
      // then RELEASE the superseded union's blocks — the eager
      // checkpoint has already copied what it needs, and holding every
      // intermediate exclusion frame would grow storage linearly in
      // passes. Audit frames and the passes' own loser frames are not
      // touched (only ids this fold itself registered are released).
      if (dryRun) out.loserIds.foreach { l =>
        simulated = Some(simulated.fold(l) { prev =>
          val sc = spark.sparkContext
          val before = sc.getPersistentRDDs.keySet.toSet
          val next = (prev unionByName l).localCheckpoint() // eager
          val created = sc.getPersistentRDDs.keySet.toSet -- before
          unionRddIds.foreach(id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
          unionRddIds = created
          next
        })
      }
      if (out.pairs == 0L)
        return ApplyDupesResult(totalLosers, totalPairs, pass,
          converged = true, audit.result().reduce(_ unionByName _),
          stats.result())
    }
    // maxPasses exhausted with the LAST pass still reporting pairs: dup
    // pairs remain at rest and the store is partially deduped (each
    // completed pass committed atomically). Say so — on stderr here,
    // in the flag for every caller, and the CLI turns it into a hard
    // error instead of a success-shaped line.
    Console.err.println(
      if (dryRun)
        s"[index] WARNING: apply-dupes DRY RUN '$kind' on '$dataTable' " +
          s"did NOT converge in $maxPasses simulated pass(es) — " +
          s"$totalLosers id(s) over $totalPairs pair(s) so far and the " +
          "last pass still reported pairs. Nothing was committed; a " +
          "real apply with these settings would exit PARTIALLY deduped."
      else
        s"[index] WARNING: apply-dupes '$kind' on '$dataTable' did NOT " +
          s"converge in $maxPasses pass(es) — $totalLosers id(s) deleted " +
          s"over $totalPairs pair(s) so far, and the last pass still " +
          "reported pairs. The store is PARTIALLY deduped; identical " +
          "floods that hold a bucket over the skew cap are exact-dedup's " +
          "job (run `assets dedup` first), otherwise raise maxPasses.")
    ApplyDupesResult(totalLosers, totalPairs, pass, converged = false,
      audit.result().reduce(_ unionByName _), stats.result())
  }

  /** One pass-loop line of [[ApplyDupesResult.passStats]]: what pass
    * `pass` (1-based) reported and deleted (or, dry-run, would have
    * deleted). The per-pass anatomy matters because a capped report
    * reveals pairs incrementally — pass 1's counts alone undersize a
    * flood by construction. */
  final case class ApplyPassStat(pass: Int, pairs: Long, losers: Long)

  /** What [[applyDupes]] returns: cumulative totals, the pass count,
    * whether the report DRAINED (a final pass saw zero pairs) or the
    * `maxPasses` bound cut the loop while still productive, the
    * cumulative audit trail — every pass's full dup report (the kind's
    * native columns: ids plus its jaccard/cosine/hamming evidence)
    * tagged with the 1-based `pass` that found it — and the per-pass
    * (pairs, losers) counts. The audit frame is built from per-pass
    * localCheckpoints, so it stays valid after the store has moved
    * on. */
  final case class ApplyDupesResult(losers: Long, pairs: Long,
      passes: Int, converged: Boolean, pairList: DataFrame,
      passStats: Seq[ApplyPassStat])

  /** What one pass returns: its counts, the checkpointed full report
    * (possibly empty), and the checkpointed loser-id frame (the
    * dry-run loop feeds it back as the next pass's exclusion; None on
    * a drain pass, which has no losers to feed back). */
  private final case class PassOutcome(losers: Long, pairs: Long,
      report: DataFrame, loserIds: Option[DataFrame])

  /** One report → components → delete pass of [[applyDupes]]: its own
    * atomic commit with the optimistic retry. `exclude` (dry-run only)
    * is the cumulative simulated-loser frame the report must not see;
    * `dryRun` stops the pass after the components step — report and
    * losers are computed, nothing is staged or committed. */
  private def applyDupesPass(store: GraftStore, spark: SparkSession,
      kind: String, dataTable: String, th: Double,
      scopeCols: Seq[String], idCol: String, idxKind: String,
      maxAttempts: Int, exclude: Option[DataFrame],
      dryRun: Boolean): PassOutcome = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(store.leavesOf(dataTable).nonEmpty,
        s"no '$dataTable' leaves in store ${store.root}")
      // checkpoint the FULL report (ids + the kind's evidence columns —
      // all narrow): the id pair drives components + both anti-joins,
      // the rest is the caller's audit trail at no extra scan
      val report = (kind match {
        case "band" => bandDupesOn(store, spark, th, exclude)
        case "vec" => vecDupesOn(store, spark, th, scopeCols, exclude)
        case "pair" => pairDupesOn(store, spark, exclude)
        case _ => perceptualDupesOn(store, spark, kind, exclude)
      }).localCheckpoint()
      val nPairs = report.count()
      if (nPairs == 0L) return PassOutcome(0L, 0L, report, None)
      val pairs = report.select(col("id_a"), col("id_b"))
      val losers = graft.operators.CurationOps.connectedComponents(pairs)
        .filter(col("node") =!= col("comp"))
        .select(col("node").as(idCol))
        .localCheckpoint() // bucket collect + both anti-joins
      val nLosers = losers.count()
      if (dryRun) return PassOutcome(nLosers, nPairs, report, Some(losers))
      // data side: pruned to the leaf buckets that can hold a loser
      val loserBuckets = losers
        .select(pmod(xxhash64(col(idCol)), lit(Buckets.toLong)).as("b"))
        .distinct().collect().map(_.getLong(0)).toSet
      val affected = store.leavesOf(dataTable)
        .filter(l => loserBuckets.contains(l.bucket))
      val dataAdds =
        if (affected.isEmpty) Nil
        else store.stageKeyed(dataTable,
          store.readLeaves(spark, dataTable, affected)
            .join(losers, Seq(idCol), "left_anti"),
          pmod(xxhash64(col(idCol)), lit(Buckets.toLong)),
          Seq(col(idCol)))
      // index side: whole-table rewrite (rows keyed by band-key hash)
      val idxTable = tableOf(idxKind)
      val idxLeaves = store.leavesOf(idxTable)
      val idxIdCol = kind match {
        case "band" => "doc_id"
        case "vec" => "vec_id"
        case _ => "asset_id"
      }
      val idxAdds = store.stageKeyed(idxTable,
        store.readLeaves(spark, idxTable, idxLeaves)
          .join(losers.select(col(idCol).as(idxIdCol)),
            Seq(idxIdCol), "left_anti"),
        bucketOf(idxKind), sortOf(idxKind))
      try {
        // preservingMeta: the apply anti-joins index rows out, it does
        // not rewrite them into the newest table schema — no upgrade
        store.commit(dataAdds ++ idxAdds, drops = affected ++ idxLeaves,
          meta = preservingMeta(store, idxKind))
        return PassOutcome(nLosers, nPairs, report, Some(losers))
      } catch {
        case _: GraftStore.StaleSnapshotException if attempt < maxAttempts =>
        // recompute from a fresh snapshot; staged orphans are vacuum's
      }
    }
    sys.error("unreachable")
  }

  /** Semantic decontamination of a benchmark against the at-rest `pq`
    * index — [[graft.operators.SimilarityOps.semanticContamination]]
    * where its cost claim is literal: the corpus side needs NO training
    * and NO encoding (codes and codebook are already committed in one
    * snapshot), the code-join scan reads the codes column only, and
    * corpus `unit` bytes are fetched solely for code-join hits (the
    * certification join is hit-pruned before it touches the unit
    * column). The benchmark (eval_id, embedding) is encoded against
    * the committed codebook — O(benchmark) work — and broadcasts.
    * `pq` kind only: ivfpq codes are residual-space (per-cell), and a
    * contamination screen must compare across the whole space (the
    * [[semanticDupes]] cross-cell caveat squared); encode the
    * benchmark against a plain pq index instead. */
  def semanticContamination(store: GraftStore, spark: SparkSession,
      benchEmb: DataFrame,
      certBp: Long = SimilarityOps.DecontamCertBp): DataFrame = {
    checkSchemaVersion(store, "pq", 2,
      "the semantic-contamination report")
    // codebook and codes from one snapshot; the codebook from the cache
    val snap = store.currentLeaves()
    val cb = modelOf(store, spark, "pq")(snap).codebook
    val bu = benchEmb.withColumnRenamed("eval_id", "vec_id")
      .withColumn("unit",
        graft.functions.Vec.vec_unit(col("embedding")))
      .filter(col("unit").isNotNull)
      .select(col("vec_id"), col("unit"))
    val idx = readIn(store, spark, "pq", tableOf("pq"))(snap)
    SimilarityOps.contaminationFromCodes(
      idx.select(col("vec_id"), col("codes")),
      idx.select(col("vec_id"), col("unit")),
      SimilarityOps.pqEncodeWith(bu, cb)
        .select(col("vec_id").as("eval_id"), col("codes")),
      bu.select(col("vec_id").as("eval_id"), col("unit")), certBp)
  }

  /** Probe a batch against the at-rest index. For the keyed indexes
    * (band/span) the probe batch's own keys determine which leaf buckets
    * can match, so the manifest read is pruned to those — a small batch
    * (the interactive "is this new doc a dup" shape) reads a few of the
    * [[Buckets]] leaf sets and never lists the rest. Sketch search scans
    * all sketches by design (hamming scan), so no leaf pruning applies.
    *
    * `probe`: (doc_id, text) for band/span, (vec_id, embedding) for
    * sketch. Returns the probe operator's pair/neighbor frame.
    *
    * The model kinds (ivf, pq, ivfpq) take their collected model from
    * [[modelOf]]'s cache and their rows from the same manifest
    * snapshot, so a search racing a rebuild answers from one index.
    *
    * `where`: optional attribute predicate for the VECTOR kinds
    * (filtered ANN) over columns the index rows carry ([[withAttrs]]
    * passthrough at build/append). Applied to the index-side scan
    * BEFORE any distance math — Catalyst pushes it into the parquet
    * read, where it composes with the kind's own prune (cells for
    * ivf/ivfpq, sign buckets for vec, manifest leaves everywhere): a
    * non-matching row costs at most a skipped row group, never a
    * ranked candidate. Pre-filter, not post-filter, so a top-k among
    * matching rows is always full. */
  def search(store: GraftStore, spark: SparkSession, kind: String,
      probe: DataFrame, threshold: Double = Double.NaN,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(where.isEmpty ||
      !Set("band", "span", "phash", "afp", "vhash", "espan")
        .contains(kind),
      s"attribute predicates apply to the vector kinds, not '$kind'")
    def flt(df: DataFrame): DataFrame = where.fold(df)(df.filter)
    // kind-aware default: `threshold` means cosine for the similarity
    // kinds (default 0.4) but HAMMING DISTANCE for phash — a NaN
    // sentinel resolves the unset default per kind, so a programmatic
    // phash caller omitting it gets the operator's MaxHamming radius
    // (round(0.4) = exact-hash-only was the silent prior behavior)
    val th = if (!threshold.isNaN) threshold
      else if (kind == "phash")
        graft.operators.ImageDedupOps.MaxHamming.toDouble
      else if (kind == "afp")
        graft.operators.AudioDedupOps.MaxHamming.toDouble
      else if (kind == "vhash")
        graft.operators.ImageDedupOps.MaxHamming.toDouble
      else 0.4
    kind match {
    case "band" =>
      // ONE pass over the (small) probe batch yields both prune levels:
      // leaf buckets for the manifest, and the distinct probe band keys
      // pushed as a scan filter. Without the key filter the probe join
      // shuffles the whole surviving index — measured 585 MB of shuffle
      // for a 25-doc probe against a 30× corpus (SCALE.md round 10),
      // growing linearly with the INDEX instead of the batch. With it,
      // the isin predicate reaches the parquet scan, row-group stats on
      // the sorted (band, band_key) leaves prune IO, and everything
      // downstream is O(matching keys). Filtering on band_key alone is a
      // superset of the (band, band_key) match — cross-band key
      // collisions just ride to the join, which checks both columns.
      DedupOps.incrementalNearDup(probe,
        prunedBandIndex(store, spark, probe), th)
    case "phash" =>
      // image near-dup probe: hash the probe batch's own pixels (one
      // per-partition decode pass), then the hash-rows probe below.
      phashSearchFromHashes(store, spark,
        ImageDedupOps.imageHashRows(probe), math.round(th).toInt)
    case "afp" =>
      // audio near-dup probe: fingerprint the probe batch's own PCM
      // (one per-partition decode pass), then the hash-rows probe.
      afpSearchFromHashes(store, spark,
        AudioDedupOps.audioHashRows(probe), math.round(th).toInt)
    case "vhash" =>
      // video near-dup probe over (asset_id, frame_idx, payload)
      // frame stills: hash the probe's own frames per partition, then
      // the frame-coverage hash-rows probe.
      vhashSearchFromHashes(store, spark,
        VideoDedupOps.assetHashRows(probe), math.round(th).toInt)
    case "espan" => sys.error(
      "espan search certifies against the corpus text — call " +
        "IndexStore.searchExactSpans(store, spark, probe, corpus) " +
        "(CLI: index search --kind espan --corpus c.parquet)")
    case "span" =>
      val fps = probe
        .select(explode(graft.functions.Vec.winnow_fps(
            regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
            DedupOps.SpanGram, DedupOps.SpanWindow)).as("fp"))
      val idx = prunedIndex(store, spark, "span",
        fps.select(col("fp"), bucketOf("span").as("b")), "fp")
      DedupOps.incrementalSharedSpans(probe, idx)
    case "ivf" =>
      // the probe list needs only the tiny centroid table; the cell
      // reads that follow are pruned to the probed cells — at rest, an
      // nprobe/k search really does LIST nprobe/k of the data.
      // The model comes from the cache (a driver job only on its first
      // search, [[modelOf]]) and the cells from the same snapshot; the
      // probe-dimension guard fires per-row inside the ivf_top_cells
      // kernel (during the cell set collect below — still loud, still
      // before any index read); the probe list is a trivial projection
      // over the probe batch, so its second consumer recomputes it
      // instead of paying a checkpoint job.
      val snap = store.currentLeaves()
      val model = modelOf(store, spark, kind)(snap)
      val queries = SimilarityOps.unitVectors(probe)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
      val probes = SimilarityOps.ivfProbes(queries,
        model.cents, SimilarityOps.IvfProbes)
      SimilarityOps.ivfSearchWithProbes(flt(readIn(store, spark, kind,
        tableOf(kind), probedCells(probes).contains)(snap)), probes)
    case "pq" =>
      // candidate scan reads the codes COLUMN of the at-rest leaves
      // (columnar pruning — ~1% of the index bytes); only survivor
      // units are fetched for the rescore
      val snap = store.currentLeaves()
      SimilarityOps.pqProbe(flt(readIn(store, spark, kind, tableOf(kind))(
        snap)), modelOf(store, spark, kind)(snap).codebook, probe)
    case "ivfpq" =>
      // two-phase like ivf: the probe list needs only the tiny model
      // tables; the codes read that follows is manifest-pruned to the
      // probed cells, and the scan reads (vec_id, cell, codes) — unit
      // bytes stay on disk until the survivor rescore.
      // The collected arrays feed every consumer (probe list, query
      // tables, ADC stride, dimension guards); a repeat batch on an
      // unchanged index collects neither model table.
      val snap = store.currentLeaves()
      val model = modelOf(store, spark, kind)(snap)
      val queries = SimilarityOps.unitVectors(probe)
        .select(col("vec_id").as("query_id"), col("unit").as("q_unit"))
      val probes = SimilarityOps.ivfProbes(queries, model.cents,
        SimilarityOps.IvfProbes)
      val idx = flt(readIn(store, spark, kind, tableOf(kind),
        probedCells(probes).contains)(snap))
      SimilarityOps.ivfPqSearchWithProbesArr(
        idx.select(col("vec_id"), col("cell"), col("codes")),
        idx.select(col("vec_id"), col("unit")),
        model.cents, model.codebook, probes, queries)
    case "vec" =>
      // near-identical detection: in-bucket pairwise cosine >= threshold
      // against the probe's own sign buckets PLUS their margin-gated
      // Hamming-1 neighbors (manifest prune + the distinct bucket ids as
      // a pushed scan filter — the band prune levels, keyed on `bucket`).
      // Multi-probe closes the sign-boundary recall gap: a true pair at
      // cos >= t differs by at most ||u-v|| = sqrt(2(1-t)) per component,
      // so only bits whose dimension sits within that margin of zero can
      // flip between the pair — flipping each such bit probes the bucket
      // the boundary-split twin lives in. Cost: <= 17x probe keys per
      // vector (16-bit key), typically far fewer under the margin gate;
      // still O(batch), flat in corpus size. Pairs at Hamming distance
      // >= 2 (two simultaneously-tiny flipped dims) remain the
      // documented residual miss. At LOW thresholds (< 0.5, not the
      // near-identity dial this kind exists for) the margin exceeds 1
      // and every bit flips — a guaranteed 17x fan; large probe batches
      // then cross [[MaxKeyPushdown]] and fall back to bucket pruning
      // without the isin scan filter, the documented bulk shape.
      requireProbeDim(probe, indexDim(store, spark, "vec"), "vec index")
      val probeRows = DedupOps.multiProbeBuckets(
        DedupOps.normalizedWithBucket(probe), th)
        .select(col("vec_id").as("new_id"), col("unit").as("u_new"),
          col("bucket"))
      val idx = prunedIndex(store, spark, "vec",
        probeRows.select(col("bucket"), bucketOf("vec").as("b")), "bucket")
      // NO equal-id exclusion, matching the band/span probes: a probe
      // id that already exists in the index is a RE-DELIVERY, and the
      // self-match (cosine 1) is what makes streaming replays
      // exactly-once ([[graft.streaming.StreamingVectors]])
      probeRows
        .join(flt(idx).select(col("vec_id").as("existing_id"),
          col("unit").as("u_ex"), col("bucket")), Seq("bucket"))
        .withColumn("cos", graft.functions.Vec
          .vec_dot(col("u_new"), col("u_ex")))
        .filter(col("cos") >= th)
        .select(col("new_id"), col("existing_id"),
          floor(col("cos") * 10000).cast("long").as("cos_bp"))
    case _ =>
      val idx = read(store, spark, "sketch")
      requireProbeDim(probe,
        idx.select(size(col("unit"))).head().getInt(0), "sketch index")
      SimilarityOps.sketchProbe(flt(idx), probe)
  } }

  /** Exact-span probe against the at-rest `espan` postings: which
    * spans of the NEW documents already exist verbatim in the indexed
    * corpus, WITHOUT re-shingling history — the
    * [[DedupOps.incrementalExactSpans]] semantics served from rest.
    * The probe's own shingle hashes prune the manifest to candidate
    * leaves and push as a scan key filter (the band/span two-level
    * discipline); `corpus` supplies document text for the STRING
    * certification, fetched for candidate docs only (the operator's
    * semi-join prune) — so history is never re-shingled and its text
    * is read only where a hash matched. Returns the probe docs'
    * maximal duplicated extents (doc_id, span_start, span_end,
    * span_tokens). */
  def searchExactSpans(store: GraftStore, spark: SparkSession,
      probe: DataFrame, corpus: DataFrame,
      gram: Int = DedupOps.ExactSpanGram): DataFrame = {
    checkFormat(store, "espan")
    val pPost = DedupOps.buildExactSpanIndex(probe, gram)
      .localCheckpoint() // probe-sized; prune keys + the probe join
    val pruned = prunedIndex(store, spark, "espan",
      pPost.select(col("h"), bucketOf("espan").as("b")), "h")
    DedupOps.incrementalExactSpans(probe, pruned, corpus, gram)
  }

  /** [[searchExactSpans]] with the certification corpus read FROM THE
    * STORE, candidate-bounded: the hash screen's candidate doc ids
    * drive an isin-pushed read of `corpusTable` (leaves are sorted by
    * doc_id, so row-group stats prune the fetch to candidate docs —
    * per-batch cost stays probe-bounded instead of re-reading history
    * text every micro-batch; past [[MaxKeyPushdown]] candidates the
    * read falls back to the scan + broadcast-semi bulk shape).
    * `excludeProbeIds` drops index postings whose doc_id is IN the
    * probe batch — the replay-determinism switch for streaming
    * consumers: a foreachBatch replay probes an index that already
    * holds the batch's own first-run postings, and excluding them
    * makes the effective history identical to the first run's. */
  def searchExactSpansAtRest(store: GraftStore, spark: SparkSession,
      probe: DataFrame, corpusTable: String,
      gram: Int = DedupOps.ExactSpanGram,
      excludeProbeIds: Boolean = false): DataFrame = {
    checkFormat(store, "espan")
    val p = probe.select(col("doc_id"), col("text")).localCheckpoint()
    val pPost = DedupOps.buildExactSpanIndex(p, gram).localCheckpoint()
    val pruned = prunedIndex(store, spark, "espan",
      pPost.select(col("h"), bucketOf("espan").as("b")), "h")
    val idx =
      if (!excludeProbeIds) pruned
      else pruned.join(broadcast(p.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    val cand = idx.join(pPost.select(col("h")).distinct(), Seq("h"))
      .select(col("doc_id")).distinct()
      .limit(MaxKeyPushdown + 1).collect().map(_.getLong(0)).toSeq
    val full = store.read(spark, corpusTable)
      .select(col("doc_id"), col("text"))
    val corpus =
      if (cand.length > MaxKeyPushdown) full
      else if (cand.isEmpty) full.limit(0)
      else full.filter(col("doc_id").isin(cand: _*))
    DedupOps.incrementalExactSpans(p, idx, corpus, gram)
  }

  /** afp probe from PRE-COMPUTED (asset_id, chunk_idx, n_chunks, afp)
    * rows — the audio mirror of [[phashSearchFromHashes]] with the
    * CHUNK-aware verdict: the banded join runs at chunk granularity
    * (same two-level prune — candidate leaves from the probe's own
    * (band, band_key) rows, distinct keys pushed to the sorted
    * leaves), then matches aggregate per (probe asset, existing asset)
    * under the majority-coverage rule
    * ([[graft.operators.AudioDedupOps.afpNearDupPairs]]'s semantics:
    * 2·matched > n_chunks on BOTH sides, hamming = worst matched
    * chunk). Single-chunk clips reduce to the plain banded probe. Same
    * no-equal-id replay-safety contract: a re-delivered asset
    * self-matches every chunk at Hamming 0, so coverage is total and
    * the verdict fires. */
  def afpSearchFromHashes(store: GraftStore, spark: SparkSession,
      hashes: DataFrame, maxHamming: Int): DataFrame = {
    checkSchemaVersion(store, "afp", 3,
      "the chunk-aware afp probe")
    coverageSearchFromHashes(store, spark, "afp",
      AudioDedupOps.afpBandRows(hashes), "afp", "chunk_idx", "n_chunks",
      maxHamming)
  }

  /** vhash probe from PRE-COMPUTED (asset_id, frame_idx, n_frames,
    * phash) frame-hash rows — the video mirror of
    * [[afpSearchFromHashes]] (frames are to a video what chunks are to
    * a long clip), same pruning and the same no-equal-id replay-safety
    * contract: a re-delivered video self-matches every frame at
    * Hamming 0, total coverage, verdict fires. */
  def vhashSearchFromHashes(store: GraftStore, spark: SparkSession,
      hashes: DataFrame, maxHamming: Int): DataFrame =
    coverageSearchFromHashes(store, spark, "vhash",
      VideoDedupOps.assetBandRows(hashes), "phash", "frame_idx",
      "n_frames", maxHamming)

  /** The shared probe body of the UNIT-GRANULAR perceptual kinds (afp
    * chunks, vhash frames): the banded two-level prune and bit_count
    * verify run per unit, then matches aggregate per (probe asset,
    * existing asset) under the majority-coverage verdict — 2·matched >
    * `nCol` on BOTH sides, hamming = worst matched unit. `bands` must
    * carry (asset_id, `unitCol`, `nCol`, `hashCol`, band, band_key) —
    * every column named by the caller and required to exist (the
    * single-hash body's lesson: inference lets a stray column become
    * the hash). */
  private def coverageSearchFromHashes(store: GraftStore,
      spark: SparkSession, kind: String, bands: DataFrame,
      hashCol: String, unitCol: String, nCol: String,
      maxHamming: Int): DataFrame = {
    Seq(hashCol, unitCol, nCol, "asset_id", "band", "band_key")
      .foreach(c => require(bands.columns.contains(c),
        s"probe band rows for '$kind' lack column '$c' " +
          s"(have: ${bands.columns.mkString(", ")})"))
    val probeBands = bands
      .localCheckpoint() // keys collect + join both read it
    val pIdx = prunedIndex(store, spark, kind,
      probeBands.select(col("band_key"), bucketOf(kind).as("b")),
      "band_key")
    probeBands
      .select(col("asset_id").as("new_id"), col(unitCol).as("c_new"),
        col(nCol).as("n_new"), col(hashCol).as("h_new"),
        col("band"), col("band_key"))
      .join(pIdx.select(col("asset_id").as("existing_id"),
        col(unitCol).as("c_ex"), col(nCol).as("n_ex"),
        col(hashCol).as("h_ex"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("new_id"), col("existing_id"), col("c_new"),
        col("c_ex"), col("n_new"), col("n_ex"), col("h_new"),
        col("h_ex"))
      .distinct() // a unit pair can meet in up to 4 bands
      .withColumn("hamming", expr("CAST(bit_count(h_new ^ h_ex) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("new_id"), col("existing_id"), col("n_new"),
        col("n_ex"))
      .agg(countDistinct(col("c_new")).as("m_new"),
        countDistinct(col("c_ex")).as("m_ex"),
        max(col("hamming")).as("hamming"))
      .filter(col("m_new") * 2 > col("n_new") &&
        col("m_ex") * 2 > col("n_ex"))
      .select(col("new_id"), col("existing_id"), col("hamming"))
  }

  /** phash probe from PRE-COMPUTED (asset_id, phash) rows — the body
    * of `search("phash", ...)`, public so the streaming image gate
    * ([[graft.streaming.StreamingImages]]) probes with the hashes it
    * already computed instead of decoding the batch a second time.
    * The band two-level prune: candidate leaves from the probe's
    * (band, band_key) rows, the distinct band_key values pushed as a
    * scan filter over the (band, band_key)-sorted leaves, then a
    * codegen'd bit_count verify at Hamming <= maxHamming. Like the
    * band/vec probes there is NO equal-id exclusion: a re-delivered
    * asset self-matches at Hamming 0, which is what makes a streaming
    * consumer replay-safe. */
  def phashSearchFromHashes(store: GraftStore, spark: SparkSession,
      hashes: DataFrame, maxHamming: Int): DataFrame =
    bandedSearchFromHashes(store, spark, "phash",
      ImageDedupOps.bandRows(hashes), "phash", maxHamming)

  /** The probe body of the single-hash banded perceptual kind(s):
    * prune the at-rest leaves from the probe's own (band, band_key)
    * rows, push the distinct keys as a scan filter, verify with a
    * codegen'd bit_count at Hamming <= maxHamming. `probeBands` must
    * carry (asset_id, `hashCol`, band, band_key) — the hash column is
    * NAMED by the caller and required to exist (inferring it by
    * eliminating the key columns let any stray extra column silently
    * become the hash and produce wrong Hamming results). The
    * chunk-aware afp probe has its own body
    * ([[afpSearchFromHashes]]). */
  private def bandedSearchFromHashes(store: GraftStore,
      spark: SparkSession, kind: String, bands: DataFrame,
      hashCol: String, maxHamming: Int): DataFrame = {
    require(bands.columns.contains(hashCol),
      s"probe band rows for '$kind' lack hash column '$hashCol' " +
        s"(have: ${bands.columns.mkString(", ")})")
    val probeBands = bands
      .localCheckpoint() // keys collect + join both read it
    val pIdx = prunedIndex(store, spark, kind,
      probeBands.select(col("band_key"), bucketOf(kind).as("b")),
      "band_key")
    probeBands
      .select(col("asset_id").as("new_id"), col(hashCol).as("h_new"),
        col("band"), col("band_key"))
      .join(pIdx.select(col("asset_id").as("existing_id"),
        col(hashCol).as("h_ex"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("new_id"), col("existing_id"), col("h_new"),
        col("h_ex"))
      .distinct() // a pair can meet in up to 4 bands
      .withColumn("hamming", expr("CAST(bit_count(h_new ^ h_ex) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("new_id"), col("existing_id"), col("hamming"))
  }

  /** The cells a probe list touches, for the manifest prune: one job
    * with no exchange. The list is queries × nprobe ints, so it
    * de-duplicates on the driver; a `distinct` would add a shuffle
    * stage job. */
  private def probedCells(probes: DataFrame): Set[Long] =
    probes.select(col("cell")).collect().map(_.getInt(0).toLong).toSet

  /** Loud probe-side dimension check for the vector kinds — the shared
    * [[SimilarityOps.requireDim]] guard over the probe's `embedding`
    * column. The pq/ivfpq kinds apply the same check inside
    * [[SimilarityOps]] against their codebook geometry. */
  private def requireProbeDim(probe: DataFrame, expected: Int,
      what: String): Unit =
    SimilarityOps.requireDim(probe, "embedding", expected, what)

  /** Probe keys above this count skip the scan-filter pushdown (a
    * predicate that large costs more to plan/evaluate than the scan it
    * would save) and fall back to bucket pruning + the probe join alone
    * — the bulk-reprocessing shape, where reading most of the index is
    * the honest plan anyway. The interactive probe shape (a batch of
    * docs × 16 bands, or a batch's winnow fps) sits far below it. */
  val MaxKeyPushdown = 20000

  /** The band/span index pruned for one probe batch, two levels deep:
    * manifest leaf buckets, then the batch's distinct probe keys as an
    * `isin` scan filter (pushed to parquet, where the sorted leaves'
    * row-group stats prune IO — without it the probe join shuffles the
    * whole surviving index; SCALE.md round 10 measured 585 MB for a
    * 25-doc probe at 30×).
    *
    * The driver-side key collect is BOUNDED: `limit(MaxKeyPushdown+1)`
    * caps it before any row crosses, so a bulk probe batch (millions of
    * keys) collects at most 20 001 rows, drops the key filter, and
    * falls back to bucket pruning computed from the ≤[[Buckets]]
    * distinct bucket ids — driver traffic is O(min(batch keys, 20k)),
    * never O(batch), never O(index). */
  /** The at-rest band index pruned for one probe batch's (doc_id, text)
    * rows — the frame to hand [[DedupOps.incrementalNearDup]]. Public
    * because every consumer of the at-rest index must probe through it:
    * [[search]] AND the streaming curate hot path
    * ([[graft.streaming.StreamingCuration.processBatch]]), which
    * previously read the full unpruned index per micro-batch — the
    * same full-index-shuffle the round-10 scale sweep caught in
    * search (SCALE.md §4), hiding in a second call site. */
  def prunedBandIndex(store: GraftStore, spark: SparkSession,
      probe: DataFrame): DataFrame = {
    val bands = DedupOps.lshBands(DedupOps.minhashSignatures(probe))
    prunedIndex(store, spark, "band",
      bands.select(col("band_key"), bucketOf("band").as("b")), "band_key")
  }

  private def prunedIndex(store: GraftStore, spark: SparkSession,
      kind: String, keyAndBucket: DataFrame, keyCol: String): DataFrame = {
    // distinct + checkpoint FIRST: both collects below read the
    // materialized blocks, so the probe batch is shingled exactly once
    // here — without it, the bulk fallback's bucket collect would
    // recompute the whole signature lineage a second time, on exactly
    // the batches large enough for that to hurt
    val kb = keyAndBucket.distinct().localCheckpoint()
    val keyRows = kb.limit(MaxKeyPushdown + 1).collect()
    if (keyRows.length > MaxKeyPushdown) {
      val buckets = kb.select(col("b")).distinct()
        .collect().map(_.getLong(0)).toSet // at most Buckets longs
      read(store, spark, kind, buckets.contains)
    } else {
      val buckets = keyRows.map(_.getLong(1)).toSet
      val keys = keyRows.map(_.getLong(0)).distinct.toSeq
      val idx = read(store, spark, kind, buckets.contains)
      if (keys.isEmpty) idx else idx.filter(col(keyCol).isin(keys: _*))
    }
  }
}
