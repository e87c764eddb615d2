package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Manifest-committed multi-table parquet store (SURVEY §7.5).
  *
  * Mirrors the reference's single DB transaction spanning
  * blocks+transactions+token_transfers (sqlite3.rs:394-481) on immutable
  * parquet, with no external table-format dependency:
  *
  *  - data lands in per-block-range-bucket leaf directories
  *    (`bucket = number / bucketSize`), uniquely named per write;
  *  - a snapshot file lists every live (table, bucket, dir) triple,
  *    with per-leaf footer stats and each table's schema, so a read
  *    needs no file opened to prune leaves or resolve its columns;
  *  - `_current` is swapped by atomic rename — one commit covers all
  *    tables, so a reader never observes a block without its transactions;
  *  - readers resolve `_current` once per query → snapshot isolation;
  *  - mutations (reorg OP-DEL-1/2, retention OP-DEL-3) stage replacement
  *    leaves for the affected buckets and drop the originals in the same
  *    commit — untouched buckets are never rewritten.
  *
  * `bucket` is derived from `number`, never stored, so leaves are plain
  * parquet readable in any combination. Snapshot metadata is O(live
  * leaves), driver-only — the manifest-pointer design Iceberg/Delta use
  * at petabyte scale, reduced to this engine's needs.
  */
final class GraftStore(val root: String, val bucketSize: Long = 10000L,
    val tablesPrefix: String = "", val zOrderTransfers: Boolean = false) {

  val Tables = Seq("blocks", "transactions", "token_transfers")

  /** Physical (manifest) name of a logical table. A non-empty
    * `tablesPrefix` namespaces this instance's leaves (reference
    * `--tables-prefix`, main.rs:46-50: multiple ETL instances in one
    * database), so instances sharing a root never collide. */
  def physName(table: String): String =
    if (tablesPrefix.isEmpty) table else s"${tablesPrefix}_$table"

  /** Inverse of [[physName]] for display: the logical name a user would
    * type (manifest names outside this instance's namespace pass
    * through unchanged). Lives here so the `prefix_name` convention has
    * exactly one home. */
  def logicalName(phys: String): String =
    if (tablesPrefix.nonEmpty && phys.startsWith(tablesPrefix + "_"))
      phys.drop(tablesPrefix.length + 1)
    else phys

  /** Live leaves of one logical table (this instance's namespace). */
  def leavesOf(table: String): Seq[Leaf] =
    currentLeaves().filter(_.table == physName(table))

  /** Live leaves belonging to this instance across all its tables. */
  def ownLeaves(): Seq[Leaf] = {
    val mine = Tables.map(physName).toSet
    currentLeaves().filter(l => mine.contains(l.table))
  }

  /** Height column per table (transfers/txs key on their parent block). */
  val heightCol: Map[String, String] = Map(
    "blocks" -> "number",
    "transactions" -> "block_number",
    "token_transfers" -> "block_number")

  final case class Leaf(table: String, bucket: Long, dir: String)

  /** Per-leaf footer statistics carried in the snapshot manifest:
    * row count, and min/max of the table's height column for the chain
    * tables (None for keyed index tables and for leaves whose footers
    * lacked usable column statistics). */
  final case class LeafStats(rows: Long, minH: Option[Long],
      maxH: Option[Long])

  private def rootPath: Path = Paths.get(root)
  private def currentPtr: Path = rootPath.resolve("_current")

  Files.createDirectories(rootPath)

  private val MetaPrefix = "#meta\t"
  private val StatsPrefix = "#stats\t"
  private val SchemaPrefix = "#schema\t"

  /** One parsed snapshot file: its live leaves plus the `#meta`,
    * `#stats` and `#schema` lines committed with them (`schemas` maps a
    * physical table to its StructType JSON). A read parses the snapshot
    * it reads from once, so leaves, stats and schema always come from
    * the same version. */
  private final case class Manifest(leaves: Seq[Leaf],
      meta: Map[String, String], stats: Map[String, LeafStats],
      schemas: Map[String, String]) {
    def schemaOf(phys: String): Option[StructType] =
      schemas.get(phys).map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  private def parseManifest(lines: Seq[String]): Manifest = {
    val (tagged, plain) =
      lines.filter(_.nonEmpty).partition(_.startsWith("#"))
    def tabbed(prefix: String, n: Int): Seq[Array[String]] =
      tagged.filter(_.startsWith(prefix)).map(_.split("\t", n))
    Manifest(
      plain.map { l =>
        val Array(t, b, d) = l.split("\t", 3)
        Leaf(t, b.toLong, d)
      },
      tabbed(MetaPrefix, 3).map(p => p(1) -> p(2)).toMap,
      // "#stats\tdir\trows\tmin\tmax" — min/max empty for keyed tables
      tabbed(StatsPrefix, -1).map(p => p(1) -> LeafStats(p(2).toLong,
        if (p(3).isEmpty) None else Some(p(3).toLong),
        if (p(4).isEmpty) None else Some(p(4).toLong))).toMap,
      tabbed(SchemaPrefix, 3).map(p => p(1) -> p(2)).toMap)
  }

  private def readManifest(snapshot: String): Manifest =
    parseManifest(Files.readAllLines(rootPath.resolve(snapshot),
      StandardCharsets.UTF_8).asScala.toSeq)

  private def currentManifest(): Manifest =
    currentSnapshot().fold(Manifest(Nil, Map.empty, Map.empty, Map.empty))(
      readManifest)

  private def manifestAt(snapshot: String): Manifest = {
    require(Files.exists(rootPath.resolve(snapshot)),
      s"snapshot $snapshot not found (vacuumed?)")
    readManifest(snapshot)
  }

  def currentLeaves(): Seq[Leaf] = currentManifest().leaves

  /** Snapshot-scoped key/value metadata, committed atomically WITH the
    * leaves — e.g. the ingest tip height and its block hash
    * ([[graft.etl.Backfill]] keys `tip` and `tiphash`): readers get an
    * O(1) resume cursor / maturity watermark / parent-linkage anchor that
    * can never run ahead of or behind the data it describes. Keys are
    * namespaced by [[tablesPrefix]] like tables. */
  def currentMeta(): Map[String, String] = currentManifest().meta

  def metaKey(key: String): String =
    if (tablesPrefix.isEmpty) key else s"${tablesPrefix}_$key"

  /** Leaf statistics of the CURRENT snapshot, keyed by leaf dir. Absent
    * entries (legacy snapshots, leaves staged by a different process)
    * mean "no information" — every consumer must treat a missing entry
    * as "keep the leaf". */
  def currentStats(): Map[String, LeafStats] = currentManifest().stats

  /** Leaf statistics as of an explicit snapshot file. */
  def statsAt(snapshot: String): Map[String, LeafStats] =
    manifestAt(snapshot).stats

  /** Footer stats and data schema of leaves THIS instance staged but has
    * not yet committed — moved into the snapshot manifest by [[commit]].
    * Keyed by dir; dirs are unique per write, so entries never collide. */
  private final case class Staged(stats: LeafStats, schema: StructType)
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[String, Staged]()

  /** Next snapshot sequence number: one past the highest sequence any
    * existing snapshot file carries. The counter is PERSISTED in the file
    * names themselves, so it is monotonic across process restarts and
    * machine reboots — unlike `System.nanoTime()`, whose origin is
    * arbitrary per boot (a reboot would make new snapshots sort BEFORE
    * old ones, and a negative value would produce an unparseable
    * `snapshot--...` name). Only called under the commit lock, so two
    * writers can never mint the same sequence. */
  private def nextSeq(): Long =
    boundedInc(snapshotFiles().map(snapshotSeq).maxOption.getOrElse(0L))

  private def snapshotFiles(): Seq[String] =
    listDir(rootPath)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("snapshot-") && n.endsWith(".txt"))

  /** Robust sequence parse: digits after the prefix. Legacy names from
    * the nanoTime era (all-digit positive stamps) keep their relative
    * order; anything unparseable (e.g. a negative-nanos `snapshot--...`)
    * sorts first instead of crashing. */
  private def snapshotSeq(name: String): Long = {
    val digits = name.stripPrefix("snapshot-").takeWhile(_.isDigit)
    // Unparseable names — legacy negative-nanos ('snapshot--…') or a
    // foreign/corrupt run of >19 digits that would overflow Long — sort
    // FIRST and contribute nothing to nextSeq: publish can never mint
    // them, so treating them as ancient garbage keeps the counter sane
    // (a Long.MaxValue reading would saturate every future sequence) and
    // lets vacuum reclaim them like any other old snapshot (never the
    // one `_current` references, which is protected by name).
    if (digits.isEmpty) 0L else digits.toLongOption.getOrElse(0L)
  }

  /** Next snapshot sequence, saturating instead of wrapping at the
    * (unreachable by publish) Long.MaxValue boundary (uniqueness still
    * holds via the UUID suffix; order within equal sequences is
    * lexical). */
  private def boundedInc(n: Long): Long =
    if (n == Long.MaxValue) n else n + 1L

  /** The snapshot file `_current` points to right now, if any. */
  def currentSnapshot(): Option[String] =
    if (!Files.exists(currentPtr)) None
    else Some(new String(Files.readAllBytes(currentPtr),
      StandardCharsets.UTF_8).trim)

  private def publish(leaves: Seq[Leaf], meta: Map[String, String],
      stats: Map[String, LeafStats], schemas: Map[String, String]): Unit = {
    // zero-padded so lexical order == numeric order for fresh stores
    val name = f"snapshot-${nextSeq()}%020d-" +
      s"${UUID.randomUUID().toString.take(8)}.txt"
    val metaLines = meta.toSeq.sorted.map { case (k, v) => s"$MetaPrefix$k\t$v" }
    val schemaLines = schemas.toSeq.sorted.map { case (t, json) =>
      s"$SchemaPrefix$t\t$json" }
    val sorted = leaves.sortBy(l => (l.table, l.bucket, l.dir))
    val statLines = sorted.flatMap(l => stats.get(l.dir).map(s =>
      s"$StatsPrefix${l.dir}\t${s.rows}\t${s.minH.getOrElse("")}\t" +
        s"${s.maxH.getOrElse("")}"))
    val body = (metaLines ++ schemaLines ++ statLines ++
      sorted.map(l => s"${l.table}\t${l.bucket}\t${l.dir}")).mkString("\n")
    // The snapshot body goes through its own tmp-then-atomic-move: a
    // crash mid-write must never leave a TORN file under the snapshot-*
    // name — readers don't read unreferenced snapshots, but vacuum's
    // reference-set computation parses every kept snapshot, and a
    // truncated manifest line would crash it (manual repair). With the
    // move, a crash at any byte leaves only a `_snaptmp-*` orphan, which
    // vacuum reclaims like any other tmp debris.
    val snapTmp =
      rootPath.resolve(s"_snaptmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(snapTmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(snapTmp, rootPath.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    val tmp =
      rootPath.resolve(s"_current.tmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, name.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage a DataFrame as new leaves of `table`, split by height bucket
    * (plus token `address` sub-partitions for transfers — the reference's
    * per-token tables as partition pruning). Invisible until [[commit]].
    *
    * Transfer layout is deployment-scale dependent: address sub-dirs
    * (default) give perfect directory-level pruning for a WATCHED-token
    * instance (a handful of addresses, the reference's per-token tables),
    * but a full-chain instance carries millions of token addresses and
    * per-address dirs degenerate into millions of small files. With
    * [[zOrderTransfers]] the store instead writes ONE leaf per bucket,
    * rows sorted by the z-value of (address-prefix, height)
    * ([[graft.operators.LayoutOps.zValue]]): row-group min/max footer
    * stats stay narrow in BOTH columns, so `address = X AND height
    * BETWEEN a AND b` (the view-query shape) prunes at the row-group
    * level instead of the directory level — same pruning power, O(1)
    * files per bucket at any address cardinality. The address dimension
    * is the order-preserving byte-prefix key, NOT a hash, so the
    * `address` column's own string stats stay tight and readers need no
    * query-side rewrite.
    *
    * `writeOptions` pass straight to the parquet writer (row-group
    * sizing, compression) — at 100 TB, `parquet.block.size` tunes the
    * pruning granularity the z-layout's stats operate on. */
  def stage(table: String, df: DataFrame,
      writeOptions: Map[String, String] = Map.empty): Seq[Leaf] = {
    val hc = heightCol(table)
    // Partition dirs use shadow `__` columns so every real column stays in
    // the data files — leaves are then plain parquet, readable in any
    // combination with recursiveFileLookup (no k=v discovery conflicts).
    // sort within partitions by height so parquet row-group min/max stats
    // prune point/range lookups (the engine's replacement for the
    // reference's secondary indexes, OP-SNK-4)
    val zTransfers = table == "token_transfers" && zOrderTransfers
    val sortKey =
      if (zTransfers)
        graft.operators.LayoutOps.zValue(
          graft.operators.LayoutOps.asciiPrefixKey(col("address")), col(hc))
      else col(hc)
    val bucketed = df.withColumn("__bucket", expr(s"`$hc` div $bucketSize"))
    val (withParts, partCols) =
      if (table == "token_transfers" && !zOrderTransfers)
        bucketed.withColumn("__addr", col("address")) ->
          Seq("__bucket", "__addr")
      else bucketed -> Seq("__bucket")
    // The explicit sort MUST lead with the partition columns: the parquet
    // writer requires its output ordered by them and inserts its own
    // partition-column-only sort when the incoming order doesn't satisfy
    // that — silently discarding any other sort key. Leading with them
    // makes the required ordering a prefix of ours, so the height/z key
    // actually reaches the files.
    writeLeaves(table, withParts, partCols, Seq(sortKey), writeOptions)
  }

  /** Stage a NON-chain table — persisted operator indexes (band/span/
    * sketch, [[IndexStore]]): the bucket is a caller-supplied expression
    * over the index's own key space (e.g. a hash of the band key) instead
    * of a height range, and `sortCols` order rows inside each leaf so
    * row-group stats prune probe scans. Same leaves, same manifest, same
    * atomic [[commit]]/[[read]] machinery as the chain tables — an index
    * commits in the SAME snapshot swap as the data it indexes. */
  def stageKeyed(table: String, df: DataFrame, bucket: Column,
      sortCols: Seq[Column],
      writeOptions: Map[String, String] = Map.empty): Seq[Leaf] =
    writeLeaves(table, df.withColumn("__bucket", bucket.cast("long")),
      Seq("__bucket"), sortCols, writeOptions)

  private def writeLeaves(table: String, withParts: DataFrame,
      partCols: Seq[String], sortCols: Seq[Column],
      writeOptions: Map[String, String]): Seq[Leaf] = {
    val seg = s"${physName(table)}/seg-" +
      s"${System.nanoTime()}-${UUID.randomUUID().toString.take(8)}"
    // the data schema a parquet read of these leaves returns: partition
    // columns live only in the directory names, and reads are nullable
    val schema = StructType(
      withParts.schema.filterNot(f => partCols.contains(f.name))).toNullable
    val staged = withParts
      .sortWithinPartitions(partCols.map(col) ++ sortCols: _*)
    staged.write.mode(SaveMode.ErrorIfExists).options(writeOptions)
      .partitionBy(partCols: _*)
      .parquet(s"$root/$seg")
    // enumerate bucket leaves written
    val leaves = listDir(rootPath.resolve(seg))
      .map(_.getFileName.toString)
      .filter(_.startsWith("__bucket="))
      .map(d => Leaf(physName(table), d.stripPrefix("__bucket=").toLong,
        s"$seg/$d"))
    // collect footer stats for the manifest — metadata reads only, no
    // Spark job, no data page touched (the lakehouse write-side stats
    // pass). Chain tables get min/max of their height column so reads
    // can prune below bucket granularity; keyed tables get row counts.
    // Footers are read on a BOUNDED pool, not sequentially. On the
    // local fs this is nearly free either way (measured ~0.1 ms/footer
    // page-cached at the scale sweep's 100× point, 2 048 files), but a
    // stage leaves (buckets × writer-tasks) files and a 100 TB
    // deployment reads footers over an object store where each open is
    // a network round-trip (~tens of ms) — sequential would put
    // minutes of driver latency inside every commit there. Each task
    // touches a distinct leaf dir and `pending` is concurrent, so
    // the only shared state is already thread-safe. One Hadoop conf
    // serves every footer of the stage.
    val hc = heightCol.get(table)
    val conf = new org.apache.hadoop.conf.Configuration(
      withParts.sparkSession.sparkContext.hadoopConfiguration)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(leaves.size, 16)))
    try {
      leaves.map(l => l -> pool.submit(
        new java.util.concurrent.Callable[LeafStats] {
          override def call(): LeafStats =
            footerStats(rootPath.resolve(l.dir), hc, conf)
        }))
        .foreach { case (l, f) =>
          pending.put(l.dir,
            try Staged(f.get(), schema)
            catch {
              // keep commit's exception surface identical to the old
              // sequential path (throw the cause, not the pool's
              // ExecutionException wrapper) and cancel the outstanding
              // footer reads instead of letting them run on in the
              // background after the first failure
              case e: java.util.concurrent.ExecutionException =>
                pool.shutdownNow()
                throw Option(e.getCause).getOrElse(e)
            })
        }
    } finally pool.shutdown()
    leaves
  }

  /** Rows + min/max of `field` across every parquet footer under `dir`.
    * min/max are None unless EVERY non-empty row group contributed
    * either column statistics or provably-all-null rows (a null height
    * can never match a height predicate, so all-null groups don't widen
    * the range) — a partial range would prune rows it doesn't cover. */
  private def footerStats(dir: Path, field: Option[String],
      conf: org.apache.hadoop.conf.Configuration): LeafStats = {
    var rows = 0L
    var mn = Option.empty[Long]
    var mx = Option.empty[Long]
    var complete = true
    parquetFiles(dir).foreach { f =>
      val r = openFooter(f, conf)
      try r.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        field.foreach { hc =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == hc).map(_.getStatistics)
          st match {
            case Some(s) if s != null && s.hasNonNullValue =>
              (s.genericGetMin, s.genericGetMax) match {
                case (lo: Number, hi: Number) =>
                  mn = Some(mn.fold(lo.longValue)(math.min(_, lo.longValue)))
                  mx = Some(mx.fold(hi.longValue)(math.max(_, hi.longValue)))
                case _ => if (b.getRowCount > 0) complete = false
              }
            case Some(s) if s != null && s.isNumNullsSet &&
                s.getNumNulls == b.getRowCount => // all-null group: inert
            case _ => if (b.getRowCount > 0) complete = false
          }
        }
      } finally r.close()
    }
    if (field.isDefined && complete) LeafStats(rows, mn, mx)
    else LeafStats(rows, None, None)
  }

  private def parquetFiles(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) listDir(p).flatMap(parquetFiles)
    else if (p.getFileName.toString.endsWith(".parquet")) Seq(p) else Nil

  private def openFooter(f: Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))

  /** The data schema Spark recorded in the footer of `leaf`'s first
    * parquet file — what a parquet read of the leaf infers, taken with a
    * metadata read and no Spark job. None when the leaf has no file or
    * its writer recorded no Spark schema. */
  private def footerSchema(leaf: Leaf): Option[StructType] =
    parquetFiles(rootPath.resolve(leaf.dir)).headOption.flatMap { f =>
      val r = openFooter(f, new org.apache.hadoop.conf.Configuration())
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally r.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType].toNullable)

  /** One atomic commit across tables; `meta` entries merge into (and
    * override) the snapshot metadata in the same atomic swap. An entry
    * with an empty value removes its key.
    *
    * Optimistic-concurrency guard: every drop must still be live at commit
    * time. A caller that computed its drop list from an older snapshot
    * (e.g. a compaction racing a reorg rollback) would otherwise silently
    * resurrect rows another commit deleted, or lose rows a concurrent
    * append added to a leaf it never read. Such a commit throws
    * [[GraftStore.StaleSnapshotException]] — retry from a fresh snapshot.
    * A commit that would leave a table with leaves of differing schemas
    * throws IllegalArgumentException (see [[schemasAfter]]). */
  def commit(adds: Seq[Leaf], drops: Seq[Leaf] = Nil,
      meta: Map[String, String] = Map.empty): Unit =
    // The read-modify-write of `_current` must be exclusive across EVERY
    // writer of this root, not just this instance: two GraftStore
    // instances over one root (streaming curate + an index append in the
    // same JVM, or two CLI processes) would otherwise interleave here and
    // the second publish would silently erase the first's leaves. A
    // JVM-wide lock keyed by the canonical root serializes in-process
    // writers; an OS file lock on `_commitlock` extends that to
    // co-hosted processes (advisory — holds on POSIX local FS; on an
    // object store there is no lock primitive, which is why lakehouse
    // formats put this compare-and-swap in a catalog service at scale).
    withCommitLock {
      val m = currentManifest()
      val liveDirs = m.leaves.map(_.dir).toSet
      val stale = drops.filterNot(l => liveDirs.contains(l.dir))
      if (stale.nonEmpty)
        throw new GraftStore.StaleSnapshotException(
          s"${stale.size} drop(s) no longer live " +
            s"(first: ${stale.head.dir}); " +
            "recompute from a fresh snapshot and retry")
      // Staged-but-uncommitted leaves are orphans to a concurrent vacuum:
      // with a grace window shorter than this writer's stage-to-commit
      // latency, vacuum may have deleted them. Check under the lock
      // (vacuum holds the same lock, so no interleave after this) and
      // fail LOUDLY rather than publish a manifest whose references
      // dangle — every subsequent read of the table would throw.
      val vanished = adds.filterNot(l =>
        Files.exists(rootPath.resolve(l.dir)))
      if (vanished.nonEmpty)
        throw new GraftStore.StaleSnapshotException(
          s"${vanished.size} staged leaf dir(s) no longer on disk " +
            s"(first: ${vanished.head.dir}) — a vacuum with too short a " +
            "grace window reclaimed them mid-stage; re-stage and retry " +
            "(and raise vacuum graceMs above stage-to-commit latency)")
      val dropSet = drops.map(_.dir).toSet
      val kept = m.leaves.filterNot(l => dropSet.contains(l.dir))
      // stats: retained leaves keep their published entries; adds bring
      // the footer stats writeLeaves collected at stage time (absent when
      // a DIFFERENT process staged them — readers then just keep the leaf)
      val staged = adds.flatMap(l =>
        Option(pending.get(l.dir)).map(l.dir -> _)).toMap
      publish(kept ++ adds,
        (m.meta ++ meta.map { case (k, v) => metaKey(k) -> v })
          .filter(_._2.nonEmpty),
        m.stats ++ staged.map { case (d, st) => d -> st.stats },
        schemasAfter(m, kept, adds, staged))
      adds.foreach(l => pending.remove(l.dir))
    }

  /** `#schema` lines of the snapshot a commit publishes: one per table
    * with live leaves. A table that keeps leaves keeps its recorded
    * line; a table rewritten whole takes its adds' staged schema; a
    * table left without live leaves loses its line. Where no line was
    * recorded (a store written before the lines existed) or an add was
    * staged by a different process, the schema Spark wrote into one
    * leaf's parquet footer stands in, so an upgraded store regains the
    * lines of all its tables at its next commit. No line is
    * written while any leaf's schema stays unknown; reads of that table
    * infer the schema from the files.
    *
    * Throws when the schemas of the table's kept and added leaves
    * differ: a mixed-schema table would otherwise be read with one
    * arbitrary file's schema. Parquet reads resolve columns by name and
    * every schema here is nullable, so neither column order nor
    * nullability counts as a difference. */
  private def schemasAfter(m: Manifest, kept: Seq[Leaf], adds: Seq[Leaf],
      staged: Map[String, Staged]): Map[String, String] = {
    val keptBy = kept.groupBy(_.table)
    val addsBy = adds.groupBy(_.table)
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    (keptBy.keySet ++ addsBy.keySet).toSeq.flatMap { t =>
      if (!addsBy.contains(t) && m.schemas.contains(t))
        Some(t -> m.schemas(t)) // only keeps leaves: carried forward
      else {
        val keptSchema = keptBy.get(t).map(ls =>
          m.schemaOf(t).orElse(footerSchema(ls.head)))
        val addSchemas = addsBy.getOrElse(t, Nil).map(l =>
          staged.get(l.dir).map(_.schema).orElse(footerSchema(l)))
        val all = keptSchema.toSeq ++ addSchemas
        val known = all.flatten
        known.find(s => columns(s) != columns(known.head)).foreach { s =>
          throw new IllegalArgumentException(s"commit leaves table '$t' " +
            s"with leaves of schema ${known.head.simpleString} and of " +
            s"${s.simpleString}; a schema change must replace every leaf " +
            "of the table in one commit")
        }
        if (known.nonEmpty && all.forall(_.isDefined))
          Some(t -> known.head.json)
        else None
      }
    }.toMap
  }

  /** JVM lock + `_commitlock` OS file lock around `body` — the exclusion
    * every read-modify-write of `_current` needs (commit AND vacuum: a
    * commit publishing between vacuum's reference-set computation and its
    * deletes would otherwise lose the new commit's leaves). */
  private def withCommitLock[T](body: => T): T =
    GraftStore.rootLock(rootPath).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        rootPath.resolve("_commitlock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val flock = ch.lock()
        try body finally flock.release()
      } finally ch.close()
    }

  /** Committed snapshot files, oldest → newest ([[publish]] names embed a
    * persisted monotonic sequence). The last entry is what `_current`
    * points to (plus any snapshot a crashed commit wrote but never
    * swapped in — harmless, vacuumed like the rest). */
  def snapshots(): Seq[String] =
    snapshotFiles().sortBy(n => (snapshotSeq(n), n))

  /** Leaves as of an explicit snapshot file — time travel. Every commit
    * writes a NEW snapshot file and leaves are immutable, so any snapshot
    * name from [[snapshots]] replays that exact version until [[vacuum]]
    * reclaims it. */
  def leavesAt(snapshot: String): Seq[Leaf] = manifestAt(snapshot).leaves

  /** Snapshot-pinned read of `table` at a historic version. */
  def readAt(spark: SparkSession, table: String,
      snapshot: String): DataFrame = {
    val m = manifestAt(snapshot)
    readFrom(spark, table, m, m.leaves)
  }

  /** Manifest diff between two committed versions: (added, removed)
    * leaves across every table in the root. Leaf dirs are immutable and
    * uniquely named, so set-difference on dir paths IS the net effect of
    * every commit between the two snapshots, whatever interleaving of
    * writers produced them — the physical change set an incremental
    * consumer starts from, O(manifest) driver-side work with no file
    * ever opened. */
  def leavesDiff(from: String, to: String): (Seq[Leaf], Seq[Leaf]) =
    diff(leavesAt(from), leavesAt(to))

  private def diff(a: Seq[Leaf], b: Seq[Leaf]): (Seq[Leaf], Seq[Leaf]) = {
    val aDirs = a.map(_.dir).toSet
    val bDirs = b.map(_.dir).toSet
    (b.filterNot(l => aDirs.contains(l.dir)),
      a.filterNot(l => bDirs.contains(l.dir)))
  }

  /** Leaves of `table` present at `to` but not at `from` — the physical
    * increment (Iceberg-style incremental scan input). */
  def leavesAddedBetween(table: String, from: String, to: String): Seq[Leaf] =
    leavesDiff(from, to)._1.filter(_.table == physName(table))

  /** Logically-NEW rows of `table` between two snapshots, keyed by
    * `keyCols` — the incremental-consumption read: a downstream job
    * (re-tokenization, index refresh, export) processes what landed
    * since its last run instead of re-scanning the table.
    *
    * The physical increment alone over-reports under rewrites: a reorg
    * bucket replacement, an [[graft.etl.Export.compact]], or an index
    * re-cap re-stages SURVIVING rows into fresh leaf dirs. The
    * subtraction here reads only the FROM-snapshot leaves of the buckets
    * the added leaves touch — bucket assignment is a pure function of
    * the row (height range or key hash), so a rewritten row lands in the
    * same bucket and untouched buckets are never opened: the read costs
    * O(changed buckets), not O(table), at any store size. Re-delivered
    * duplicates inside the increment are passed through as stored (keyed
    * consumers dedupe; the exactly-once ingest paths never write them).
    * Deletes are not surfaced — consume [[leavesDiff]]'s removed side
    * for reorg/retention handling. */
  def readNewRows(spark: SparkSession, table: String, from: String,
      to: String, keyCols: Seq[String]): DataFrame = {
    val (mFrom, mTo) = (manifestAt(from), manifestAt(to))
    val added = diff(mFrom.leaves, mTo.leaves)._1
      .filter(_.table == physName(table))
    if (added.isEmpty)
      return readFrom(spark, table, mTo, mTo.leaves).limit(0)
    val addedRows = readFrom(spark, table, mTo, added)
    val buckets = added.map(_.bucket).toSet
    val oldSame = mFrom.leaves.filter(l =>
      l.table == physName(table) && buckets.contains(l.bucket))
    if (oldSame.isEmpty) addedRows
    else addedRows.join(
      readFrom(spark, table, mFrom, oldSame).select(keyCols.map(col): _*),
      keyCols, "left_anti")
  }

  /** Reclaim storage: drop all but the newest `keepSnapshots` snapshot
    * files, then delete every leaf directory no RETAINED snapshot
    * references (dropped by reorg/retention/compaction/rebuild — the
    * manifest never deletes files, so without vacuum the root grows
    * without bound) and any staged-but-never-committed orphan. Leaf dirs
    * younger than `graceMs` (by mtime) survive regardless: an in-flight
    * writer stages leaves BEFORE its commit makes them visible, and the
    * grace keeps vacuum from sweeping them mid-stage (Delta/Iceberg's
    * retention-window rule; size it above the longest expected
    * stage-to-commit latency — the 5-minute default is defense in depth;
    * 0 is for tests that vacuum their own quiesced root). Runs under the
    * FULL commit lock — JVM root lock AND the `_commitlock` file lock —
    * so a commit from a co-hosted PROCESS cannot publish between the
    * reference-set computation and the deletes. The snapshot `_current`
    * points to is always retained, whatever its position in name order.
    * Returns deleted leaf-dir count.
    *
    * `dryRun = true` performs the identical reference-set computation
    * and walk (under the same locks, so the answer is consistent with
    * a commit racing it) and returns the leaf-dir count a real vacuum
    * would reclaim, deleting NOTHING — no leaf dirs, no empty seg
    * shells, no old snapshot files. The sizing step before a retention
    * sweep, same contract as the index verbs' dry runs. */
  def vacuum(keepSnapshots: Int = 1, graceMs: Long = 300000L,
      dryRun: Boolean = false): Long =
    withCommitLock {
      require(keepSnapshots >= 1, "must keep at least the current snapshot")
      val all = snapshots()
      val current = currentSnapshot()
      val (old, kept0) = all.splitAt(math.max(all.size - keepSnapshots, 0))
      // never reclaim the snapshot _current references, even if something
      // (a clock anomaly, a legacy-name store) made it sort as "old"
      val kept = (kept0 ++ current.filter(all.contains)).distinct
      val referenced = kept.flatMap(leavesAt).map(_.dir).toSet ++
        currentLeaves().map(_.dir) // belt-and-braces for odd pointers
      val cutoff = System.currentTimeMillis() - graceMs
      var deleted = 0L
      // STAGING runs outside the commit lock (only the manifest swap
      // takes it), so this walk races live writers for real: parquet's
      // _temporary dirs appear and vanish under seg dirs mid-listing.
      // A path that disappears between list and stat is treated as
      // FRESH (skip — there is nothing to reclaim, and the writer that
      // removed it owns the dir right now); the grace window already
      // protects everything a live stage is about to populate.
      def agedPast(p: Path): Boolean =
        try Files.getLastModifiedTime(p).toMillis < cutoff
        catch { case _: java.io.IOException => false }
      listDir(rootPath)
        .filter(Files.isDirectory(_))
        .foreach { tableDir =>
          listDir(tableDir)
            .filter(_.getFileName.toString.startsWith("seg-"))
            .foreach { segDir =>
              // sampled BEFORE any child deletion below refreshes it: a
              // seg dir younger than the grace may be an in-flight
              // stage's target (parquet mkdirs the shell first, then
              // populates it) — the shell gets the same grace leaves do
              val segFresh = !agedPast(segDir)
              listDir(segDir).foreach { leafDir =>
                val rel = rootPath.relativize(leafDir).toString
                if (Files.isDirectory(leafDir) && !referenced.contains(rel) &&
                    agedPast(leafDir)) {
                  if (!dryRun) deleteRecursively(leafDir)
                  deleted += 1
                }
              }
              // a seg dir whose every bucket was reclaimed is empty now
              // (modulo parquet _SUCCESS markers) — remove the shell,
              // unless it is inside the grace window (deleting a fresh
              // empty shell races the writer about to populate it; a
              // truly orphaned shell ages past the grace and the next
              // vacuum removes it). deleteIfExists + the not-empty catch
              // tolerate a writer touching the shell mid-removal — the
              // next vacuum retries. (Skipped under dryRun along with
              // every other delete below: the shell test reads the
              // post-reclaim state, which a dry run never creates.)
              val rest = listDir(segDir)
              if (!dryRun && !segFresh &&
                  rest.forall(p => !Files.isDirectory(p))) {
                try {
                  rest.foreach(Files.deleteIfExists(_))
                  Files.deleteIfExists(segDir)
                } catch {
                  case _: java.nio.file.DirectoryNotEmptyException => ()
                }
              }
            }
        }
      if (!dryRun) {
        old.filterNot(kept.contains)
          .foreach(s => Files.deleteIfExists(rootPath.resolve(s)))
        // tmp debris from commits that died between write and atomic
        // move (`_current.tmp-*` pointer bodies, `_snaptmp-*` snapshot
        // bodies): never referenced by anything, but they accumulate
        // forever without this. Grace-windowed like leaves — an
        // in-flight commit's tmp file lives for microseconds, so
        // anything older than the grace is dead.
        listDir(rootPath)
          .filter { p =>
            val n = p.getFileName.toString
            !Files.isDirectory(p) &&
              (n.startsWith("_current.tmp-") || n.startsWith("_snaptmp-")) &&
              Files.getLastModifiedTime(p).toMillis < cutoff
          }
          .foreach(Files.deleteIfExists(_))
      }
      deleted
    }

  /** `Files.list` with the stream closed — the raw stream holds an open
    * directory fd until closed, and a vacuum over a large store visits
    * thousands of directories. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = GraftStore.deleteTree(p)

  /** Snapshot-isolated read; `bucketPred` prunes leaves before Spark ever
    * lists a file (the manifest-level analogue of partition pruning). */
  def read(spark: SparkSession, table: String,
      bucketPred: Long => Boolean = _ => true): DataFrame = {
    val m = currentManifest()
    readFrom(spark, table, m, m.leaves.filter(l => bucketPred(l.bucket)))
  }

  /** Read `table` from an explicit leaf list the CALLER snapshotted (extra
    * leaves of other tables are ignored). The building block for
    * multi-step operations that must see one snapshot across several
    * reads — compaction reads exactly the leaves it will drop
    * ([[graft.etl.Export.compact]]), and a multi-table export serves every
    * table from the same snapshot ([[JdbcSink.export]]) — where chaining
    * [[read]] calls would re-resolve `_current` each time and interleave
    * with concurrent commits.
    *
    * The schema comes from the current manifest, which records it for
    * exactly its live leaves: a leaf list it no longer covers entirely
    * (dropped since the caller listed it, or staged and not committed)
    * is read with an inferred schema instead. */
  def readLeaves(spark: SparkSession, table: String,
      leaves: Seq[Leaf]): DataFrame = {
    val m = currentManifest()
    val live = m.leaves.map(_.dir).toSet
    val mine = leaves.filter(_.table == physName(table))
    readFrom(spark, table,
      if (mine.forall(l => live.contains(l.dir))) m
      else m.copy(schemas = Map.empty),
      mine)
  }

  /** Read the leaves of `table` among `leaves` with the schema `m`
    * records for the table — no schema-inference job — or, when `m` has
    * no `#schema` line for it (a legacy store), with the schema Spark
    * infers from the files. Leaves are plain parquet (all real columns in
    * the data files); recursiveFileLookup disables k=v discovery, so
    * heterogeneous leaf sets from different segments read uniformly.
    * Pruning happens at the manifest level above. */
  private def readFrom(spark: SparkSession, table: String, m: Manifest,
      leaves: Seq[Leaf]): DataFrame = {
    val dirs = leaves.filter(_.table == physName(table))
      .map(l => s"$root/${l.dir}")
    if (dirs.isEmpty) emptyLike(spark, table)
    else {
      val reader = spark.read.option("recursiveFileLookup", "true")
      m.schemaOf(physName(table)).fold(reader)(reader.schema)
        .parquet(dirs: _*)
    }
  }

  def leavesAtOrAbove(height: Long): Long => Boolean =
    b => b >= height / bucketSize

  /** Leaves of `tables` that can contain heights in [lo, hi], all from
    * ONE snapshot: bucket-range pruning first (free — bucket is a height
    * range by construction), then per-leaf min/max footer stats from the
    * manifest where present.
    * An incremental tail accretes one leaf per touched bucket per commit,
    * so the tip bucket of a live store holds MANY leaves; stats pruning
    * takes a point/range lookup from O(commits since compaction) files to
    * O(overlapping leaves) — without opening a single file to decide.
    * Leaves without stats (legacy snapshots, foreign stagers) are kept. */
  def leavesForHeights(tables: Seq[String], lo: Long, hi: Long): Seq[Leaf] = {
    val m = currentManifest()
    tables.flatMap(heightLeaves(m, _, lo, hi))
  }

  private def heightLeaves(m: Manifest, table: String, lo: Long,
      hi: Long): Seq[Leaf] =
    m.leaves.filter { l =>
      l.table == physName(table) &&
        l.bucket >= lo / bucketSize && l.bucket <= hi / bucketSize &&
        m.stats.get(l.dir).forall(s =>
          s.minH.forall(_ <= hi) && s.maxH.forall(_ >= lo))
    }

  /** Snapshot-isolated read of `table` pruned to the leaves whose height
    * range overlaps [lo, hi] — the point-lookup / range-scan entry the
    * view and tail control paths use. Callers still apply their own row
    * filter; this only bounds which files are listed. */
  def readHeightRange(spark: SparkSession, table: String, lo: Long,
      hi: Long): DataFrame = {
    val m = currentManifest()
    readFrom(spark, table, m, heightLeaves(m, table, lo, hi))
  }

  private def emptyLike(spark: SparkSession, table: String): DataFrame = {
    import graft.chain.{Block, TokenTransfer, Transaction}
    import spark.implicits._
    table match {
      case "blocks" => Seq.empty[Block].toDF()
      case "transactions" => Seq.empty[Transaction].toDF()
      case "token_transfers" =>
        Seq.empty[TokenTransfer].toDF()
          .withColumn("created_at", lit(null).cast("timestamp"))
          .select("block_number", "from_addr", "to_addr", "value", "tx_hash",
            "address", "transfer_index", "created_at", "status")
      case other => throw new IllegalArgumentException(other)
    }
  }

  def bucketCol(table: String): Column =
    // integer `div`: double division mis-buckets once the quotient's ulp
    // exceeds 1/bucketSize (same hazard as the scalable chain checks)
    expr(s"`${heightCol(table)}` div $bucketSize")
}

object GraftStore {
  /** Thrown by [[GraftStore.commit]] when a drop refers to a leaf that is
    * no longer live — the caller's snapshot went stale under a concurrent
    * commit. Recompute and retry. */
  final class StaleSnapshotException(msg: String)
    extends RuntimeException(msg)

  /** One JVM-wide lock object per canonical store root: serializes
    * commits from DIFFERENT GraftStore instances over the same root
    * (and avoids the OverlappingFileLockException two same-JVM takers of
    * the `_commitlock` file lock would hit). */
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[store] def rootLock(root: Path): Object =
    rootLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)

  /** Recursive directory delete — THE shared helper (vacuum, the bench's
    * scratch IVF index, the scale harness's store resets all use it;
    * three hand-rolled variants predated it). Streams are closed before
    * deletion so no directory fd outlives its dir. */
  private[graft] def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // a concurrently-vanished dir (a racing writer reclaimed its own
      // _temporary between our isDirectory and list) has no children
      val children =
        try {
          val s = Files.list(p)
          try s.iterator().asScala.toSeq finally s.close()
        } catch { case _: java.nio.file.NoSuchFileException => Nil }
      children.foreach(deleteTree)
    }
    Files.deleteIfExists(p)
  }
}
