package graft.cli

import graft.GraftSession
import graft.chain.{ChainFixture, ChainOps, TransferType}
import graft.etl.{Export, FixtureSource, Network, WatchTokens}
import graft.operators.{CorpusOps, CurationOps}
import graft.store.{GraftStore, IndexStore}

import org.apache.spark.sql.SparkSession

/** CLI surface parity (SURVEY §2.12; reference `bin/core-etl/src/main.rs`):
  * `export` (ingest), `view` (read queries), `verify` (integrity checks),
  * over a [[GraftStore]] directory. `export` is one
  * [[graft.etl.Export.run]] over the JSON-RPC node `--api-url` (or the
  * `--network` preset) names, else over the deterministic fixture.
  *
  * {{{
  * sbt "runMain graft.cli.Main export --store /tmp/g --blocks 200"
  * sbt "runMain graft.cli.Main view block --store /tmp/g --number 42"
  * sbt "runMain graft.cli.Main view token-transfer --store /tmp/g --from cb58..."
  * sbt "runMain graft.cli.Main verify blocks --store /tmp/g"
  * sbt "runMain graft.cli.Main curate --input docs.parquet --output /tmp/shards"
  * }}}
  *
  * `curate` is the training-data side: quality floor → exact + near-dup
  * dedup → deterministic split → shard export, in one call. Optional
  * stages, each wired to its library operator:
  *  - `--pii-scrub` scrubs emails/IPs/long digit runs before anything
  *    else sees the text;
  *  - `--lm-floor-bp N` is the CCNet-style perplexity gate: train the
  *    char-trigram LM on the corpus itself (or `--lm-ref ref.parquet`),
  *    keep docs scoring at least N basis points under it;
  *  - `--decontaminate-against eval.parquet` (with
  *    `--max-contamination-bp N`, default 1000) drops docs whose 5-gram
  *    overlap with the eval set reaches the threshold;
  *  - `--domain-cap N` keeps at most N docs per `source`;
  *  - `--target-mixture lang:w,...` resamples to the target language
  *    mix (predicting a lang when the input carries none);
  *  - `--mixture-alpha-bp N` instead DERIVES the mix from the corpus as
  *    w ∝ n^α (α = N/10000 — temperature sampling; mutually exclusive
  *    with an explicit target).
  */
object Main {

  private def flagOpt(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst {
      case Array(k, v) if k == s"--$name" => v
    }

  /** Flags with a `GRAFT_*` environment fallback — exactly the set the
    * reference marks with clap `env`: the global flags (main.rs:27-58)
    * and the export args (export.rs:13-43). Verb-LOCAL selectors
    * (`view --number/--hash`, `store changes --from/--to/--table`, ...)
    * are flag-only: an exported GRAFT_FROM aimed at token-transfer
    * views must not silently redirect a store-changes diff, and a
    * GRAFT_NUMBER must not make `view block --hash X` ignore its own
    * selector. */
  private[graft] val EnvBackedFlags: Set[String] = Set(
    // globals (main.rs:27-58); --store is our sqlite3-path/dsn analogue
    "api-url", "network", "storage", "tables-prefix", "modules",
    "threads", "store",
    // export args (export.rs:13-43); --blocks is our fixture-size bound
    "block", "blocks", "watch-tokens", "address-filter",
    "retention-duration", "cleanup-interval", "lazy")

  /** Default data table per index kind — ONE mapping shared by the two
    * verbs that take `--table` (`index dupes --apply` deletes
    * non-witnesses from it; `index prune` keeps its surviving ids), so
    * an operator running them back-to-back never has to re-derive the
    * target: each gate kind defaults to its streaming gate's accepted
    * table, and the sibling kinds a prune also serves map to the gate
    * of the modality they index (span/espan certify the same curated
    * docs the band kind gates; sketch/pq/ivfpq/ivf index the vector
    * gate's rows). `verb` only names the failing verb in the loud
    * unknown-kind error. The worst-case blast radius of a defaulted
    * prune is bounded by [[graft.store.IndexStore.prune]]'s own
    * refusals: an absent or empty default table refuses instead of
    * deleting the index. */
  private def defaultTableOf(verb: String, kind: String): String =
    kind match {
      case "band" | "span" | "espan" =>
        graft.streaming.StreamingCuration.AcceptedTable
      case "vec" | "sketch" | "pq" | "ivfpq" | "ivf" =>
        graft.streaming.StreamingVectors.AcceptedTable
      case "phash" => graft.streaming.StreamingImages.AcceptedTable
      case "afp" => graft.streaming.StreamingAudio.AcceptedTable
      case "vhash" => graft.streaming.StreamingVideo.AcceptedTable
      case "pair" => graft.store.IndexStore.AcceptedPairsTable
      case other => sys.error(
        s"index $verb: unknown kind '$other' " +
          "(band|vec|phash|afp|vhash|pair|span|espan|sketch|pq|ivfpq|ivf)")
    }

  /** Reference `retention_duration`/`cleanup_interval` are plain seconds
    * (export.rs:30-38); humantime-style suffixes accepted for operator
    * convenience. */
  private[graft] def parseDurationSeconds(s: String): Long = s match {
    case d if d.endsWith("d") => d.dropRight(1).trim.toLong * 86400L
    case h if h.endsWith("h") => h.dropRight(1).trim.toLong * 3600L
    case m if m.endsWith("m") => m.dropRight(1).trim.toLong * 60L
    case sec if sec.endsWith("s") => sec.dropRight(1).trim.toLong
    case plain => plain.trim.toLong
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args)
    finally spark.stop()
  }

  /** `env` mirrors the reference CLI, where every global flag also reads
    * an environment variable (clap `env` + dotenvy, main.rs:27-58):
    * `--foo-bar X` falls back to `GRAFT_FOO_BAR=X`. Injected as a map so
    * specs can exercise the fallback without mutating the JVM env. */
  private[graft] def run(spark: SparkSession, args: Array[String],
      env: Map[String, String] = sys.env): Unit = {
    def opt(name: String): Option[String] = flagOpt(args, name)
      .orElse(if (EnvBackedFlags(name))
        env.get("GRAFT_" + name.toUpperCase.replace('-', '_'))
      else None)
    // boolean presence flags (clap `env` bools accept truthy values)
    def boolFlag(name: String): Boolean = args.contains(s"--$name") ||
      (EnvBackedFlags(name) &&
        env.get("GRAFT_" + name.toUpperCase.replace('-', '_'))
          .exists(v => v == "1" || v.equalsIgnoreCase("true")))
    // --tables-prefix namespaces this instance's leaves (main.rs:46-50);
    // lazy: the corpus verbs (`curate`) take --input/--output instead
    lazy val store = new GraftStore(
      opt("store").getOrElse(sys.error("--store required")),
      // height-bucket width of the leaf layout (GraftStore scaladoc);
      // sized so whole-bucket operations (retention drops, reorg
      // rewrites) touch bounded data — a deployment tunes it per chain
      bucketSize = flagOpt(args, "bucket-size").map(_.toLong)
        .getOrElse(10000L),
      tablesPrefix = opt("tables-prefix").getOrElse(""),
      // full-chain deployments: z-ordered bucket leaves instead of
      // per-address sub-dirs (GraftStore.stage scaladoc)
      zOrderTransfers = args.contains("--zorder-transfers"))
    val network = opt("network").map(Network.parse)
      .getOrElse(Network.Mainnet)
    args.headOption match {
      case Some("export") =>
        // one Export.run (SURVEY §2.12): lazy gate, crash retry with
        // tail wipe, one retention sweep.
        // --api-url (or GRAFT_API_URL) selects the live JSON-RPC
        // source; a bare --network resolves its preset endpoint
        // (network.rs:11-17) so `export --network devin` needs no other
        // config; neither → the fixture drives the same ingest path.
        // --threads sizes the fetch fan-out (reference main.rs:56-58,
        // the initial-sync worker count; here: executor partitions,
        // each owning one connection)
        // --rpc-batch-size caps JSON-RPC requests per round-trip (the
        // same knob the heads source takes as batchSize) — rate-limited
        // nodes get accommodated in one place
        val rpcSource = Network.resolveNodeUrl(opt("api-url"),
          opt("network")).map(u => new graft.etl.RpcSource(u,
            fetchPartitions = opt("threads").map(_.toInt).getOrElse(8),
            batchSize = flagOpt(args, "rpc-batch-size").map(_.toInt)
              .getOrElse(64)))
        try {
          val source: graft.etl.ChainSource = rpcSource.getOrElse(
            new FixtureSource(ChainFixture.build(
              opt("blocks").map(_.toInt).getOrElse(200))))
          // --watch-tokens presets resolve against the network id the
          // NODE reports when one is connected (reference get_network_id
          // — a --network flag defaulted to mainnet would silently watch
          // the wrong preset address on a testnet node); the flag only
          // decides when there is no node to ask or when given explicitly
          def networkId = (rpcSource, opt("network")) match {
            case (Some(r), None) => r.networkId()
            case _ => network.id
          }
          val cfg = Export.Config(
            // --block N (export.rs:15-17, etl.rs:84-89): where an EMPTY
            // store starts backfilling; a store with data resumes from
            // its own tip
            startBlock = opt("block").map(_.toLong).getOrElse(0L),
            // a live node is ingested to its tip unless --blocks bounds
            // it; the 200 default only sizes the fixture chain
            endBlock = opt("blocks").map(_.toLong - 1L)
              .getOrElse(Long.MaxValue),
            watchTokens = opt("watch-tokens")
              .map(s => WatchTokens.parse(networkId, s.split(",").toSeq))
              .getOrElse(WatchTokens.Default),
            addressFilter = opt("address-filter").map(_.split(",").toSeq)
              .getOrElse(Nil),
            // --modules gates which tables are written (main.rs:52-54)
            modules = opt("modules").map(_.split(",").toSeq)
              .getOrElse(Seq("blocks", "transactions", "token_transfers")),
            // --retention-duration (export.rs:30-38): the reference
            // daemon re-runs its cleanup every --cleanup-interval; a
            // Spark deployment schedules re-invocations externally
            // (OP-STR-7), so each run performs ONE whole-bucket sweep
            retentionSeconds = opt("retention-duration")
              .map(parseDurationSeconds).getOrElse(0L),
            // --lazy (export.rs:40-43 / OP-STR-5): don't ingest while
            // the node itself is still syncing — the REAL xcb_syncing
            // gate when an endpoint is connected (a fixture is always
            // "synced"). --gate-max-polls N <= 0 waits forever.
            lazyGate = rpcSource.filter(_ => boolFlag("lazy"))
              .map(r => () => r.syncedGate()).getOrElse(() => true),
            gatePollMs = flagOpt(args, "gate-poll-ms").map(_.toLong)
              .getOrElse(60000L),
            maxGatePolls = flagOpt(args, "gate-max-polls").map(_.toInt)
              .getOrElse(10))
          val done = Export.run(spark, source, store, cfg)
          println(s"[export] ingested ${done.ingested} blocks in " +
            s"${done.attempts} attempt(s), stored tip ${done.finalHeight} " +
            s"(modules=${cfg.modules.mkString(",")})")
          if (cfg.retentionSeconds > 0) {
            val cadence = opt("cleanup-interval")
              .map(parseDurationSeconds).getOrElse(3600L)
            println(s"[export] retention sweep (ttl ${cfg.retentionSeconds}s" +
              s", cadence ${cadence}s): dropped ${done.dropped} expired " +
              "leaf dir(s)")
          }
        } finally rpcSource.foreach(_.close())

      case Some("view") =>
        // lazy: building a frame lists every leaf of its table, so a
        // lookup builds only the one it queries
        lazy val blocks = store.read(spark, "blocks")
        lazy val txs = store.read(spark, "transactions")
        lazy val transfers = store.read(spark, "token_transfers")
        args.lift(1) match {
          case Some("block") =>
            // height-keyed lookups go through the stat-pruned read: only
            // leaves whose footer min/max overlap the height are listed
            // (hash lookups have no height bound — full manifest scan)
            val df = opt("number")
              .map(n => ChainOps.blockByNumber(
                store.readHeightRange(spark, "blocks", n.toLong, n.toLong),
                n.toLong))
              .orElse(opt("hash").map(ChainOps.blockByHash(blocks, _)))
              .getOrElse(sys.error("--number or --hash required"))
            df.show(20, truncate = false)
          case Some("transaction") =>
            val df = opt("block-number")
              .map(n => ChainOps.txsOfBlock(
                store.readHeightRange(spark, "transactions", n.toLong,
                  n.toLong), n.toLong))
              .orElse(opt("hash").map(ChainOps.txByHash(txs, _)))
              .getOrElse(sys.error("--block-number or --hash required"))
            df.show(20, truncate = false)
          case Some("token-transfer") =>
            val df = opt("token-address") match {
              case Some(addr) => ChainOps.tokenTransfersOf(transfers, addr,
                opt("from"), opt("to"))
              case None =>
                val (a, tt) = (opt("from"), opt("to")) match {
                  case (Some(f), None) => (f, TransferType.From)
                  case (None, Some(t)) => (t, TransferType.To)
                  case (Some(f), _) => (f, TransferType.All)
                  case _ => sys.error("--token-address, --from or --to required")
                }
                ChainOps.addressTransfers(transfers, a, tt)
            }
            df.show(20, truncate = false)
          case other => sys.error(s"unknown view target: $other")
        }

      case Some("verify") =>
        val blocks = store.read(spark, "blocks")
        // the source's latest block, reported alongside the store state
        // (verify.rs:35-39 fetches the chain tip before checking) — the
        // REAL chain tip when an endpoint is configured (same resolution
        // as export: --api-url / GRAFT_API_URL / --network preset), so a
        // live-ingested store reports true lag, not fixture fiction.
        // def, not val: only the blocks branch reports a tip — `verify
        // transactions` must not dial the node for a value it never uses
        def tip: Long = Network.resolveNodeUrl(opt("api-url"),
            opt("network")) match {
          case Some(u) =>
            val src = new graft.etl.RpcSource(u)
            try src.tipHeight(spark) finally src.close()
          case None =>
            val n = opt("blocks").map(_.toInt).getOrElse(200)
            new FixtureSource(ChainFixture.build(n)).tipHeight(spark)
        }
        args.lift(1) match {
          case Some("transactions") =>
            // real check where the reference has a stub (verify.rs:92)
            val bad = ChainOps.transactionCountMismatches(
              blocks, store.read(spark, "transactions")).count()
            if (bad == 0) println("[verify] transactions OK")
            else sys.error(s"[verify] FAILED: $bad blocks whose stored tx " +
              "count differs from the header transaction_count")
          case _ =>
            val slice = opt("block") match {
              case Some(b) => ChainOps.blocksInRange(blocks, b.toLong, -1L)
              case None => blocks
            }
            // bounded slice → global window is fine; full table → the
            // scalable per-bucket forms (no single-partition sort)
            val full = opt("block").isEmpty
            val gaps =
              if (full)
                ChainOps.continuityGapsScalable(slice, store.bucketSize).count()
              else ChainOps.continuityGaps(slice).count()
            val idMismatch =
              if (full)
                ChainOps.identityMismatchesScalable(blocks, store.bucketSize)
                  .count()
              else 0L
            val storedMax = blocks.agg(
              org.apache.spark.sql.functions.max("number")).head().get(0) match {
              case h: Long => h
              case _ => -1L
            }
            val lag = tip - storedMax
            if (gaps == 0 && idMismatch == 0)
              println(s"[verify] blocks OK (stored max $storedMax, chain tip " +
                s"$tip, lag $lag)")
            else sys.error(s"[verify] FAILED: $gaps gaps, $idMismatch " +
              s"identity mismatches (stored max $storedMax, chain tip $tip)")
        }

      case Some("curate") =>
        // the training-data pipeline as one CLI call: (pii scrub) →
        // (exact-span removal) → quality floor → exact + near-dup dedup → (decontaminate →
        // domain cap → target mixture) → split → shard export — each
        // optional stage wired to its library operator
        import org.apache.spark.sql.functions.col
        val in = opt("input").getOrElse(sys.error("--input required"))
        val out = opt("output").getOrElse(sys.error("--output required"))
        val floor = opt("quality-floor-bp").map(_.toLong)
          .getOrElse(3000L)
        val threshold = opt("near-dup-threshold").map(_.toDouble)
          .getOrElse(0.4)
        val perShard = opt("docs-per-shard").map(_.toLong)
          .getOrElse(CorpusOps.DocsPerShard)
        val raw = spark.read.parquet(in)
        // carry lang/source through when present — the mixture and
        // domain-cap stages key on them
        val payloadCols = Seq("doc_id", "text") ++
          Seq("lang", "source").filter(raw.columns.contains)
        // dropDuplicates: a re-ingested batch can carry the same doc_id
        // twice; without this the join back and the shard self-join
        // would multiply such rows into the output
        val deduped = raw.select(payloadCols.map(col): _*)
          .dropDuplicates("doc_id")
        // --pii-scrub runs FIRST: quality, dedup, and the written shards
        // all see the scrubbed text
        val scrubbed =
          if (args.contains("--pii-scrub"))
            deduped.withColumn("text", CorpusOps.scrubText(col("text")))
          else deduped
        // --exact-spans: Lee et al. duplicated-span REMOVAL before the
        // whole-doc stages — every non-first duplicated extent is cut
        // (keep-first-occurrence, DedupOps.removeDuplicatedSpans), so
        // boilerplate spans can't carry a doc past the whole-doc dedup
        // gates or into the shards. Runs after scrubbing (spans are
        // certified on the text the shards will carry) and re-joins the
        // cleaned text onto the attribute columns.
        val spanned =
          if (args.contains("--exact-spans"))
            scrubbed.drop("text").join(
              graft.operators.DedupOps.removeDuplicatedSpans(
                scrubbed.select(col("doc_id"), col("text")))
                .select(col("doc_id"), col("text")), "doc_id")
          else scrubbed
        val total = spanned.count()
        // --lm-floor-bp N: the CCNet-shaped perplexity gate
        // (TextOps.trainCharLm + Lm.lm_score_bp) — train on this corpus
        // (after scrubbing, so the model never sees scrubbed-away PII) or
        // on --lm-ref, keep docs scoring >= N bp. Scoring is one codegen'd
        // scan with the model riding in the expression; only the ~50k
        // model parameters reach the driver. Docs too short to score
        // (null lm_bp) fail the gate, as in CCNet.
        val d = opt("lm-floor-bp") match {
          case Some(bp) =>
            // checkpoint: the gate adds a training scan plus a scoring
            // filter re-evaluated by every downstream job — without this
            // the read->dropDuplicates->scrub lineage would recompute for
            // each of them
            val base = spanned.localCheckpoint()
            val ref = opt("lm-ref")
              .map(p => spark.read.parquet(p)).getOrElse(base)
            val model = graft.operators.TextOps.trainCharLm(ref)
            base.filter(graft.functions.Lm.lm_score_bp(
              graft.operators.TextOps.lmNorm(col("text")), model) >= bp.toLong)
          case None => spanned
        }
        val curated = CurationOps.curateCorpus(d, floor, threshold)
          .localCheckpoint()
        var kept = d.join(curated, "doc_id")
        // --decontaminate-against eval.parquet: drop docs whose 5-gram
        // overlap with the eval set reaches --max-contamination-bp
        opt("decontaminate-against").foreach { evalPath =>
          kept = CurationOps.decontaminateAgainst(kept,
            spark.read.parquet(evalPath).select("doc_id", "text"),
            opt("max-contamination-bp").map(_.toLong).getOrElse(1000L))
        }
        // --domain-cap N: at most N docs per source, deterministic
        opt("domain-cap").foreach { n =>
          if (!kept.columns.contains("source"))
            sys.error("--domain-cap requires a 'source' column in the input")
          kept = kept.join(
            CurationOps.capPerDomain(kept.select("doc_id", "source"), n.toInt)
              .select("doc_id"), "doc_id")
        }
        // --target-mixture lang:w,...: resample to the target language
        // mix; predicts a lang when the input doesn't carry one
        opt("target-mixture").foreach { spec =>
          val weights = spec.split(",").toSeq.map { kv =>
            kv.split(":") match {
              case Array(l, w) => l -> w.toLong
              case _ => sys.error(s"--target-mixture: bad entry '$kv', " +
                "expected lang:weight[,lang:weight...]")
            }
          }
          if (!kept.columns.contains("lang"))
            kept = graft.operators.TextOps.withPredictedLang(kept)
          kept = kept.join(
            CurationOps.mixtureSample(kept.select("doc_id", "lang"), weights)
              .select("doc_id"), "doc_id")
        }
        // --mixture-alpha-bp N: temperature-derived mixture (w_l ∝ n_l^α,
        // α in basis points) — the "smooth the language imbalance" knob
        // when no explicit target mix is declared
        opt("mixture-alpha-bp").foreach { a =>
          if (opt("target-mixture").isDefined)
            sys.error("--mixture-alpha-bp and --target-mixture are " +
              "mutually exclusive (derived vs declared weights)")
          if (!kept.columns.contains("lang"))
            kept = graft.operators.TextOps.withPredictedLang(kept)
          kept = kept.join(
            CurationOps.mixtureAlpha(kept.select("doc_id", "lang"), a.toLong)
              .select("doc_id"), "doc_id")
        }
        // checkpoint the payload join: writeShards consumes it in
        // several jobs (rank, offsets, write, count) — one join, not four
        val toWrite = kept.localCheckpoint()
        val keptN = toWrite.count()
        val nShards = CorpusOps.writeShards(toWrite, out, perShard)
        println(s"[curate] kept $keptN of $total docs " +
          s"(floor ${floor}bp, near-dup >= $threshold); " +
          s"wrote $nShards shards to $out")
        // --stats: audit the WRITTEN shards into a _stats sidecar (the
        // underscore prefix keeps it invisible to shard readers)
        if (args.contains("--stats")) {
          val audited = CorpusOps.writeShardStats(spark, out)
          println(s"[curate] wrote _stats sidecar covering $audited shards")
        }

      case Some("assets") =>
        // perceptual batch dedup + drop auditing for the binary
        // modalities — the `curate` analogue for image/audio/video:
        //   assets dedup --kind phash|afp|video|pair --input a.parquet
        //       --output out [--report pairs|clusters]
        //   assets rejects --kind phash|afp|video|pair --input a.parquet
        //       --output out
        // dedup default (no --report): write the DEDUPED SURVIVORS —
        // one witness (the min id) per near-dup component plus every
        // unclustered asset; --report pairs / clusters writes the
        // intermediate frames instead. `video` consumes a
        // (video_id, frame_idx, payload) frames table and survivors are
        // all frames of surviving videos. `rejects` writes the
        // (asset_id, reason) audit of what the fingerprint path drops
        // (corrupt / too_short / unsupported_depth for afp; corrupt /
        // too_small / oversized for phash). Decode+fingerprint runs
        // once, per partition; payload bytes reach only the writes.
        // `pair` consumes a (pair_id, payload, caption) samples table
        // and dedups at SAMPLE granularity (image near-dup AND caption
        // near-dup — PairedDedupOps' conjunctive policy).
        import org.apache.spark.sql.functions.col
        import graft.operators.{AudioDedupOps, ImageDedupOps,
          PairedDedupOps, VideoDedupOps}
        args.lift(1) match {
          case Some("dedup") =>
            val kind = opt("kind")
              .getOrElse(sys.error("--kind required (phash|afp|video|pair)"))
            val in = spark.read.parquet(opt("input")
              .getOrElse(sys.error("--input required")))
            val out = opt("output")
              .getOrElse(sys.error("--output required"))
            // hash rows materialize ONCE (the streaming gate's
            // one-decode discipline): the banded self-join reads
            // 16-24-byte rows, never a second decode pass
            val (pairsRaw, idCol) = kind match {
              case "phash" => (ImageDedupOps.phashNearDupPairs(
                ImageDedupOps.imageHashRows(in).localCheckpoint()),
                "asset_id")
              case "afp" => (AudioDedupOps.afpNearDupPairs(
                AudioDedupOps.audioHashRows(in).localCheckpoint()),
                "asset_id")
              case "video" => (VideoDedupOps.videoNearDupPairs(
                VideoDedupOps.videoHashRows(in).localCheckpoint()),
                "video_id")
              case "pair" => // checkpoints its own hash rows inside
                (PairedDedupOps.pairedNearDupPairs(in), "pair_id")
              case other => sys.error(
                s"assets dedup: unknown kind '$other' " +
                  "(phash|afp|video|pair)")
            }
            val pairs = pairsRaw
              .localCheckpoint() // pairs feed report AND closure
            opt("report") match {
              case Some("pairs") =>
                pairs.write.mode("overwrite").parquet(out)
                println(s"[assets] wrote ${pairs.count()} near-dup " +
                  s"pair(s) to $out")
              case Some("clusters") =>
                val comps = graft.operators.CurationOps
                  .connectedComponents(pairs.select("id_a", "id_b"))
                comps.write.mode("overwrite").parquet(out)
                println(s"[assets] wrote ${comps.count()} clustered " +
                  s"node(s) to $out")
              case None =>
                val losers = graft.operators.CurationOps
                  .connectedComponents(pairs.select("id_a", "id_b"))
                  .filter(col("node") =!= col("comp"))
                  .select(col("node").as(idCol))
                  .localCheckpoint() // counted and anti-joined
                val survivors = in.join(losers, Seq(idCol),
                  "left_anti")
                survivors.write.mode("overwrite").parquet(out)
                println(s"[assets] wrote ${survivors.count()} " +
                  s"survivor row(s) to $out (dropped ${losers.count()} " +
                  "near-duplicate(s), one witness kept per cluster)")
              case Some(other) => sys.error(
                s"assets dedup: unknown --report '$other' " +
                  "(pairs|clusters)")
            }
          case Some("rejects") =>
            val kind = opt("kind")
              .getOrElse(sys.error("--kind required (phash|afp|video|pair)"))
            val in = spark.read.parquet(opt("input")
              .getOrElse(sys.error("--input required")))
            val out = opt("output")
              .getOrElse(sys.error("--output required"))
            val rejects = (kind match {
              case "phash" => ImageDedupOps.imageRejects(in)
              case "afp" => AudioDedupOps.audioRejects(in)
              case "video" => VideoDedupOps.videoFrameRejects(in)
              case "pair" => // image-side audit at pair granularity
                ImageDedupOps.imageRejects(in.select(
                  col("pair_id").as("asset_id"), col("payload")))
              case other => sys.error(
                s"assets rejects: unknown kind '$other' " +
                  "(phash|afp|video|pair)")
            }).localCheckpoint() // written and counted
            rejects.write.mode("overwrite").parquet(out)
            println(s"[assets] wrote ${rejects.count()} reject " +
              s"audit row(s) to $out")
          case other =>
            sys.error(s"usage: assets dedup|rejects ... (got $other)")
        }

      case Some("index") =>
        // persisted-index lifecycle over the store manifest (IndexStore):
        //   index build  --store S --kind band|span|sketch|ivf|pq|ivfpq|vec --input in.parquet
        //   index append --store S --kind band --input new.parquet
        //   index search --store S --kind band --input probe.parquet \
        //       [--threshold 0.4] [--output pairs.parquet]
        //   index compact --store S --kind band   (re-apply global caps)
        // build/append commit through the same atomic snapshot swap as
        // the chain tables; search probes the at-rest index — history is
        // never re-shingled across process restarts
        val kind = opt("kind").getOrElse(sys.error("--kind required"))
        // silently-ignored flags are refused loudly (the dupes-branch
        // rule, applied here too): --incremental is compact's
        // scheduled form — no other index verb skips quiet buckets
        require(!boolFlag("incremental") ||
          args.lift(1).contains("compact"),
          "--incremental is `index compact`'s scheduled form (skip " +
            "quiet buckets); it does not apply to " +
            s"`index ${args.lift(1).getOrElse("?")}`")
        // compact works purely on the at-rest index — no --input
        lazy val input = spark.read.parquet(
          opt("input").getOrElse(sys.error("--input required")))
        args.lift(1) match {
          case Some("compact") =>
            // --dry-run: compact drops rows (over-cap truncation is
            // only recoverable by `index build`), so it sizes first
            // like every other deleting verb. --incremental compacts
            // only the ACCRETED buckets (>1 leaf — appended to since
            // the last compact), carrying single-leaf buckets by
            // reference; a quiet index is a manifest-only no-op, so
            // the verb can run on a schedule. The documented corner
            // (changed-content re-delivery under one id crossing
            // buckets) stays the full compact's job.
            val dryC = boolFlag("dry-run")
            val inc = boolFlag("incremental")
            val res = IndexStore.compact(store, spark,
              kind, dryRun = dryC, incremental = inc)
            val mode = if (inc) " (incremental)" else ""
            // "dup collapse + global caps": the count folds BOTH terms
            // of the compaction — re-delivered duplicate rows that
            // dropDuplicates collapses AND rows the at-rest cap policy
            // truncates — naming only the caps would misattribute a
            // replay-heavy store's drop count
            if (dryC)
              println(s"[index] DRY RUN compact$mode '$kind': would " +
                s"drop ${res.dropped} rows (dup collapse + global " +
                s"caps), rewriting ${res.rewrote} of ${res.leaves} " +
                s"leaves (${res.carried} carried untouched); nothing " +
                "committed")
            else
              println(s"[index] compacted$mode '$kind' index: dropped " +
                s"${res.dropped} rows (dup collapse + global caps), " +
                s"rewrote ${res.rewrote} leaves (${res.carried} " +
                s"carried by reference), ${res.leaves} leaves now")
          case Some("prune") =>
            // reclaim rows whose id left the data table (a dupes
            // --apply deliberately doesn't cascade into sibling kinds
            // — their rows go inert, this deletes them): an id
            // semi-join rewriting ONLY the leaves that hold dead rows,
            // never a corpus re-read. --table defaults to the kind's
            // gate table — the SAME mapping `index dupes --apply`
            // uses, so the back-to-back apply-then-prune flow needs no
            // re-derivation (prune's own refusals bound the blast
            // radius: an absent/empty default table refuses rather
            // than emptying the index). --id-col names the table's id
            // when it differs from the index's (accepted_pairs keys
            // pair_id, phash asset_id)
            val table = opt("table")
              .getOrElse(defaultTableOf("prune", kind))
            // --dry-run: the dead-probe alone (what WOULD drop, and
            // the exact rewrite footprint), nothing staged or
            // committed — symmetric with the dupes apply's dry run
            val dry = boolFlag("dry-run")
            val res = IndexStore.prune(store, spark,
              kind, table, opt("id-col").getOrElse(""), dryRun = dry)
            if (dry)
              // "currently": the tally is the PRE-prune leaf count (a
              // dry run moves nothing) — the real message's "leaves
              // now" is the post-rewrite count, a different number
              println(s"[index] DRY RUN prune '$kind' against " +
                s"'$table': would drop ${res.dropped} dead row(s), " +
                s"rewriting ${res.rewrote} of ${res.leaves} leaves " +
                s"(${res.carried} carried untouched); nothing committed")
            else
              println(s"[index] pruned '$kind' index against '$table': " +
                s"dropped ${res.dropped} dead row(s), rewrote " +
                s"${res.rewrote} dirty leaves (${res.carried} carried " +
                s"by reference), ${res.leaves} leaves now")
          case Some("report") =>
            // drift telemetry: distortion of the stored codes under the
            // committed models — alert + `index build` when it climbs
            val rep = IndexStore.driftReport(store, spark, kind)
            rep.orderBy(org.apache.spark.sql.functions.col("scope"))
              .collect().foreach { r =>
                println(s"[index] $kind scope=${r.getString(0)} " +
                  s"n=${r.getLong(1)} distortion_q=${r.getLong(2)}")
              }
          case Some("dupes") =>
            // dup pairs from AT-REST rows, no re-processing of any
            // payload/text: semantic (pq/ivfpq — code arrays only),
            // perceptual (phash/afp/vhash — stored fingerprints through
            // the batch pair operator; the retroactive flood-residual
            // closer), pair (SAMPLE-level: stored phash pairs gated
            // by the accepted captions), or band (text MinHash — the
            // stored signatures through the batch pair kernel).
            // --apply turns the report into the keep-one-witness pass:
            // non-witnesses are DELETED from the data table (--table,
            // defaulting to the kind's gate table) and the index in one
            // atomic snapshot per pass; re-running the report then
            // finds nothing. --output with --apply writes the
            // cumulative cross-pass pair list (the audit trail);
            // non-convergence within --max-passes is a hard error,
            // never a success-shaped line over a partial dedup.
            // --apply --dry-run simulates the same pass loop (pass N
            // excludes the simulated losers) and commits nothing —
            // per-pass pair/loser counts size the destructive pass
            // refuse silently-ignored flags loudly, in BOTH branches:
            // only the band (Jaccard) / vec (cosine) kinds take a
            // dial, only the vec kind is scoped, and --max-passes is
            // the apply loop's bound (a report has no passes)
            require(opt("threshold").isEmpty ||
              kind == "band" || kind == "vec",
              s"--threshold applies to band|vec, not '$kind' " +
                "(perceptual kinds use their Hamming radii)")
            require(opt("scope").isEmpty || kind == "vec",
              s"--scope applies to the vec kind (the scoped gate), " +
                s"not '$kind' — its reports are scope-less")
            require(opt("max-passes").isEmpty || boolFlag("apply"),
              "--max-passes bounds the --apply pass loop; a report " +
                "runs once")
            require(opt("table").isEmpty || boolFlag("apply"),
              "--table names the data table --apply deletes from; a " +
                "report reads index rows only")
            require(!boolFlag("dry-run") || boolFlag("apply"),
              "--dry-run simulates the --apply pass loop; a report " +
                "is already non-destructive")
            if (boolFlag("apply")) {
              // --dry-run: size the destructive pass before running it.
              // The report alone shows pass-1 pairs only (cap floods
              // hide later-pass pairs by construction); the simulation
              // runs the full fixpoint loop — pass N reads the index
              // minus the simulated losers — and commits NOTHING.
              val dry = boolFlag("dry-run")
              // SAME default mapping as `index prune` (the back-to-back
              // verbs must agree on the target); non-report kinds that
              // resolve a default here are still refused by applyDupes
              // itself, which names the supported kinds
              val table = opt("table")
                .getOrElse(defaultTableOf("dupes --apply", kind))
              val res = IndexStore.applyDupes(store, spark,
                kind, table,
                opt("threshold").map(_.toDouble).getOrElse(Double.NaN),
                // --scope lang,split: the scoped gate's columns — a
                // cross-scope near-identical is NOT a dup (vec kind)
                opt("scope").map(_.split(',').toSeq).getOrElse(Nil),
                maxPasses = opt("max-passes").map(_.toInt).getOrElse(8),
                dryRun = dry)
              // audit trail first — the pair list (with its pass tag)
              // persists whether or not the loop converged
              opt("output").foreach { out =>
                res.pairList.write.mode("overwrite").parquet(out)
                println(s"[index] wrote '$kind' " +
                  (if (dry) "dry-run " else "") +
                  s"apply audit (pair list + pass) to $out")
              }
              // the per-pass anatomy prints identically in both modes
              // (operators diff a dry run against the real one): which
              // pass found what is the first thing a flood's operator
              // asks of the audit
              res.passStats.foreach(s =>
                println(s"[index]   pass ${s.pass}: ${s.pairs} " +
                  s"pair(s), ${s.losers} loser(s)"))
              if (dry) {
                // non-convergence here is a successful PREDICTION, not
                // a partial apply — nothing was committed, so no error
                if (res.converged)
                  println(s"[index] DRY RUN '$kind' on '$table': would " +
                    s"delete ${res.losers} non-witness id(s) over " +
                    s"${res.pairs} pair(s) in ${res.passes} pass(es); " +
                    "nothing committed")
                else
                  println(s"[index] DRY RUN '$kind' on '$table': " +
                    s"fixpoint NOT reached within ${res.passes} " +
                    s"pass(es) — ${res.losers} id(s) over ${res.pairs} " +
                    "pair(s) so far and the last pass still reported " +
                    "pairs; nothing committed. A real apply with these " +
                    "settings would exit PARTIALLY deduped — raise " +
                    "--max-passes, or run `assets dedup` first for " +
                    "identical floods")
              } else {
              if (!res.converged) sys.error(
                s"index dupes --apply '$kind' on '$table' did NOT " +
                  s"converge in ${res.passes} pass(es): deleted " +
                  s"${res.losers} id(s) over ${res.pairs} pair(s) and " +
                  "the last pass still reported pairs — the store is " +
                  "PARTIALLY deduped. Identical floods are " +
                  "exact-dedup's job (`assets dedup` first); " +
                  "otherwise raise --max-passes and re-run (the " +
                  "apply is idempotent over what it already deleted)")
              println(s"[index] applied '$kind' dup report to '$table': " +
                s"${res.pairs} pair(s) over ${res.passes} pass(es), " +
                s"deleted ${res.losers} non-witness id(s) " +
                "from the index (and from the table where present)") }
            } else {
            val pairs =
              if (Set("phash", "afp", "vhash").contains(kind))
                IndexStore.perceptualDupes(store, spark, kind)
              else if (kind == "pair") IndexStore.pairDupes(store, spark)
              else if (kind == "band")
                IndexStore.bandDupes(store, spark,
                  opt("threshold").map(_.toDouble).getOrElse(0.4))
              else if (kind == "vec")
                IndexStore.vecDupes(store, spark,
                  opt("threshold").map(_.toDouble)
                    .getOrElse(graft.streaming.StreamingVectors.DupCos),
                  opt("scope").map(_.split(',').toSeq).getOrElse(Nil))
              else IndexStore.semanticDupes(store, spark, kind)
            opt("output") match {
              case Some(out) =>
                pairs.write.mode("overwrite").parquet(out)
                println(s"[index] wrote '$kind' dup pairs to $out")
              case None =>
                pairs.orderBy("id_a", "id_b").show(50, truncate = false)
            } }
          case Some("decontaminate") =>
            // benchmark-vs-corpus in code space against the at-rest pq
            // index: --input is the benchmark (eval_id, embedding);
            // corpus side reads stored codes only, hits are certified
            // at exact cosine >= --cert-bp (default 9900)
            val pairs = IndexStore.semanticContamination(store, spark,
              input, opt("cert-bp").map(_.toLong)
                .getOrElse(graft.operators.SimilarityOps.DecontamCertBp))
            opt("output") match {
              case Some(out) =>
                pairs.write.mode("overwrite").parquet(out)
                println(s"[index] wrote contamination pairs to $out")
              case None =>
                pairs.orderBy("eval_id", "corpus_id")
                  .show(50, truncate = false)
            }
          case Some("build") =>
            val n = IndexStore.build(store, kind, input)
            println(s"[index] built fresh '$kind' index: $n leaves")
          case Some("append") =>
            val n = IndexStore.append(store, kind, input)
            println(s"[index] appended to '$kind' index: $n new leaves")
          case Some("search") =>
            // kind-aware default: 0.4 is the band/span JACCARD dial;
            // the vec kind thresholds COSINE near-identity (0.4 would
            // call most of the corpus a duplicate); phash/afp threshold
            // HAMMING BITS of the 64-bit perceptual fingerprint
            val defaultThreshold =
              if (kind == "vec") graft.streaming.StreamingVectors.DupCos
              else if (kind == "phash")
                graft.operators.ImageDedupOps.MaxHamming.toDouble
              else if (kind == "afp")
                graft.operators.AudioDedupOps.MaxHamming.toDouble
              else if (kind == "vhash")
                graft.operators.ImageDedupOps.MaxHamming.toDouble
              else 0.4
            // --filter 'label = 3': attribute predicate over columns
            // the index rows carry (filtered ANN) — pushed to the
            // index scan, composes with bucket/cell pruning. The espan
            // kind certifies against corpus TEXT (--corpus), fetched
            // for candidate docs only.
            val hits =
              if (kind == "espan")
                IndexStore.searchExactSpans(store, spark, input,
                  spark.read.parquet(opt("corpus").getOrElse(sys.error(
                    "index search --kind espan needs --corpus " +
                      "<docs.parquet> for the string certification"))))
              else IndexStore.search(store, spark, kind, input,
                opt("threshold").map(_.toDouble)
                  .getOrElse(defaultThreshold),
                opt("filter").map(org.apache.spark.sql.functions.expr))
            opt("output") match {
              case Some(out) =>
                hits.write.mode("overwrite").parquet(out)
                println(s"[index] wrote matches to $out")
              case None =>
                hits.orderBy(hits.columns.map(org.apache.spark.sql
                  .functions.col): _*).show(50, truncate = false)
            }
          case other =>
            sys.error(s"usage: index build|append|search|compact|prune" +
              s"|report|dupes|decontaminate " +
              s"... (got $other)")
        }

      case Some("store") =>
        // manifest lifecycle:
        //   store snapshots --store S          (list versions, mark current)
        //   store vacuum --store S [--keep N] [--grace-ms M]
        //   store compact --store S [--max-leaves-per-bucket N]
        // vacuum is the reclamation half of the immutable-manifest design:
        // commits never delete, so an ETL that reorgs/compacts/rebuilds
        // forever needs this scheduled like any lakehouse retention job
        args.lift(1) match {
          case Some("snapshots") =>
            val current = store.currentSnapshot()
            store.snapshots().foreach { s =>
              val mark = if (current.contains(s)) " <- current" else ""
              println(s"$s$mark")
            }
          case Some("vacuum") =>
            // --dry-run: same reference-set walk under the same locks,
            // reports the would-reclaim count, deletes nothing — size
            // a retention sweep before running it
            val dry = boolFlag("dry-run")
            val deleted = store.vacuum(
              opt("keep").map(_.toInt).getOrElse(1),
              opt("grace-ms").map(_.toLong).getOrElse(300000L),
              dryRun = dry)
            if (dry)
              println(s"[store] DRY RUN vacuum: would reclaim " +
                s"$deleted leaf dir(s); nothing deleted")
            else
              println(s"[store] vacuum reclaimed $deleted leaf dir(s)")
          case Some("compact") =>
            // merge the small-leaf tails an incremental ingest accretes
            // (every tail commit = one leaf per touched bucket); retries
            // internally if a concurrent commit moves the snapshot
            val merged = Export.compact(spark, store,
              opt("max-leaves-per-bucket").map(_.toInt).getOrElse(1))
            println(s"[store] compacted $merged leaf dir(s)")
          case Some("changes") =>
            // incremental consumption: what landed between two committed
            // versions (store changes --from SNAP [--to SNAP]). Default
            // output is the manifest-level diff (no file opened); with
            // --table T --keys k1,k2 it counts logically-new rows —
            // rewrite survivors subtracted bucket-locally
            val from = opt("from").getOrElse(sys.error(
              "store changes needs --from <snapshot> (see store snapshots)"))
            val to = opt("to").orElse(store.currentSnapshot())
              .getOrElse(sys.error("store has no committed snapshot"))
            // a typo'd --table must stay a loud error, not read as an
            // empty increment — but "no leaves at these two snapshots" is
            // not a typo signal by itself (a legitimate table can be empty
            // at both endpoints), so validate against EVERY snapshot's
            // leaves, and list candidates by the LOGICAL name --table
            // actually takes (tablesPrefix stripped)
            opt("table").foreach { t =>
              // newest-first with short-circuit: the common case (a real
              // table) usually hits in the latest manifest, so a
              // long-lived store doesn't parse thousands of snapshots
              // for a typo check. Only the (rare) error path reads them
              // all, to list every candidate name.
              val phys = store.physName(t)
              val known = store.snapshots().reverseIterator
                .exists(s => store.leavesAt(s).exists(_.table == phys))
              if (!known) {
                val logical = store.snapshots().flatMap(store.leavesAt)
                  .map(l => store.logicalName(l.table)).distinct.sorted
                sys.error(s"unknown table '$t' (store has: " +
                  s"${logical.mkString(", ")})")
              }
            }
            (opt("table"), opt("keys")) match {
              case (Some(t), Some(ks)) =>
                val n = store.readNewRows(spark, t, from, to,
                  ks.split(",").toSeq).count()
                println(s"[store] $n new row(s) in '$t' $from -> $to")
              case (Some(t), None) =>
                // per-bucket detail for one table: which buckets the
                // increment touched, their leaf/row deltas, and the height
                // span of the new data (footer stats — still no file
                // opened). An incremental consumer sizes its catch-up job
                // and its height-pruned re-verify window from this alone.
                val (added, removed) = store.leavesDiff(from, to)
                val phys = store.physName(t)
                val a = added.filter(_.table == phys)
                val r = removed.filter(_.table == phys)
                if (a.isEmpty && r.isEmpty)
                  println(s"[store] no changes in '$t' $from -> $to")
                else {
                  val (sFrom, sTo) = (store.statsAt(from), store.statsAt(to))
                  (a.map(_.bucket) ++ r.map(_.bucket)).distinct.sorted
                    .foreach { b =>
                      val ab = a.filter(_.bucket == b)
                      val rb = r.filter(_.bucket == b)
                      def side(ls: Seq[store.Leaf], sign: String,
                          st: Map[String, store.LeafStats]): String = {
                        val stats = ls.flatMap(l => st.get(l.dir))
                        val rows =
                          if (ls.nonEmpty && stats.size == ls.size)
                            s" $sign${stats.map(_.rows).sum} rows"
                          else ""
                        val hs = stats.flatMap(s =>
                          for (mn <- s.minH; mx <- s.maxH) yield (mn, mx))
                        val span =
                          if (hs.nonEmpty && hs.size == ls.size)
                            s" h[${hs.map(_._1).min}..${hs.map(_._2).max}]"
                          else ""
                        s"$sign${ls.size} leaf dir(s)$rows$span"
                      }
                      println(s"$t bucket $b: ${side(ab, "+", sTo)}, " +
                        side(rb, "-", sFrom))
                    }
                }
              case (None, Some(_)) =>
                sys.error("store changes --keys needs --table too " +
                  "(--table alone = per-bucket detail; neither = " +
                  "manifest diff)")
              case _ =>
                val (added, removed) = store.leavesDiff(from, to)
                // row deltas come from the manifests' footer stats — only
                // printed when every leaf on that side carries them
                val (sFrom, sTo) = (store.statsAt(from), store.statsAt(to))
                def rowsNote(ls: Seq[store.Leaf], sign: String,
                    st: Map[String, store.LeafStats]): String =
                  if (ls.nonEmpty && ls.forall(l => st.contains(l.dir)))
                    s" ($sign${ls.map(l => st(l.dir).rows).sum} rows)"
                  else ""
                val tables = (added.map(_.table) ++ removed.map(_.table))
                  .distinct.sorted
                if (tables.isEmpty) println(s"[store] no changes $from -> $to")
                else tables.foreach { t =>
                  val a = added.filter(_.table == t)
                  val r = removed.filter(_.table == t)
                  println(s"$t: +${a.size} leaf dir(s)" +
                    rowsNote(a, "+", sTo) +
                    s", -${r.size} dropped" + rowsNote(r, "-", sFrom))
                }
            }
          case Some("export-jdbc") =>
            // mirror the parquet store into a SQL database (the
            // reference's --storage sqlite3/--postgres-db-dsn backends,
            // main.rs:36-45, app_storage.rs:20-67):
            //   store export-jdbc --store S --dsn jdbc:... [--jdbc-prefix p]
            // one snapshot drives all tables (JdbcSink doc) — the SQL
            // copy is a consistent parity export, not the source of truth
            val dsn = flagOpt(args, "dsn")
              .getOrElse(sys.error("store export-jdbc needs --dsn " +
                "<jdbc url> (e.g. jdbc:derby:/path;create=true)"))
            val prefix = flagOpt(args, "jdbc-prefix")
              .orElse(opt("tables-prefix").filter(_.nonEmpty))
              .getOrElse("etl")
            val counts = graft.store.JdbcSink.export(spark, store, dsn,
              prefix)
            counts.toSeq.sortBy(_._1).foreach { case (t, c) =>
              println(s"[store] exported $c row(s) to ${prefix}_$t")
            }
          case other =>
            sys.error(s"usage: store snapshots|vacuum|compact|changes|" +
              s"export-jdbc ... (got $other)")
        }

      case other =>
        sys.error(s"usage: export|view|verify|curate|assets|index|store " +
          s"... (got $other)")
    }
  }
}
