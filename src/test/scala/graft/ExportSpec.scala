package graft


import graft.chain.{ChainFixture, ChainOps}
import graft.etl.{Backfill, ChainSource, Export, FixtureSource, Network,
  WatchTokens}
import graft.store.GraftStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Export orchestration: lazy gate, crash-retry with tail wipe, retention
  * sweep (OP-STR-5/6/7, export.rs:46-71 semantics). */
class ExportSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  lazy val fx: ChainFixture.Fixture = ChainFixture.build(200)

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def newStore() = new GraftStore(
    tempDir("graft-store"), bucketSize = 50L)

  /** Source that fails mid-ingest for the first `failures` attempts. */
  private class FlakySource(inner: ChainSource, failures: Int)
      extends ChainSource {
    var attempts = 0
    override def tipHeight(s: SparkSession): Long = inner.tipHeight(s)
    override def blocks(s: SparkSession, from: Long, to: Long): DataFrame = {
      attempts += 1
      if (attempts <= failures)
        throw new RuntimeException(s"simulated RPC failure #$attempts")
      inner.blocks(s, from, to)
    }
    override def transactions(s: SparkSession, from: Long, to: Long): DataFrame =
      inner.transactions(s, from, to)
    override def receipts(s: SparkSession, from: Long, to: Long): DataFrame =
      inner.receipts(s, from, to)
  }

  test("export completes after transient failures via retry + tail wipe") {
    val store = newStore()
    // pre-ingest some history so the retry path has a tail to wipe
    Backfill.run(spark, new FixtureSource(fx), store, 0, 120)
    val flaky = new FlakySource(new FixtureSource(fx), failures = 2)
    val summary = Export.run(spark, flaky, store,
      Export.Config(retries = 5, wipeOnRetry = 20))
    assert(summary.attempts == 3)
    assert(summary.finalHeight == 199)
    val blocks = store.read(spark, "blocks")
    assert(blocks.count() == 200)
    assert(ChainOps.continuityGaps(blocks).count() == 0)
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.size)
  }

  test("export gives up after exhausting retries") {
    val store = newStore()
    val flaky = new FlakySource(new FixtureSource(fx), failures = 99)
    val e = intercept[RuntimeException] {
      Export.run(spark, flaky, store, Export.Config(retries = 3))
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("crash retry replaces from the wipe height but never below " +
      "startBlock, leaving no hole") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 149)
    // the wipe height 149 - 100 + 1 = 50 sits below startBlock 140: the
    // retry replaces 140..149 and ingests on, keeping 0..139 as stored
    val flaky = new FlakySource(new FixtureSource(fx), failures = 1)
    val summary = Export.run(spark, flaky, store,
      Export.Config(startBlock = 140, wipeOnRetry = 100))
    assert(summary.attempts == 2)
    assert(summary.finalHeight == 199)
    val blocks = store.read(spark, "blocks")
    assert(blocks.select("number").collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 199L))
    assert(ChainOps.continuityGaps(blocks).count() == 0)
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.size)
  }

  test("lazy gate polls until ready before ingesting (OP-STR-5)") {
    val store = newStore()
    var polls = 0
    val gate = () => { polls += 1; polls >= 3 }
    Export.run(spark, new FixtureSource(fx), store,
      Export.Config(lazyGate = gate, gatePollMs = 1))
    assert(polls >= 3)
    assert(store.read(spark, "blocks").count() == 200)
  }

  test("watch-tokens parsing: ctn preset resolves per network id") {
    // mainnet preset == the fixture's watched token (export.rs:96-101)
    assert(WatchTokens.parse(Network.Mainnet.id, Seq("ctn")) ==
      Map("cbc20" -> Seq(ChainFixture.Watched)))
    assert(WatchTokens.parse(Network.Devin.id, Seq("ctn")) ==
      Map("cbc20" -> Seq("ab7935cdef94ac9e6bcbcf779277aad7025993bc1964")))
    // unknown network: preset contributes nothing, later specs still parse
    assert(WatchTokens.parse(99L, Seq("ctn", "cbc20:cb00aa")) ==
      Map("cbc20" -> Seq("cb00aa")))
    // type:addr specs accumulate and dedupe per type
    assert(WatchTokens.parse(1L,
      Seq("cbc20:cb01", "cbc721:cb02", "cbc20:cb03", "cbc20:cb01")) ==
      Map("cbc20" -> Seq("cb01", "cb03"), "cbc721" -> Seq("cb02")))
    intercept[IllegalArgumentException] {
      WatchTokens.parse(1L, Seq("no-colon-here"))
    }
    assert(Network.parse("devin") == Network.Devin)
    intercept[IllegalArgumentException] { Network.parse("testnet9") }
  }

  test("node endpoint resolution: --api-url wins, --network resolves " +
      "its public preset (network.rs:11-17), neither means fixture") {
    assert(Network.resolveNodeUrl(None, None).isEmpty)
    assert(Network.resolveNodeUrl(None, Some("mainnet"))
      .contains("wss://xcbws.coreblockchain.net"))
    assert(Network.resolveNodeUrl(None, Some("devin"))
      .contains("wss://xcbws-devin.coreblockchain.net"))
    // the explicit endpoint stays authoritative (documented deviation
    // from app_config.rs, where the network preset overrides even an
    // explicit rpc_url)
    assert(Network.resolveNodeUrl(Some("http://10.0.0.9:8545/"),
      Some("devin")).contains("http://10.0.0.9:8545/"))
    intercept[IllegalArgumentException] {
      Network.resolveNodeUrl(None, Some("testnet9"))
    }
  }

  test("modules gating: a transfers-only run writes no blocks/txs leaves") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 99,
      modules = Seq("token_transfers"))
    assert(store.leavesOf("blocks").isEmpty)
    assert(store.leavesOf("transactions").isEmpty)
    assert(store.leavesOf("token_transfers").nonEmpty)
    assert(store.read(spark, "token_transfers").count() ==
      fx.goldenTransfers.count(_._1.block_number <= 99))
    // resume cursor falls back to the transfers table (coalesced max)
    assert(Backfill.maxIngestedHeight(spark, store) > 0)
  }

  test("tables-prefix isolates two instances sharing one store root") {
    val root = tempDir("graft-store")
    val a = new GraftStore(root, bucketSize = 50L, tablesPrefix = "etl_a")
    val b = new GraftStore(root, bucketSize = 50L, tablesPrefix = "etl_b")
    Backfill.run(spark, new FixtureSource(fx), a, 0, 49)
    Backfill.run(spark, new FixtureSource(fx), b, 0, 149)
    assert(a.read(spark, "blocks").count() == 50)
    assert(b.read(spark, "blocks").count() == 150)
    // a reorg in one namespace must not touch the other
    val aCursor = () => Seq("tip", "tiphash").map(k =>
      a.currentMeta().get(a.metaKey(k)))
    val aTip = aCursor()
    Backfill.run(spark, new FixtureSource(fx, Some(100L), 0), b, 100, 149)
    assert(b.read(spark, "blocks").count() == 100)
    assert(b.currentMeta()(b.metaKey("tip")) == "99")
    assert(a.read(spark, "blocks").count() == 50)
    assert(aCursor() == aTip)
    assert(a.ownLeaves().forall(_.table.startsWith("etl_a_")))
  }

  test("retention drops whole expired buckets, metadata-only (OP-DEL-3)") {
    val store = newStore()
    Backfill.run(spark, new FixtureSource(fx), store, 0, 199)
    // tip ts = 1700000000 + 1990; retain 1000s → cutoff 1700000990:
    // bucket 0 (max_ts 1700000490) is fully expired; bucket 1's max_ts
    // equals the cutoff exactly, so it is kept (retention is a floor)
    val dropped = Export.retentionSweep(spark, store,
      1700000000L + 1990L, 1000L)
    assert(dropped > 0)
    val kept = store.read(spark, "blocks")
    assert(kept.agg(org.apache.spark.sql.functions.min("number"))
      .head().getLong(0) == 50L)
  }
}
