package graft.perfbench

import java.nio.file.Files

import graft.chain.ChainFixture
import graft.etl.{Export, RpcSource, Tail}
import graft.store.GraftStore

/** Checks of the benchmark's own arithmetic and event staging, run by
  * perfbench/selftest.py:
  *
  *  - a collapsed call: three heads announced 2 s apart and made visible
  *    by one call give lags 5, 3 and 1 s, and waits measured to the call's
  *    start;
  *  - a fork-then-overtake event through the loopback node, as the `live`
  *    workload stages it: two `ReorgResolved` results, and a final store
  *    equal to the canonical chain;
  *  - tracer attribution: a span that runs one query gets its job and a
  *    Catalyst planning time greater than 0. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def main(args: Array[String]): Unit = {
    val h = Tail.Head(0, "", "")
    val call = LiveWorkload.Call(
      Seq(LiveWorkload.Ann(0, h, 1000.0), LiveWorkload.Ann(1, h, 3000.0),
        LiveWorkload.Ann(2, h, 5000.0)),
      startMs = 5500.0, endMs = 6000.0, reorg = false)
    check(LiveWorkload.lags(Seq(call)) == Seq(5.0, 3.0, 1.0),
      s"collapsed lags ${LiveWorkload.lags(Seq(call))}")
    check(call.waitsS == Seq(4.5, 2.5, 0.5), s"waits ${call.waitsS}")
    check(call.serviceS == 0.5, s"service ${call.serviceS}")
    println("ok   collapsed head lag")

    val work = Files.createDirectories(
      java.nio.file.Paths.get("perfbench", "work", "selftest").toAbsolutePath)
    val spark = Main.session(work, 2)
    val tracer = new Tracer(spark, enabled = true)
    val ctx = Ctx(spark, tracer, 1L, 1.0, tiny = true, 2, work, work)
    val fx = ChainFixture.build(80)
    val node = new Node(fx, 0L, 2)
    val src = new RpcSource(node.url, fetchPartitions = 2)
    try {
      val store = new GraftStore(work.resolve("store").toString)
      node.setTip(59)
      Export.run(spark, src, store)
      // the fork replaces the newest two blocks and runs one past them
      val fork = node.serveFork(58, 3)
      val first = Tail.processHead(spark, store, src,
        Tail.Head(fork.number, fork.hash, fork.parent_hash))
      check(first == Tail.ReorgResolved(58, 3), s"fork head gave $first")
      node.setTip(61)
      val b = fx.blocks(61)
      val second = Tail.processHead(spark, store, src,
        Tail.Head(b.number, b.hash, b.parent_hash))
      check(second == Tail.ReorgResolved(58, 4), s"overtake gave $second")
      val golden = new LiveWorkload.Golden(ctx, fx)
      check(LiveWorkload.storeMismatches(ctx, store, golden, 61) == 0,
        "store differs from the canonical chain after the overtake")
      println("ok   fork then overtake: two reorgs, canonical store")

      tracer.span("probe")(_ =>
        spark.range(0L, 1000L).selectExpr("sum(id)").collect())
      val rows = tracer.sparkRows()
      check(rows("spark.probe.jobs") >= 1.0, s"probe jobs $rows")
      check(rows("spark.probe.planning_s") > 0.0, s"probe planning $rows")
      println("ok   span attribution: jobs and planning time")
    } finally {
      src.close()
      node.close()
      spark.stop()
      GraftStore.deleteTree(work)
    }
  }
}
