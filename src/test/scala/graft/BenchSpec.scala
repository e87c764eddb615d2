package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's printed roster: which entries the one-line stdout JSON
  * keeps once the full line outgrows its byte budget. */
class BenchSpec extends AnyFunSuite {

  private val keys = (0 until 60).map(i => f"entry_$i%02d")
  // the anchor lacks every seventh key
  private val anchor = keys.zipWithIndex.collect {
    case (k, i) if i % 7 != 0 => k -> ((i * 37) % 50) / 10.0
  }.toMap

  test("two runs with different times print the same keys, shedding " +
      "the anchor-less and the anchor's cheapest entries") {
    val rnd = new scala.util.Random(7)
    def run() = keys.map(_ -> rnd.nextDouble() * 10)
    val a = Bench.printed(run(), anchor, 900).map(_._1)
    val b = Bench.printed(run(), anchor, 900).map(_._1)
    assert(a == b)
    assert(a.nonEmpty && a.size < keys.size)
    val shed = keys.toSet -- a
    assert(keys.filterNot(anchor.contains).forall(shed))
    assert(shed.filter(anchor.contains).map(anchor).max <=
      a.map(anchor).min)
  }

  test("every entry prints when the line fits, in roster order") {
    val run = keys.map(_ -> 1.0)
    assert(Bench.printed(run, anchor, 100000) == run)
    assert(Bench.printed(run, Map.empty, 0).isEmpty)
  }
}
