package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-9, s"$a != $b")

  test("percentile interpolates between closest ranks like numpy") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    close(Stats.percentile(xs, 50), 2.5)
    close(Stats.percentile(xs, 90), 3.7)
    close(Stats.percentile(xs, 0), 1.0)
    close(Stats.percentile(xs, 100), 4.0)
    close(Stats.percentile(Seq(7.0), 99), 7.0)
    assert(Stats.percentile(Nil, 50).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("median of an odd sample is its middle value") {
    close(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)
  }

  test("geomean is the exponent of the mean log, and needs positive values") {
    close(Stats.geomean(Seq(1.0, 4.0, 16.0)), 4.0)
    close(Stats.geomean(Seq(2.0)), 2.0)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    def sp(id: String, a: Double, b: Double, parent: String = "") = Span(id, id, a, b, parent, "r")
    val spans = Seq(
      sp("p", 0, 10),
      sp("a", 1, 3, "p"), sp("b", 2, 5, "p"), // overlapping: cover 1..5
      sp("c", 8, 12, "p"),                    // sticks out: covers 8..10
      sp("d", 8.5, 9, "c"))                   // grandchild: only c's child
    val self = Stats.selfTimes(spans)
    close(self("p"), 10 - 4 - 2)
    close(self("a"), 2)
    close(self("c"), 3.5)
    close(self("d"), 0.5)
    close(Stats.selfTimes(Seq(sp("lone", 3, 4)))("lone"), 1)
  }

  test("freshness runs from a file's scheduled landing to its batch's end") {
    val due = Map("f0" -> 10.0, "f1" -> 10.25, "f2" -> 10.5, "f3" -> 10.75)
    val batchOf = Map("f0" -> 0L, "f1" -> 0L, "f2" -> 1L) // f3 never taken
    val ends = Map(0L -> 11.0, 1L -> 12.5)
    val f = Stats.freshness(due, batchOf, ends)
    assert(f.size == 3)
    Seq(1.0, 0.75, 2.0).zip(f).foreach { case (e, g) => close(g, e) }
  }
}
