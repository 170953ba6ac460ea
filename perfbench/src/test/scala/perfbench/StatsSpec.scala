package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 99) - 3.97) < 1e-9)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Nil, 50) == 0.0)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // Overlapping children count once; a child outside the parent counts
    // only for its overlap.
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L))) == 100 - 30 - 10)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (5L, 6L))) == 0)
    assert(Stats.covered(0, 10, Seq((20L, 30L))) == 0)
  }

  test("busy and useful fractions") {
    assert(Stats.busyFrac(runS = 8.0, cores = 4, wallS = 4.0) == 0.5)
    assert(Stats.busyFrac(1.0, 4, 0.0) == 0.0)
    assert(Stats.usefulFrac(distinct = 90, sent = 100) == 0.9)
    assert(Stats.usefulFrac(0, 0) == 1.0)
  }

  test("a backlog grows only if the second half sits above the first half's peak") {
    assert(!Stats.backlogGrows(Seq(0L, 900L, 100L, 800L, 0L, 900L, 50L, 700L)))
    assert(Stats.backlogGrows(Seq(0L, 100L, 200L, 300L, 400L, 500L, 600L, 700L)))
    assert(!Stats.backlogGrows(Seq(5L)))
    assert(!Stats.backlogGrows(Nil))
  }

  test("generated events are seeded, unique per (key, systemTime) and span all ranges") {
    val a = new EgvGen(7).take(5000)
    assert(a.toSeq == new EgvGen(7).take(5000).toSeq)
    assert(a.map(_.id).distinct.length == a.length)
    val hours = a.map(e => "\"systemTime\":\"[^\"]*T(\\d\\d)".r
      .findFirstMatchIn(e.value).get.group(1).toInt)
    assert(hours.exists(_ < 6) && hours.exists(h => h >= 6 && h < 22) && hours.exists(_ >= 22))
    val fields = Seq("systemTime", "displayTime", "value", "realtimeValue",
      "smoothedValue", "status", "trend", "trendRate")
    assert(a.forall(e => fields.forall(f => e.value.contains("\"" + f + "\":"))))
  }
}
