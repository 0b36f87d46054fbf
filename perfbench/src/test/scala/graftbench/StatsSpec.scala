package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples, independent of order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.5)) == 7.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 1) == 1.0)
  }

  test("rates, ratios and scaling efficiency") {
    assert(Stats.rate(24000, 0.5) == 48000.0)
    assert(Stats.rate(10, 0.0) == 0.0)
    assert(Stats.ratio(1.0, 0.0) == 0.0)
    // 40k docs/s on 4 cores against 12.5k docs/s on one: 40 / 50
    assert(math.abs(Stats.scalingEff(40000, 12500, 4) - 0.8) < 1e-12)
  }

  test("covered length merges overlapping intervals and clips to the window") {
    assert(Stats.coveredLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Stats.coveredLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Stats.coveredLength(Seq((0L, 50L)), 10, 20) == 10)
    assert(Stats.coveredLength(Nil, 0, 100) == 0)
  }

  test("guard names every behaviour switch that is set") {
    assert(Guard.violations(Map("PATH" -> "/bin"), Map("java.version" -> "17")).isEmpty)
    val v = Guard.violations(Map("GRAFT_JOIN_NOSALT" -> "1", "GRAFT_SCALE_PROF" -> "0"),
      Map("graft.par.off" -> "true"))
    assert(v.toSet == Set("GRAFT_JOIN_NOSALT=1", "GRAFT_SCALE_PROF=0", "-Dgraft.par.off=true"))
  }

  test("JSON output keeps every digit of a measured value") {
    assert(Json(Map("v" -> 0.1234567890123)) == """{"v":0.1234567890123}""")
    assert(Json(Seq("a\"b", 1L, true)) == """["a\"b",1,true]""")
  }
}
