package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs at least ten samples beyond it") {
    val xs100 = (1 to 100).map(_.toDouble)
    val p90 = Stats.percentile(xs100, 0.9).get
    assert(p90.value == 90.0 && p90.n == 100 && p90.beyond == 10)
    // 99 samples put only 9 beyond the nearest-rank p90
    assert(Stats.percentile(xs100.take(99), 0.9).isEmpty)
    // the median needs 20
    assert(Stats.percentile(xs100.take(19), 0.5).isEmpty)
    assert(Stats.percentile(xs100.take(20), 0.5).map(_.value).contains(10.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("percentiles use nearest rank on unsorted input, failures sort last") {
    val xs = Seq(5.0, 1.0, Double.PositiveInfinity, 3.0) ++ (10 to 29).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5, minBeyond = 0).get.value == 18.0) // 12th of 24
    assert(Stats.percentile(xs, 0.99, minBeyond = 0).get.value.isPosInfinity)
  }

  test("median and geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(2.0, Double.PositiveInfinity)).isPosInfinity)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(0.0, 1.0)))
  }

  test("metric names follow [A-Za-z0-9_.-]+, start with a letter or digit, at most 64 long") {
    Seq("setup_s", "entry.q_kmeans.build_s", "spark.core_util", "9lives", "a-b.c_d").foreach(n =>
      assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a/b", "a b", "p90%", "x" * 65, "é").foreach(n =>
      assert(!Stats.validName(n), n))
    assert(Stats.validName("x" * 64))
    Seq("s", "ms", "1/s", "%", "count", "MB").foreach(u => assert(Stats.validUnit(u), u))
    Seq("", "a b", "x" * 17).foreach(u => assert(!Stats.validUnit(u), u))
  }

  test("the result line carries every digit and refuses bad names") {
    val line = Stats.resultLine(correct = true, 3, 0, Seq(Stats.Metric("run_s", 1.2345678901234, "s")))
    assert(line == """{"correct":true,"attempted":3,"failed":0,"metrics":{"run_s":{"value":1.2345678901234,"unit":"s"}}}""")
    assertThrows[IllegalArgumentException](Stats.resultLine(correct = true, 1, 0, Seq(Stats.Metric("a b", 1, "s"))))
    assertThrows[IllegalArgumentException](Stats.resultLine(correct = true, 1, 0,
      Seq(Stats.Metric("x", 1, "s"), Stats.Metric("x", 2, "s"))))
    assert(Stats.jsonNumber(Double.PositiveInfinity) == "Infinity")
    assertThrows[IllegalArgumentException](Stats.jsonNumber(Double.NaN))
  }
}
