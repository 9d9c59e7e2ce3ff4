package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail helper picks the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(9999).contains(99.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("every reported percentile really has 10 samples beyond it") {
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        val v = Stats.percentile(xs, p)
        assert(xs.count(_ > v) >= Stats.MinBeyond, s"n=$n p=$p")
      }
    }
  }

  test("percentiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
  }

  test("least squares recovers an exact linear model") {
    val x = (1 to 20).map(i => Array(1.0, i.toDouble, (i * i % 7).toDouble))
    val y = x.map(r => 0.3 + 0.073 * r(1) + 0.5 * r(2))
    val b = Stats.leastSquares(x, y)
    assert(math.abs(b(0) - 0.3) < 1e-9 && math.abs(b(1) - 0.073) < 1e-9 &&
      math.abs(b(2) - 0.5) < 1e-9)
  }

  test("row digests ignore row order but not content") {
    val a = Seq(Row(1L, "x", 1.5), Row(2L, "y", -0.0))
    val b = Seq(Row(2L, "y", 0.0), Row(1L, "x", 1.5))
    assert(Digest.ofRows(Seq("k", "s", "v"), a) == Digest.ofRows(Seq("k", "s", "v"), b))
    assert(Digest.ofRows(Seq("k", "s", "v"), a) !=
      Digest.ofRows(Seq("k", "s", "v"), Seq(Row(1L, "x", 1.5), Row(2L, "y", 0.1))))
    assert(Digest.ofSequence(Seq("a", "b")) != Digest.ofSequence(Seq("b", "a")))
  }
}
