package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def beyond(xs: Seq[Double], p: Int): Int =
    xs.size - math.ceil(p / 100.0 * xs.size).toInt

  test("no tail below 40 samples") {
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    for ((n, want) <- Seq(40 -> 75, 41 -> 75, 50 -> 80, 100 -> 90,
                          1000 -> 99, 5000 -> 99)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val (p, v) = Stats.tail(xs).get
      assert(p == want, s"n=$n")
      assert(beyond(xs, p) >= 10, s"n=$n")
      assert(p == 99 || beyond(xs, p + 1) < 10, s"n=$n: p+1 also qualifies")
      assert(xs.count(_ > v) >= 10, s"n=$n: fewer than 10 samples beyond $v")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
  }
}
