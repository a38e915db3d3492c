package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a small sample reports the median alone, with its count") {
    val s = Stats.summarize((1 to 20).map(_.toDouble))
    assert(s.n == 20)
    assert(s.median == 10.5)
    assert(s.tail.isEmpty) // p75 would leave only 5 samples beyond it
  }

  test("the reported tail is the highest percentile with >= 10 samples beyond it") {
    assert(Stats.summarize((1 to 40).map(_.toDouble)).tail == Some((75.0, 30.0)))
    assert(Stats.summarize((1 to 200).map(_.toDouble)).tail == Some((95.0, 190.0)))
    val big = Stats.summarize((1 to 1000).map(_.toDouble))
    assert(big.n == 1000)
    assert(big.tail == Some((99.0, 990.0)))
    val (_, beyond) = Stats.percentile((1 to 1000).map(_.toDouble), 99.0)
    assert(beyond == 10)
  }

  test("a single sample is its own median") {
    val s = Stats.summarize(Seq(4.2))
    assert(s.n == 1 && s.median == 4.2 && s.tail.isEmpty)
    assert(s.render("s").contains("n=1"))
  }
}

class WindowSpec extends AnyFunSuite {

  test("steal seconds come from the eighth field of the cpu line of /proc/stat") {
    assert(Main.parseSteal("cpu  3954331 0 271550 2794118 1579 0 94976 148524 0 0") == 1485.24)
    assert(intercept[IllegalArgumentException](Main.parseSteal("cpu0 1 2 3 4 5 6 7 8 9 10"))
      .getMessage.contains("not the cpu line"))
  }

  test("wall and CPU per unit are the window's totals over its units; steal is a share of the machine") {
    val w = Seq(Main.Sample(0, 5.0, 16.0, 0.8), Main.Sample(1, 3.0, 8.0, 0.0))
    assert(Main.wallPerUnit(w) == 4.0)
    assert(Main.cpuPerUnit(w) == 12.0)
    assert(Main.stealFrac(w, cores = 4) == 0.025)
  }
}
