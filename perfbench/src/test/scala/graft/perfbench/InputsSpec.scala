package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val workloads = Main.Workloads.keys.toSeq.sorted

  test("the same seed gives byte-identical inputs") {
    workloads.foreach { w =>
      val a = Inputs.describe(w, 7L).getBytes("UTF-8")
      val b = Inputs.describe(w, 7L).getBytes("UTF-8")
      assert(a.nonEmpty)
      assert(java.util.Arrays.equals(a, b), w)
    }
  }

  test("a different seed gives different inputs") {
    workloads.foreach { w =>
      assert(Inputs.describe(w, 7L) != Inputs.describe(w, 8L), w)
    }
  }

  test("seeded shuffle is a permutation") {
    val xs = (1 to 50).toSeq
    val s = Inputs.shuffle(xs, new java.util.SplittableRandom(3))
    assert(s.sorted == xs && s != xs)
  }
}
