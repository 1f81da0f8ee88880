package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The [[Fixpoint]] round contract on a fake loop: no Spark, `round`
  * returns a scripted change count and `bound` counts its evaluations.
  */
class FixpointSpec extends AnyFunSuite {

  /** A loop whose round `i` reports `changes(i)` changes (0 past the
    * end), recording the rounds it ran and every `bound` evaluation.
    */
  private final class FakeLoop(changes: Long*) {
    var ran = Vector.empty[Int]
    var boundCalls = 0
    var boundAfterRound = -1
    def bound(v: Long): Long = {
      boundCalls += 1
      boundAfterRound = ran.lastOption.getOrElse(-1)
      v
    }
    def round(i: Int): Long = {
      ran :+= i
      changes.lift(i).getOrElse(0L)
    }
  }

  test("stops at the first round that reports 0 changes") {
    val loop = new FakeLoop(5, 3, 0, 7)
    val n = Fixpoint.run("loop", base = 10, roundBudget = 0)(loop.bound(100))(loop.round)
    assert(n == 3)
    assert(loop.ran == Vector(0, 1, 2))
    assert(loop.boundCalls == 0, "a loop converging within the base never evaluates bound")
  }

  test("bound is evaluated exactly once, and only when the base is exhausted") {
    // 7 changing rounds + the observing round = 8 rounds > base 5
    val loop = new FakeLoop(1, 1, 1, 1, 1, 1, 1)
    val n = Fixpoint.run("loop", base = 5, roundBudget = 0)(loop.bound(8))(loop.round)
    assert(n == 8)
    assert(loop.ran == (0 until 8).toVector)
    assert(loop.boundCalls == 1)
    assert(loop.boundAfterRound == 4, "bound is evaluated after the last base round, not before")
    // the extended budget is final: a loop that outruns it throws
    val deeper = new FakeLoop(Seq.fill(20)(1L): _*)
    val e = intercept[IllegalStateException] {
      Fixpoint.run("deep", base = 5, roundBudget = 0)(deeper.bound(8))(deeper.round)
    }
    assert(e.getMessage == "deep did not reach a fixed point in 8 rounds")
    assert(deeper.boundCalls == 1 && deeper.ran.length == 8)
  }

  test("a bound below the base never shrinks the budget") {
    val loop = new FakeLoop(1, 1, 1, 1, 1, 1)
    val e = intercept[IllegalStateException] {
      Fixpoint.run("loop", base = 5, roundBudget = 0)(loop.bound(1))(loop.round)
    }
    assert(e.getMessage.contains("in 5 rounds"))
    assert(loop.ran == (0 until 5).toVector)
    assert(loop.boundCalls == 1)
  }

  test("a pinned roundBudget is final: throws with the budget and never evaluates bound") {
    val loop = new FakeLoop(Seq.fill(20)(1L): _*)
    val e = intercept[IllegalStateException] {
      Fixpoint.run("pinned", base = 10, roundBudget = 3)(loop.bound(100))(loop.round)
    }
    assert(e.getMessage == "pinned did not reach a fixed point in 3 rounds")
    assert(loop.ran == Vector(0, 1, 2))
    assert(loop.boundCalls == 0)
    // a pinned budget above the base runs past the base with no extension
    val six = new FakeLoop(1, 1, 1, 1, 1)
    assert(Fixpoint.run("pinned", base = 2, roundBudget = 6)(six.bound(100))(six.round) == 6)
    assert(six.boundCalls == 0)
  }

  test("ceilLog2") {
    assert(Seq(0L, 1L, 2L, 3L, 4L, 5L, 1L << 15, (1L << 15) + 1).map(Fixpoint.ceilLog2) ==
      Seq(0, 0, 1, 2, 2, 3, 15, 16))
    assert(Fixpoint.ceilLog2(Long.MaxValue) == 63)
  }
}
