package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {
  private def quiet = new Loop(_ => ())

  test("a throwing operation counts as attempted and failed and contributes no timing") {
    val loop = quiet
    assert(loop.run("ok")(1 + 1).contains(2))
    assert(loop.run("boom")(throw new IllegalStateException("boom")).isEmpty)
    assert(loop.run("ok")(Thread.sleep(5)).isDefined)
    assert(loop.attempted == 3 && loop.failed == 1)
    assert(loop.timings.map(_._1) == Seq("ok", "ok"))
    assert(loop.seconds.length == 2 && loop.seconds(1) >= 0.005)
  }

  test("a throwing untimed step and a false check count as failures") {
    val loop = quiet
    assert(loop.untimed("setup")(throw new RuntimeException("no")).isEmpty)
    assert(!loop.check("digest", ok = false))
    assert(loop.check("digest", ok = true))
    assert(loop.attempted == 3 && loop.failed == 2)
    assert(loop.timings.isEmpty)
  }

  test("fatal errors are not swallowed") {
    intercept[StackOverflowError](quiet.run("fatal")(throw new StackOverflowError()))
  }
}
