package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("stages run in order and metrics accumulate (XCom analog)") {
    val r = new Runner(Seq(
      Stage("a")(_ => Map("x" -> 1L)),
      Stage("b")(m => Map("y" -> (m("x") + 1L)))
    )).run()
    assert(r.ok)
    assert(r.metrics == Map("x" -> 1L, "y" -> 2L))
    assert(r.stages.map(_.stage) == Seq("a", "b"))
  }

  test("a flaky stage is retried per policy and succeeds") {
    var calls = 0
    val r = new Runner(Seq(Stage("flaky") { _ =>
      calls += 1
      if (calls == 1) sys.error("transient")
      Map("done" -> 1L)
    })).run()
    assert(r.ok && calls == 2)
    assert(r.stages.head.attempts == 2)
  }

  test("exhausted retries fail the run, later stages don't execute, notifier fires once") {
    var notified = List.empty[PipelineReport]
    var ranLater = false
    val ex = intercept[PipelineFailedException] {
      new Runner(Seq(
        Stage("boom")(_ => sys.error("always")),
        Stage("later") { _ => ranLater = true; Map.empty }
      ), r => notified ::= r).run()
    }
    assert(!ex.report.ok)
    assert(ex.report.stages.last.stage == "boom" && !ex.report.stages.last.ok)
    assert(!ranLater)
    assert(notified.size == 1 && !notified.head.ok)
  }

  test("notifier fires once on success too (C6)") {
    var n = 0
    new Runner(Seq(Stage("a")(_ => Map.empty)), notify = _ => n += 1).run()
    assert(n == 1)
  }
}
