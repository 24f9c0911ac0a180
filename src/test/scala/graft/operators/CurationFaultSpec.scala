package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Launches [[CurationFaultProbe]] in a child JVM (task retries need a
  * `local[N, 2]` master — impossible in the shared suite session) and
  * asserts the probe's recompute-not-corrupt contract held: an injected
  * one-shot task failure under `curateManaged`/`report` is retried into
  * exactly the clean run's answer.
  */
class CurationFaultSpec extends AnyFunSuite {

  test("managed persist recomputes, not corrupts, after an injected task failure") {
    val (code, out) = graft.tools.ForkedJvm.run(
      "graft.operators.CurationFaultProbe", Nil, heap = "4g")
    assert(code == 0, s"probe exited $code:\n${out.takeRight(4000)}")
    assert(out.contains("FAULT_PROBE_OK"),
      s"probe did not report OK:\n${out.takeRight(4000)}")
  }
}
