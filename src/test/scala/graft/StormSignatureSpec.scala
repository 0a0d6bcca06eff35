package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's in-process storm rule (BenchKernel.stormSignature)
  * — in particular the r17 zero-input fallback: queries whose scans
  * round to 0 MB on BOTH samples (q92/q93 class) must keep the
  * cpu-inflation arm (the r16 driver pass published a 6× phantom
  * regression on q93 because the r15 `inputMb > 0` guard silenced it),
  * while a one-sided zero (listener miss) and trivial-CPU jitter stay
  * excluded, so the r15 jitter hole does not re-open.
  */
class StormSignatureSpec extends AnyFunSuite {

  private def t(
      sec: Double, cpuMs: Long, inMb: Long,
      sys: Double = 0.1, steal: Double = 0.0) =
    BenchKernel.Timing(sec, cpuMs, inMb, sys, steal)

  test("cpu inflation at flat positive input fires (r15 rule kept)") {
    assert(BenchKernel.stormSignature(
      t(1.0, 1000, 100), t(1.4, 1600, 100)))
  }

  test("input mismatch keeps the cpu arm silent (r15 ADVICE kept)") {
    // a listener miss zeroes ONE side — must not read as flat input
    assert(!BenchKernel.stormSignature(
      t(1.0, 1000, 100), t(1.4, 1600, 0)))
    assert(!BenchKernel.stormSignature(
      t(1.0, 1000, 0), t(1.4, 1600, 100)))
  }

  test("consistent zero-input keeps cpu-inflation protection (r17)") {
    // the q92/q93 class: sub-MB scans, both samples read 0 MB; a
    // 1.4×+ task-CPU step on the slow side is the storm signature
    assert(BenchKernel.stormSignature(
      t(0.15, 400, 0), t(0.97, 900, 0)))
  }

  test("zero-input trivial-CPU jitter does not buy samples (r17)") {
    // fast side under the 100 ms task-CPU floor: CPU inflation on
    // work that small is scheduling noise, not a storm
    assert(!BenchKernel.stormSignature(
      t(0.31, 60, 0), t(0.40, 120, 0)))
  }

  test("unreported input (-1) on both samples keeps the cpu arm silent") {
    // a window whose IO accounting went unreported reads -1, never a
    // measured 0: a 1.5x task-CPU step must not buy samples through
    // the consistent-zero fallback, while host steal still does
    assert(!BenchKernel.stormSignature(
      t(1.0, 1000, -1), t(1.4, 1500, -1)))
    assert(BenchKernel.stormSignature(
      t(1.0, 1000, -1), t(1.4, 1500, -1, steal = 0.05)))
  }

  test("host anomaly arm is independent of input accounting") {
    assert(BenchKernel.stormSignature(
      t(1.0, 1000, 0, sys = 0.1), t(1.4, 1100, 0, sys = 0.1, steal = 0.05)))
    assert(BenchKernel.stormSignature(
      t(1.0, 1000, 0, sys = 0.2), t(1.4, 1100, 0, sys = 0.4)))
  }
}
