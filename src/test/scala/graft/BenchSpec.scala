package graft


/** The bench harness's steal-time signal: the steal field of the
  * aggregate `/proc/stat` cpu line, counted inside busy time. */
class BenchSpec extends SparkSuite {
  test("stealJiffies parses field 8 of the aggregate cpu line only") {
    // user nice system idle iowait irq softirq STEAL guest guest_nice
    assert(Bench.stealJiffies("cpu  10 20 30 40 50 60 70 80 90 100")
      .contains(80L))
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70 80").contains(80L))
    assert(Bench.stealJiffies("cpu0 10 20 30 40 50 60 70 80").isEmpty)
    assert(Bench.stealJiffies("intr 12345").isEmpty)
    // 7-field line (no steal column): None, never a throw
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70").isEmpty)
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70 xyz").isEmpty)
  }

  test("stealJiffies is a subset of busyJiffies on the same line") {
    val line = "cpu 100 2 300 4000 50 6 7 80 9 10"
    val steal = Bench.stealJiffies(line).get
    val busy = Bench.busyJiffies(line).get
    assert(steal == 80L && busy == 100 + 2 + 300 + 6 + 7 + 80,
      s"steal $steal must be one of busy $busy's addends")
  }
}
