package graft

import graft.tools.Harness

/** The tools' shared task-metrics listener: a snapshot taken right after
  * an action already holds that action's tasks (the bus is drained before
  * the read, no sleep needed), and snapshot deltas attribute work only to
  * the span that ran it. */
class HarnessSpec extends SparkSuite {

  test("a snapshot right after an action already holds the action's tasks") {
    val totals = new Harness.TaskTotals(spark)
    try {
      val before = totals.snapshot()
      spark.range(0, 1000, 1, 4).count()
      val ran = totals.snapshot() - before
      assert(ran.tasks >= 4, ran.toString)
      assert(ran.taskMs > 0, ran.toString)
    } finally totals.close()
  }

  test("two snapshots with no job in between differ by zero") {
    val totals = new Harness.TaskTotals(spark)
    try {
      spark.range(0, 1000, 1, 4).count()
      val first = totals.snapshot()
      assert(totals.snapshot() - first == Harness.Totals(0L, 0L, 0L, 0L, 0L))
    } finally totals.close()
  }
}
