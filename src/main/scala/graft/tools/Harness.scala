package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The session and task-metrics listener every `graft.tools` main shares.
  *
  * `session` is the Bench config: `local[n]` with n shuffle partitions,
  * n = `SPARK_GRAFT_CPUS`, else min(nproc, 32) — so no harness
  * oversubscribes a small box. `TaskTotals` is the one place the tools
  * read task time, GC, spill and shuffle read. */
object Harness {

  def session(name: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))
    val spark = SparkSession.builder().appName(name)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Summed metrics of every task that ended; subtract two snapshots for
    * the work in between. */
  final case class Totals(tasks: Long, taskMs: Long, gcMs: Long,
                          spillBytes: Long, shuffleReadBytes: Long) {
    def -(o: Totals): Totals = Totals(tasks - o.tasks, taskMs - o.taskMs,
      gcMs - o.gcMs, spillBytes - o.spillBytes,
      shuffleReadBytes - o.shuffleReadBytes)
    override def toString: String =
      f"[task ${taskMs / 1e3}%.0f s gc ${gcMs / 1e3}%.0f s " +
        s"spill ${spillBytes / 1e6} MB shufRead ${shuffleReadBytes / 1e6} MB]"
  }

  /** Registers itself on the session's context. Task-end events arrive
    * asynchronously on the listener bus, so [[snapshot]] drains the bus
    * first: without the drain a run's late events land in the next run's
    * delta. */
  final class TaskTotals(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val tasks, runMs, gcMs, spill, shufRead = new AtomicLong
    sc.addSparkListener(this)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        tasks.incrementAndGet(); runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }

    def snapshot(): Totals = {
      if (!ListenerBridge.drain(sc, 10000L))
        println("HARNESS_WARN listener bus drain timed out; task columns " +
          "may lag one run")
      Totals(tasks.get, runMs.get, gcMs.get, spill.get, shufRead.get)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }
}
