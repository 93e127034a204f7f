package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the calls into each layer, plus the Spark and Hadoop
  * counters that fall inside them. Spans open and close on one thread
  * (the traced pass); [[record]] also takes finished child spans reported
  * from another thread (the serving job's stage-timer hook). Spark events
  * are kept with their times and attributed after the pass to the
  * innermost span covering them, so counts land where the work happened.
  * Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {

  final class Span(val id: Int, val name: String, val parent: Int,
                   val start: Long, var end: Long = -1L,
                   var fsOps: Long = 0L, var fsWriteBytes: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil
  private val extras = mutable.Map.empty[(String, String), Double]

  // (time ns, job started?, task seconds, shuffle bytes)
  private val events = new ConcurrentLinkedQueue[(Long, Boolean, Double, Double)]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add((e.time * 1000000L, true, 0.0, 0.0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        events.add((e.taskInfo.finishTime * 1000000L, false,
          m.executorRunTime / 1000.0,
          (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead).toDouble))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Hadoop FileSystem statistics, summed over every filesystem class:
    * (read + write + large-read operations, bytes written). */
  @annotation.nowarn("cat=deprecation")
  private def fsSnapshot(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(s => s.getReadOps.toLong + s.getWriteOps + s.getLargeReadOps).sum,
      all.map(_.getBytesWritten).sum)
  }

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), Clock.nowNs())
      spans += sp
      sp
    }
    open = s :: open
    val (ops0, wb0) = fsSnapshot()
    try body
    finally {
      val (ops1, wb1) = fsSnapshot()
      s.fsOps = ops1 - ops0
      s.fsWriteBytes = wb1 - wb0
      s.end = Clock.nowNs()
      open = open.tail
    }
  }

  /** A finished span reported after the fact, as a child of whichever
    * span is open now. */
  def record(name: String, start: Long, end: Long): Unit = synchronized {
    spans += new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), start, end)
  }

  /** Adds to a per-span-name counter that is not a Spark event. */
  def add(name: String, counter: String, v: Double): Unit = synchronized {
    extras((name, counter)) = extras.getOrElse((name, counter), 0.0) + v
  }

  final case class Totals(self: Double, jobs: Long, tasks: Long, taskS: Double,
                          shuffleMb: Double, fsOps: Long, fsWriteMb: Double)

  private var closed: Seq[Span] = Nil
  private var selfNs: Map[Int, Long] = Map.empty
  private var byName: Map[String, Totals] = Map.empty

  /** Stops listening and attributes every event; call once, after the pass. */
  def finish(): Unit = {
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.sparkContext.removeSparkListener(listener)
    closed = synchronized(spans.toList)
    val children = closed.groupBy(_.parent)
    // self time: the span's interval minus the union of its children's
    selfNs = closed.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L
      var reach = s.start
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> ((s.end - s.start) - covered)
    }.toMap
    val depth: Map[Int, Int] = {
      val byId = closed.map(s => s.id -> s).toMap
      def d(s: Span): Int = if (s.parent < 0) 0 else 1 + d(byId(s.parent))
      closed.map(s => s.id -> d(s)).toMap
    }
    val counts = mutable.Map.empty[Int, (Long, Long, Double, Double)]
    events.asScala.foreach { case (t, job, taskS, shuffle) =>
      val inner = closed.filter(s => s.start <= t && t <= s.end)
      if (inner.nonEmpty) {
        val s = inner.maxBy(x => depth(x.id))
        val (j, n, ts, sh) = counts.getOrElse(s.id, (0L, 0L, 0.0, 0.0))
        counts(s.id) = if (job) (j + 1, n, ts, sh) else (j, n + 1, ts + taskS, sh + shuffle)
      }
    }
    byName = closed.groupBy(_.name).map { case (n, ss) =>
      val c = ss.map(s => counts.getOrElse(s.id, (0L, 0L, 0.0, 0.0)))
      n -> Totals(ss.map(s => selfNs(s.id)).sum / 1e9, c.map(_._1).sum, c.map(_._2).sum,
        c.map(_._3).sum, c.map(_._4).sum / 1048576.0, ss.map(_.fsOps).sum,
        ss.map(_.fsWriteBytes).sum / 1048576.0)
    }
  }

  def totals(name: String): Totals =
    byName.getOrElse(name, Totals(0.0, 0L, 0L, 0.0, 0.0, 0L, 0.0))

  def extra(name: String, counter: String): Double =
    extras.getOrElse((name, counter), 0.0)

  /** One JSON object per span (name, start, end, parent, run id, self
    * time, counters), then the run's summary line. */
  def write(path: String, summary: Seq[(String, Double, String)]): Unit = {
    val lines = closed.map { s =>
      s"""{"run": ${Json.str(runId)}, "id": ${s.id}, "name": ${Json.str(s.name)}, """ +
        s""""parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""self_s": ${Json.num(selfNs(s.id) / 1e9)}, "fs_ops": ${s.fsOps}, """ +
        s""""fs_write_bytes": ${s.fsWriteBytes}}"""
    } :+ s"""{"run": ${Json.str(runId)}, "summary": ${Json.metrics(summary)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
