package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import graft.io.KVSink

/** In-process KV sink. Every put lands in one JVM-wide map (local-mode
  * executors are threads of this JVM); while `logging` is on, each put is
  * also logged with its wall-clock time, which is how the serving
  * workloads time an event to its `b_like` put. */
class BenchKV extends KVSink {
  def put(key: String, value: String): Unit = {
    BenchKV.store.put(key, value)
    BenchKV.puts.incrementAndGet()
    if (BenchKV.logging) BenchKV.log.add((key, Clock.nowNs(), value))
  }
  def get(key: String): Option[String] = Option(BenchKV.store.get(key))
}

object BenchKV {
  private val store = new ConcurrentHashMap[String, String]()
  private val log = new ConcurrentLinkedQueue[(String, Long, String)]()
  val puts = new java.util.concurrent.atomic.AtomicLong()
  @volatile var logging = false
  def snapshot: Map[String, String] = store.asScala.toMap
  def putLog: Seq[(String, Long, String)] = log.asScala.toSeq
  def clear(): Unit = { store.clear(); log.clear() }

  /** Order-independent digest of the whole store. */
  def digest(kv: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    kv.toSeq.sorted.foreach { case (k, v) =>
      md.update(s"$k=$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** One wall clock for spans, puts, schedules and Spark listener events:
  * epoch nanoseconds, monotonic within the run. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def sleepUntil(ns: Long): Unit = {
    var left = ns - nowNs()
    while (left > 0) {
      if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L)
      else Thread.onSpinWait()
      left = ns - nowNs()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (pos == lo) s(lo) else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p90/p99 with at least ten of `groups` samples
    * beyond it, where a group is the unit whose samples are not
    * independent (a micro-batch). None when not even p50 qualifies. */
  def supportedTail(groups: Int): Option[Double] =
    Seq(0.99, 0.9, 0.5).find(q => groups * (1 - q) >= 10.0 - 1e-9)
}

/** Peak heap, sampled right after a full GC at phase boundaries. */
object Heap {
  private val bean = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0.0
  def sample(): Unit = {
    // twice: the first collection lets Spark's context cleaner drop
    // blocks of frames that just became unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, bean.getHeapMemoryUsage.getUsed / 1048576.0)
  }
  def peakMb: Double = peak
}

/** What one workload run hands back to [[Main]]. `figures` are the
  * workload-specific numbers printed for reading (not gated); `metrics`
  * are the gated ones, by name -> (value, unit). */
final case class Outcome(metrics: Seq[(String, Double, String)],
                         figures: Seq[(String, Double, String)],
                         attempted: Long, failed: Long,
                         problems: Seq[String])

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString("{", ", ", "}")
}
