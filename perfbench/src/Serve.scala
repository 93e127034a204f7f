package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.TextFunctions
import graft.jobs.{RecommenderModel, ServeJob}

/** `serve`: event-triggered serving through the real streaming job
  * (`ServeJob.startSwappable`, `ProcessingTime(0)`) over a `MemoryStream`,
  * fed by an open-loop generator thread — first a steady Poisson trickle,
  * then push-campaign bursts. */
object Serve {

  final case class Deployment(cat: Inputs.Catalog,
                              fitted: RecommenderModel.Fitted,
                              stream: MemoryStream[String],
                              query: StreamingQuery)

  /** Fit, save, load, and deploy: what a serving release pays before
    * its first event. */
  def deploy(spark: SparkSession, a: Args, size: Inputs.CatalogSize): Deployment = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val cat = Inputs.materialize(spark, Inputs.catalog(spark, a.seed, size),
      a.dir("serve-input"))
    val modelDir = a.dir("serve-model")
    RecommenderModel.save(Offline.fit(cat), modelDir)
    val fitted = RecommenderModel.load(spark, modelDir)
    val stream = MemoryStream[String]
    val (q, _) = ServeJob.startSwappable(stream.toDF(), fitted, cat.collect,
      new BenchKV, trigger = Trigger.ProcessingTime(0L))
    Deployment(cat, fitted, stream, q)
  }

  /** One generator send: events that fall due together. */
  final case class Send(dueNs: Long, events: Seq[(Long, Seq[Long])])
  final case class Sent(send: Send, sentNs: Long, offset: Long)

  /** Open-loop schedule relative to 0: Poisson arrivals at `rate` per
    * second, or bursts of `burst` events every `period` seconds. */
  def schedule(seconds: Double, ev: Inputs.Events, burst: Boolean): Seq[Send] = {
    val horizon = (seconds * 1e9).toLong
    if (burst) {
      val period = (Serve.BurstPeriodS * 1e9).toLong
      (0L until horizon by period).map(t =>
        Send(t, Seq.fill(Serve.BurstSize)(ev.next())))
    } else {
      val out = Seq.newBuilder[Send]
      var t = (ev.exp(Serve.SteadyRate) * 1e9).toLong
      while (t < horizon) {
        out += Send(t, Seq(ev.next()))
        t += (ev.exp(Serve.SteadyRate) * 1e9).toLong
      }
      out.result()
    }
  }

  val SteadyRate = 12.0      // events/s, well under capacity
  val BurstSize = 1000
  val BurstPeriodS = 2.0     // a burst drains in ~1.1 s at 4 cores
  val WarmS = 3.0

  /** Runs the generator on its own thread; returns what was sent. */
  def generate(stream: MemoryStream[String], sends: Seq[Send], startNs: Long)
      : Seq[Sent] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val t = new Thread(() => sends.foreach { s =>
      Clock.sleepUntil(startNs + s.dueNs)
      val sent = Clock.nowNs()
      val off = stream.addData(s.events.map { case (u, b) => Inputs.eventJson(u, b) })
      out.add(Sent(s.copy(dueNs = startNs + s.dueNs), sent, off.json().toLong))
    }, "perfbench-generator")
    t.start()
    t.join()
    scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq
  }

  final case class Batch(id: Long, startNs: Long, fromOffset: Long,
                         toOffset: Long, rows: Long, planningMs: Double,
                         addBatchMs: Double)

  /** Micro-batches that read input, from the query's progress reports. */
  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val src = p.sources.head
      def off(s: String): Long =
        if (s == null || s == "null") -1L else s.trim.stripPrefix("\"").stripSuffix("\"").toLong
      def dur(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Batch(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
        off(src.startOffset), off(src.endOffset), p.numInputRows,
        dur("queryPlanning"), dur("addBatch"))
    }

  /** Each sent event matched to the `b_like` put of the micro-batch that
    * read it: (event, batch, put time, put value); None when never put. */
  def matchPuts(sent: Seq[Sent], bs: Seq[Batch],
                putLog: Seq[(String, Long, String)])
      : Seq[((Long, Seq[Long]), Sent, Option[(Batch, Long, String)])] = {
    val byKey = putLog.groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    sent.flatMap { s =>
      val b = bs.find(b => s.offset > b.fromOffset && s.offset <= b.toOffset)
      s.send.events.map { e =>
        val put = b.flatMap { bb =>
          // the first put of the user's key after the batch started is
          // that batch's own: batches run one at a time
          byKey.getOrElse(s"b_like:${e._1}", Nil).find(_._2 >= bb.startNs)
            .map(p => (bb, p._2, p._3))
        }
        (e, s, put)
      }
    }
  }

  /** Served values for a seeded sample of events equal the distributed
    * batch lane (`serve = None`) on the same events. */
  def checkValues(spark: SparkSession, d: Deployment, seed: Long,
                  matched: Seq[((Long, Seq[Long]), Sent, Option[(Batch, Long, String)])])
      : Seq[String] = {
    import spark.implicits._
    // only events whose user is alone in its batch: a user's events in
    // one batch are merged into one query, by design
    val alone = matched.collect { case (e, _, Some((b, _, v))) => (e, b.id, v) }
      .groupBy(x => (x._1._1, x._2)).values.filter(_.size == 1).map(_.head)
      .toSeq.sortBy(x => (x._2, x._1._1))
    val sample = new scala.util.Random(seed).shuffle(alone)
      .groupBy(_._1._1).values.map(_.head).toSeq.sortBy(_._1._1).take(40)
    if (sample.isEmpty) return Seq("no served event to compare")
    val evs = sample.map { case ((u, b), _, _) =>
      (u, if (b.isEmpty) None else Some(b)) }.toDF("userId", "bookIds")
    val recs = ServeJob.scoreBatch(evs, d.fitted, d.cat.collect, serve = None)
    val expected = recs.books
      .select(col("query").cast("long"), TextFunctions.joinIds(col("books")))
      .as[(Long, String)].collect().toMap
    sample.flatMap { case ((u, _), _, got) =>
      if (expected.get(u).contains(got)) None
      else Some(s"user $u served '$got' but the batch lane gives '${expected.getOrElse(u, "<none>")}'")
    }.take(10)
  }

  /** Results of one open-loop phase. */
  final case class Phase(lat: Seq[Double], batches: Int, perSend: Seq[(Double, Double)],
                         late: Seq[Double], failed: Int, problems: Seq[String],
                         matched: Seq[((Long, Seq[Long]), Sent, Option[(Batch, Long, String)])])

  /** Sends `sends` on schedule, waits for the stream to drain, and times
    * every event from its due time to its `b_like` put. */
  def phase(d: Deployment, sends: Seq[Send]): Phase = {
    val seen = batches(d.query).size
    BenchKV.clear()
    BenchKV.logging = true
    val sent = generate(d.stream, sends, Clock.nowNs() + 100000000L)
    val problems = Seq.newBuilder[String]
    try d.query.processAllAvailable()
    catch { case e: Throwable => problems += s"serving query failed: $e" }
    BenchKV.logging = false
    // the last progress report can trail the commit processAllAvailable
    // waits for
    val lastOffset = sent.map(_.offset).max
    val until = Clock.nowNs() + 5000000000L
    while (!batches(d.query).exists(_.toOffset >= lastOffset) && Clock.nowNs() < until)
      Thread.sleep(10)
    val bs = batches(d.query).drop(seen)
    val matched = matchPuts(sent, bs, BenchKV.putLog)
    val failed = matched.count(_._3.isEmpty)
    if (failed > 0) problems += s"$failed events never got their b_like put"
    // an event that never got its put missed every latency bound
    val lat = matched.map { case (_, s, put) =>
      put.map(p => (p._2 - s.send.dueNs) / 1e6).getOrElse(Double.PositiveInfinity) }
    // (events, seconds from due time to last put) of each send
    val perSend = sent.flatMap { s =>
      val puts = matched.filter(_._2 eq s).flatMap(_._3.map(_._2))
      if (puts.isEmpty) None
      else Some((s.send.events.size.toDouble, (puts.max - s.send.dueNs) / 1e9))
    }
    Phase(lat, bs.size, perSend, sent.map(s => (s.sentNs - s.send.dueNs) / 1e6),
      failed, problems.result(), matched)
  }

  def run(spark: SparkSession, a: Args, size: Inputs.CatalogSize): Outcome = {
    // one deployment per run: a cold one costs ~25 s at 4 cores, which
    // leaves no room in the run budget for a second
    val t0 = Clock.nowNs()
    val d = deploy(spark, a, size)
    val setupS = (Clock.nowNs() - t0) / 1e9
    val users = (1L to size.users.toLong).toArray
    val ev = new Inputs.Events(a.seed, users, d.cat.bookIds, firstSelect = 0.2)
    // warm the live query before timing: a burst-sized batch, then a few
    // seconds of the steady trickle, so the JIT has settled on the
    // per-batch path a long-running deployment runs
    d.stream.addData(Seq.fill(200)(ev.next()).map { case (u, b) => Inputs.eventJson(u, b) })
    d.query.processAllAvailable()
    phase(d, schedule(WarmS, ev, burst = false))
    Heap.sample()
    // the steady median needs the most micro-batches; the pooled burst
    // rate settles with four bursts
    val steady = phase(d, schedule(a.seconds * 0.65, ev, burst = false))
    Heap.sample()
    val burst = phase(d, schedule(a.seconds * 0.35, ev, burst = true))
    Heap.sample()
    d.query.stop()
    val problems = Seq.newBuilder[String]
    problems ++= steady.problems ++ burst.problems
    problems ++= checkValues(spark, d, a.seed, steady.matched ++ burst.matched)
    val late = steady.late ++ burst.late
    val lateP99 = Stats.quantile(late, 0.99)
    if (lateP99 > 50.0 || late.max > 250.0)
      problems += f"generator fell behind its schedule (p99 $lateP99%.1f ms, max ${late.max}%.1f ms): run invalid"
    // pooled over the bursts: every burst event over every burst's drain
    val burstEps = burst.perSend.map(_._1).sum / burst.perSend.map(_._2).sum
    val tail = Stats.supportedTail(steady.batches)
    println(s"serve steady events=${steady.lat.size} batches=${steady.batches} " +
      s"burst events=${burst.lat.size} batches=${burst.batches} " +
      s"tail_supported=${tail.map(q => s"p${(q * 100).round}").getOrElse("none")}")
    Outcome(
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.median(steady.lat), "ms"),
        ("throughput_per_s", burstEps, "1/s"),
        ("mem_peak_mb", Heap.peakMb, "MB")),
      figures = Seq(
        ("serve_p50_ms", Stats.median(steady.lat), "ms"),
        ("serve_p90_ms", Stats.quantile(steady.lat, 0.9), "ms"),
        ("burst_p50_ms", Stats.median(burst.lat), "ms"),
        ("burst_eps", burstEps, "1/s"),
        ("bursts", burst.perSend.size.toDouble, "count"),
        ("steady_micro_batches", steady.batches.toDouble, "count"),
        ("gen_late_p99_ms", lateP99, "ms"),
        ("gen_late_max_ms", late.max, "ms")),
      attempted = (steady.lat.size + burst.lat.size).toLong,
      failed = (steady.failed + burst.failed).toLong,
      problems = problems.result())
  }
}
