package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.io.InMemoryKV
import graft.jobs.{RecommenderModel, ServeJob}

/** Serving-plane throughput micro-bench — the engine-side number for the
  * reference's only latency surface (the event-triggered recommender,
  * guessLike_u_like.py:182-213, which scores ONE event at a time over a
  * sequential Redis loop). Drives event micro-batches through the REAL
  * serving pipeline (MemoryStream → decode → scoreBatch → KV writes in
  * foreachBatch) against a model fitted on sf-scale data, and reports
  * events/s plus batch-latency percentiles.
  *
  * Domain mapping (the star schema has no books, so the model fits over
  * its natural analogue): part → book (title = p_name, author = p_brand),
  * p_type → tag dimension, p_size → tag weight, orders⋈lineitem →
  * collect events (userId = o_custkey, bookId = l_partkey).
  *
  * Modes (each writes its OWN artifact, so the clean serving number is
  * never overwritten by a diagnostic run — r10 verdict 1):
  *  - default: idle-box measurement → `target/bench_serve.json`
  *  - `SPARK_GRAFT_SERVE_CONTEND=1`: the same measurement under a
  *    deliberate co-tenant load (threads looping shuffle-heavy Spark jobs
  *    on the same scheduler — the in-harness form of the r10 co-located
  *    50× pipeline that reproduced the burst outlier) →
  *    `target/bench_serve_contended.json`
  *  - `SPARK_GRAFT_SERVE_SWAP=1`: steady baseline, then a hot generation
  *    swap fired MID-BURST (2,500-event batches in flight while the new
  *    generation builds and the fair gate lands the pointer exchange) →
  *    `target/bench_serve_swap.json`. Verifies the "pauses only for a
  *    pointer swap" claim under load, not just on trickle batches.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.tools.BenchServe
  * Prints one JSON line (also written to the mode's artifact).
  */
object BenchServe {

  /** Phase evidence for one measurement attempt: the box's documented
    * degraded phase shows summed TASK time inflating 10-30× on identical
    * batches with GC flat (r10/r11 NOTES) — so the self-qualifying signal
    * is max/median task seconds across batches of identical work, maxed
    * over the batch-size families measured. Clean batches land well under
    * [[PhaseThreshold]]; the degraded phase lands far above it. */
  final case class PhaseStamp(phase: String, taskInflation: Double,
                              medTaskS: Double)

  /** Max tolerated per-family max/median task-time ratio before an
    * attempt is stamped degraded. Clean-phase identical batches vary by
    * tens of percent; the degraded phase inflates 10-30× — the threshold
    * sits an order of magnitude under the failure signature and well
    * above honest jitter. */
  val PhaseThreshold = 4.0

  /** Stamp one attempt from its per-family per-batch summed task seconds
    * (a family = batches of identical work, e.g. all 250-event steady
    * batches). Families with fewer than 2 samples carry no ratio and are
    * skipped. The median is the LOWER middle element (r12 ADVICE): with
    * the upper middle, a 2-sample family's median IS its max, so
    * max/median is structurally 1.0 and the family can never vote
    * degraded even when one batch inflated 30× — the lower middle keeps
    * every admitted family able to detect inflation (for n=2 the ratio
    * degrades to max/min, strictly more sensitive, never less). */
  def phaseStamp(families: Seq[Seq[Double]],
                 threshold: Double = PhaseThreshold): PhaseStamp = {
    val ratios = families.filter(_.size >= 2).map { f =>
      val s = f.sorted
      val med = s((s.size - 1) / 2)
      (if (med > 0) s.last / med else 1.0, med)
    }
    val worst = if (ratios.isEmpty) 1.0 else ratios.map(_._1).max
    val med = if (ratios.isEmpty) 0.0 else ratios.map(_._2).max
    PhaseStamp(if (worst <= threshold) "clean" else "degraded", worst, med)
  }

  /** The only writer of serving artifacts: refuses a payload with no
    * phase stamp, so an unqualified capture can never become the durable
    * number a downstream reader mistakes for the product (r11 verdict 1). */
  def writeArtifact(outName: String, json: String): Unit = {
    require(json.contains("\"phase\":"),
      s"BenchServe.writeArtifact($outName): refusing to write an " +
        "UNSTAMPED serving artifact — every committed serving number " +
        "must carry its own phase evidence (phase/task_inflation columns)")
    val outPath = java.nio.file.Paths.get(s"target/$outName")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val contend = sys.env.contains("SPARK_GRAFT_SERVE_CONTEND")
    val swapMode = sys.env.contains("SPARK_GRAFT_SERVE_SWAP")
    require(!(contend && swapMode),
      "BenchServe: CONTEND and SWAP are separate modes with separate " +
        "artifacts — combining them would overwrite one mode's committed " +
        "artifact with the other's measurement; run them separately")
    val spark = Harness.session("BenchServe")
    import spark.implicits._

    val part = Tables.part(spark, sfDir)
    val book = part.select(col("p_partkey").as("id"), col("p_name").as("title"),
      col("p_brand").as("author"),
      (col("p_retailprice") % 5 + 5).as("rating"))
    val tag = part.select(col("p_type").as("t")).distinct()
      .withColumn("id", xxhash64(col("t")).bitwiseAND(lit(Long.MaxValue)))
      .select(col("id"), col("t").as("tag"))
    val bookTag = part.join(tag, part("p_type") === tag("tag"))
      .select(col("p_partkey").as("bookId"), col("id").as("tagId"),
        (col("p_size") % 5 + 1).as("num"))
    val collect = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("userId"), col("l_partkey").as("bookId"),
        lit(1).as("isCollect"), col("o_orderdate").as("time"))

    val tFit0 = System.nanoTime()
    val fitted0 = RecommenderModel.fit(book, tag, bookTag, collect,
      minCollected = 10, minDf = 5.0, stopWords = Nil, k = 10, hotN = 30)
    // deploy the way a serving job actually runs (ST4): save the fitted
    // artifacts and load them back, so per-batch lineage is parquet scans
    // of materialized artifacts — NOT a re-execution of the fit DAG; fit
    // time is reported separately, never amortized into serving latency.
    // The collect snapshot is materialized for the same reason.
    val modelDir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    RecommenderModel.save(fitted0, modelDir)
    collect.write.mode("overwrite").parquet(s"$modelDir/collect")
    val fitted = RecommenderModel.load(spark, modelDir)
    val servedCollect = spark.read.parquet(s"$modelDir/collect")
    val users = fitted.userBooks.select("userId").as[Long].collect()
    val fitSecs = (System.nanoTime() - tFit0) / 1e9

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    InMemoryKV.clear()
    val kv = new InMemoryKV
    val debugStages = sys.env.contains("SPARK_GRAFT_SERVE_DEBUG")
    val (q, handle) = ServeJob.startSwappable(stream.toDF(), fitted,
      servedCollect, kv,
      trigger = Trigger.ProcessingTime(0L),
      stageTimer = if (debugStages)
        (n, s) => println(f"SERVE_STAGE $n $s%.2f s") else (_, _) => ())

    // Trigger sizing is the latency/throughput knob: per-batch cost is
    // ~fixed overhead + marginal cost × events. With the broadcast serve
    // index the fixed cost is small enough that 250-event triggers hold
    // p50 ≈ 1.6 s at ~140 ev/s on this box (r7's exchange pipeline was
    // p50 4.8 s at 51 ev/s); tune down for latency-critical deployments.
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCH", "250").toInt
    val nBatches = 12
    var cursor = 0
    def batchJson(n: Int): Seq[String] = {
      val rows = (0 until n).map { i =>
        s"""{"userId": ${users((cursor + i) % users.length)}}"""
      }
      cursor += n
      rows
    }
    // Per-batch attribution for the floating outlier batch (r9 NOTES):
    // task/exec-GC deltas via the harness listener (its snapshot drains
    // the bus, so late task-end events never ride the next batch), driver
    // GC + JIT deltas via MX beans. Discriminates executor work (task time
    // up), executor GC, driver full-GC pause, and JIT/codegen compilation
    // (wall up with everything else flat = driver-side stall outside the
    // JVM's view).
    val totals = new Harness.TaskTotals(spark)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def driverGcMs: Long = {
      var s = 0L; gcBeans.forEach(b => s += math.max(b.getCollectionTime, 0)); s
    }
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    // per-batch summed task seconds, grouped by batch-size family
    // (identical work within a family) — the attempt's phase evidence
    val familyTasks = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[Double]]
    def oneBatch(n: Int, stampFamily: Boolean = true): Double = {
      val m0 = totals.snapshot()
      val gc0 = driverGcMs; val jit0 = jitBean.getTotalCompilationTime
      val t0 = System.nanoTime()
      stream.addData(batchJson(n))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val m = totals.snapshot() - m0
      // stampFamily=false for swap-window batches: the listener sums
      // EVERY task in the process, so the concurrent generation build's
      // task time would ride the burst family and a healthy run could
      // stamp itself degraded (review finding) — the swap batches carry
      // their own columns (swap_post_max etc.), they just don't vote on
      // the box's phase
      if (stampFamily)
        familyTasks.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty[Double]) +=
          m.taskMs / 1e3
      println(f"SERVE_BATCH n=$n wall=$wall%.2f task=${m.taskMs / 1e3}%.1f " +
        f"execGc=${m.gcMs / 1e3}%.1f drvGc=${(driverGcMs - gc0) / 1e3}%.1f " +
        f"jit=${(jitBean.getTotalCompilationTime - jit0) / 1e3}%.1f s gen=${handle.generation}")
      wall
    }
    def measure(n: Int, batches: Int): Seq[Double] = {
      val raw = (1 to batches).map(_ => oneBatch(n))
      println(raw.map(t => f"$t%.2f").mkString(s"SERVE_RAW n=$n [", " ", "]"))
      raw.sorted
    }

    // Deliberate co-tenant: threads looping shuffle-heavy Spark jobs on
    // the SAME local scheduler, so serve-batch tasks queue behind corpus
    // work exactly as in the r10 causal repro. Started before warmup so
    // even the first measured batch is contended.
    val contendStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val contendThreads: Seq[Thread] = if (!contend) Nil else (1 to 4).map { i =>
      val t = new Thread(() => {
        while (!contendStop.get()) {
          // bounded per-row term: a raw xxhash64 sum overflows Long after
          // a handful of rows under ANSI mode, killing each co-tenant job
          // in its first task wave — the "load" became fail-restart churn
          // (caught r12 reading the contended run's executor errors)
          try spark.range(0, 1L << 31, 1, 64)
            .selectExpr("sum(pmod(xxhash64(id, id + 1, id * 7), 1000000007)) as s")
            .collect()
          catch { case _: Throwable => () } // session shutdown race at exit
        }
      }, s"graft-cotenant-$i")
      t.setDaemon(true); t.start(); t
    }

    // SELF-QUALIFYING attempts (r11 verdict 1 — three rounds running, the
    // committed artifact recorded the box's degraded phase instead of the
    // product): every attempt stamps itself with its own task-inflation
    // evidence; a degraded attempt is RE-RUN (up to SPARK_GRAFT_SERVE_
    // ATTEMPTS, default 2) and, if the box never yields a clean window,
    // the artifact ships stamped "degraded" so no downstream reader can
    // mistake it for the product number.
    val maxAttempts = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_SERVE_ATTEMPTS", "2").toInt)
    val burstN = batchSize * 10
    var attempt = 0
    var json = ""
    var done = false
    while (!done) {
      attempt += 1
      familyTasks.clear()
      // warm-up batch: codegen + state init, excluded from the numbers
      stream.addData(batchJson(batchSize))
      q.processAllAvailable()
      val lat = measure(batchSize, nBatches)
      // Burst/trickle envelope: the reference's pub/sub loop (ULK:182-213)
      // scores one event per Redis round-trip, so a 10x burst queues 10x
      // the wall-clock. Micro-batching absorbs it: the per-batch cost is
      // fixed-overhead + marginal-cost x events, so a 2,500-event burst
      // should cost far less than 10x the 250-event batch, and a 10-event
      // trickle should collapse toward the fixed overhead.
      val burst = measure(burstN, 4)

      // Hot-swap-under-load (r10 verdict 4): with 2,500-event bursts
      // back-to-back, fire handle.swap() on another thread. The generation
      // build + warmup overlap live batches (they never take the gate); the
      // fair gate then grants the swap the next inter-batch boundary. The
      // claim under test: no post-swap batch pays more than ~2× the loaded
      // pre-swap p95 — the warmup hook already compiled and broadcast the
      // new generation, so the first post-swap batch is NOT a cold start.
      var swapJson = ""
      if (swapMode) {
        val genBefore = handle.generation
        @volatile var swapWall = -1.0
        @volatile var swapErr: Option[Throwable] = None
        val swapT = new Thread(() => {
          val t0 = System.nanoTime()
          try handle.swap(fitted, servedCollect)
          catch { case e: Throwable => swapErr = Some(e) }
          swapWall = (System.nanoTime() - t0) / 1e9
        }, "graft-swap")
        swapT.start()
        val during = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
        var postSeen = 0
        while ((swapT.isAlive || postSeen < 3) && during.size < 24 &&
            swapErr.isEmpty) {
          // only build-overlapped batches are excluded from the phase
          // stamp (their task sums carry the concurrent generation
          // build); once the swap thread is done, the tail batches vote
          // again so the swap columns ship WITH phase evidence
          val w = oneBatch(burstN, stampFamily = !swapT.isAlive)
          val g = handle.generation
          if (g > genBefore) postSeen += 1
          during += ((w, g))
        }
        swapT.join()
        swapErr.foreach(throw _)
        require(postSeen >= 1, "swap never installed within 24 burst batches")
        val pre = burst ++ during.filter(_._2 == genBefore).map(_._1)
        val post = during.filter(_._2 > genBefore).map(_._1)
        // a real p95, not the max: with up to 28 pre samples, .last is p100
        // and one pre outlier would mask a genuine post-swap regression
        // against the "~2× the loaded pre-swap p95" claim (r11 review)
        val preSorted = pre.sorted
        val preP95 = preSorted(
          math.min(preSorted.size - 1, math.ceil(preSorted.size * 0.95).toInt - 1))
        val postMax = post.max
        swapJson = s""","swap_build_s":${f"$swapWall%.2f"},""" +
          s""""swap_pre_batches":${pre.size},"swap_pre_p95_s":${f"$preP95%.3f"},""" +
          s""""swap_post_batches":${post.size},"swap_post_max_s":${f"$postMax%.3f"},""" +
          s""""swap_post_over_pre":${f"${postMax / preP95}%.2f"}"""
        println(s"SERVE_SWAP${swapJson.drop(1)}")
      }

      val trickle = measure(10, 8)
      val served = InMemoryKV.snapshot.keys.count(_.startsWith("b_like:"))
      val total = lat.sum
      // the attempt's own phase evidence; a deliberately co-tenant run is
      // its own label — contention is the measurement there, not a defect
      val stamp = phaseStamp(familyTasks.values.map(_.toSeq).toSeq)
      val phase = if (contend) "contended" else stamp.phase
      json =
        s"""{"metric":"serve","sf":"$sfDir","contended":$contend,""" +
          s""""fit_s":${f"$fitSecs%.1f"},""" +
          s""""batches":$nBatches,"batch_events":$batchSize,""" +
          s""""events_per_s":${f"${nBatches * batchSize / total}%.0f"},""" +
          s""""p50_batch_s":${f"${lat(nBatches / 2 - 1)}%.3f"},""" +
          s""""p95_batch_s":${f"${lat(nBatches - 1)}%.3f"},""" +
          s""""burst_events":$burstN,"burst_p95_s":${f"${burst.last}%.3f"},""" +
          s""""burst_events_per_s":${f"${burstN * burst.length / burst.sum}%.0f"},""" +
          s""""trickle_p95_s":${f"${trickle.last}%.3f"},""" +
          s""""served_keys":$served$swapJson,""" +
          s""""phase":"$phase",""" +
          s""""task_inflation":${f"${stamp.taskInflation}%.2f"},""" +
          s""""task_med_s":${f"${stamp.medTaskS}%.2f"},""" +
          s""""attempts":$attempt}"""
      println(s"SERVE_PHASE phase=$phase " +
        f"task_inflation=${stamp.taskInflation}%.2f attempt=$attempt")
      if (phase == "degraded" && attempt < maxAttempts) {
        println("SERVE_PHASE degraded attempt discarded — re-measuring " +
          "(the box is in its documented task-inflation phase)")
      } else done = true
    }
    // where the batch time goes (driver planning vs execution): the
    // streaming progress durations for the LAST few batches
    q.recentProgress.takeRight(3).foreach { p =>
      println(s"SERVE_PROGRESS durationMs=${p.durationMs}")
    }
    contendStop.set(true)
    contendThreads.foreach(_.join(30000))
    q.stop()
    totals.close()
    // one artifact per mode: a diagnostic run must never overwrite the
    // committed idle-box serving number (r10 verdict 1)
    val outName =
      if (contend) "bench_serve_contended.json"
      else if (swapMode) "bench_serve_swap.json"
      else "bench_serve.json"
    writeArtifact(outName, json)
    println(json)
    spark.stop()
  }
}
