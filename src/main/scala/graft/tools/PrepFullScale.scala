package graft.tools

import org.apache.spark.sql.functions._

/** Scale rehearsal for the FULL composed pipeline `CorpusPrep.prepareFull`
  * (suffix-region removal → quality/lang → near-dup corpus dedup →
  * decontamination → DSIR → split → pack) — the r11 verdict-6 item: the
  * prepareFull curve stopped at 50×, and the suffix pass's intra-run
  * peak pressure is the known envelope risk. Mirrors SuffixScale's
  * triage columns (summed task time, GC, spill, shuffle read — the
  * load-independent evidence) and adds a PEAK-HEAP sampler, since the
  * known failure mode is an intra-run peak-pressure OOM, not a leak
  * (SCALING.md §r11 adjudication).
  *
  * Usage: PrepFullScale <corpusDir> [runs=1]
  * (one JVM per config is the rehearsal hygiene — pass runs>1 only to
  * measure warm-JVM effects deliberately) */
object PrepFullScale {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val runs = if (args.length > 1) args(1).toInt else 1
    val spark = Harness.session("PrepFullScale")
    val totals = new Harness.TaskTotals(spark)
    // intra-run peak pressure is the documented envelope risk: sample the
    // heap at 250 ms and report the run's high-water mark
    val peak = new java.util.concurrent.atomic.AtomicLong
    val stopSampler = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => {
      val bean = java.lang.management.ManagementFactory.getMemoryMXBean
      while (!stopSampler.get()) {
        peak.accumulateAndGet(bean.getHeapMemoryUsage.getUsed, Math.max)
        Thread.sleep(250)
      }
    }, "prepfull-peak")
    sampler.setDaemon(true); sampler.start()
    val docs = graft.Tables.documents(spark, dir)
    (1 to runs).foreach { i =>
      spark.catalog.clearCache(); System.gc()
      val before = totals.snapshot(); peak.set(0)
      val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      val out = graft.jobs.CorpusPrep.prepareFull(
        docs.where(col("doc_id") % 100 =!= 0), "doc_id", "text",
        benchmark = Some(docs.where(col("doc_id") % 100 === 0)
          .select(col("text"))),
        dsirTarget = Some(col("lang") === "en"),
        dsirKeep = 200,
        stageTimer = (n, s) => { stages(n) = s; () })
      val tAct = System.nanoTime()
      val nOut = out.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val m = totals.snapshot() - before
      stages("final_action") = (System.nanoTime() - tAct) / 1e9
      val body = stages.map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",")
      println(f"""{"tool":"PrepFullScale","dir":"$dir","run":$i,""" +
        f""""wall_s":$wall%.1f,"rows_out":$nOut,""" +
        f""""task_s":${m.taskMs / 1e3}%.0f,"gc_s":${m.gcMs / 1e3}%.0f,""" +
        f""""spill_gb":${m.spillBytes / 1e9}%.1f,"shuffle_read_mb":${m.shuffleReadBytes / 1e6}%.1f,""" +
        f""""peak_heap_gb":${peak.get / 1e9}%.1f,"stages":{$body}}""")
    }
    stopSampler.set(true)
    spark.stop()
  }
}
