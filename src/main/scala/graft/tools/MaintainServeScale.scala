package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.spark.sql.functions._

/** Maintenance-UNDER-SERVE rehearsal (round 11): the zero-downtime cycle
  * the pointer-commit layout exists for. A serve loop runs continuous
  * queries against a live IVF index while (a) a COMPACT and (b) a full
  * REBUILD flip `CURRENT` with `retainSuperseded = true`, and
  * [[graft.operators.Ann.sweepIvfIndex]] deletes the old generation only
  * after the in-flight reader drains. The claim under measurement: ZERO
  * reader errors across both flips and both sweeps (planning resolves
  * the pointer, execution finishes on the retained generation), with
  * query walls staying in band. The pre-r11 in-place swap fails this
  * harness by construction — its no-manifest window is several metadata
  * ops wide and the hammer loop resolves continuously.
  *
  * Usage: runMain graft.tools.MaintainServeScale <sfDir-or-scaled-dir>
  *        [nCentroids=sqrt(n)]
  */
object MaintainServeScale {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("MaintainServeScale")

    val emb = graft.Tables.embeddings(spark, args.head)
    val n = emb.count()
    val nCents = if (args.length > 1) args(1).toInt
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val ids = emb.select(min("vec_id"), max("vec_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = lo + (hi - lo) / 2
    val queries = emb.select(col("vec_id"), col("embedding")).limit(32)
      .persist(); queries.count()

    val dir = java.nio.file.Files.createTempDirectory("maintainserve").toString
    val t0 = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", dir, nCentroids = nCents, seed = 42L,
      distributedFit = true)
    // a few appended shards so the compact has history to fold
    (0 until 3).foreach { d =>
      val step = math.max(1L, (hi - mid) / 3)
      val a = mid + 1 + d * step
      val b = if (d == 2) hi + 1 else a + step
      graft.operators.Ann.appendIvfShard(
        emb.where(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding", dir)
    }
    println(f"MAINTAIN setup ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(rows=$n cents=$nCents shards=base+3)")

    // serve loop: every iteration resolves the pointer (plan) and scans
    // the probed cells (execute); phase is stamped by the maintenance side
    val stop = new AtomicBoolean(false)
    val phase = new AtomicReference[String]("before")
    val done = new AtomicLong(0L)
    val errors = new ConcurrentLinkedQueue[(String, String)]()
    val log = new ConcurrentLinkedQueue[(String, Double, String)]()
    def oneQuery(): Unit = {
      val p = phase.get()
      try {
        // time the query alone; the generation label is probed OUTSIDE
        // the timed window (it is the generation live at query END —
        // approximate within one concurrent flip, which is all the
        // distinct-count column needs)
        val q0 = System.nanoTime()
        graft.operators.Ann.queryIvfIndex(
          queries, "vec_id", "embedding", dir, k = 10, nProbe = 4).count()
        val wall = (System.nanoTime() - q0) / 1e9
        log.add((p, wall, graft.operators.Ann.liveIvfGeneration(spark, dir)))
      } catch {
        case t: Throwable => errors.add((p, t.toString))
      } finally done.incrementAndGet()
    }
    oneQuery() // warm (codegen + first resolve)
    log.clear()
    val serve = new Thread(() => { while (!stop.get()) oneQuery() }, "serve")
    serve.setDaemon(true); serve.start()
    // drain rule: after a flip, wait for two more query COMPLETIONS — the
    // first may be the in-flight pre-flip plan finishing, the second
    // necessarily planned after the flip — then the old gen is unread
    def drainThen(tag: String)(sweep: => Unit): Unit = {
      val mark = done.get()
      while (done.get() < mark + 2) Thread.sleep(50)
      val ts = System.nanoTime()
      sweep
      println(f"MAINTAIN sweep_$tag ${(System.nanoTime() - ts) / 1e9}%.2f s")
    }

    Thread.sleep(3000) // a "before" band
    phase.set("compact")
    val tc = System.nanoTime()
    val rows = graft.operators.Ann.compactIvfIndex(
      spark, dir, retainSuperseded = true)
    println(f"MAINTAIN compact ${(System.nanoTime() - tc) / 1e9}%.1f s ($rows rows)")
    phase.set("post-compact")
    drainThen("compact") {
      val swept = graft.operators.Ann.sweepIvfIndex(spark, dir)
      require(swept.nonEmpty, "compact sweep found nothing to delete")
    }
    Thread.sleep(2000)
    phase.set("rebuild")
    val tr = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding", dir,
      nCentroids = nCents, seed = 43L, distributedFit = true,
      retainSuperseded = true)
    println(f"MAINTAIN rebuild ${(System.nanoTime() - tr) / 1e9}%.1f s")
    phase.set("post-rebuild")
    drainThen("rebuild") {
      val swept = graft.operators.Ann.sweepIvfIndex(spark, dir)
      require(swept.nonEmpty, "rebuild sweep found nothing to delete")
    }
    Thread.sleep(3000) // an "after" band
    stop.set(true); serve.join(120000)

    val byPhase = log.toArray(Array.empty[(String, Double, String)])
      .groupBy(_._1)
    Seq("before", "compact", "post-compact", "rebuild", "post-rebuild")
      .foreach { p =>
        val ws = byPhase.getOrElse(p, Array.empty).map(_._2).sorted
        val gens = byPhase.getOrElse(p, Array.empty).map(_._3).distinct.length
        if (ws.isEmpty) println(s"MAINTAIN phase_$p n=0")
        else println(f"MAINTAIN phase_$p n=${ws.length} " +
          f"p50=${ws(ws.length / 2)}%.2f max=${ws.last}%.2f s gens=$gens")
      }
    val errs = errors.toArray(Array.empty[(String, String)])
    println(s"MAINTAIN reader_errors=${errs.length}" +
      (if (errs.nonEmpty) s" FIRST=${errs.head}" else ""))
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
