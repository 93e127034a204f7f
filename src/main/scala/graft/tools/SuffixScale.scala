package graft.tools

/** Scale-rehearsal timer for the suffix-array pass over the FULL corpus
  * (the d14 gate query pins a fixed doc_id slice, so it cannot measure
  * corpus scaling — this times `duplicatedRegionsStaged` end to end at
  * whatever corpus the dir holds). Mirrors TimeOne's protocol: cold
  * cache, warm JVM, 3 timed runs — and (r8) TimeOne's task-metrics
  * line, so a surprising wall can be triaged as box noise (same bytes,
  * swinging task time) vs a real plan change (SCALING.md §25×). */
object SuffixScale {
  def main(args: Array[String]): Unit = {
    // SUFFIX_SHUFFLE_PARTITIONS: the r8 25× triage showed the pass
    // spills once per-partition sort working sets outgrow execution
    // memory at a FIXED 32 partitions — the knob proves the documented
    // rule (partitions ∝ data keeps working sets constant, spill gone).
    val spark = Harness.session("SuffixScale")
    sys.env.get("SUFFIX_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val totals = new Harness.TaskTotals(spark)
    val docs = graft.Tables.documents(spark, args.head)
    (1 to 3).foreach { i =>
      spark.catalog.clearCache()
      System.gc()
      val before = totals.snapshot()
      val t0 = System.nanoTime()
      val staged = graft.operators.SuffixDedup.duplicatedRegionsStaged(
        docs, "doc_id", "text", minLength = 64)
      val n = staged.df.count()
      staged.release()
      println(f"TIMING d14full_suffix run$i ${(System.nanoTime() - t0) / 1e9}%.2f s regions=$n " +
        (totals.snapshot() - before))
    }
    spark.stop()
  }
}
