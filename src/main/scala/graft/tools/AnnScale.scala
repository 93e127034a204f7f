package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Ann

/** ANN-family 10× scale rehearsal (the similarity-stack companion to
  * `Scale10x`/`SuffixScale`'s dedup curve in SCALING.md): times the
  * PRODUCTION ANN paths at 1× and N× vector counts on the sign-flip
  * replica corpus (within-replica cosine structure exactly preserved).
  *
  * Paths timed — each with its documented scale knob applied, because the
  * rehearsal's point is whether the knobs hold, not whether fixed
  * parameters break:
  *  - lshTopK: auto-sized bits (log2(n/8)) — bucket fanout stays ~linear;
  *  - ivfTopK: nCentroids = ~sqrt(n), nProbe 4;
  *  - buildIvfIndex + queryIvfIndex(100 queries): the build-once cost vs
  *    the per-batch probe cost — the latter should scale with the probed
  *    FRACTION, not the corpus;
  *  - bruteForceTopK (20 queries): the linear-in-n baseline.
  *
  * Usage: AnnScale <dir1x> <dirNx>
  * Timing: cold cache, warm JVM; 3 runs each, prints all three — read the
  * median of runs 2-3 as steady state (same protocol as TimeOne).
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val Array(d1, dN) = args.take(2)
    val spark = Harness.session("AnnScale")

    // Nx = whatever factor the second dir was generated with (10× or
    // 100× corpora both go through here; the row-count line disambiguates)
    for ((dir, tag) <- Seq((d1, "1x"), (dN, "Nx"))) {
      // `label` is the bare op name; the scale tag is prefixed HERE, once
      // (r7 advice: call sites that re-embed the tag doubled the output)
      // ANNSCALE_RUNS (default 3): big-factor steps (100×) cost minutes
      // per run — 2 runs there beats 3 runs never. ANNSCALE_PATHS
      // (comma-separated label prefixes): at 100× the √n all-pairs lane
      // DIES BY DESIGN (n^1.5 candidates exhaust local spill disk) — the
      // filter lets the surviving lanes be measured in the same session.
      val nRuns = sys.env.getOrElse("ANNSCALE_RUNS", "3").toInt
      val pathFilter = sys.env.get("ANNSCALE_PATHS")
        .map(_.split(",").toSet)
      def time(label: String)(body: => Long): Unit =
        if (pathFilter.forall(_.exists(label.startsWith)))
        (1 to nRuns).foreach { i =>
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val rows = body
          println(f"ANNSCALE $tag $label run$i ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows rows)")
        }

      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      println(s"== $tag: $n vectors ==")
      val cents = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

      time("lshTopK_auto") {
        val out = Ann.lshTopK(emb, "vec_id", "embedding", k = 5, dim = 64)
        val c = out.count(); out.unpersist(true); c
      }
      time("ivfTopK_sqrtN") {
        val out = Ann.ivfTopK(emb, "vec_id", "embedding", k = 5,
          nCentroids = cents, nProbe = 4)
        val c = out.count(); out.unpersist(true); c
      }
      // the linear all-pairs lane: nCentroids ∝ n (constant ~64-vector
      // target cell), distributed MLlib fit — Σ|cell|² = n·64 stays
      // linear where the √n lane above is n^1.5 by construction
      val centsLinear = math.max(16, (n / 64L).toInt)
      time("ivfTopK_linear_mllib") {
        val out = Ann.ivfTopK(emb, "vec_id", "embedding", k = 5,
          nCentroids = centsLinear, nProbe = 4, distributedFit = true)
        val c = out.count(); out.unpersist(true); c
      }
      val idx = s"/tmp/annscale_idx_$tag"
      time("buildIvfIndex") {
        // the count is the build's own postings job finishing — but time
        // only the build; read the row count OUTSIDE the timed body
        Ann.buildIvfIndex(emb, "vec_id", "embedding", idx,
          nCentroids = cents)
        -1L
      }
      println(s"ANNSCALE $tag buildIvfIndex postings rows (untimed): " +
        spark.read.parquet(
          s"${Ann.resolveIvfDir(spark, idx)}/postings.parquet").count())
      time("queryIvfIndex_100q") {
        Ann.queryIvfIndex(emb.where(col("vec_id") < 100), "vec_id",
          "embedding", idx, k = 5, nProbe = 4).count()
      }
      time("bruteForce_20q") {
        Ann.bruteForceTopK(emb.where(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 5).count()
      }
    }
    spark.stop()
  }
}
