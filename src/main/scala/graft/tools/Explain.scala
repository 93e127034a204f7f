package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: print formatted physical plans, one lane per subject.
  *
  *  - `Explain <sfDir> <query>...`: named SparkEntry queries — audits
  *    pushdown / broadcast / codegen / WindowGroupLimit characteristics.
  *  - `Explain --lex <indexDir> <term>...`: the lexical index's SERVING
  *    query ([[graft.jobs.LexIngestJob.query]]) against an on-disk index —
  *    no docs-component scan may appear.
  *  - `Explain --lsh <sfDir>`: the MinHash-LSH pair pipeline
  *    (`Dedup.lshPairsStaged`) — the public entry points persist the
  *    pairs, so their own explains hide this subtree behind an
  *    InMemoryTableScan.
  *  - `Explain --suffix <sfDir>`: ONE suffix-doubling round
  *    (`SuffixDedup.doublingRound`) over a seed-shaped (doc, off, r)
  *    frame — the loop checkpoints per round, so no end-to-end explain
  *    shows the per-round shape. The input's lineage is cut to a bare RDD
  *    scan, mirroring the localCheckpoint'ed frames the real loop feeds
  *    each round, so the planner makes the same choices. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("Explain")
    args.toSeq match {
      case Seq("--lex", dir, terms @ _*) =>
        graft.jobs.LexIngestJob.query(spark, dir, terms).explain("formatted")
      case Seq("--lsh", sfDir) =>
        val (pairs, sh) = graft.operators.Dedup.lshPairsStaged(
          graft.Tables.documents(spark, sfDir), "doc_id", "text",
          shingleN = 3, bands = 12, rows = 8, minJaccard = 0.6,
          maxBucket = 200L)
        pairs.explain("formatted")
        sh.unpersist()
      case Seq("--suffix", sfDir) =>
        val idsLazy = graft.Tables.documents(spark, sfDir)
          .where(col("doc_id") < 2000)
          .select(col("doc_id").as("__doc"),
            posexplode(split(col("text"), "")).as(Seq("__off", "__c")))
          .select(col("__doc"), col("__off").cast("long").as("__off"),
            xxhash64(col("__c")).as("__r"))
        val ids = spark.createDataFrame(idsLazy.rdd, idsLazy.schema)
        val (round, release) =
          graft.operators.SuffixDedup.doublingRound(ids, 8L)
        round.explain("formatted")
        release()
      case Seq(sfDir, names @ _*) => names.foreach { n =>
        println(s"\n========== $n ==========")
        graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
