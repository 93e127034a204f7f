package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cold-cache/warm-JVM 3-run timer (the SCALING.md rehearsal workhorse).
  * Each run prints its wall and the summed task metrics: the ANN
  * rehearsal showed this box produces bimodal walls on identical seeded
  * runs, and wall-vs-taskTime is the 10-second triage that separates
  * "executed more work" (task time up: plan flip, e.g. broadcast→shuffle
  * at a threshold straddle) from "same work, driver stalled" (task time
  * flat: e.g. AQE fusing a skinny exchange into a single-task stage).
  *
  * Lanes:
  *  - `TimeOne <sfDir> <query>...`: any declared query, `count()`ed;
  *  - `TimeOne <sfDir> --stages`: the flagship `prepareFull` pipeline
  *    (the e2e2 configuration), with a `STAGES` JSON line before each
  *    run's TIMING line giving the eager stage breakdown (see `CorpusPrep.prepareFull`'s
  *    scaladoc for what each stage's actions execute) plus
  *    `final_action` — the caller-side count() that runs the lazy DSIR
  *    weight model + semi-join + the report agg. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Harness.session("TimeOne")
    val totals = new Harness.TaskTotals(spark)
    def timed(label: String)(run: => Unit): Unit = (1 to 3).foreach { i =>
      spark.catalog.clearCache() // mirror Bench: cold cache, warm JVM
      System.gc() // let ContextCleaner drop prior runs' cached blocks
      val before = totals.snapshot()
      val t0 = System.nanoTime()
      run
      println(f"TIMING $label run$i ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        (totals.snapshot() - before))
    }
    args.tail.foreach {
      case "--stages" => timed("prepare_full")(prepareStages(spark, sfDir))
      case n => timed(n)(graft.SparkEntry.queries(n)(spark, sfDir).count())
    }
    spark.stop()
  }

  private def prepareStages(spark: SparkSession, sfDir: String): Unit = {
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val docs = graft.Tables.documents(spark, sfDir)
    val out = graft.jobs.CorpusPrep.prepareFull(
      docs.where(col("doc_id") >= 3), "doc_id", "text",
      benchmark = Some(docs.where(col("doc_id") < 3).select(col("text"))),
      dsirTarget = Some(col("lang") === "en"),
      dsirKeep = 200,
      stageTimer = (n, s) => { stages(n) = s; () })
    val tAct = System.nanoTime()
    out.groupBy("split").agg(count(lit(1)).as("n"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy("split").count()
    stages("final_action") = (System.nanoTime() - tAct) / 1e9
    val body = stages.map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
    println(s"STAGES {$body}")
  }
}
