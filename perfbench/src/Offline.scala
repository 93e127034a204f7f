package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.jobs.{DailyLogJob, RecommenderModel, SimilarBooksJob}

/** The paper's two offline planes through the public jobs — the
  * similar-books batch, the model fit + save, and the daily-log batch
  * into the KV sink — and the checks on what they write. */
object Offline {

  /** b_similar list cap (the reference's in-memory site). */
  val Store = 15

  final case class Pass(simS: Double, fitS: Double, dailyS: Double,
                        kv: Map[String, String])

  /** The fit settings the serving micro-bench uses at this data shape. */
  def fit(c: Inputs.Catalog): RecommenderModel.Fitted =
    RecommenderModel.fit(c.book, c.tag, c.bookTag, c.collect,
      minCollected = 10, minDf = 5.0, stopWords = Nil, k = 10, hotN = 30)

  /** One offline pass: input -> every b_similar, b_like and u_similar key. */
  def pass(spark: SparkSession, c: Inputs.Catalog, modelDir: String): Pass = {
    val kv = new BenchKV
    BenchKV.clear()
    val t0 = Clock.nowNs()
    SimilarBooksJob.run(c.book, c.tag, c.bookTag, kv, store = Store)
    val t1 = Clock.nowNs()
    RecommenderModel.save(fit(c), modelDir)
    val t2 = Clock.nowNs()
    DailyLogJob.run(c.views, RecommenderModel.load(spark, modelDir), kv)
    val t3 = Clock.nowNs()
    Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, BenchKV.snapshot)
  }

  /** Output checks on one pass's KV state. `withNeighbours`: the books
    * that keep at least one neighbour after title dedup. */
  def check(c: Inputs.Catalog, kv: Map[String, String],
            withNeighbours: Set[Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val similar = kv.collect { case (k, v) if k.startsWith("b_similar:") =>
      k.stripPrefix("b_similar:").toLong -> v.split(",").toSeq.filter(_.nonEmpty) }
    if (withNeighbours.isEmpty) problems += "no book has neighbours"
    val missing = withNeighbours -- similar.keySet
    if (missing.nonEmpty)
      problems += s"${missing.size} books with neighbours have no b_similar key"
    val extra = similar.keySet -- withNeighbours
    if (extra.nonEmpty) problems += s"${extra.size} b_similar keys for books without neighbours"
    similar.foreach { case (id, list) =>
      if (list.size > Store || list.isEmpty)
        problems += s"b_similar:$id holds ${list.size} entries (cap $Store)"
      if (list.contains(id.toString)) problems += s"b_similar:$id lists itself"
    }
    c.logUsers.foreach { u =>
      if (!kv.contains(s"b_like:$u") || !kv.contains(s"u_similar:$u"))
        problems += s"log user $u has no b_like/u_similar key"
    }
    problems.result().take(20)
  }
}
