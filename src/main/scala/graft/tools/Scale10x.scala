package graft.tools

import org.apache.spark.sql.functions._

/** Scale-rehearsal corpus generator (VERDICT r6 task 1): writes an N×
  * replica of `<sfDir>/documents.parquet` to `<outDir>/documents.parquet`.
  *
  * Replica i > 0 applies a TOKEN BIJECTION (every whitespace token t →
  * `t_ri`): a bijection preserves every within-replica similarity and
  * duplication relation EXACTLY (exact dups stay exact, n-gram/MinHash
  * Jaccard is invariant under token renaming, suffix-array repeated
  * regions keep their repeat structure) while reducing cross-replica
  * shingle overlap to zero — so the N× corpus has the SAME duplicate-rate
  * character as the 1× corpus, just N× the rows. Naive replication
  * (same text, new ids) would instead plant 10 near-identical copies of
  * every document and measure the dedup *output* explosion, not the
  * engine's scaling.
  *
  * Usage: Scale10x <sfDir> <outDir> [factor=10]
  */
object Scale10x {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session("Scale10x")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val replicas = (0 until factor).map { i =>
      val text =
        if (i == 0) col("text")
        else array_join(
          transform(split(col("text"), "\\s+"), t => concat(t, lit(s"_r$i"))),
          " ")
      docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_.unionAll(_))
    replicas.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    println(s"wrote ${factor}x corpus: ${spark.read.parquet(s"$outDir/documents.parquet").count()} docs")

    // Embeddings: replica i applies a per-replica SIGN-FLIP pattern — an
    // orthogonal transform, so every within-replica cosine/dot/L2 relation
    // is EXACTLY invariant (the vector-space analog of the token
    // bijection) while cross-replica cosines decorrelate. The flip mask
    // for (replica, dim) is a deterministic bit of a small hash.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = emb.selectExpr("size(embedding)").first().getInt(0)
    val embReplicas = (0 until factor).map { i =>
      val signs = Array.tabulate(dim) { j =>
        if (i == 0) 1.0f
        else if (((i * 1315423911L + j * 2654435761L) >>> 7 & 1L) == 1L) -1.0f
        else 1.0f
      }
      val signCol = array(signs.map(lit): _*)
      emb.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        zip_with(col("embedding"), signCol, (x, s) => x * s).as("embedding"),
        col("label"))
    }.reduce(_.unionAll(_))
    embReplicas.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"wrote ${factor}x embeddings: ${spark.read.parquet(s"$outDir/embeddings.parquet").count()} vecs")
    spark.stop()
  }
}
