package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.jobs.{IndexIngestJob, LexIngestJob}
import graft.operators.Ann

/** `index_maintain`: the IVF vector and BM25 lexical indexes growing
  * through their ingest loops (compaction / fold budgets armed), one
  * batch at a time, then one client running a closed loop of query
  * rounds against the maintained indexes. */
object Index {

  final case class Size(seedRows: Int, batchRows: Int, dim: Int)

  val Cells = 16            // IVF centroids = mixture components
  val NProbe = 4
  val CompactAfter = 2      // IVF shards before an in-loop tiered compact
  val FoldAfter = 2         // lexical batches before an in-loop fold
  /** Measured batches per loop: the first fires the IVF compaction, the
    * second the lexical fold. */
  val Batches = 2
  /** Read rounds a run makes even when the writes took all its time. */
  val MinRounds = 2
  val TopK = 10
  val Vocab = 4000

  final class Corpus(seed: Long, size: Size) {
    val vecGen = new Inputs.Vectors(seed, size.dim, Cells)
    val docGen = new Inputs.Docs(seed, Vocab)
    private var nextId = 1L
    val vectors = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    def vecBatch(n: Int): Seq[(Long, Array[Double])] = {
      val b = Seq.fill(n) { nextId += 1; (nextId, vecGen.next()) }
      vectors ++= b; b
    }
    def docBatch(n: Int): Seq[(Long, Seq[String])] = {
      val b = Seq.fill(n) { nextId += 1; (nextId, docGen.next()) }
      docs ++= b; b
    }
    def inputBytes: Double =
      vectors.size * (8.0 + 8.0 * size.dim) + docs.map(d => 8.0 + d._2.map(_.length + 1).sum).sum
  }

  final case class Live(corpus: Corpus, ivfDir: String, lexDir: String,
                        vecStream: MemoryStream[(Long, Array[Double])],
                        docStream: MemoryStream[(Long, Seq[String])],
                        ivfQ: StreamingQuery, lexQ: StreamingQuery) {
    def stop(): Unit = { ivfQ.stop(); lexQ.stop() }
  }

  /** Seed both indexes and start both ingest loops. */
  def deploy(spark: SparkSession, a: Args, size: Size): Live = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val c = new Corpus(a.seed, size)
    val ivfDir = a.dir("ivf")
    val lexDir = a.dir("lex")
    Ann.buildIvfIndex(c.vecBatch(size.seedRows).toDF("id", "vec"), "id", "vec",
      ivfDir, nCentroids = Cells, seed = a.seed)
    LexIngestJob.seed(c.docBatch(size.seedRows).toDF("id", "tokens"), "id",
      "tokens", lexDir)
    val vs = MemoryStream[(Long, Array[Double])]
    val ds = MemoryStream[(Long, Seq[String])]
    val ivfQ = IndexIngestJob.start(vs.toDF().toDF("id", "vec"), "id", "vec",
      ivfDir, trigger = Trigger.ProcessingTime(0L),
      compactAfterShards = CompactAfter, compactBaseRatio = 0.3)
    val lexQ = LexIngestJob.start(ds.toDF().toDF("id", "tokens"), "id",
      "tokens", lexDir, trigger = Trigger.ProcessingTime(0L),
      foldAfterBatches = FoldAfter)
    Live(c, ivfDir, lexDir, vs, ds, ivfQ, lexQ)
  }

  sealed trait Kind
  case object IvfProbe extends Kind
  case object IvfExact extends Kind
  case object Bm25 extends Kind
  val Kinds: Seq[Kind] = Seq(IvfProbe, IvfExact, Bm25)

  def ivfQuery(spark: SparkSession, dir: String, q: Seq[(Long, Array[Double])],
               nProbe: Int): DataFrame = {
    import spark.implicits._
    Ann.queryIvfIndex(q.toDF("id", "vec"), "id", "vec", dir, TopK, nProbe)
  }

  def bm25Top(scores: DataFrame): DataFrame =
    scores.orderBy(col("score").desc, col("id").asc).limit(TopK)

  /** One read of `kind`, its rows collected. */
  def read(spark: SparkSession, l: Live, kind: Kind, qv: Inputs.Vectors,
           qd: Inputs.Docs): Unit = kind match {
    case IvfProbe => ivfQuery(spark, l.ivfDir, Seq((-1L, qv.next())), NProbe).collect()
    case IvfExact => ivfQuery(spark, l.ivfDir, Seq((-1L, qv.next())), Cells).collect()
    case Bm25 => bm25Top(LexIngestJob.query(spark, l.lexDir, qd.queryTerms())).collect()
  }

  /** Output checks against reference computations over everything
    * ingested. */
  def check(spark: SparkSession, c: Corpus, ivfDir: String, lexDir: String,
            seed: Long): Seq[String] = {
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    val qv = new Inputs.Vectors(seed, c.vectors.head._2.length, Cells, stream = 1)
    val queries = (1 to 5).map(i => (-i.toLong, qv.next()))
    val all = c.vectors.toSeq.toDF("id", "vec")
    def lists(df: DataFrame): Map[Long, Seq[Long]] =
      df.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    val exact = lists(ivfQuery(spark, ivfDir, queries, Cells))
    val brute = lists(Ann.bruteForceTopK(queries.toDF("id", "vec"), all, "id", "vec", TopK))
    if (exact != brute) problems += "full-probe IVF results differ from brute force"
    val (post0, lens) = LexIngestJob.componentsOf(c.docs.toSeq.toDF("id", "tokens"), "id", "tokens")
    val post = post0.persist()
    val qd = new Inputs.Docs(seed, Vocab, stream = 1)
    (0 until 3).foreach { _ =>
      val terms = qd.queryTerms()
      val got = bm25Top(LexIngestJob.query(spark, lexDir, terms)).as[(Long, Double)].collect().toSeq
      val want = bm25Top(LexIngestJob.scoreBm25(post, lens, terms)).as[(Long, Double)].collect().toSeq
      if (got.map(_._1) != want.map(_._1) ||
          got.zip(want).exists { case (x, y) => math.abs(x._2 - y._2) > 1e-9 })
        problems += s"BM25 top-$TopK for ${terms.mkString(" ")} differs from the batch scorer"
    }
    post.unpersist()
    // a generation fresh from a tiered compact holds no postings yet
    val hfs = new org.apache.hadoop.fs.Path(ivfDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ivfRows = Ann.resolveIvfDirs(spark, ivfDir).map(g => s"$g/postings.parquet")
      .filter { d =>
        val files = hfs.listFiles(new org.apache.hadoop.fs.Path(d), true)
        var found = false
        while (!found && files.hasNext) found = files.next().getPath.getName.endsWith(".parquet")
        found
      }
      .map(d => spark.read.parquet(d).select("id")).reduce(_ union _)
      .distinct().count()
    if (ivfRows != c.vectors.size)
      problems += s"IVF index holds $ivfRows vectors, ${c.vectors.size} were ingested"
    val lexRows = LexIngestJob.genLog(lexDir).effective(spark).get(1).count()
    if (lexRows != c.docs.size)
      problems += s"lexical index holds $lexRows documents, ${c.docs.size} were ingested"
    problems.result()
  }

  def diskBytes(spark: SparkSession, dirs: Seq[String]): Long = dirs.map { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }.sum

  def run(spark: SparkSession, a: Args, size: Size): Outcome = {
    // one set-up per run: the run budget has no room for a second
    val t0 = Clock.nowNs()
    val l = deploy(spark, a, size)
    val setupS = (Clock.nowNs() - t0) / 1e9
    // warm: one batch through each loop and one read of each kind
    l.vecStream.addData(l.corpus.vecBatch(size.batchRows))
    l.docStream.addData(l.corpus.docBatch(size.batchRows))
    l.ivfQ.processAllAvailable(); l.lexQ.processAllAvailable()
    val warmQv = new Inputs.Vectors(a.seed, size.dim, Cells, stream = 9)
    val warmQd = new Inputs.Docs(a.seed, Vocab, stream = 9)
    Kinds.foreach(k => read(spark, l, k, warmQv, warmQd))
    Heap.sample()
    val warmBatches = (l.ivfQ.recentProgress.count(_.numInputRows > 0),
      l.lexQ.recentProgress.count(_.numInputRows > 0))

    // write phase, then read phase. Writes run one batch at a time, IVF
    // then lexical, each alone on the cluster: with the two loops and the
    // readers overlapping, how the batches happened to interleave decided
    // the walls and the read latencies, and both medians swung from run to
    // run. The sequence is fixed, so every run compacts and folds once.
    val horizon = Clock.nowNs() + (a.seconds * 1e9).toLong
    val problems = Seq.newBuilder[String]
    var ingestFailed = 0
    def ingest(q: StreamingQuery)(send: => Unit): Unit = {
      send
      try q.processAllAvailable()
      catch { case e: Throwable => ingestFailed += 1; problems += s"ingest loop failed: $e" }
    }
    (1 to Batches).foreach { _ =>
      ingest(l.ivfQ)(l.vecStream.addData(l.corpus.vecBatch(size.batchRows)))
      ingest(l.lexQ)(l.docStream.addData(l.corpus.docBatch(size.batchRows)))
    }
    // one read operation is a round of the three query kinds, so every
    // sample does the same work
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Kind, Double, Boolean)]
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val qv = new Inputs.Vectors(a.seed, size.dim, Cells, stream = 2)
    val qd = new Inputs.Docs(a.seed, Vocab, stream = 2)
    while (rounds.size < MinRounds || Clock.nowNs() < horizon) {
      val r0 = Clock.nowNs()
      val oks = Kinds.map { kind =>
        val t0 = Clock.nowNs()
        val ok = try { read(spark, l, kind, qv, qd); true }
          catch { case e: Throwable => println(s"index_maintain read failed: $e"); false }
        reads += ((kind, (Clock.nowNs() - t0) / 1e6, ok))
        ok
      }
      rounds += (((Clock.nowNs() - r0) / 1e6, oks.forall(identity)))
    }
    Heap.sample()
    // (wall s, rows) per micro-batch after the warm one
    def walls(q: StreamingQuery, skip: Int): Seq[(Double, Long)] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(skip)
        .map(p => (p.durationMs.get("addBatch").doubleValue / 1000.0, p.numInputRows))
    val ivfWalls = walls(l.ivfQ, warmBatches._1)
    val lexWalls = walls(l.lexQ, warmBatches._2)
    // a sent batch whose rows the loop never committed counts as failed
    val rows = (ivfWalls ++ lexWalls).map(_._2).sum
    val missing = (2L * Batches * size.batchRows - rows) / size.batchRows
    if (missing > 0) problems += s"$missing ingest batches were not committed"
    val rs = reads.toSeq
    // a failed read is an operation that missed every latency bound:
    // it counts as failed and its round enters the median as unbounded
    val readFailed = rs.count(!_._3)
    problems ++= check(spark, l.corpus, l.ivfDir, l.lexDir, a.seed)
    val disk = diskBytes(spark, Seq(l.ivfDir, l.lexDir))
    l.stop()
    val ok = rs.filter(_._3)
    def p50(k: Kind): Double = {
      val xs = ok.filter(_._1 == k).map(_._2)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    println(s"index_maintain reads=${rs.size} failed_reads=$readFailed " +
      s"ivf_batches=${ivfWalls.size} lex_batches=${lexWalls.size} disk_bytes=$disk")
    val mean = (xs: Seq[(Double, Long)]) =>
      if (xs.isEmpty) Double.NaN else xs.map(_._1).sum / xs.size
    Outcome(
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.median(rounds.toSeq.map(r => if (r._2) r._1 else Double.PositiveInfinity)), "ms"),
        ("throughput_per_s", rows / (ivfWalls ++ lexWalls).map(_._1).sum, "1/s"),
        ("mem_peak_mb", Heap.peakMb, "MB")),
      figures = Seq(
        ("ivf_ingest_s", mean(ivfWalls), "s"),
        ("lex_ingest_s", mean(lexWalls), "s"),
        ("ivf_query_p50_ms", p50(IvfProbe), "ms"),
        ("ivf_exact_p50_ms", p50(IvfExact), "ms"),
        ("lex_query_p50_ms", p50(Bm25), "ms"),
        ("reads", rs.size.toDouble, "count"),
        ("read_rounds", rounds.size.toDouble, "count"),
        ("index_disk_per_input_byte", disk / l.corpus.inputBytes, "ratio")),
      attempted = rs.size + 2L * Batches,
      failed = readFailed + math.max(0L, missing) + ingestFailed,
      problems = problems.result())
  }
}
