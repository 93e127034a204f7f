package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.TextFunctions
import graft.io.KVWriter
import graft.jobs.{LexIngestJob, Recommender, RecommenderModel, ServeJob}
import graft.model.{Clustering, HotBooks, Vectorize}
import graft.operators.{Ann, SimilarityJoin}
import graft.prep.{Collections, Documents, LogIngest, TagWeighting}
import graft.rank.{Blend, Scoring, TitleDedup}

/** The layer-by-layer pass behind `--trace 1`. After an untimed warm-up
  * pass (the JVM's first pass runs cold) it does the same work twice on
  * small seeded inputs: first calling each layer's public function in
  * turn on this thread, forcing its output at the layer boundary, inside
  * a span; then through the engine's public job entry points with no
  * tracing (the reference). Spans record Spark job/task/shuffle counters,
  * Hadoop FileSystem operations, and streaming progress. The difference
  * of the two totals is `trace_overhead_s`.
  *
  * Every layer runs on every workload, so each traced run reports every
  * per-layer metric; the pass is the same whichever workload is named. */
object Traced {

  val CatSize = Inputs.CatalogSize(books = 400, users = 300, logUsers = 80)
  val IdxSize = Index.Size(seedRows = 2000, batchRows = 500, dim = 32)
  val IdxBatches = 2
  /** Serving micro-batches replayed: a steady trickle then one burst. */
  val ServeBatches: Seq[Int] = Seq(12, 12, 300)
  val Queries = 2

  /** Per-layer spans and the end-to-end metric each should move (see
    * README.md). Index spans report filesystem counters instead of
    * shuffle volume. */
  val Spans: Seq[String] = Seq("prep.book_docs", "operators.similarity_join",
    "rank.title_dedup", "io.kv_write", "prep.user_docs", "model.vectorize",
    "model.kmeans", "prep.log_sets", "jobs.assign_queries", "rank.recommend",
    "rank.blend", "rank.build_serve_assets", "jobs.serve_batch",
    "jobs.serve_localize", "rank.fused_score")
  val IndexSpans: Seq[String] = Seq("operators.ivf_append",
    "operators.ivf_compact", "operators.ivf_query", "operators.ivf_query_exact",
    "io.lex_write_shard", "io.lex_fold", "jobs.lex_query")

  /** Per-layer metric names with units, in report order. */
  def metricNames: Seq[(String, String)] =
    Spans.flatMap(s => Seq(s"$s.s" -> "s", s"$s.jobs" -> "count",
      s"$s.tasks" -> "count", s"$s.task_s" -> "s", s"$s.shuffle_mb" -> "MB")) ++
    IndexSpans.flatMap(s => Seq(s"$s.s" -> "s", s"$s.jobs" -> "count",
      s"$s.tasks" -> "count", s"$s.task_s" -> "s", s"$s.fs_ops" -> "count",
      s"$s.fs_write_mb" -> "MB")) ++
    Seq("io.kv_write.puts" -> "count", "jobs.serve_batch.events" -> "count",
      "jobs.serve_batch.planning_ms" -> "ms", "jobs.serve_batch.addbatch_ms" -> "ms",
      "io.index_disk.mb" -> "MB", "io.index_disk.per_input_byte" -> "ratio",
      "trace_overhead_s" -> "s")

  /** Shared inputs of both halves. */
  final case class Plan(cat: Inputs.Catalog,
                        serveBatches: Seq[Seq[(Long, Seq[Long])]],
                        corpus: Index.Corpus,
                        vecSeed: Seq[(Long, Array[Double])],
                        vecBatches: Seq[Seq[(Long, Array[Double])]],
                        docSeed: Seq[(Long, Seq[String])],
                        docBatches: Seq[Seq[(Long, Seq[String])]],
                        vecQueries: Seq[(Long, Array[Double])],
                        termQueries: Seq[Seq[String]])

  def plan(spark: SparkSession, a: Args): Plan = {
    val cat = Inputs.materialize(spark, Inputs.catalog(spark, a.seed, CatSize),
      a.dir("trace-input"))
    val ev = new Inputs.Events(a.seed, (1L to CatSize.users.toLong).toArray,
      cat.bookIds, firstSelect = 0.2)
    val c = new Index.Corpus(a.seed, IdxSize)
    val qv = new Inputs.Vectors(a.seed, IdxSize.dim, Index.Cells, stream = 2)
    val qd = new Inputs.Docs(a.seed, Index.Vocab, stream = 2)
    Plan(cat, ServeBatches.map(n => Seq.fill(n)(ev.next())), c,
      c.vecBatch(IdxSize.seedRows), Seq.fill(IdxBatches)(c.vecBatch(IdxSize.batchRows)),
      c.docBatch(IdxSize.seedRows), Seq.fill(IdxBatches)(c.docBatch(IdxSize.batchRows)),
      (1 to Queries).map(i => (-i.toLong, qv.next())), Seq.fill(Queries)(qd.queryTerms()))
  }

  /** Serves `batches` through a live deployment, one micro-batch each;
    * returns each batch's b_like values by user. */
  def serveStream(spark: SparkSession, fitted: RecommenderModel.Fitted,
                  collect: DataFrame, batches: Seq[Seq[(Long, Seq[Long])]],
                  stageTimer: (String, Double) => Unit,
                  around: (=> Unit) => Unit)
      : (Seq[Map[Long, String]], org.apache.spark.sql.streaming.StreamingQuery) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val (q, _) = ServeJob.startSwappable(stream.toDF(), fitted, collect, new BenchKV,
      trigger = Trigger.ProcessingTime(0L), stageTimer = stageTimer)
    val values = batches.map { b =>
      BenchKV.clear()
      around {
        stream.addData(b.map { case (u, books) => Inputs.eventJson(u, books) })
        q.processAllAvailable()
      }
      BenchKV.snapshot.collect { case (k, v) if k.startsWith("b_like:") =>
        k.stripPrefix("b_like:").toLong -> v }
    }
    (values, q)
  }

  def eventsFrame(spark: SparkSession, b: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    b.map { case (u, books) => (u, if (books.isEmpty) None else Some(books)) }
      .toDF("userId", "bookIds")
  }

  def booksOf(recs: Recommender.Recs): Map[Long, String] = {
    import recs.books.sparkSession.implicits._
    recs.books.select(col("query").cast("long"), TextFunctions.joinIds(col("books")))
      .as[(Long, String)].collect().toMap
  }

  final case class Half(kv: Map[String, String], withNeighbours: Set[Long],
                        offline: Option[Offline.Pass], served: Seq[Map[Long, String]],
                        replayed: Seq[Map[Long, String]], ivfDir: String,
                        lexDir: String, seconds: Double)

  /** The lexical index's shard component frames for one batch, as the
    * ingest loop builds them. */
  def lexComponents(spark: SparkSession, docs: Seq[(Long, Seq[String])])
      : (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    val (post, lens) = LexIngestJob.componentsOf(docs.toDF("id", "tokens"), "id", "tokens")
    val p = post.persist()
    p.count()
    (Seq(p, lens, LexIngestJob.statsOf(lens)), p)
  }

  /** The index half; `t` wraps each layer call. */
  def indexWork(spark: SparkSession, a: Args, p: Plan, tag: String,
                t: (String, => Unit) => Unit): (String, String) = {
    import spark.implicits._
    val ivfDir = a.dir(s"trace-ivf-$tag")
    val lexDir = a.dir(s"trace-lex-$tag")
    Ann.buildIvfIndex(p.vecSeed.toDF("id", "vec"), "id", "vec", ivfDir,
      nCentroids = Index.Cells, seed = a.seed)
    p.vecBatches.foreach { b =>
      val df = b.toDF("id", "vec")
      t("operators.ivf_append", Ann.appendIvfShardWithCount(df, "id", "vec", ivfDir))
    }
    t("operators.ivf_compact", Ann.compactIvfIndexTiered(spark, ivfDir, 0.3, 8))
    p.vecQueries.foreach { q =>
      t("operators.ivf_query", Index.ivfQuery(spark, ivfDir, Seq(q), Index.NProbe).collect())
    }
    p.vecQueries.foreach { q =>
      t("operators.ivf_query_exact", Index.ivfQuery(spark, ivfDir, Seq(q), Index.Cells).collect())
    }
    LexIngestJob.seed(p.docSeed.toDF("id", "tokens"), "id", "tokens", lexDir)
    val log = LexIngestJob.genLog(lexDir)
    p.docBatches.zipWithIndex.foreach { case (b, i) =>
      val (frames, persisted) = lexComponents(spark, b)
      t("io.lex_write_shard", log.writeShard(frames, i.toLong))
      persisted.unpersist()
    }
    t("io.lex_fold", log.fold(spark, (p.docBatches.size - 1).toLong, 0.3, 8))
    p.termQueries.foreach { terms =>
      t("jobs.lex_query", Index.bm25Top(LexIngestJob.query(spark, lexDir, terms)).collect())
    }
    (ivfDir, lexDir)
  }

  /** Reference half: the public job entry points, no tracing. */
  def untraced(spark: SparkSession, a: Args, p: Plan): Half = {
    val t0 = Clock.nowNs()
    val pass = Offline.pass(spark, p.cat, a.dir("trace-model-ref"))
    val fitted = RecommenderModel.load(spark, a.dir("trace-model-ref"))
    val idx = Scoring.buildServeAssets(fitted, p.cat.collect)
    val (served, q) = serveStream(spark, fitted, p.cat.collect, p.serveBatches,
      (_, _) => (), body => body)
    q.stop()
    val replayed = p.serveBatches.map(b =>
      booksOf(ServeJob.scoreBatch(eventsFrame(spark, b), fitted, p.cat.collect, serve = Some(idx))))
    idx.destroy()
    val (ivf, lex) = indexWork(spark, a, p, "ref", (_, body) => body)
    Half(pass.kv, Set.empty, Some(pass), served, replayed, ivf, lex, (Clock.nowNs() - t0) / 1e9)
  }

  /** Traced half: each layer's function in turn, output forced. */
  def traced(spark: SparkSession, a: Args, p: Plan, tr: Tracer): Half = {
    def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val c = p.cat
    val kv = new BenchKV
    val t0 = Clock.nowNs()
    def kvWrite(df: DataFrame): Unit = {
      val p0 = BenchKV.puts.get
      tr.span("io.kv_write")(KVWriter.write(df, kv))
      tr.add("io.kv_write", "puts", (BenchKV.puts.get - p0).toDouble)
    }
    BenchKV.clear()
    // similar-books batch (SimilarBooksJob.run, layer by layer)
    val docs = tr.span("prep.book_docs")(force(Documents.bookDocs(c.book,
      TagWeighting.weightedTagDocs(c.bookTag, c.tag))))
    val pairs = tr.span("operators.similarity_join")(force(SimilarityJoin.exactCosineTopK(
      docs.select(col("bookId"), TextFunctions.tokenize(col("doc")).as("toks")),
      "bookId", "toks", k = 100, maxDf = 0L, maxDfFraction = 0.5)))
    val ranked = tr.span("rank.title_dedup")(force(TitleDedup.dedupAndRerank(
      pairs, docs.select(col("bookId"), col("title"), col("rating")), Offline.Store)))
    val withNeighbours = {
      import spark.implicits._
      ranked.select(col("a")).distinct().as[Long].collect().toSet
    }
    kvWrite(ranked.groupBy(col("a"))
      .agg(collect_list(struct(col("pos"), col("b"))).as("pb"))
      .select(TextFunctions.kvKey("b_similar", col("a")).as("key"),
        TextFunctions.joinIds(transform(sort_array(col("pb")), x => x.getField("b"))).as("value")))
    // model fit (RecommenderModel.fit + save)
    val bookDocs = tr.span("prep.book_docs")(force(Documents.bookDocs(c.book,
      TagWeighting.weightedTagDocs(c.bookTag, c.tag))))
    val (userBooks, userDocs) = tr.span("prep.user_docs") {
      val ub = force(Collections.userBookLists(c.collect, 10))
      (ub, force(Collections.userDocs(ub, bookDocs)))
    }
    val vec = tr.span("model.vectorize") {
      val v = Vectorize.fit(userDocs, "userId", "userDoc", 5.0, Nil)
      v.copy(vectors = force(v.vectors))
    }
    val clusters = tr.span("model.kmeans") {
      val k = Clustering.fit(vec.vectors, "userId", 10, 42L)
      k.copy(assignments = force(k.assignments))
    }
    val modelDir = a.dir("trace-model")
    RecommenderModel.save(RecommenderModel.Fitted(bookDocs, userBooks,
      vec.vectors.join(clusters.assignments, "userId")
        .select(col("userId"), col("cluster"), col("tokens")),
      vec.model, clusters.model, HotBooks.hot(userBooks, 30)), modelDir)
    // daily-log batch (DailyLogJob.run)
    val fitted = RecommenderModel.load(spark, modelDir)
    val params = Recommender.Params()
    val logBooks = tr.span("prep.log_sets")(force(LogIngest.userBookSets(c.views, 20, 42L)))
    val queryDocs = tr.span("prep.user_docs")(force(Collections.userDocs(logBooks, fitted.bookDocs)))
    val queries = tr.span("jobs.assign_queries")(force(RecommenderModel.assignQueries(fitted, queryDocs)))
    val scored = tr.span("rank.recommend") {
      val r = Recommender.recommend(fitted, queries, logBooks, params)
      Recommender.Recs(force(r.books), force(r.users))
    }
    val logUsers = logBooks.select(col("userId"))
    val recs = tr.span("rank.blend")(Recommender.Recs(
      force(Blend.withFallback(scored.books, logUsers, fitted.hot, params.recCap)),
      force(Blend.withUserFallback(scored.users, logUsers, params.defaultUsers))))
    kvWrite(recs.books.select(TextFunctions.kvKey("b_like", col("query")).as("key"),
      TextFunctions.joinIds(col("books")).as("value")))
    kvWrite(recs.users.select(TextFunctions.kvKey("u_similar", col("query")).as("key"),
      TextFunctions.joinIds(col("users")).as("value")))
    val offlineKv = BenchKV.snapshot
    // serving
    val idx = tr.span("rank.build_serve_assets")(Scoring.buildServeAssets(fitted, c.collect))
    val timer: (String, Double) => Unit = (stage, s) =>
      if (stage == "localize_batch") {
        val end = Clock.nowNs()
        tr.record("jobs.serve_localize", end - (s * 1e9).toLong, end)
      }
    val (served, q) = serveStream(spark, fitted, c.collect, p.serveBatches, timer,
      body => tr.span("jobs.serve_batch")(body))
    Serve.batches(q).takeRight(p.serveBatches.size).foreach { b =>
      tr.add("jobs.serve_batch", "events", b.rows.toDouble)
      tr.add("jobs.serve_batch", "planning_ms", b.planningMs)
      tr.add("jobs.serve_batch", "addbatch_ms", b.addBatchMs)
    }
    q.stop()
    val replayed = p.serveBatches.map(b => tr.span("rank.fused_score")(booksOf(
      ServeJob.scoreBatch(eventsFrame(spark, b), fitted, c.collect, serve = Some(idx)))))
    idx.destroy()
    val (ivf, lex) = indexWork(spark, a, p, "traced", (name, body) => tr.span(name)(body))
    Half(offlineKv, withNeighbours, None, served, replayed, ivf, lex, (Clock.nowNs() - t0) / 1e9)
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val p = plan(spark, a)
    // an untimed offline pass takes the JVM's one-off costs (JIT,
    // codegen), so both timed halves below run warm
    Offline.pass(spark, p.cat, a.dir("trace-model-warm"))
    val tr = new Tracer(spark, s"${a.workload}-${a.seed}")
    val got = tr.span("pass")(traced(spark, a, p, tr))
    tr.finish()
    val ref = untraced(spark, a, p)
    val problems = Seq.newBuilder[String]
    problems ++= Offline.check(p.cat, ref.kv, got.withNeighbours)
    if (BenchKV.digest(got.kv) != BenchKV.digest(ref.kv))
      problems += "the traced layer calls wrote other KV values than the jobs"
    if (got.served != ref.served)
      problems += "the traced deployment served other values than the reference"
    if (got.replayed != got.served || ref.replayed != ref.served)
      problems += "scoreBatch on the serve index disagrees with the live stream"
    problems ++= Index.check(spark, p.corpus, got.ivfDir, got.lexDir, a.seed)
    val disk = Index.diskBytes(spark, Seq(got.ivfDir, got.lexDir))
    tr.add("io.index_disk", "mb", disk / 1048576.0)
    tr.add("io.index_disk", "per_input_byte", disk / p.corpus.inputBytes)
    val overhead = got.seconds - ref.seconds
    val values: Map[String, Double] = (Spans ++ IndexSpans).flatMap { s =>
      val t = tr.totals(s)
      Seq(s"$s.s" -> t.self, s"$s.jobs" -> t.jobs.toDouble, s"$s.tasks" -> t.tasks.toDouble,
        s"$s.task_s" -> t.taskS, s"$s.shuffle_mb" -> t.shuffleMb,
        s"$s.fs_ops" -> t.fsOps.toDouble, s"$s.fs_write_mb" -> t.fsWriteMb)
    }.toMap ++ Seq("io.kv_write.puts", "jobs.serve_batch.events",
      "jobs.serve_batch.planning_ms", "jobs.serve_batch.addbatch_ms",
      "io.index_disk.mb", "io.index_disk.per_input_byte").map { n =>
      val i = n.lastIndexOf('.')
      n -> tr.extra(n.take(i), n.drop(i + 1))
    } + ("trace_overhead_s" -> overhead)
    val metrics = metricNames.map { case (n, u) => (n, values(n), u) }
    tr.write(a.traceOut, metrics)
    println(f"traced pass: untraced ${ref.seconds}%.2f s, traced ${got.seconds}%.2f s")
    val o = ref.offline.get
    Outcome(metrics, Seq(("untraced_s", ref.seconds, "s"), ("traced_s", got.seconds, "s"),
        ("simbooks_s", o.simS, "s"), ("fit_s", o.fitS, "s"), ("daily_s", o.dailyS, "s")),
      attempted = 1L, failed = 0L, problems = problems.result())
  }
}
