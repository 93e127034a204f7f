package graft.perfbench

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String,
                      traceOut: String) {
  /** A fresh directory under the run's working directory. */
  def dir(name: String): String = s"$work/$name"
}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE --trace-out FILE`. Writes the result object to FILE; exits
  * non-zero on any error. With `--trace 0` it measures the workload's
  * end-to-end metrics; with `--trace 1` it runs the layer-by-layer
  * traced pass instead (see [[Traced]]). */
object Main {

  val Workloads = Seq("serve", "index_maintain")

  // input sizes: one end-to-end run takes about a minute at 4 cores
  val ServeSize = Inputs.CatalogSize(books = 400, users = 300, logUsers = 80)
  val IndexSize = Index.Size(seedRows = 10000, batchRows = 1000, dim = 32)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("out"), need("trace-out"))
  }

  def session(a: Args): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val cfg = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.dir("spark-local"))
      .config("spark.sql.warehouse.dir", a.dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
    if (a.trace)
      cfg.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = cfg.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = Clock.nowNs()
    val spark = session(a)
    val sessionS = (Clock.nowNs() - t0) / 1e9
    val o =
      if (a.trace) Traced.run(spark, a)
      else a.workload match {
        case "serve" => Serve.run(spark, a, ServeSize)
        case "index_maintain" => Index.run(spark, a, IndexSize)
      }
    o.problems.foreach(p => println(s"CHECK FAILED: $p"))
    println(s"${a.workload} figures: " +
      Json.metrics(o.figures :+ (("session_s", sessionS, "s"))))
    val json = s"""{"correct": ${o.problems.isEmpty}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": ${Json.metrics(o.metrics)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
