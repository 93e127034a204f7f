package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The engine only ever sees the frames built
  * here; the same seed always gives the same rows. */
object Inputs {

  /** Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(rnd: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // TPC-H dbgen word lists (P_NAME colours and the P_TYPE syllables)
  private val Colours = Array("almond", "antique", "aquamarine", "azure",
    "beige", "bisque", "black", "blanched", "blue", "blush", "brown",
    "burlywood", "burnished", "chartreuse", "chiffon", "chocolate", "coral",
    "cornflower", "cornsilk", "cream", "cyan", "dark", "deep", "dim",
    "dodger", "drab", "firebrick", "floral", "forest", "frosted",
    "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew", "hot",
    "indian", "ivory", "khaki", "lace", "lavender", "lawn", "lemon",
    "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
    "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive",
    "orange", "orchid", "pale", "papaya", "peach", "peru", "pink", "plum",
    "powder", "puff", "purple", "red", "rose", "rosy", "royal", "saddle",
    "salmon", "sandy", "seashell", "sienna", "sky", "slate", "smoke",
    "snow", "spring", "steel", "tan", "thistle", "tomato", "turquoise",
    "violet", "wheat", "white", "yellow")
  private val Type1 = Array("STANDARD", "SMALL", "MEDIUM", "LARGE",
    "ECONOMY", "PROMO")
  private val Type2 = Array("ANODIZED", "BURNISHED", "PLATED", "POLISHED",
    "BRUSHED")
  private val Type3 = Array("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  /** The recommender's inputs, mapped from a TPC-H-shaped star the way
    * the serving micro-bench maps it: part -> book (title = p_name,
    * author = p_brand), p_type -> tag, p_size -> tag weight,
    * orders x lineitem -> collect events, plus one day of page views. */
  final case class Catalog(book: DataFrame, tag: DataFrame,
                           bookTag: DataFrame, collect: DataFrame,
                           views: DataFrame, bookIds: Array[Long],
                           logUsers: Array[Long])

  final case class CatalogSize(books: Int, users: Int, logUsers: Int)

  def catalog(spark: SparkSession, seed: Long, size: CatalogSize): Catalog = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 7919L + 1L)
    val parts = (1 to size.books).map { k =>
      val name = Seq.fill(5)(Colours(rnd.nextInt(Colours.length))).mkString(" ")
      val brand = s"Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}"
      val ptype = Seq(Type1(rnd.nextInt(Type1.length)),
        Type2(rnd.nextInt(Type2.length)),
        Type3(rnd.nextInt(Type3.length))).mkString(" ")
      val price = (90000 + (k / 10) % 20001 + 100 * (k % 1000)) / 100.0
      (k.toLong, name, brand, ptype, 1 + rnd.nextInt(50), price)
    }
    val part = parts.toDF("p_partkey", "p_name", "p_brand", "p_type",
      "p_size", "p_retailprice")
    val book = part.select(col("p_partkey").as("id"),
      col("p_name").as("title"), col("p_brand").as("author"),
      (col("p_retailprice") % 5 + 5).as("rating"))
    val tag = part.select(col("p_type").as("t")).distinct()
      .withColumn("id", xxhash64(col("t")).bitwiseAND(lit(Long.MaxValue)))
      .select(col("id"), col("t").as("tag"))
    val bookTag = part.join(tag, part("p_type") === tag("tag"))
      .select(col("p_partkey").as("bookId"), col("id").as("tagId"),
        (col("p_size") % 5 + 1).as("num"))

    // customers lean on one brand (so clusters have structure) and
    // otherwise follow a Zipf popularity over a seeded book permutation
    val byBrand = parts.groupBy(_._3).values.map(_.map(_._1).toArray).toArray
    val perm = rnd.shuffle(parts.map(_._1)).toArray
    val pop = new Zipf(size.books, 0.9)
    def pick(brand: Array[Long]): Long =
      if (rnd.nextDouble() < 0.5) brand(rnd.nextInt(brand.length))
      else perm(pop.draw(rnd))
    val collectRows = (1 to size.users).flatMap { u =>
      val taste = byBrand(rnd.nextInt(byBrand.length))
      val orders = 1 + rnd.nextInt(10)
      (0 until orders).flatMap { _ =>
        val day = 8000 + rnd.nextInt(2400)
        Seq.fill(1 + rnd.nextInt(7))(
          (u.toLong, pick(taste), 1, day.toLong * 86400L + rnd.nextInt(86400)))
      }
    }
    val collect = collectRows.toDF("userId", "bookId", "isCollect", "time")

    // one day of views: mostly known customers, some first-time visitors
    val logUsers = (1 to size.logUsers).map { i =>
      if (rnd.nextDouble() < 0.7) 1L + rnd.nextInt(size.users)
      else size.users.toLong + i
    }.distinct.toArray
    val viewRows = logUsers.toSeq.flatMap { u =>
      Seq.fill(1 + rnd.nextInt(25))((u, perm(pop.draw(rnd))))
    }
    val views = viewRows.toDF("userId", "bookId")
    Catalog(book, tag, bookTag, collect, views, parts.map(_._1).toArray,
      logUsers)
  }

  /** Writes each frame to parquet under `dir` and reads it back, so the
    * jobs scan materialized tables, as a deployment does. */
  def materialize(spark: SparkSession, c: Catalog, dir: String): Catalog = {
    def rt(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    c.copy(book = rt(c.book, "book"), tag = rt(c.tag, "tag"),
      bookTag = rt(c.bookTag, "bookTag"), collect = rt(c.collect, "collect"),
      views = rt(c.views, "views"))
  }

  /** Gaussian-mixture vectors: `cells` random centres, unit noise, so an
    * IVF index has real cell structure to prune on. */
  final class Vectors(seed: Long, dim: Int, cells: Int, stream: Int = 0) {
    private val centres = {
      val r = new scala.util.Random(seed * 104729L + 3L)
      Array.fill(cells, dim)(r.nextGaussian() * 3.0)
    }
    // draws for another `stream` come from the same mixture
    private val rnd = new scala.util.Random(seed * 104729L + 1000003L * (stream + 1))
    def next(): Array[Double] = {
      val c = centres(rnd.nextInt(cells))
      Array.tabulate(dim)(j => c(j) + rnd.nextGaussian())
    }
  }

  /** Documents over a Zipf vocabulary of `vocab` terms. */
  final class Docs(seed: Long, vocab: Int, stream: Int = 0) {
    private val rnd = new scala.util.Random(seed * 15485863L + 1000003L * (stream + 1))
    private val z = new Zipf(vocab, 1.0)
    def next(): Seq[String] = Seq.fill(10 + rnd.nextInt(50))(s"t${z.draw(rnd)}")
    /** Query terms from the mid-frequency band (present, not stop-word-like). */
    def queryTerms(): Seq[String] =
      Seq.fill(2 + rnd.nextInt(2))(s"t${20 + rnd.nextInt(vocab / 4)}").distinct
  }

  /** One event as the serving source receives it: a JSON frame with the
    * user id and, for first-select events, the chosen book ids inline. */
  def eventJson(userId: Long, bookIds: Seq[Long]): String =
    if (bookIds.isEmpty) s"""{"userId": $userId}"""
    else s"""{"userId": $userId, "bookIds": [${bookIds.mkString(", ")}]}"""

  /** Seeded event maker: Zipf-skewed users, `firstSelect` share of events
    * carrying 1-3 inline book ids. */
  final class Events(seed: Long, users: Array[Long], books: Array[Long],
                     firstSelect: Double) {
    private val rnd = new scala.util.Random(seed * 32452843L + 7L)
    private val z = new Zipf(users.length, 1.1)
    private val order = rnd.shuffle(users.toSeq).toArray
    def next(): (Long, Seq[Long]) = {
      val u = order(z.draw(rnd))
      val payload =
        if (rnd.nextDouble() < firstSelect)
          Seq.fill(1 + rnd.nextInt(3))(books(rnd.nextInt(books.length))).distinct
        else Seq.empty
      (u, payload)
    }
    def exp(ratePerS: Double): Double = -math.log(1.0 - rnd.nextDouble()) / ratePerS
  }
}
