package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis surface (SURVEY §2.7 string functions + the training-data
  * text operators: token counting, quality scoring, language ID, document
  * fingerprinting) over the `documents` and `part` tables. All pure
  * built-ins — codegen'd, no UDFs. */
object Text {

  /** The t13/t23 merge table (fixed English digraphs). */
  private val bpeMerges = Seq(("t", "h"), ("th", "e"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("in", "g"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("o", "u"), ("s", "t"), ("e", "n"))

  /** DuckDB CTE block replaying [[graft.expressions.BpeTokenize]] from
    * first principles: per whitespace word, repeatedly merge the LEFTMOST
    * occurrence of the LOWEST-RANK adjacent pair (rank = position in the
    * merge table), one merge per recursive step, until no pair matches.
    * Ends with `done(doc_id, wi, parts)` — the final parts list per word.
    * Shared by the t13 and t23 oracles so the two replays cannot drift. */
  private def bpeDoneCtes(merges: Seq[(String, String)]): String = {
    val ml = merges.map { case (a, b) => s"'$a $b'" }.mkString("[", ",", "]")
    val rks =
      s"""[coalesce(nullif(list_position($ml, parts[i + 1] || ' ' || parts[i + 2]), 0), 999999)
         |         for i in range(len(parts) - 1)]""".stripMargin
    s"""words AS (
       |  SELECT doc_id, wi, word FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word,
       |      generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS wi
       |    FROM documents)
       |  WHERE word != ''),
       |bpe AS (
       |  SELECT doc_id, wi, regexp_split_to_array(word, '') AS parts
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, wi,
       |    list_concat(list_concat(parts[1:bi - 1],
       |      [parts[bi] || parts[bi + 1]]), parts[bi + 2:len(parts)])
       |  FROM (
       |    SELECT doc_id, wi, parts,
       |      list_position(rks, list_min(rks)) AS bi, list_min(rks) AS br
       |    FROM (
       |      SELECT doc_id, wi, parts,
       |        $rks AS rks
       |      FROM bpe WHERE len(parts) >= 2))
       |  WHERE br != 999999),
       |done AS (
       |  SELECT doc_id, wi, parts FROM (
       |    SELECT doc_id, wi, parts,
       |      CASE WHEN len(parts) < 2 THEN true ELSE
       |        list_min($rks) = 999999 END AS fin
       |    FROM bpe) WHERE fin)""".stripMargin
  }

  /** e2e2b parameterized by its fixture bound: the gate registers the
    * 397-doc form (bound=400, every doc sf0.01 and sf0.001 share);
    * E2e2bGoldenSpec runs the SAME builder at bound=4000 to show the
    * deterministic exact-mode lanes are not tuned to the small fixture. */
  private[graft] def e2e2b(bound: Int): Q =
    Q("e2e2b_full_prep_exact",
      s"""WITH RECURSIVE
        |corp AS (SELECT doc_id, text, lang FROM documents
        |         WHERE doc_id >= 3 AND doc_id < $bound),
        |p AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(length(text) - 64 + 2, 1)),
        |      i -> {'off': i, 'g': substr(text, i, 64)})) AS u
        |  FROM corp),
        |q0 AS (SELECT doc_id, u.off AS off, u.g AS g FROM p),
        |cg AS (SELECT g FROM q0 GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, off FROM q0 JOIN cg USING (g)),
        |isl AS (SELECT doc_id, off,
        |    off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
        |  FROM m),
        |r2 AS (SELECT doc_id, min(off) - 1 AS start,
        |    max(off) - min(off) + 64 AS region_len
        |  FROM isl GROUP BY doc_id, grp),
        |segm AS (SELECT doc_id,
        |    coalesce(lag(start + region_len) OVER w, 0) AS a,
        |    start - coalesce(lag(start + region_len) OVER w, 0) AS n
        |  FROM r2 WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
        |tl AS (SELECT doc_id, max(start + region_len) AS a,
        |    CAST(NULL AS BIGINT) AS n FROM r2 GROUP BY doc_id),
        |ss AS (SELECT * FROM segm UNION ALL SELECT * FROM tl),
        |parts AS (SELECT c.doc_id, ss.a,
        |    substr(c.text, CAST(ss.a + 1 AS INT),
        |      CAST(coalesce(ss.n, length(c.text)) AS INT)) AS part
        |  FROM corp c JOIN ss ON c.doc_id = ss.doc_id),
        |spliced0 AS (SELECT doc_id, string_agg(part, '' ORDER BY a) AS t
        |             FROM parts GROUP BY doc_id),
        |clean AS (SELECT c.doc_id, coalesce(s.t, c.text) AS text, c.lang
        |          FROM corp c LEFT JOIN spliced0 s USING (doc_id)),
        |qual AS (SELECT doc_id, text, lang,
        |    ((CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END)
        |     + alpha_ratio + least(stop_ratio * 4, 1.0)) / 3.0 AS quality
        |  FROM (SELECT doc_id, text, lang,
        |      CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS mean_len,
        |      CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
        |      CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |          x -> x IN ('the','a','an','of','to','in','and','is','on','for',
        |                     'with','that','as','it','at','by'))) AS DOUBLE)
        |        / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS stop_ratio
        |    FROM clean)),
        |kept AS (SELECT * FROM qual WHERE quality >= 0.3),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 2, 1) + 1),
        |      i -> t[i:i+2])) AS sh
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |        FROM kept)),
        |e AS (SELECT a.doc_id AS a, b.doc_id AS b
        |      FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |cc AS (
        |  SELECT a AS id, a AS reach FROM edges
        |  UNION
        |  SELECT cc.id, edges.b AS reach FROM cc JOIN edges ON cc.reach = edges.a),
        |losers AS (SELECT id FROM cc GROUP BY id HAVING min(reach) <> id),
        |surv AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT id FROM losers)),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(1, greatest(length(t) - 19, 1) + 1), i -> t[i:i+19]))) AS g
        |  FROM (SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |        FROM documents WHERE doc_id < 3)),
        |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(length(t) - 19, 1) + 1), i -> t[i:i+19]))) AS g
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |        FROM surv)),
        |contam AS (SELECT doc_id FROM csh JOIN bsh USING (g)
        |           GROUP BY doc_id HAVING count(*) >= 3),
        |spl AS (SELECT doc_id, quality, lang, text,
        |    ${Q.fnvSql("CAST(doc_id AS VARCHAR)")} AS h1,
        |    ${Q.fnvSql("CAST(doc_id AS VARCHAR) || '|pack'")} AS h2
        |  FROM surv),
        |spl2 AS (SELECT doc_id, quality, lang, text,
        |    CASE WHEN ((h1 % 10000) + 10000) % 10000 < 9000 THEN 'train'
        |         WHEN ((h1 % 10000) + 10000) % 10000 < 9500 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
        |    ((h2 % 4) + 4) % 4 AS bucket
        |  FROM spl),
        |packed AS (SELECT *,
        |    sum(n_tokens) OVER (PARTITION BY split, bucket ORDER BY doc_id) AS cum
        |  FROM spl2)
        |SELECT doc_id, round(quality, 6) AS quality, lang, split, n_tokens,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
        |  md5(text) AS content_md5
        |FROM packed
        |WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      def fnv(c: org.apache.spark.sql.Column) =
        column(graft.expressions.Fnv1a64(expression(c)))
      val docs = Tables.documents(s, d).where(col("doc_id") < bound)
      val cfg = graft.jobs.CorpusPrep.Config(
        dedupBands = 24, dedupRows = 4,
        packTokens = 512L,
        splitBucket = Some(pmod(fnv(col("doc_id").cast("string")), lit(10000L))),
        packBucket = Some(pmod(
          fnv(concat(col("doc_id").cast("string"), lit("|pack"))), lit(4L))))
      graft.jobs.CorpusPrep.prepareFull(
          docs.where(col("doc_id") >= 3), "doc_id", "text", cfg,
          regionMinLength = 64,
          benchmark = Some(docs.where(col("doc_id") < 3).select(col("text"))))
        .select(col("doc_id"), round(col("quality"), 6).as("quality"),
          col("lang"), col("split"), col("n_tokens"),
          col("bucket").cast("long").as("bucket"), col("pack_id"),
          md5(col("text").cast("binary")).as("content_md5"))
        .orderBy("doc_id")
    }

  val queries: Seq[Q] = Seq(

    // F1/F2/F3/F8 + token stats: tokenization and counting (reference doc
    // tokenization, simility_books.py:53; token counting is the pretraining
    //-pipeline staple).
    Q("t1_token_stats",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_chars_nospace
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        size(array_distinct(tokenize(col("text")))).cast("long").as("n_distinct"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars_nospace"))
        .orderBy("doc_id")
    },

    // BPE-ish subword segment counting (RE2-safe token-class pattern).
    Q("t2_subword_count",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    },

    // Quality scoring: mean word length, alpha ratio, stopword ratio — the
    // cheap pre-filters a 100 TB corpus pass runs before model scoring.
    Q("t3_quality_score",
      """SELECT doc_id, round((
        |    (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END)
        |    + alpha_ratio + least(stop_ratio * 4, 1.0)) / 3.0, 6) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS mean_len,
        |    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x IN ('the','a','an','of','to','in','and','is','on','for',
        |                   'with','that','as','it','at','by'))) AS DOUBLE)
        |      / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS stop_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic: marker-token argmax + CJK script detection.
    Q("t4_lang_id",
      """SELECT doc_id,
        |  CASE
        |    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN es > en AND es >= fr THEN 'es'
        |    WHEN fr > en AND fr > es THEN 'fr'
        |    ELSE 'en' END AS lang_pred
        |FROM (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in','that'))) AS en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','en','un'))) AS es,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une'))) AS fr
        |  FROM (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Corpus report card: the per-source audit a data pipeline runs before
    // training — doc counts, quality mean, language mix, token volume —
    // composing the gated t1/t3/t4 kernels into one grouped aggregate.
    // Partial aggregation keeps it one shuffle on the (few) sources.
    Q("t12_corpus_report",
      """WITH q AS (
        |  SELECT source, doc_id,
        |    ((CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END)
        |      + alpha_ratio + least(stop_ratio * 4, 1.0)) / 3.0 AS quality,
        |    n_toks,
        |    CASE
        |      WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |      WHEN es > en AND es >= fr THEN 'es'
        |      WHEN fr > en AND fr > es THEN 'fr'
        |      ELSE 'en' END AS lang_pred
        |  FROM (
        |    SELECT source, doc_id, text,
        |      CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS mean_len,
        |      CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
        |      CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','in','and','is','on','for',
        |                   'with','that','as','it','at','by'))) AS DOUBLE)
        |        / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS stop_ratio,
        |      CAST(len(toks) AS BIGINT) AS n_toks,
        |      len(list_filter(ltoks, x -> x IN ('the','a','of','and','to','is','in','that'))) AS en,
        |      len(list_filter(ltoks, x -> x IN ('el','la','de','que','y','los','en','un'))) AS es,
        |      len(list_filter(ltoks, x -> x IN ('le','la','de','et','les','des','un','une'))) AS fr
        |    FROM (SELECT source, doc_id, text,
        |            string_split_regex(trim(text), '\s+') AS toks,
        |            string_split_regex(trim(lower(text)), '\s+') AS ltoks
        |          FROM documents)))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(quality), 6) AS avg_quality,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE lang_pred = 'en') AS BIGINT) AS n_en,
        |  CAST(count(*) FILTER (WHERE lang_pred <> 'en') AS BIGINT) AS n_other
        |FROM q GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          qualityScoreRaw(col("text")).as("quality"),
          size(tokenize(col("text"))).cast("long").as("n_toks"),
          langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 6).as("avg_quality"),
          sum(col("n_toks")).as("n_tokens"),
          count(when(col("lang_pred") === "en", 1)).as("n_en"),
          count(when(col("lang_pred") =!= "en", 1)).as("n_other"))
        .select("source", "n_docs", "avg_quality", "n_tokens", "n_en", "n_other")
        .orderBy("source")
    },

    // Rolling-hash document fingerprint (order-sensitive, mod 1e9+7).
    Q("t5_fingerprint",
      """SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(trim(text), '\s+'),
        |        t -> CAST(list_sum(list_transform(range(1, length(t) + 1),
        |               i -> unicode(t[i]) * i)) AS BIGINT) % 1000000007)),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // F7/SO3/W4: normalize → dedup → re-rank by secondary key, the
    // reference's edition-dedup pipeline (simility_books.py:74-91) applied
    // to part names: strip the size/digit suffix noise, keep the
    // highest-priced representative per normalized name.
    Q("f7_normalize_dedup_rerank",
      """SELECT norm_name, p_partkey FROM (
        |  SELECT norm_name, p_partkey,
        |    row_number() OVER (PARTITION BY norm_name
        |      ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM (SELECT regexp_replace(regexp_replace(lower(p_name),
        |          '[（）【】/ () 0-9，第:精].*', '', 'g'), '[.·・《》-]', '', 'g') AS norm_name,
        |          p_partkey, p_retailprice
        |        FROM part))
        |WHERE rn = 1 ORDER BY norm_name, p_partkey""".stripMargin) { (s, d) =>
      val normed = Tables.part(s, d).select(
        normalizeTitle(col("p_name")).as("norm_name"),
        col("p_partkey"), col("p_retailprice"))
      val w = Window.partitionBy("norm_name")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      normed.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("norm_name", "p_partkey")
        .orderBy("norm_name", "p_partkey")
    },

    // F9: CJK dictionary segmentation (dormant reference capability,
    // simility_books.py:11-15) — native FMM expression; no SQL oracle
    // (dictionary matching), behavior golden-tested in TextFunctionsSpec.
    Q.rowsOnly("t6_cjk_segment") { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(segment(col("text"))).cast("long").as("n_segments"))
        .orderBy("doc_id")
    },

    // t6's value-checked complement: the REAL FMM kernel behind a DuckDB
    // oracle. The documents table has no CJK text, so both engines build
    // identical pure-CJK strings from the bundled lexicon (7 consecutive
    // dictionary words rotated by doc_id) and segment them — Spark with
    // the native Segment expression, the oracle with a recursive CTE
    // replaying forward-maximum-matching from first principles (longest
    // dict match >= 2 chars at each position, else one char). The rotation
    // deliberately lines up compound entries (战争+和平 vs 战争与和平,
    // 黑暗+森林 vs 黑暗森林), so FMM's greedy cross-word merges are part
    // of the checked value, not just clean word-boundary recovery.
    Q("t6b_fmm_segment", {
      val words = graft.functions.TextFunctions.defaultCjkDict
      val n = words.length
      val wl = words.map(w => s"'$w'").mkString("[", ",", "]")
      val built = (0 until 7).map(k =>
        s"list_element($wl, CAST((doc_id + $k) % $n + 1 AS INTEGER))")
        .mkString(" ||\n        |    ")
      s"""WITH RECURSIVE
         |w AS (SELECT unnest($wl) AS word),
         |docs AS (SELECT doc_id,
         |    $built AS text
         |  FROM documents WHERE doc_id < 40),
         |fmm AS (
         |  SELECT doc_id, text, CAST(1 AS BIGINT) AS pos,
         |    CAST(0 AS BIGINT) AS n_segments, '' AS segs
         |  FROM docs
         |  UNION ALL
         |  SELECT doc_id, text,
         |    pos + coalesce((SELECT max(len(word)) FROM w
         |                    WHERE len(word) >= 2
         |                      AND substr(text, CAST(pos AS INTEGER), len(word)) = word), 1),
         |    n_segments + 1,
         |    segs || CASE WHEN segs = '' THEN '' ELSE '|' END ||
         |      substr(text, CAST(pos AS INTEGER),
         |        CAST(coalesce((SELECT max(len(word)) FROM w
         |                       WHERE len(word) >= 2
         |                         AND substr(text, CAST(pos AS INTEGER), len(word)) = word), 1) AS INTEGER))
         |  FROM fmm WHERE pos <= len(text))
         |SELECT doc_id, n_segments, segs AS segments
         |FROM fmm WHERE pos > len(text) ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val words = graft.functions.TextFunctions.defaultCjkDict
      val n = words.length
      val wordAt = (k: Int) => element_at(array(words.map(lit): _*),
        ((col("doc_id") + lit(k)) % lit(n) + 1).cast("int"))
      val segs = segment(col("ctext"))
      Tables.documents(s, d).where(col("doc_id") < 40)
        .select(col("doc_id"), concat((0 until 7).map(wordAt): _*).as("ctext"))
        .select(col("doc_id"),
          size(segs).cast("long").as("n_segments"),
          array_join(segs, "|").as("segments"))
        .orderBy("doc_id")
    },

    // TF-IDF weighting (the standard upgrade of the reference's raw BoW
    // counts): per-doc term frequency x smoothed corpus idf, statistics
    // computed over the FULL corpus, output restricted to doc_id < 100 —
    // exercises the global-statistic + per-doc projection shape.
    Q("a14_tfidf",
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf)
        |SELECT doc_id, term, tf,
        |  round(tf * (ln((n + 1) / (df + 1)) + 1), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |WHERE doc_id < 100
        |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokenize(col("text")).as("toks"))
      graft.operators.TfIdf.tfidf(docs, "doc_id", "toks")
        .where(col("id") < 100)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "term")
    },

    // Exact distribution stats per language: linear-interpolated
    // percentiles of document length — corpus profiling every training-
    // data pipeline runs before filtering on length.
    Q("t7_length_percentiles",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
        .orderBy("lang")
    },

    // The sketch form of t7: approx_percentile (t-digest-class mergeable
    // sketch) — at 100 TB the exact sort-based percentile gives way to
    // this one-pass mergeable summary (same pattern as a13 -> a13b).
    // Approximation is engine-specific — rows-only; ApproxSpec bounds the
    // error against the exact form.
    Q.rowsOnly("t7b_approx_length_percentiles") { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(n_chars, 0.5)").as("p50"),
          expr("approx_percentile(n_chars, 0.9)").as("p90"),
          expr("approx_percentile(n_chars, 0.99)").as("p99"))
        .orderBy("lang")
    },

    // Deterministic train/val/test split: membership is a pure function
    // of xxhash64(doc_id, seed) — stable across runs, partitionings, and
    // clusters (what training reproducibility requires; `sample()` is
    // none of those). Engine hashing → rows-only; proportions, disjoint
    // cover, and repartition-stability asserted in SessionizeSamplingSpec.
    Q.rowsOnly("s11_hash_split") { (s, d) =>
      graft.operators.Sampling.hashSplit(
          Tables.documents(s, d), "doc_id", seed = 42L,
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },

    // s11's value-checked sibling (the d4b playbook applied to splits):
    // same assignment rule, but the bucket hash is FNV-1a-64 over the id
    // string — simple enough for the oracle to replay the fold in SQL
    // (HUGEINT mod-2^64 arithmetic, signed pmod both sides), so per-row
    // MEMBERSHIP is hash-matched, not just the proportions. xxhash64
    // (s11) stays the production default.
    Q("s11b_hash_split_fnv",
      """WITH h AS (SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(-3750763034362895579 AS BIGINT),
        |        list_transform(regexp_split_to_array(CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(unicode(c) AS BIGINT))),
        |      (acc, cp) -> CAST(
        |        CASE WHEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
        |             THEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
        |             ELSE ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT END AS BIGINT)) AS h
        |  FROM documents),
        |b AS (SELECT doc_id, ((h % 10000) + 10000) % 10000 AS b FROM h)
        |SELECT doc_id,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val bucket = pmod(
        column(graft.expressions.Fnv1a64(
          expression(col("doc_id").cast("string")))), lit(10000L))
      graft.operators.Sampling.hashSplitBy(
          Tables.documents(s, d), bucket,
          fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },

    // Deterministic corpus shuffle + sharding (the "shuffle before
    // training" layout step): shard routing and within-shard order from
    // two INDEPENDENTLY salted hashes of the id — reproducible from ids
    // alone, decorrelated from ingest order, one window shuffle. FNV
    // hashes here so the oracle replays routing AND order per-row;
    // xxhash64 (shuffleShard) is the production default.
    Q("s22_shuffle_shard",
      s"""WITH h AS (SELECT doc_id,
        |    ${Q.fnvSql("CAST(doc_id AS VARCHAR) || '|shard'")} AS hs,
        |    ${Q.fnvSql("CAST(doc_id AS VARCHAR) || '|order'")} AS ho
        |  FROM documents),
        |s AS (SELECT doc_id, ((hs % 8) + 8) % 8 AS shard, ho FROM h)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ho, doc_id)
        |       AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      def fnv(salt: String) = column(graft.expressions.Fnv1a64(expression(
        concat(col("doc_id").cast("string"), lit("|" + salt)))))
      graft.operators.Sampling.shuffleShardBy(
          Tables.documents(s, d).select("doc_id"),
          fnv("shard"), fnv("order"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")
    },

    // Fractional-EPOCH upsampling (the pretraining mixture-weights step:
    // "2.5 epochs of src0, 0.25 of src2"): floor(w) full copies plus a
    // hash-selected fractional copy, expected multiplicity exactly w,
    // zero shuffle. FNV bucket → the oracle replays full membership AND
    // copy counts per row; weight 0 drops, absent strata pass at 1.0.
    Q("s24_epoch_upsample",
      s"""WITH h AS (SELECT doc_id, source,
        |    ${Q.fnvSql("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |b AS (SELECT doc_id, source, ((h % 10000) + 10000) % 10000 AS b FROM h),
        |w AS (SELECT doc_id, source, b,
        |        CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                    WHEN 'src2' THEN 0.25 ELSE 0.0 END AS w
        |      FROM b),
        |n AS (SELECT doc_id, source,
        |        CAST(floor(w) + CASE WHEN b < floor((w - floor(w)) * 10000.0 + 0.5)
        |                             THEN 1 ELSE 0 END AS BIGINT) AS n
        |      FROM w)
        |SELECT doc_id, source, CAST(gs - 1 AS BIGINT) AS copy
        |FROM n, LATERAL unnest(generate_series(1, n)) g(gs)
        |ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val bucket = pmod(
        column(graft.expressions.Fnv1a64(
          expression(col("doc_id").cast("string")))), lit(10000L))
      graft.operators.Sampling.epochUpsampleBy(
          Tables.documents(s, d)
            .where(col("source").isin("src0", "src1", "src2", "src3"))
            .select("doc_id", "source"), bucket, "source",
          weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25,
            "src3" -> 0.0))
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy("doc_id", "copy")
    },

    // Domain mixing to a target composition (the training-mix step):
    // downsample each source deterministically so the output approaches
    // 40/30/20/10 across the four document sources at the largest feasible
    // size. Engine hashing → rows-only; composition + determinism +
    // binding-stratum maximality asserted in SessionizeSamplingSpec.
    Q.rowsOnly("s13_domain_mix") { (s, d) =>
      graft.operators.Sampling.domainMix(
          Tables.documents(s, d), "source", "doc_id", seed = 7L,
          targets = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2,
            "src3" -> 0.1))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    },

    // s13's value-checked sibling (the s11b FNV playbook applied to domain
    // mixing): the oracle recomputes the binding-stratum feasible total,
    // each stratum's keep fraction, AND each row's bucket — per-row
    // MEMBERSHIP of the mix is hash-matched, not just the composition.
    // Targets are binary-exact doubles (0.5/0.25/0.125) so the Scala and
    // SQL float folds are bit-identical; xxhash64 (s13) stays the
    // production default.
    Q("s13b_domain_mix_fnv",
      s"""WITH h AS (SELECT doc_id, source,
         |    ${Q.fnvSql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |b AS (SELECT doc_id, source, ((h % 10000) + 10000) % 10000 AS b FROM h),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |      FROM documents GROUP BY source),
         |t(source, tgt) AS (VALUES
         |  ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
         |  ('src2', CAST(0.125 AS DOUBLE)), ('src3', CAST(0.125 AS DOUBLE))),
         |tot AS (SELECT min(CAST(n AS DOUBLE) / tgt) AS total
         |        FROM c JOIN t USING (source)),
         |f AS (SELECT source,
         |        least(1.0, (SELECT total FROM tot) * tgt / CAST(n AS DOUBLE)) AS f
         |      FROM c JOIN t USING (source))
         |SELECT doc_id, source FROM b JOIN f USING (source)
         |WHERE b < f * 10000.0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val bucket = pmod(
        column(graft.expressions.Fnv1a64(
          expression(col("doc_id").cast("string")))), lit(10000L))
      graft.operators.Sampling.domainMixBy(
          Tables.documents(s, d), bucket, "source",
          targets = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
            "src3" -> 0.125))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // Temperature-scaled source rebalancing (mT5-style alpha mixing):
    // composition ∝ n_s^0.5, i.e. keep fraction (n_min/n_s)^0.5 per
    // source, smallest source kept whole. Value-checked end-to-end via
    // the s11b FNV playbook: the oracle recomputes the per-source keep
    // fraction AND each row's bucket, certifying MEMBERSHIP. (A last-ulp
    // pow() divergence could flip a row only if f*10000 sat within one ulp
    // of an integer bucket — measure-zero, same argument as s14b.)
    Q("s18_temperature_mix",
      """WITH h AS (SELECT doc_id, lang,
        |    list_reduce(
        |      list_prepend(CAST(-3750763034362895579 AS BIGINT),
        |        list_transform(regexp_split_to_array(CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(unicode(c) AS BIGINT))),
        |      (acc, cp) -> CAST(
        |        CASE WHEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
        |             THEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
        |             ELSE ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT END AS BIGINT)) AS h
        |  FROM documents),
        |b AS (SELECT doc_id, lang, ((h % 10000) + 10000) % 10000 AS b FROM h),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |      FROM documents GROUP BY lang),
        |f AS (SELECT lang,
        |        power(CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE),
        |              0.5) AS f
        |      FROM c)
        |SELECT doc_id, lang FROM b JOIN f USING (lang)
        |WHERE b < f * 10000.0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val bucket = pmod(
        column(graft.expressions.Fnv1a64(
          expression(col("doc_id").cast("string")))), lit(10000L))
      graft.operators.Sampling.temperatureSampleBy(
          Tables.documents(s, d), bucket, "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Gopher-style composite document filter: the gated quality signals
    // (t3 score, t8 repetition ratios, token count) folded into ONE
    // keep/drop decision with the FIRST failing rule named — the actual
    // corpus-filter step, auditable per document. Thresholds are
    // deliberately non-representable-round values (0.41234 …) so a 1-ulp
    // cross-engine difference cannot straddle a boundary.
    Q("t14_doc_filter",
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, text, toks,
        |        CASE WHEN len(toks) >= 3 THEN
        |          list_transform(range(1, len(toks) - 1),
        |            i -> array_to_string(toks[i:i+2], ' '))
        |        ELSE [] END AS tris
        |      FROM t),
        |m AS (SELECT doc_id,
        |    ((CASE WHEN
        |        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |          / greatest(CAST(len(toks) AS DOUBLE), 1.0) BETWEEN 3 AND 10
        |      THEN 1.0 ELSE 0.0 END)
        |     + CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(length(text) AS DOUBLE), 1.0)
        |     + least(CAST(len(list_filter(toks,
        |          x -> x IN ('the','a','an','of','to','in','and','is','on','for',
        |                     'with','that','as','it','at','by'))) AS DOUBLE)
        |        / greatest(CAST(len(toks) AS DOUBLE), 1.0) * 4, 1.0)) / 3.0
        |      AS quality,
        |    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |      AS dup_tok,
        |    CASE WHEN len(tris) > 0 THEN
        |      1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris)
        |    ELSE 0.0 END AS dup_tri,
        |    len(toks) AS n_toks
        |  FROM g)
        |SELECT doc_id,
        |  CAST(CASE WHEN reason = '' THEN 1 ELSE 0 END AS BIGINT) AS kept,
        |  reason
        |FROM (SELECT doc_id,
        |  CASE WHEN n_toks < 5 THEN 'too_short'
        |       WHEN n_toks > 100000 THEN 'too_long'
        |       WHEN quality < 0.41234 THEN 'low_quality'
        |       WHEN dup_tok > 0.31234 THEN 'repetitive_tokens'
        |       WHEN dup_tri > 0.21234 THEN 'repetitive_trigrams'
        |       ELSE '' END AS reason FROM m)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      val tris = when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " ")))
        .otherwise(array().cast("array<string>"))
      val m = Tables.documents(s, d)
        .withColumn("toks", toks).withColumn("tris", tris)
        .select(col("doc_id"),
          qualityScoreRaw(col("text")).as("quality"),
          (lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("dup_tok"),
          when(size(col("tris")) > 0,
            lit(1.0) - size(array_distinct(col("tris"))).cast("double") /
              size(col("tris"))).otherwise(lit(0.0)).as("dup_tri"),
          size(col("toks")).cast("long").as("n_toks"))
      m.select(col("doc_id"),
          when(col("n_toks") < 5, "too_short")
            .when(col("n_toks") > 100000, "too_long")
            .when(col("quality") < 0.41234, "low_quality")
            .when(col("dup_tok") > 0.31234, "repetitive_tokens")
            .when(col("dup_tri") > 0.21234, "repetitive_trigrams")
            .otherwise("").as("reason"))
        .select(col("doc_id"),
          when(col("reason") === "", 1L).otherwise(0L).as("kept"),
          col("reason"))
        .orderBy("doc_id")
    },

    // BM25 ranking against a fixed query-term bag — the first-stage
    // retrieval scorer a pipeline runs for targeted corpus queries before
    // any embedding model (Robertson k1/b form, k1=1.2 b=0.75; formula
    // documented at TfIdf.bm25 and mirrored term-for-term here). Corpus
    // stats (N, avgdl, df) are all in-DAG aggregations; postings prune to
    // the query terms before the tf aggregation.
    Q("t15_bm25",
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM base),
        |toks AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
        |    unnest(toks) AS term FROM base),
        |tf AS (SELECT doc_id, term, any_value(dl) AS dl,
        |    CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks WHERE term IN ('data', 'table', 'fast')
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |s AS (SELECT doc_id,
        |    ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
        |  FROM tf JOIN df USING (term) CROSS JOIN stats)
        |SELECT doc_id, round(sum(s), 6) AS score FROM s GROUP BY doc_id
        |ORDER BY score DESC, doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokenize(col("text")).as("toks"))
      graft.operators.TfIdf.bm25(docs, "doc_id", "toks",
          Seq("data", "table", "fast"))
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    },

    // BM25 through the POSTINGS-INDEX representation — the serving plan
    // of the streaming lexical index family (jobs/LexIngestJob, r13):
    // the corpus is first materialized as the index's two immutable
    // components ((term, id, tf) postings + (id, dl) doc lengths, the
    // exact frames the ingest loop writes as batch=N shards), then
    // scored by the same scoreBm25 the live index serves — df/N/avgdl
    // stay OUT of the stored index and aggregate in-plan, which is what
    // makes shards immutable and generation folds pure relayout. Same
    // Robertson formula as t15 (whose plan scores straight off the
    // documents), different terms, and the oracle certifies the
    // two-phase representation end to end.
    Q("lx1_postings_bm25",
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |lens AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM base),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM lens),
        |postings AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
        |  GROUP BY doc_id, term),
        |tf AS (SELECT doc_id, term, tf FROM postings
        |       WHERE term IN ('scan', 'merge', 'stream')),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |s AS (SELECT doc_id,
        |    ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id)
        |  CROSS JOIN stats)
        |SELECT doc_id, round(sum(s), 6) AS score FROM s GROUP BY doc_id
        |ORDER BY score DESC, doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokenize(col("text")).as("toks"))
      val (postings, lens) =
        graft.jobs.LexIngestJob.componentsOf(docs, "doc_id", "toks")
      graft.jobs.LexIngestJob.scoreBm25(postings, lens,
          Seq("scan", "merge", "stream"))
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    },

    // Real BPE subword segmentation (merge-table application — the
    // algorithm t2's regex heuristic approximates): token counts + the
    // leading tokens per document under a fixed English-digraph merge
    // table. VALUE-CHECKED end to end: the oracle replays the classic
    // greedy loop — merge the LEFTMOST occurrence of the LOWEST-RANK
    // adjacent pair, one merge per step — in a recursive CTE whose state
    // is the per-word parts list (rank = list_position in the merge
    // table; leftmost-lowest via list_position(rks, list_min(rks));
    // splice via list slicing). BpeSpec keeps the hand-computed pins.
    Q("t13_bpe_tokenize",
      s"""WITH RECURSIVE
         |${bpeDoneCtes(bpeMerges)},
         |agg AS (SELECT doc_id, flatten(list(parts ORDER BY wi)) AS toks
         |        FROM done GROUP BY doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
         |  array_to_string(toks[1:8], ' ') AS head_toks
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val toks = column(graft.expressions.BpeTokenize(
        expression(lower(col("text"))), bpeMerges))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"),
          array_join(slice(col("toks"), 1, 8), " ").as("head_toks"))
        .orderBy("doc_id")
    },

    // Quality-weighted sampling (Efraimidis-Spirakis without replacement):
    // sample 100 docs with inclusion probability rising with document
    // length — the "prefer high-quality, keep diversity" mixing step a
    // pure top-by-score cut lacks. Engine hashing → rows-only; exact
    // selection + monotonicity asserted in SessionizeSamplingSpec.
    Q.rowsOnly("s14_weighted_sample") { (s, d) =>
      graft.operators.Sampling.weightedSample(
          Tables.documents(s, d).withColumn("w",
            (col("n_chars") / lit(1000.0)) + lit(0.1)),
          "doc_id", "w", seed = 11L, k = 100)
        .select(col("doc_id")).orderBy("doc_id")
    },

    // s14's value-checked sibling (the s11b playbook applied to A-Res
    // weighted sampling): u derives from FNV-1a-64 so the oracle replays
    // hash → u → key = u^(1/w) → top-k in SQL, certifying per-row
    // MEMBERSHIP of the weighted sample, not just its size. Key ties at
    // the boundary are measure-zero (52-bit u, continuous weights).
    Q("s14b_weighted_sample_fnv",
      """WITH h AS (SELECT doc_id, n_chars,
        |    list_reduce(
        |      list_prepend(CAST(-3750763034362895579 AS BIGINT),
        |        list_transform(regexp_split_to_array(CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(unicode(c) AS BIGINT))),
        |      (acc, cp) -> CAST(
        |        CASE WHEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
        |             THEN ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
        |             ELSE ((CAST(xor(acc, cp) AS HUGEINT) + 18446744073709551616::HUGEINT)
        |                   % 18446744073709551616::HUGEINT * 1099511628211)
        |                  % 18446744073709551616::HUGEINT END AS BIGINT)) AS h
        |  FROM documents),
        |k AS (SELECT doc_id,
        |    exp(ln((((h % 4503599627370496) + 4503599627370496) % 4503599627370496
        |            + 0.5) / 4503599627370496.0)
        |        / (n_chars / 1000.0 + 0.1)) AS key
        |  FROM h)
        |SELECT doc_id FROM
        |  (SELECT doc_id, key FROM k ORDER BY key DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val u = (pmod(
        column(graft.expressions.Fnv1a64(
          expression(col("doc_id").cast("string")))), lit(1L << 52)) + 0.5) /
        lit((1L << 52).toDouble)
      graft.operators.Sampling.weightedSampleBy(
          Tables.documents(s, d).withColumn("w",
            (col("n_chars") / lit(1000.0)) + lit(0.1)),
          u, "doc_id", "w", k = 100)
        .select(col("doc_id")).orderBy("doc_id")
    },

    // Token-budget mixing (training mixes are specified in TOKENS, not doc
    // counts): per source, take docs in doc_id order until the cumulative
    // token count reaches the source's budget; the boundary-crossing doc is
    // included. Deterministic ordering column → fully SQL-expressible.
    Q("s16_token_budget",
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT doc_id, source, n,
        |        sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c
        |WHERE cum - n < CASE source WHEN 'src0' THEN 5000 ELSE 2000 END
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("long").as("n"))
      graft.operators.Sampling.tokenBudget(docs, "source", "doc_id", "n",
          budgets = Map("src0" -> 5000L, "src1" -> 2000L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .orderBy("source")
    },

    // Sliding-window chunking (RAG/embedding prep): 8-token windows
    // advancing by 4 — consecutive chunks overlap by 4 tokens so no
    // span is cut without a copy containing it whole. Pure projection +
    // generator, zero shuffle; the disjoint-grid (d8) and
    // content-defined (d15) chunkers cover the other two boundary
    // policies.
    Q("s21_sliding_chunks",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(list_transform(
        |      range(1, greatest(
        |        CAST(ceil((len(toks) - 8) / 4.0) AS BIGINT) + 1, 1) + 1),
        |      i -> struct_pack(ci := i - 1,
        |        ch := toks[(i-1)*4+1:(i-1)*4+8]))) AS pc
        |  FROM t)
        |SELECT doc_id, CAST(pc.ci AS BIGINT) AS chunk_idx,
        |  CAST(len(pc.ch) AS BIGINT) AS n_tokens,
        |  array_to_string(pc.ch, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      graft.operators.Chunker.slidingTokenChunks(
          Tables.documents(s, d), "doc_id", "text",
          windowTokens = 8, strideTokens = 4)
        .orderBy("doc_id", "chunk_idx")
    },

    // Sequence packing (2048-token windows, 8 parallel buckets): the
    // pre-tokenization layout step of an LLM training pipeline. Window
    // cumsum per bucket — parallel by construction; a global-order cumsum
    // would serialize the corpus through one partition.
    Q("s12_sequence_pack",
      """WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, bucket, n,
        |        sum(n) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
        |      FROM t)
        |SELECT bucket, CAST((cum - n) // 2048 AS BIGINT) AS pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY bucket, pack_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("bucket"),
          size(tokenize(col("text"))).cast("long").as("n"))
      graft.operators.Packing.contiguousPack(docs, "n", maxTokens = 2048L,
          bucketCol = col("bucket"), orderCol = col("doc_id"))
        .groupBy("bucket", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .orderBy("bucket", "pack_id")
    },

    // Consistent pseudonymization (the privacy op redaction can't do:
    // same address ⇒ same surrogate corpus-wide, so joins and per-user
    // aggregation survive the pass). The corpus ships no PII, so both
    // engines CONSTRUCT identical email-bearing text per customer (the
    // t6b playbook) — each address appears twice, so the oracle's
    // replace() also checks within-document consistency; the surrogate
    // is the FULL unsigned-64-bit keyed FNV (no mod-1e5 truncation —
    // r7 advice: 1e5 birthday-collides at ~370 addresses), rebuilt by
    // the oracle from the gate key + the same FNV fold. DuckDB renders
    // the unsigned value via HUGEINT offset of the signed BIGINT.
    Q("t28_pseudonymize",
      s"""WITH t AS (SELECT c_custkey,
         |    'contact user' || c_custkey || '@corp.example or user' || c_custkey
         |      || '@corp.example ref ' || c_custkey AS text,
         |    'user' || c_custkey || '@corp.example' AS email
         |  FROM customer),
         |tok AS (SELECT c_custkey, text, email,
         |    'user_' || CAST(CASE WHEN hv < 0
         |        THEN CAST(hv AS HUGEINT) + 18446744073709551616::HUGEINT
         |        ELSE CAST(hv AS HUGEINT) END AS VARCHAR)
         |      || '@redacted.example' AS token
         |  FROM (SELECT t.*, ${Q.fnvSql("'gate-r8|' || email")} AS hv FROM t))
         |SELECT c_custkey, replace(text, email, token) AS pseudo
         |FROM tok ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val email = concat(lit("user"), col("c_custkey"), lit("@corp.example"))
      val text = concat(lit("contact "), email, lit(" or "), email,
        lit(" ref "), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"),
          pseudonymizeEmails(text, key = "gate-r8|").as("pseudo"))
        .orderBy("c_custkey")
    },

    // E2E4 — the first VALUE-CHECKED member of the e2e family: real BPE
    // tokenization (t13's merge table) feeding sequence packing (s12's
    // bucket-parallel cumsum) in one DAG — the "tokenize the corpus,
    // lay it out in 1024-token training windows" step, with the oracle
    // chaining the recursive BPE replay into the pack arithmetic. The
    // other e2e pipelines stay rows-only because they embed engine
    // hashing or learned models; this one is exact end to end.
    Q("e2e4_tokenize_pack",
      s"""WITH RECURSIVE
         |${bpeDoneCtes(bpeMerges)},
         |cnt AS (SELECT doc_id, CAST(sum(len(parts)) AS BIGINT) AS n
         |        FROM done GROUP BY doc_id),
         |t AS (SELECT doc_id, doc_id % 8 AS bucket, n FROM cnt),
         |c AS (SELECT doc_id, bucket, n,
         |        sum(n) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
         |      FROM t)
         |SELECT bucket, CAST((cum - n) // 1024 AS BIGINT) AS pack_id,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1, 2 ORDER BY bucket, pack_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val toks = column(graft.expressions.BpeTokenize(
        expression(lower(col("text"))), bpeMerges))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("bucket"),
          size(toks).cast("long").as("n"))
      graft.operators.Packing.contiguousPack(docs, "n", maxTokens = 1024L,
          bucketCol = col("bucket"), orderCol = col("doc_id"))
        .groupBy("bucket", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .orderBy("bucket", "pack_id")
    },

    // Count-min sketch word frequencies — the MERGEABLE point-query
    // frequency sketch (incremental corpora sum sketches; Misra-Gries
    // answers top-k, CMS answers "how often is THIS key"). Built with
    // Spark's distributed count_min_sketch aggregate (partial sketches
    // merge associatively — the same map-side-combine story as HLL).
    // The probe key set is BOUNDED (r7 verdict item: distinct().collect()
    // of the vocabulary is a driver OOM at 100 TB): one pass computes
    // BOTH the sketch and a Misra-Gries candidate set (≤ k items on the
    // driver, whatever the corpus size), and only those candidates are
    // probed. Gate regime: k = 4096 >> |vocabulary| ⇒ no MG eviction, the
    // candidate set IS the vocabulary, and with CMS width 2/eps = 20,000
    // collisions are absent for this seed — one-sided error ZERO, so the
    // gate hash-matches the exact-count oracle; eviction-regime
    // guarantees live with the Misra-Gries spec family.
    Q("a29_count_min",
      """SELECT word, CAST(count(*) AS BIGINT) AS est
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |      FROM documents)
        |WHERE word != '' GROUP BY word ORDER BY word""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val words = Tables.documents(s, d)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .where(col("word") =!= "")
      val row = words.agg(
        expr("count_min_sketch(word, 0.0001d, 0.999d, 42)").as("sk"),
        column(graft.expressions.MisraGriesTopK(
          expression(col("word")), 4096).toAggregateExpression()).as("hh"))
        .head()
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
      val probes = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hh")
        .map(_.getAs[String]("item")).sorted
      val s2 = words.sparkSession
      import s2.implicits._
      probes.toSeq.map(w => (w, sk.estimateCount(w)))
        .toDF("word", "est").orderBy("word")
    },

    // Misra-Gries heavy-hitters as a native Catalyst aggregate (the
    // bounded-memory vocabulary audit: k counters per partition, short
    // merged summaries — vs t9's full |distinct|-wide shuffle). With
    // k = 4096 >> |vocabulary| no eviction ever fires, the sketch IS
    // exact counting, and the gate hash-matches a plain COUNT oracle;
    // eviction-mode guarantees are pinned in MisraGriesSpec.
    Q("t16_heavy_hitters",
      """WITH toks AS (SELECT
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
        |GROUP BY term ORDER BY cnt DESC, term""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val toks = Tables.documents(s, d)
        .select(explode(tokenize(col("text"))).as("term"))
      toks
        .agg(column(graft.expressions.MisraGriesTopK(
          expression(col("term")), 4096).toAggregateExpression()).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("term"), col("e.est").as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
    },

    // First-fit-decreasing packing (the padding-minimizing sibling of
    // s12): per-bucket FFD via flatMapGroups — greedy order is engine-side
    // sequential logic, so rows-only; PackingSpec pins hand-computed pack
    // assignments and the budget/pack-count invariants vs contiguous fill.
    Q.rowsOnly("s17_ffd_pack") { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("bucket"),
          size(tokenize(col("text"))).cast("long").as("n"))
      graft.operators.Packing.ffdPack(docs, "doc_id", "n",
          maxTokens = 2048L, bucketCol = col("bucket"))
        .groupBy("bucket", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("bucket", "pack_id")
    },

    // s17's value-checked sibling: FFD is DETERMINISTIC given (n, id)
    // order, so the oracle replays the greedy bin assignment itself with a
    // recursive CTE (the d15 bit-replay playbook applied to control flow):
    // state = the open packs' remaining capacities as a list, one doc per
    // recursion step, first fit found via list_position over a >=n mask.
    // A 31-doc / 2-bucket fixture keeps the recursion shallow; per-doc
    // PACK MEMBERSHIP is value-checked, not just pack totals.
    Q("s17b_ffd_pack_small", {
      val fitPos = "list_position(list_transform(f.caps, c -> c >= s.n), true)"
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, doc_id % 2 AS bkt,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
         |  FROM documents WHERE doc_id <= 30),
         |s AS (
         |  SELECT doc_id, bkt, n,
         |    row_number() OVER (PARTITION BY bkt ORDER BY n DESC, doc_id) AS rn
         |  FROM d),
         |fit AS (
         |  SELECT bkt, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
         |    CAST(NULL AS BIGINT) AS pack_id, []::BIGINT[] AS caps
         |  FROM (SELECT DISTINCT bkt FROM s)
         |  UNION ALL
         |  SELECT s.bkt, s.rn, s.doc_id,
         |    CASE WHEN $fitPos = 0 THEN len(f.caps)
         |         ELSE $fitPos - 1 END AS pack_id,
         |    CASE WHEN $fitPos = 0
         |         THEN list_append(f.caps, greatest(128 - s.n, 0))
         |         ELSE list_transform(range(1, len(f.caps) + 1),
         |                i -> CASE WHEN i = $fitPos THEN f.caps[i] - s.n
         |                          ELSE f.caps[i] END)
         |    END AS caps
         |  FROM fit f JOIN s ON s.bkt = f.bkt AND s.rn = f.rn + 1)
         |SELECT CAST(bkt AS VARCHAR) AS bucket, doc_id, pack_id
         |FROM fit WHERE rn > 0 ORDER BY bucket, doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") <= 30)
        .select(col("doc_id"), pmod(col("doc_id"), lit(2L)).as("bucket"),
          size(tokenize(col("text"))).cast("long").as("n"))
      graft.operators.Packing.ffdPack(docs, "doc_id", "n",
          maxTokens = 128L, bucketCol = col("bucket"))
        .select(col("bucket"), col("id").as("doc_id"), col("pack_id"))
        .orderBy("bucket", "doc_id")
    },

    // Repetition quality signals (the Gopher-rule family): duplicate
    // token fraction and duplicate token-trigram fraction per document —
    // high values flag boilerplate/spam for corpus filtering.
    Q("t8_repetition",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |        CASE WHEN len(toks) >= 3 THEN
        |          list_transform(range(1, len(toks) - 1),
        |            i -> array_to_string(toks[i:i+2], ' '))
        |        ELSE [] END AS tris
        |      FROM t)
        |SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
        |    AS dup_token_ratio,
        |  CASE WHEN len(tris) > 0 THEN
        |    round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 6)
        |  ELSE 0.0 END AS dup_trigram_ratio
        |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      val tris = when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " ")))
        .otherwise(array().cast("array<string>"))
      Tables.documents(s, d)
        .withColumn("toks", toks).withColumn("tris", tris)
        .select(col("doc_id"),
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 6).as("dup_token_ratio"),
          when(size(col("tris")) > 0,
            round(lit(1.0) - size(array_distinct(col("tris"))).cast("double") /
              size(col("tris")), 6)).otherwise(0.0).as("dup_trigram_ratio"))
        .orderBy("doc_id")
    },

    // Corpus-wide top token bigrams (contamination / boilerplate audit):
    // explode → partial+final count → global top-k
    // (TakeOrderedAndProject, no global sort).
    Q("t9_top_ngrams",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |      FROM t WHERE len(toks) >= 2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY gram
        |ORDER BY n DESC, gram LIMIT 50""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      // ONE native pass builds the "w1 w2" gram strings
      // (TokenGramStrings) — replaces the interpreted transform+slice+
      // array_join lambda AND the separate size>=2 pre-filter, which cost
      // a second full tokenize of the corpus (short docs now simply yield
      // an empty gram array). Same grams, same counts (r14).
      val toks = tokenize(col("text"))
      Tables.documents(s, d)
        .select(explode(column(graft.expressions.TokenGramStrings(
          expression(toks), 2))).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc).limit(50)
    },

    // PMI-scored collocations: which bigrams co-occur far above chance —
    // the phrase-mining signal (word2vec-style phrase detection, quality
    // auditing of boilerplate) t9's raw counts can't give. All counts stay
    // BIGINT until one exactly-rounded double expression per row, and the
    // ranking orders by the EXACT ratio (monotone in PMI) rather than the
    // libm-dependent ln, so the top-50 cut is bit-stable vs the oracle.
    Q("t21_pmi_collocations",
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |u AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
        |n AS (SELECT CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS n FROM uc),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS g
        |      FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS cab
        |       FROM b GROUP BY 1, 2),
        |m AS (SELECT CAST(CAST(sum(cab) AS BIGINT) AS DOUBLE) AS m FROM bc),
        |r AS (SELECT w1, w2,
        |        CAST(cab AS DOUBLE) * n.n * n.n
        |          / (m.m * CAST(a.c AS DOUBLE) * CAST(z.c AS DOUBLE)) AS ratio
        |      FROM bc JOIN uc a ON bc.w1 = a.w
        |              JOIN uc z ON bc.w2 = z.w
        |              CROSS JOIN n CROSS JOIN m
        |      WHERE cab >= 5)
        |SELECT w1, w2, round(ln(ratio), 6) AS pmi
        |FROM r ORDER BY ratio DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val docs = Tables.documents(s, d)
      val toks = tokenize(col("text"))
      // ONE corpus pass (r14; was five explode+tokenize subtrees — uni on
      // each join side, bi, and the n/m totals each re-scanned): PADDED
      // adjacent pairs (native AdjacentPairs — every token appears exactly
      // once as w1; the terminal entry carries w2 = null) aggregate once,
      // and everything else derives from those counts — unigram counts =
      // sum over the padded groups by w1 (exact: each token position is
      // one padded row), bigram counts = the non-null-w2 groups, totals =
      // re-aggregates. Same integer counts ⇒ bit-identical ratios. The
      // five downstream subtrees (bi, uni×2, n, m) do NOT dedup via
      // ReusedExchange — each join pushes different isnotnull filters
      // below the aggregate, so the exchanges diverge — hence the
      // aggregated counts are persisted EAGERLY (the d5/minHashLsh
      // caller-owned-cache idiom; Bench clears the session cache per run,
      // so every timed run still computes from parquet): one corpus pass
      // feeds all five consumers from the (small) count table.
      val bc = docs
        .select(explode(column(graft.expressions.AdjacentPairs(
          expression(toks), padded = true))).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bc.count()   // materialize before the five consumers race to build it
      val uni = bc.groupBy(col("w1").as("w")).agg(sum(col("cab")).as("c"))
      val bi = bc.where(col("w2").isNotNull)
      val n = uni.agg(sum(col("c")).cast("double").as("n"))
      val m = bi.agg(sum(col("cab")).cast("double").as("m"))
      val ratio = col("cab").cast("double") * col("n") * col("n") /
        (col("m") * col("ca").cast("double") * col("cb").cast("double"))
      val limited = bi.where(col("cab") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("ca")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("cb")), "w2")
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .select(col("w1"), col("w2"), round(log(ratio), 6).as("pmi"),
          ratio.as("__r"))
        .orderBy(col("__r").desc, col("w1"), col("w2")).limit(50)
        .drop("__r")
      // materialize the 50-row result, then RELEASE the count cache (r15,
      // ADVICE r14): without this a long-lived session composing t21
      // accumulates a cached count table per invocation. The collect is
      // part of the query build, inside Bench's timed region (t0 precedes
      // fn() — the d14 duplicatedRegions localization precedent).
      val rows = limited.collect()
      bc.unpersist()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), limited.schema)
    },

    // Code-point Shannon entropy per document (native CharEntropy kernel,
    // SQL: char_entropy): the cheap non-linguistic-content screen —
    // base64/hex blobs score far above natural text, padding/repetition
    // far below. Pure scan, no shuffle. The oracle recomputes the
    // distribution per row with list functions (summation order differs;
    // round 6 absorbs the ulp-level difference).
    Q("t22_char_entropy",
      """WITH c AS (SELECT doc_id, regexp_split_to_array(text, '') AS ch
        |           FROM documents),
        |e AS (SELECT doc_id, len(ch) AS n,
        |    -list_sum(list_transform(list_distinct(ch),
        |       x -> (CAST(len(list_filter(ch, y -> y = x)) AS DOUBLE) / len(ch))
        |            * ln(CAST(len(list_filter(ch, y -> y = x)) AS DOUBLE) / len(ch))))
        |      AS ent
        |  FROM c)
        |SELECT doc_id, round(ent, 6) AS entropy, CAST(n AS BIGINT) AS n_chars2
        |FROM e ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("entropy"),
          length(col("text")).cast("long").as("n_chars2"))
        .orderBy("doc_id")
    },

    // Tokenizer fertility audit: characters per BPE token by language —
    // the "is this tokenizer efficient on this corpus slice" number that
    // drives vocab decisions (CJK under an English-digraph merge table
    // shows near-1.0 fertility: nothing merges). Value-checked via the
    // same recursive-CTE BPE replay as t13 (shared bpeDoneCtes, so the
    // two oracles cannot drift); avg(nc/nt) reorder noise is ~1e-15,
    // inside the checker's 1e-9 — the g1-pagerank argument.
    Q("t23_tokenizer_fertility",
      s"""WITH RECURSIVE
         |${bpeDoneCtes(bpeMerges)},
         |cnt AS (SELECT doc_id, CAST(sum(len(parts)) AS DOUBLE) AS nt
         |        FROM done GROUP BY doc_id)
         |SELECT lang,
         |  round(avg(CAST(length(text) AS DOUBLE) / nt), 4) AS chars_per_token,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM documents JOIN cnt USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val toks = column(graft.expressions.BpeTokenize(
        expression(lower(col("text"))), bpeMerges))
      Tables.documents(s, d)
        .select(col("lang"), length(col("text")).cast("double").as("nc"),
          size(toks).cast("double").as("nt"))
        .groupBy("lang")
        .agg(round(avg(col("nc") / col("nt")), 4).as("chars_per_token"),
          sum(col("nt")).cast("long").as("n_tokens"))
        .orderBy("lang")
    },

    // Per-language quality calibration: each language keeps documents at
    // or above ITS OWN 25th quality percentile — absolute thresholds
    // (t14) systematically over-drop languages the scorer is biased
    // against; per-stratum percentile cuts are the standard correction.
    // Scale shape: exact per-stratum percentile agg (→ approx_percentile
    // at 100 TB, same swap as t7→t7b), broadcast threshold join back,
    // one more agg — never a global sort or window.
    Q("t24_quality_percentile_cut",
      """WITH m AS (SELECT doc_id, lang, (
        |    (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END)
        |    + alpha_ratio + least(stop_ratio * 4, 1.0)) / 3.0 AS quality
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS mean_len,
        |      CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha_ratio,
        |      CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x IN ('the','a','an','of','to','in','and','is','on','for',
        |                     'with','that','as','it','at','by'))) AS DOUBLE)
        |        / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS stop_ratio
        |    FROM documents)),
        |thr AS (SELECT lang, quantile_cont(quality, 0.25) AS thr
        |        FROM m GROUP BY lang)
        |SELECT m.lang AS lang, round(max(thr), 6) AS threshold,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM m JOIN thr ON m.lang = thr.lang
        |GROUP BY m.lang ORDER BY lang""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          qualityScoreRaw(col("text")).as("quality"))
      val thr = m.groupBy("lang")
        .agg(expr("percentile(quality, 0.25)").as("thr"))
      m.join(broadcast(thr), Seq("lang"))
        .groupBy("lang")
        .agg(round(max(col("thr")), 6).as("threshold"),
          count(lit(1)).as("n_total"),
          sum(when(col("quality") >= col("thr"), 1L).otherwise(0L))
            .as("n_kept"))
        .orderBy("lang")
    },

    // The FULL pipeline (prepare + suffix-region removal + benchmark
    // decontamination + DSIR target selection) in one composed DAG —
    // every stage individually gated (d14/d14b, t3/t4, d5, dc1, s19,
    // s11, s12); rows-only here, composition invariants in
    // CorpusPrepSpec. Benchmark = three held-out documents; target =
    // English; keep the 200 most-target-like docs.
    Q.rowsOnly("e2e2_full_prep") { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.jobs.CorpusPrep.prepareFull(
          docs.where(col("doc_id") >= 3), "doc_id", "text",
          benchmark = Some(docs.where(col("doc_id") < 3)
            .select(col("text"))),
          dsirTarget = Some(col("lang") === "en"),
          dsirKeep = 200)
        .groupBy("split").agg(count(lit(1)).as("n"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("split")
    },

    // e2e2's value-checked sibling: the SAME prepareFull composition
    // (suffix-region splice → quality → near-dup dedup → benchmark
    // decontamination → split → pack; DSIR off) run end-to-end in its
    // fully deterministic configuration on a reduced fixture, and the
    // ORACLE replays the whole chain as one CTE pipeline — the d14b
    // region/splice replay feeding the t3 quality formula feeding the
    // d5b recursive-CTE components feeding the s11b FNV split and the
    // s12 cumsum pack, with the dc1 overlap filter applied LAST over the
    // packed rows — prepareFull packs before decontamination, so dropped
    // docs still occupy pack space (a composition fact the first draft
    // of this oracle got wrong and the value check caught). Determinism
    // comes from the Config seams, not a forked pipeline: dedup at 24×4
    // banding (LSH candidate set = exact ≥0.8 pair set, the d5b
    // argument), split/pack buckets overridden with oracle-replayable
    // FNV columns. Every surviving row is value-checked — content md5
    // of the spliced text, rounded quality, split membership, pack
    // assignment — so the COMPOSITION (stage order, which text each
    // stage sees, who filters whom) is hash-matched, not just each
    // stage in isolation.
    e2e2b(400),

    // The composed corpus-preparation pipeline (quality → lang → dedup →
    // split → pack) in one call — engine hashing in dedup/split makes it
    // rows-only; every stage is oracle-gated individually (t3/t4/d5/s11/
    // s12) and CorpusPrepSpec asserts the composition invariants.
    Q.rowsOnly("e2e_corpus_prep") { (s, d) =>
      graft.jobs.CorpusPrep.prepare(
          Tables.documents(s, d), "doc_id", "text")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bucket"), col("pack_id")).as("n_packs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("split")
    },

    // PII redaction (training-data scrubbing): emails / URLs / IPv4s /
    // long digit runs → typed placeholders. The PII is constructed
    // deterministically from doc_id so every row exercises every rule;
    // patterns are RE2-compatible, so the SAME regex strings run under
    // Java regex (Spark) and RE2 (DuckDB oracle).
    Q("t10_redact_pii",
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id
        |      || '@mail.example.com or see https://site' || doc_id
        |      || '.example.org/a?b=1 from 10.1.' || (doc_id % 256)
        |      || '.42 ref 99' || doc_id || '00123' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^ \t\r\n]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ \t\r\n]+')) AS BIGINT) AS n_url,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      val id = col("doc_id").cast("string")
      val t = concat(col("text"),
        lit(" contact user"), id, lit("@mail.example.com or see https://site"),
        id, lit(".example.org/a?b=1 from 10.1."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".42 ref 99"), id, lit("00123"))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          redactPii(col("t")).as("redacted"),
          piiCounts(col("t")).getField("n_url").cast("long").as("n_url"),
          piiCounts(col("t")).getField("n_email").cast("long").as("n_email"),
          piiCounts(col("t")).getField("n_ip").cast("long").as("n_ip"))
        .orderBy("doc_id")
    },

    // Text cleaning: NFC canonical composition + C0 control-char strip.
    // Decomposed accents (e + U+0301) and a BEL are appended from chr()
    // so every row exercises both rules; JDK Normalizer (Spark) and
    // utf8proc (DuckDB) implement the same published algorithm.
    Q("t11_clean_text",
      """SELECT doc_id,
        |  regexp_replace(nfc_normalize(
        |      text || ' cafe' || chr(769) || ' x' || chr(7) || 'y'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // NOTE: Spark's chr() is mod-256 (ASCII-only) — the combining acute
      // and BEL must be string literals on this side; DuckDB's chr() is a
      // real codepoint constructor, so the SQL uses chr(769)/chr(7).
      Tables.documents(s, d)
        .select(col("doc_id"),
          cleanText(concat(col("text"), lit(" café"),
            lit(" xy"))).as("cleaned"))
        .orderBy("doc_id")
    },

    // Accent folding vs DuckDB strip_accents, value-checked: NFD +
    // combining-mark removal (non-decomposable letters like ß pass
    // through — mark removal, not transliteration). Accented fixture
    // appended identically in both engines (the testdata is ASCII).
    Q("t27_accent_fold",
      """SELECT doc_id,
        |  strip_accents(text ||
        |    ' café naïve münchen señor crème brûlée ß ācārya') AS folded
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          accentFold(concat(col("text"),
            lit(" café naïve münchen señor crème brûlée ß ācārya")))
            .as("folded"))
        .orderBy("doc_id")
    },

    // F16/F17 as a native kernel: HTML → visible text, one pass — tag
    // strip (script/style/comments removed WITH contents), the six
    // ubiquitous named entities decoded, whitespace collapsed. The
    // fixture page is synthesized identically in both engines around the
    // documents text (the testdata ships no HTML); the oracle replays the
    // rules as the regex cascade the reference itself uses, certifying
    // the single-pass scanner against the declarative spec.
    Q("t26_html_extract",
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Sample Page</title><style type="text/css">p { color: red; }</style></head><body><!-- nav > here --><div id="main"><p>'
        |    || text ||
        |    '</p><script type="text/javascript">if (1 < 2) { alert("x"); }</script><br><p>&amp;joined &lt;b&gt;&nbsp;it&#39;s &quot;quoted&quot;</p></div></body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?is)<script.*?</script[^>]*>', ' ', 'g'),
        |        '(?is)<style.*?</style[^>]*>', ' ', 'g'),
        |        '<[/!?a-zA-Z][^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |      '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS extracted
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h = concat(
        lit("<html><head><title>Sample Page</title><style type=\"text/css\">" +
          "p { color: red; }</style></head><body><!-- nav > here -->" +
          "<div id=\"main\"><p>"),
        col("text"),
        lit("</p><script type=\"text/javascript\">if (1 < 2) { alert(\"x\"); }" +
          "</script><br><p>&amp;joined &lt;b&gt;&nbsp;it&#39;s " +
          "&quot;quoted&quot;</p></div></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), htmlText(h).as("extracted"))
        .orderBy("doc_id")
    },

    // P8/F8: token filters — length >= 2, not all-digits
    // (simility_books.py:11-15).
    Q("p8_token_filter",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> length(t) >= 2 AND NOT regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_kept
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(filterTokens(tokenize(col("text")))).cast("long").as("n_kept"))
        .orderBy("doc_id")
    },
  )
}
