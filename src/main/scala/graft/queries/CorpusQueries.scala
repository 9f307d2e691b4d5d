package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.text.Urls
import QueryHelpers.{lnMicro, lnMicroSql}

/** Corpus-preparation operators a training-data pipeline runs after text
  * analysis and dedup: relevance scoring (TF-IDF), rule-based quality
  * filtering (Gopher/C4-style), benchmark-contamination flagging, keyness
  * (llr1), sequence packing, and the URL curation that runs before text
  * dedup (canonicalization, URL dedup, per-domain caps and the crawl
  * frontier: url1–url4). Plus the keyed upsert (graft.operators.Merge) that
  * mirrors the reference's idempotent daily re-run semantics
  * (`main.py:359-366` WRITE_TRUNCATE-per-day) as a general CDC merge.
  *
  * Scale design (100 TB): every stage is shuffle-on-key with map-side
  * partials; the only global value (corpus size N in t7) travels as a
  * 1-row broadcast, and packing (pk1) is windowed PER SOURCE — the
  * embarrassingly-parallel layout you'd use on a real corpus, never a
  * single global sort.
  */
object CorpusQueries {

  /** Stopword markers shared by the quality rules (t8). */
  private val stops = "'the', 'and', 'of', 'a'"

  /** Deterministic raw-URL derivation from (doc_id, source, lang) — the
    * Spark spelling of [[urlSqlCte]]. The corpus has no URL column, so the
    * URL queries derive one in-plan, and the oracle derives the same one.
    * Residue classes are chosen so that
    * canonicalization genuinely MERGES variants (scheme case, www, :80,
    * utm params, param order, trailing slash, fragment all vary faster
    * than the canonical key), and distinct documents still collide on the
    * canonical key at driver-corpus density (url2 is non-vacuous at
    * sf0.01).
    */
  def rawUrls(docs: DataFrame): DataFrame = {
    val k = col("doc_id")
    val scheme = when(k % 3 === 0, "http").when(k % 3 === 1, "HTTPS")
      .otherwise("Http")
    val www = when(k % 2 === 0, "www.").otherwise("")
    val sub = when(k % 11 === 0, "m.").otherwise("")
    val tld = when(col("lang") === "en", "co.uk").when(col("lang") === "de", "de")
      .when(col("lang") === "fr", "fr").when(col("lang") === "es", "es")
      .when(col("lang") === "zh", "com.cn").otherwise("com")
    val port = when(k % 4 === 0, ":80").when(k % 4 === 1, ":8080").otherwise("")
    val path = concat(lit("/p/"), (k % 3).cast("string"),
      when(k % 6 === 0, "/").otherwise(""))
    val qs = when(k % 4 === 0, concat(lit("?utm_source=feed&id="), (k % 2).cast("string")))
      .when(k % 4 === 1, concat(lit("?id="), (k % 2).cast("string"), lit("&utm_campaign=q&r=1")))
      .when(k % 4 === 2, concat(lit("?r=1&id="), (k % 2).cast("string")))
      .otherwise("")
    val frag = when(k % 6 === 0, "#top").otherwise("")
    docs.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
      concat(scheme, lit("://"), www, sub, col("source"), lit("-"),
        (k % 5).cast("string"), lit("."), tld, port, path, qs, frag).as("url"))
  }

  /** Canonicalized document-URL table: (doc_id, source, lang, n_chars,
    * url, canon, host, domain). All per-row projections — zero shuffle.
    */
  def canonicalDocs(docs: DataFrame): DataFrame = {
    val u = rawUrls(docs)
    val h = Urls.host(col("url"))
    u.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
      col("url"), Urls.canonicalize(col("url")).as("canon"),
      h.as("host"), Urls.registrableDomain(h).as("domain"))
  }

  /** The oracle's spelling of [[rawUrls]]: CTE `u`. (`||` sits at line
    * ENDS throughout the URL SQL: these fragments pass through up to
    * three nested stripMargin applications, and a line-leading `||` loses
    * a pipe per pass.)
    */
  private val urlSqlCte: String =
    """u AS (SELECT doc_id, source, lang, n_chars,
      |  (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'Http' END) ||
      |  '://' ||
      |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
      |  (CASE WHEN doc_id % 11 = 0 THEN 'm.' ELSE '' END) ||
      |  source || '-' || CAST(doc_id % 5 AS VARCHAR) || '.' ||
      |  (CASE lang WHEN 'en' THEN 'co.uk' WHEN 'de' THEN 'de'
      |             WHEN 'fr' THEN 'fr' WHEN 'es' THEN 'es'
      |             WHEN 'zh' THEN 'com.cn' ELSE 'com' END) ||
      |  (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':8080' ELSE '' END) ||
      |  '/p/' || CAST(doc_id % 3 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
      |  (CASE doc_id % 4
      |        WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 2 AS VARCHAR)
      |        WHEN 1 THEN '?id=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_campaign=q&r=1'
      |        WHEN 2 THEN '?r=1&id=' || CAST(doc_id % 2 AS VARCHAR)
      |        ELSE '' END) ||
      |  (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
      |FROM documents)""".stripMargin

  /** The oracle's spelling of [[canonicalDocs]]: CTEs `u` … `c`, with `c`
    * exposing (doc_id, source, lang, n_chars, url, canon, host, domain).
    * Mirrors graft.text.Urls step by step.
    */
  private val urlCanonSqlCtes: String =
    s"""$urlSqlCte,
       |nf AS (SELECT *, regexp_extract(url, '^([^#]*)', 1) AS nofrag FROM u),
       |pr AS (SELECT *,
       |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |  regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1) AS hostport,
       |  regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS pathq
       |FROM nf),
       |pp AS (SELECT *,
       |  regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\\.', '') AS host,
       |  -- DuckDB regexp_extract yields NULL on no-match where Spark
       |  -- yields '' — coalesce the two extractions that can miss
       |  coalesce(regexp_extract(hostport, ':([0-9]+)$$', 1), '') AS prt,
       |  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$$', '') AS path0,
       |  coalesce(regexp_extract(pathq, '\\?(.*)$$', 1), '') AS qs
       |FROM pr),
       |cq AS (SELECT *,
       |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path_out,
       |  CASE WHEN prt = '' OR (scheme = 'http' AND prt = '80')
       |         OR (scheme = 'https' AND prt = '443')
       |       THEN '' ELSE ':' || prt END AS port_out,
       |  -- coalesce: array_to_string of an EMPTY list is NULL in DuckDB
       |  coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
       |    x -> x <> '' AND NOT regexp_matches(x, '^utm_'))), '&'), '') AS qs_sorted
       |FROM pp),
       |c AS (SELECT doc_id, source, lang, n_chars, url, host,
       |  scheme || '://' || host || port_out || path_out ||
       |    (CASE WHEN qs_sorted = '' THEN '' ELSE '?' || qs_sorted END) AS canon,
       |  CASE WHEN len(string_split(host, '.')) >= 3
       |        AND (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
       |            IN ('co.uk', 'com.cn')
       |       THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2] ||
       |            '.' || string_split(host, '.')[-1]
       |       ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |  END AS domain
       |FROM cq)""".stripMargin

  /** The 3-term query t14 and rrf1 rank: one row per matched (doc_id, w)
    * with its tf, the term's df, the doc's len, and the corpus's n and
    * avgdl. The term filter lands before the tf aggregation; df and the
    * (n, avgdl) row are broadcasts.
    */
  private def queryTermMatches(docs: DataFrame): DataFrame = {
    val terms = Seq("vector", "stream", "merge")
    val t = docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val l = t.select(col("doc_id"), size(col("toks")).as("len"))
    val st = l.agg(count(lit(1)).as("n"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avgdl"))
    val u = t.select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = u.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfw = u.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfw), "w").join(l, "doc_id").crossJoin(broadcast(st))
  }

  /** Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's non-negative idf) of one
    * [[queryTermMatches]] row, in integer micro-units.
    */
  private val bm25Micro: Column =
    round(lit(1000000) * (log(lit(1) + (col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
      * ((col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("len").cast("double") / col("avgdl")))))))
      .cast("long")

  /** [[queryTermMatches]] as DuckDB CTEs `t`, `l`, `st`, `u`, `tf` and `df`. */
  private val queryTermMatchesSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |l AS (SELECT doc_id, len(toks) AS len FROM t),
      |st AS (SELECT count(*) AS n, CAST(sum(len) AS DOUBLE) / count(*) AS avgdl FROM l),
      |u AS (SELECT doc_id, unnest(toks) AS w FROM t),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM u
      |       WHERE w IN ('vector', 'stream', 'merge') GROUP BY 1, 2),
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM u
      |       WHERE w IN ('vector', 'stream', 'merge') GROUP BY 1)""".stripMargin

  /** [[bm25Micro]] over the `tf`, `df`, `l` and `st` CTEs. */
  private val bm25MicroSql =
    """CAST(round(1000000 * (ln(1 + (CAST(st.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
      |                * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(l.len AS DOUBLE) / st.avgdl)))))) AS BIGINT)""".stripMargin

  /** The contamination hits ct1 and ct3 count: each non-benchmark doc's
    * shingles shared with the benchmark set → (doc_id, n_shared). The
    * benchmark is the deterministic 5% hash sample of doc_id, and its
    * shingle set is broadcast, so the corpus never shuffles for the probe.
    */
  private def contaminationHits(s: SparkSession, d: String): DataFrame = {
    val sh = TextQueries.shinglesDf(s, d)
    val bench = graft.operators.Sampling
      .uniform(Tables.documents(s, d), col("doc_id"), 0.05)
      .select("doc_id")
    val benchSh = sh.join(bench, Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    sh.join(bench, Seq("doc_id"), "left_anti")
      .join(broadcast(benchSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** [[contaminationHits]] as DuckDB CTEs `t`, `sh` (the 3-gram shingles),
    * `bench`, `bs` and `hits`.
    */
  private val contaminationHitsSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         toks[r.range+1] || ' ' || toks[r.range+2] || ' ' || toks[r.range+3] AS sh
      |       FROM t, range(1024) r WHERE r.range < len(toks) - 2),
      |bench AS (SELECT doc_id FROM documents
      |  WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) < 3276),
      |bs AS (SELECT DISTINCT sh FROM sh JOIN bench USING (doc_id)),
      |hits AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |         FROM sh s JOIN bs USING (sh)
      |         WHERE s.doc_id NOT IN (SELECT doc_id FROM bench) GROUP BY 1)""".stripMargin

  def all: Seq[Q] = Seq(

    // ── T7: doc-level TF-IDF, top-3 terms per document. tf = in-doc term
    // count; df = docs containing the term; idf = ln(N/df). N is a 1-row
    // aggregate cross-joined in (a 1-row broadcast at any scale — never a
    // driver action); the df table shuffles once on term.
    Q("t7_tfidf_topk",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM u GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM u GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, w, round(tf * ln(n.n * 1.0 / df.df), 6) AS tfidf
        |       FROM tf JOIN df USING (w), n),
        |r AS (SELECT doc_id, w, tfidf,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
        |      FROM sc)
        |SELECT doc_id, w, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, w""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val u = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      val tf = u.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfw = u.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val sc = tf.join(dfw, "w").crossJoin(n)
        .withColumn("tfidf", round(col("tf") * log(col("n") * 1.0 / col("df")), 6))
      val rn = row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w")))
      sc.withColumn("rn", rn).filter(col("rn") <= 3)
        .select("doc_id", "w", "tfidf")
        .orderBy(col("doc_id"), col("tfidf").desc, col("w"))
    },

    // ── T14: BM25 relevance — the other half of t7's lexical-retrieval
    // story (and the sparse side of a hybrid RAG ranker): Okapi BM25
    // (k1 = 1.2, b = 0.75, Lucene's non-negative idf = ln(1 + (N−df+0.5)/
    // (df+0.5))) for a fixed 3-term query, top-20 docs. The term filter
    // lands BEFORE the tf aggregation so the per-term work is ~|terms|
    // rows per doc, df and the (N, avgdl) row are broadcasts, and top-20
    // is TakeOrderedAndProject — no global sort. Per-term scores travel
    // as INTEGER micro-units (the t11/dsir1 contract) so the per-doc Σ is
    // exact; both engines build the identical expression tree, so every
    // IEEE op rounds identically (ln carries the documented 1-ulp risk).
    Q("t14_bm25",
      s"""$queryTermMatchesSql,
         |sc AS (SELECT tf.doc_id,
         |              $bm25MicroSql AS s
         |       FROM tf JOIN df USING (w) JOIN l ON l.doc_id = tf.doc_id, st),
         |tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_micro FROM sc GROUP BY 1)
         |SELECT doc_id, bm25_micro FROM tot
         |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      queryTermMatches(Tables.documents(s, d))
        .select(col("doc_id"), bm25Micro.as("s"))
        .groupBy("doc_id").agg(sum(col("s")).cast("long").as("bm25_micro"))
        .orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
    },

    // ── RRF1: reciprocal-rank fusion — the standard hybrid-retrieval
    // combiner (Cormack et al. 2009, k=60): fuse t14's BM25 ranking with
    // a tf-idf ranking of the SAME 3-term query; per-list contribution =
    // 1e9 div (60 + rank) — PURE INTEGER arithmetic, so fusion carries
    // zero float risk and the only approximate step is inside each
    // ranking's own (already-contracted) scoring. Both rankings rank ONLY
    // the term-matched candidate set (retrieval's candidate ≪ corpus
    // invariant — the rank window never sees the whole corpus), share one
    // candidate scan, and top-20 is TakeOrderedAndProject.
    Q("rrf1_rank_fusion",
      s"""$queryTermMatchesSql,
         |sc AS (SELECT tf.doc_id,
         |              $bm25MicroSql AS s1,
         |              CAST(round(1000000 * (tf.tf * ln(CAST(st.n AS DOUBLE) / df.df))) AS BIGINT) AS s2
         |       FROM tf JOIN df USING (w) JOIN l ON l.doc_id = tf.doc_id, st),
         |tot AS (SELECT doc_id, CAST(sum(s1) AS BIGINT) AS bm25, CAST(sum(s2) AS BIGINT) AS tfidf
         |        FROM sc GROUP BY 1),
         |t1 AS (SELECT doc_id FROM tot ORDER BY bm25 DESC, doc_id LIMIT 100),
         |t2 AS (SELECT doc_id FROM tot ORDER BY tfidf DESC, doc_id LIMIT 100),
         |r1 AS (SELECT t1.doc_id, row_number() OVER (ORDER BY bm25 DESC, t1.doc_id) AS r
         |       FROM t1 JOIN tot ON tot.doc_id = t1.doc_id),
         |r2 AS (SELECT t2.doc_id, row_number() OVER (ORDER BY tfidf DESC, t2.doc_id) AS r
         |       FROM t2 JOIN tot ON tot.doc_id = t2.doc_id)
         |SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
         |       CAST(coalesce(1000000000 // (60 + r1.r), 0)
         |          + coalesce(1000000000 // (60 + r2.r), 0) AS BIGINT) AS rrf_nano
         |FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
         |ORDER BY rrf_nano DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val sc = queryTermMatches(Tables.documents(s, d))
        .select(col("doc_id"), bm25Micro.as("s1"),
          round(lit(1000000) * (col("tf") * log(col("n").cast("double") / col("df"))))
            .cast("long").as("s2"))
      val tot = sc.groupBy("doc_id").agg(
        sum(col("s1")).cast("long").as("bm25"),
        sum(col("s2")).cast("long").as("tfidf"))
      // each list is a distributed top-100 (TakeOrderedAndProject); the
      // rank window then runs over ≤100 rows — candidate ≪ corpus, never
      // a corpus-wide single-partition sort
      def ranked(score: String) = {
        val top = tot.orderBy(col(score).desc, col("doc_id")).limit(100)
        val w = Window.orderBy(col(score).desc, col("doc_id"))
        top.withColumn("r", row_number().over(w)).select(col("doc_id"), col("r"))
      }
      val r1 = ranked("bm25").withColumnRenamed("r", "r1")
      val r2 = ranked("tfidf").withColumnRenamed("r", "r2")
      r1.join(r2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000000 div (60 + r1)"), lit(0L))
            + coalesce(expr("1000000000 div (60 + r2)"), lit(0L)))
            .cast("long").as("rrf_nano"))
        .orderBy(col("rrf_nano").desc, col("doc_id")).limit(20)
    },

    // ── T8: Gopher/C4-style rule filter — per-doc flags plus the combined
    // keep decision. All rules are narrow per-row maps except the
    // most-common-word fraction, which is one explode + two keyed
    // aggregations (shuffle on doc_id — the natural key).
    Q("t8_quality_rules",
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
         |                  length(replace(text, ' ', '')) AS nosp FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |c AS (SELECT doc_id, w, count(*) AS n FROM u GROUP BY 1, 2),
         |m AS (SELECT doc_id, max(n) AS mx FROM c GROUP BY 1),
         |f AS (SELECT t.doc_id, len(toks) AS n_words,
         |             round(nosp * 1.0 / len(toks), 4) AS mean_word_len,
         |             round(mx * 1.0 / len(toks), 4) AS top_word_frac,
         |             CAST(len(list_filter(toks, x -> x IN ($stops))) >= 2 AS INT) AS has_stop
         |      FROM t JOIN m ON m.doc_id = t.doc_id)
         |SELECT doc_id, n_words, mean_word_len, top_word_frac, has_stop,
         |       CAST(n_words >= 20 AND n_words <= 1000
         |            AND mean_word_len >= 2 AND mean_word_len <= 12
         |            AND top_word_frac <= 0.15 AND has_stop = 1 AS INT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"),
        length(regexp_replace(col("text"), " ", "")).as("nosp"))
      val mx = t.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(max(col("n")).as("mx"))
      val f = t.join(mx, "doc_id").select(col("doc_id"),
        size(col("toks")).as("n_words"),
        round(col("nosp") * 1.0 / size(col("toks")), 4).as("mean_word_len"),
        round(col("mx") * 1.0 / size(col("toks")), 4).as("top_word_frac"),
        (size(expr(s"filter(toks, x -> array_contains(array($stops), x))")) >= 2)
          .cast("int").as("has_stop"))
      f.withColumn("keep",
          (col("n_words").between(20, 1000) &&
            col("mean_word_len").between(2, 12) &&
            col("top_word_frac") <= 0.15 && col("has_stop") === 1).cast("int"))
        .orderBy("doc_id")
    },

    // ── PK1: sequence packing — assign docs to fixed token-budget packs
    // (budget 512) by cumulative token count, windowed PER SOURCE in
    // deterministic doc order. The fixed-offset formulation (pack boundary
    // = floor(tokens-before / budget)) keeps it one window function —
    // greedy repacking would need a sequential scan; at 100 TB each source
    // shard packs independently, so the sort is per-partition, never global.
    Q("pk1_seq_pack",
      """WITH t AS (SELECT source, CAST(doc_id AS BIGINT) AS id,
        |                  len(regexp_split_to_array(trim(text), '\s+')) AS n FROM documents),
        |c AS (SELECT source, id, n,
        |             coalesce(sum(n) OVER (PARTITION BY source ORDER BY id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t),
        |p AS (SELECT source, CAST(cb // 512 AS BIGINT) AS pack_id, n FROM c)
        |SELECT source, pack_id, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("source"),
        col("doc_id").cast("long").as("id"),
        size(split(trim(col("text")), "\\s+")).as("n"))
      val w = Window.partitionBy("source").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t.withColumn("cb", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("pack_id", expr("cb div 512"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
        .orderBy("source", "pack_id")
    },

    // ── CT1: benchmark-contamination flagging — which training docs share
    // an n-gram with the (held-out) benchmark set. Benchmark = the
    // deterministic 5% hash sample (graft.operators.Sampling — a pure
    // function of doc_id, so both engines pick the same slice); shingles
    // reuse TextQueries' cached 3-gram stage. The benchmark shingle set is
    // tiny relative to the corpus, so the hit join broadcasts at any scale
    // — contamination checking never shuffles the corpus.
    Q("ct1_contamination",
      s"""$contaminationHitsSql
         |SELECT doc_id, n_shared FROM hits ORDER BY doc_id""".stripMargin) { (s, d) =>
      contaminationHits(s, d).orderBy("doc_id")
    },

    // ── CT3: contamination overlap FRACTION — ct1 counts shared shingles;
    // the eval-decontamination rule actually applied (GPT-3 appendix C /
    // PaLM style) thresholds the FRACTION of a doc's n-grams that appear
    // in the benchmark: frac = n_shared / n_distinct_shingles, flag at
    // > 10%. Same plan skeleton as ct1 (cached shingle stage, benchmark
    // set broadcast, corpus never shuffles) plus one doc-keyed size agg;
    // the fraction travels as integer ppm and the 10% verdict as the
    // integer test n_shared·10 > n_shingles — no float ratio to drift.
    Q("ct3_overlap_fraction",
      s"""$contaminationHitsSql,
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1)
         |SELECT h.doc_id, n_shared, n_shingles,
         |       (n_shared * 1000000) // n_shingles AS frac_ppm,
         |       CAST(n_shared * 10 > n_shingles AS INT) AS flagged
         |FROM hits h JOIN ns USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ns = TextQueries.shinglesDf(s, d).groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      contaminationHits(s, d)
        .join(ns, "doc_id")
        .select(col("doc_id"), col("n_shared"), col("n_shingles"),
          expr("(n_shared * 1000000L) div n_shingles").as("frac_ppm"),
          (col("n_shared") * 10 > col("n_shingles")).cast("int").as("flagged"))
        .orderBy("doc_id")
    },

    // ── T9: PMI collocations — pointwise mutual information over adjacent
    // bigrams: pmi = ln((c12/B) / ((c1/T)(c2/T))). Two keyed counts plus
    // two 1-row totals (broadcast); top-20 under a total order. The
    // standard phrase-mining signal, all shuffle-on-key.
    Q("t9_pmi_bigrams",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT toks[r.range+1] AS w1, toks[r.range+2] AS w2
        |       FROM t, range(1024) r WHERE r.range < len(toks) - 1),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |u AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM u) AS t_uni, (SELECT count(*) FROM bg) AS t_bg)
        |SELECT w1, w2, c12,
        |       round(ln((c12 * 1.0 / t_bg) / ((u1.c * 1.0 / t_uni) * (u2.c * 1.0 / t_uni))), 6) AS pmi
        |FROM bc JOIN uc u1 ON u1.w = w1 JOIN uc u2 ON u2.w = w2, tot
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(split(trim(col("text")), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 2)
      val bg = t.select(explode(expr(
        "transform(sequence(0, size(toks)-2), " +
          "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val u = t.select(explode(col("toks")).as("w"))
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uc = u.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = u.agg(count(lit(1)).as("t_uni"))
        .crossJoin(bg.agg(count(lit(1)).as("t_bg")))
      bc.join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(tot)
        .filter(col("c12") >= 5)
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12") * 1.0 / col("t_bg")) /
            ((col("c1") * 1.0 / col("t_uni")) * (col("c2") * 1.0 / col("t_uni")))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // ── LLR1: Dunning log-likelihood keyword extraction — "which tokens
    // CHARACTERIZE each source" via the G² statistic over the 2×2 table
    // (token t in source s vs the rest of the corpus), the standard
    // collocation/keyness test (Dunning 1993) that, unlike raw counts or
    // PMI (t9), neither drowns in stopwords nor blows up on hapaxes.
    // G² = 2·Σ_cells k·ln(kN/RC), computed per cell as the exact-integer
    // combination k·(lnMicro(k)+lnMicro(N)−lnMicro(R)−lnMicro(C)) —
    // ln always evaluates on an exact BIGINT (t11/mi1's contract), and
    // the k·lnMicro products stay under 2^63 for any corpus below ~5e10
    // tokens per margin (documented bound; the margins themselves are
    // exact at any size). Only positively-associated cells survive
    // (k11·N > R·C — the keyword direction), top-5 per source.
    // 100 TB: one corpus-scan keyed agg to (source, token); margins are
    // two rollups of THAT table (one broadcast-sized, one token-keyed);
    // the rank window runs over the vocab-sized aggregate, never the
    // corpus (ks1's bounded-window contract).
    Q("llr1_keywords", {
      val term = (k: String, r: String, c: String) =>
        s"CASE WHEN $k > 0 THEN $k * (${lnMicroSql(k)} + ${lnMicroSql("nn.n")}" +
          s" - ${lnMicroSql(r)} - ${lnMicroSql(c)}) ELSE 0 END"
      s"""WITH t AS (SELECT doc_id, source,
         |             regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |tok AS (SELECT source, unnest(toks) AS token FROM t),
         |stc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
         |rs AS (SELECT source, CAST(sum(k) AS BIGINT) AS r FROM stc GROUP BY 1),
         |ct AS (SELECT token, CAST(sum(k) AS BIGINT) AS c FROM stc GROUP BY 1),
         |nn AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM stc),
         |g AS (SELECT s.source, s.token, s.k AS k11, ct.c - s.k AS k12,
         |             rs.r - s.k AS k21, nn.n - rs.r - ct.c + s.k AS k22,
         |             rs.r, ct.c, nn.n
         |      FROM stc s JOIN rs USING (source) JOIN ct USING (token) CROSS JOIN nn),
         |sc AS (SELECT source, token, k11,
         |         2 * (${term("k11", "r", "c")} + ${term("k12", "(nn.n - r)", "c")}
         |              + ${term("k21", "r", "(nn.n - c)")}
         |              + ${term("k22", "(nn.n - r)", "(nn.n - c)")}) AS g2_micro
         |       FROM g CROSS JOIN nn
         |       WHERE CAST(k11 AS HUGEINT) * nn.n > CAST(r AS HUGEINT) * c),
         |rk AS (SELECT source, token, k11, g2_micro,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY g2_micro DESC, token) AS rk
         |       FROM sc)
         |SELECT source, token, k11 AS n_in_source, g2_micro
         |FROM rk WHERE rk <= 5
         |ORDER BY source, g2_micro DESC, token""".stripMargin
    }) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("token"))
      val stc = tok.groupBy("source", "token")
        .agg(count(lit(1)).cast("long").as("k"))
      val rs = stc.groupBy("source").agg(sum("k").cast("long").as("r"))
      val ct = stc.groupBy("token").agg(sum("k").cast("long").as("c"))
      val nn = stc.agg(sum("k").cast("long").as("n"))
      def term(k: Column, r: Column, c: Column, n: Column): Column =
        when(k > 0,
          k * (lnMicro(k) + lnMicro(n) - lnMicro(r) - lnMicro(c)))
          .otherwise(lit(0L))
      val g = stc
        .join(broadcast(rs), "source") // |sources| rows
        .join(ct, "token")             // token-keyed, vocab-sized
        .crossJoin(broadcast(nn))
        .select(col("source"), col("token"), col("k").as("k11"),
          (col("c") - col("k")).as("k12"), (col("r") - col("k")).as("k21"),
          (col("n") - col("r") - col("c") + col("k")).as("k22"),
          col("r"), col("c"), col("n"))
      val sc = g
        .filter(col("k11").cast("decimal(38,0)") * col("n")
          > col("r").cast("decimal(38,0)") * col("c"))
        .select(col("source"), col("token"), col("k11"),
          (lit(2L) * (term(col("k11"), col("r"), col("c"), col("n"))
            + term(col("k12"), col("n") - col("r"), col("c"), col("n"))
            + term(col("k21"), col("r"), col("n") - col("c"), col("n"))
            + term(col("k22"), col("n") - col("r"), col("n") - col("c"), col("n"))))
            .as("g2_micro"))
      val w = Window.partitionBy("source")
        .orderBy(col("g2_micro").desc, col("token"))
      sc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("token"), col("k11").as("n_in_source"),
          col("g2_micro"))
        .orderBy(col("source"), col("g2_micro").desc, col("token"))
    },

    // ── CH1: sliding-window chunking — 32-token windows at stride 16 (the
    // RAG/embedding-prep op). One transform-over-sequence per row, exploded:
    // a narrow map, no shuffle until the final presentation sort.
    Q("ch1_chunk_windows",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(r.range AS INT) AS idx,
        |             array_to_string(toks[r.range*16+1 : r.range*16+32], ' ') AS chunk
        |      FROM t, range(128) r WHERE r.range*16 < len(toks))
        |SELECT doc_id, idx, chunk, length(chunk) AS n_chars
        |FROM c ORDER BY doc_id, idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST((size(toks) - 1) DIV 16 AS INT)), " +
            "r -> struct(CAST(r AS INT) AS idx, " +
            "concat_ws(' ', slice(toks, r * 16 + 1, 32)) AS chunk))")).as("c"))
        .select(col("doc_id"), col("c.idx").as("idx"), col("c.chunk").as("chunk"),
          length(col("c.chunk")).as("n_chars"))
        .orderBy("doc_id", "idx")
    },

    // ── IC1: incremental cross-corpus dedup — the production mode: a new
    // batch (deterministic 10% slice) anti-joins its vocabulary-signature
    // fingerprints against the EXISTING corpus's fingerprint set, so daily
    // dedup costs O(batch + fingerprint probe), never a full-corpus
    // re-pairing. At scale the existing fingerprints are a bucketed table
    // and the batch side broadcasts.
    Q("ic1_incremental_dedup",
      """WITH fp AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bkt
        |  FROM documents),
        |newb AS (SELECT * FROM fp WHERE bkt < 6553),
        |ex AS (SELECT DISTINCT fp FROM fp WHERE bkt >= 6553)
        |SELECT n.doc_id FROM newb n LEFT JOIN ex ON ex.fp = n.fp
        |WHERE ex.fp IS NULL ORDER BY doc_id""".stripMargin) { (s, d) =>
      val fp = Tables.documents(s, d).select(col("doc_id"),
        md5(concat_ws(" ",
          array_sort(array_distinct(split(trim(col("text")), "\\s+"))))).as("fp"),
        graft.operators.Sampling.bucket(col("doc_id")).as("bkt"))
      val newBatch = fp.filter(col("bkt") < 6553)
      val existing = fp.filter(col("bkt") >= 6553).select("fp").distinct()
      newBatch.join(existing, Seq("fp"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    },

    // ── BAL1: language-balanced resampling — cap each language at 30 docs
    // chosen by deterministic hash order (a reproducible per-stratum
    // quota). One window per stratum key; at scale the hash order also
    // makes the quota restartable (same docs every run).
    Q("bal1_language_balance",
      """WITH r AS (SELECT doc_id, lang,
        |             row_number() OVER (PARTITION BY lang
        |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |           FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 30 ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 30)
        .select("doc_id", "lang").orderBy("lang", "doc_id")
    },

    // ── HH1: vocabulary heavy hitters via the two-pass Misra-Gries top-k
    // (graft.functions.HeavyHitters), SELF-CERTIFIED: after the exact
    // second pass the MG survival bound is checked (k-th count > n/cap) and
    // capacity adapts 8x until the top-k is provably exact. A fixed
    // capacity passed the oracle at sf0.1 but silently returned wrong rows
    // at the 10x probe (vocabulary grew, top counts did not — the
    // guarantee quietly expired); the certificate makes that impossible at
    // any scale. Approximate sub-threshold regime: HeavyHittersSpec.
    Q("hh1_heavy_hitters",
      """WITH u AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |SELECT w, count(*) AS n FROM u GROUP BY 1
        |ORDER BY n DESC, w LIMIT 10""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      graft.functions.HeavyHitters.topkExactCertified(words, "w", k = 10)
    },

    // ── AGG8: Count-Min sketch frequency estimation — hh1's mergeable-
    // sketch sibling: where MG tracks only the top-k, CMS answers "how
    // often does ANY key occur" in fixed memory (d×w counters, merge =
    // cell-wise add — the per-day/per-shard frequency profile you union
    // at 100 TB without re-scanning, agg7's pattern for counts). Spark's
    // codegen'd count_min_sketch aggregate builds it in one pass; the
    // sketch (a 1-row, ~KB binary — a bounded collect like hh1's
    // candidate set) is probed for the exact top-10 tokens. The agg4
    // keys-exact contract: exact counts are hash-checked by the oracle,
    // and the one-sided CMS guarantee (est ≥ exact, est ≤ exact + ε·N at
    // ε=0.001) travels as `bound_ok`, asserted as literal 1.
    Q("agg8_count_min",
      """WITH u AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |SELECT w, count(*) AS exact_cnt, 1 AS bound_ok FROM u GROUP BY 1
        |ORDER BY exact_cnt DESC, w LIMIT 10""".stripMargin) { (s, d) =>
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      val top = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("w")).limit(10)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val row = words.agg(
        expr("count_min_sketch(w, 0.001d, 0.9999d, 42)").as("cms"),
        count(lit(1)).as("n")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
      val n = row.getLong(1)
      top.toSeq.map { case (w, exact) =>
        // the SQL aggregate hashes UTF8 bytes; probe with bytes to match
        val est = cms.estimateCount(w.getBytes("UTF-8"))
        (w, exact,
          if (est >= exact && est <= exact + (0.001 * n).ceil.toLong) 1 else 0)
      }.toDF("w", "exact_cnt", "bound_ok")
        .orderBy(col("exact_cnt").desc, col("w"))
    },

    // ── RD1: PII redaction (graft.text.Redact) — emails/IPs/SSNs/phones
    // masked with typed tokens. The corpus is synthetic and clean, so the
    // query PLANTS one of each per row (derived from doc_id — both engines
    // build the identical string) and the oracle proves the masking chain
    // byte-identical. Pure per-row maps inside whole-stage codegen.
    Q("rd1_redact", {
      val synth = "substr(text, 1, 40) || ' contact user' || doc_id || " +
        "'@mail.example.com or 10.0.' || doc_id || " +
        "'.7 phone 555-123-4567 ssn 123-45-6789.'"
      s"""SELECT doc_id, ${graft.text.Redact.oracleExpr(synth)} AS clean
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val synth = concat(
        substring(col("text"), 1, 40), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or 10.0."), col("doc_id"),
        lit(".7 phone 555-123-4567 ssn 123-45-6789."))
      Tables.documents(s, d)
        .select(col("doc_id"), graft.text.Redact.redact(synth).as("clean"))
        .orderBy("doc_id")
    },

    // ── M1: keyed upsert via graft.operators.Merge — a 12.5% deterministic
    // slice of orders arrives re-priced (the CDC batch); merged = updates
    // win on o_orderkey, everything else kept. Per-row output (no float
    // re-aggregation) keeps the compare exact; the adjustment is additive
    // (+10.00) so repriced values stay 2-decimal and never land on a
    // round-half boundary (a multiplicative reprice makes 3-decimal values
    // whose .xx5 cases round differently across engines).
    Q("m1_merge_upsert",
      """WITH upd AS (
        |  SELECT o_orderkey, round(o_totalprice + 10.0, 2) AS o_totalprice, 'upd' AS src
        |  FROM orders
        |  WHERE (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) < 2)
        |SELECT o_orderkey, o_totalprice, src FROM upd
        |UNION ALL
        |SELECT o.o_orderkey, round(o.o_totalprice, 2), 'base' FROM orders o
        |WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val base = orders.select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), lit("base").as("src"))
      val upd = orders
        .filter(conv(substring(md5(col("o_orderkey").cast("string")), 1, 1), 16, 10)
          .cast("int") < 2)
        .select(col("o_orderkey"),
          round(col("o_totalprice") + 10.0, 2).as("o_totalprice"), lit("upd").as("src"))
      graft.operators.Merge.upsert(base, upd, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // ── ID1: contiguous global example ids (0..N-1 in doc_id order) —
    // graft.operators.GlobalIds: range-repartition + per-partition local
    // positions + an O(P)-row offset prefix-sum, NEVER a single-partition
    // sort or O(N) window (plan-asserted in GlobalIdsSpec). The oracle is
    // the naive global row_number — identical result, scale-killing plan.
    // The trailing orderBy is presentation-only (oracle parity), applied to
    // the already-assigned ids.
    Q("id1_global_ids",
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS gid
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.GlobalIds.withGlobalId(
          Tables.documents(s, d).select("doc_id"), "gid", col("doc_id"))
        .orderBy("doc_id")
    },

    // ── ORD1: deterministic epoch shuffle (graft.operators.EpochShuffle):
    // every example gets a pseudo-random but REPRODUCIBLE position —
    // md5(seed:doc_id) is the sort key (each seed an independent
    // pseudo-permutation; rand() can never replay), the contiguous
    // position comes from GlobalIds (no single-partition sort). The
    // oracle is the naive row_number over the same seeded hash.
    Q("ord1_epoch_shuffle",
      """SELECT doc_id,
        |       row_number() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |         AS pos
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.EpochShuffle.withPosition(
          Tables.documents(s, d).select("doc_id"), col("doc_id"), "ep0")
        .orderBy("doc_id")
    },

    // ── NV2: novelty curve over training order — does the schedule spread
    // NEW content evenly, or front-load it? For each distinct shingle,
    // first_seen = min position under ord1's epoch shuffle; per position
    // decile: how many shingles appear for the first time, vs total
    // shingle occurrences streamed (novelty in integer ppm). A good
    // shuffle decays smoothly; a source-sorted order spikes at source
    // boundaries — the data-ordering sanity check a training pipeline
    // runs before burning GPU-hours on a mis-shuffled corpus.
    //
    // Plan: ord1's rank (GlobalIds — range repartition + O(P) prefix-sum),
    // one doc_id equi-join puts positions on the shingle cache, decile =
    // pos*10 div total (total a 1-row broadcast), then keyed aggs only:
    // min(pos) per shingle md5, two 10-row rollups, one 10-row join.
    Q("nv2_novelty_curve",
      """WITH p AS (SELECT doc_id,
        |             row_number() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |               AS pos
        |           FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         toks[r.range+1] || ' ' || toks[r.range+2] || ' ' || toks[r.range+3] AS sh
        |       FROM t, range(1024) r WHERE r.range < len(toks) - 2),
        |inc AS (SELECT md5(sh.sh) AS m, p.pos, p.pos * 10 // tot.total AS decile
        |        FROM sh JOIN p USING (doc_id) CROSS JOIN tot),
        |fs AS (SELECT m, min(pos) AS fp FROM inc GROUP BY 1),
        |nw AS (SELECT fp * 10 // total AS decile, CAST(count(*) AS BIGINT) AS n_new
        |       FROM fs CROSS JOIN tot GROUP BY 1),
        |oc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_occ FROM inc GROUP BY 1)
        |SELECT oc.decile, coalesce(n_new, 0) AS n_new, n_occ,
        |       coalesce(n_new, 0) * 1000000 // n_occ AS novelty_ppm
        |FROM oc LEFT JOIN nw USING (decile) ORDER BY oc.decile""".stripMargin) { (s, d) =>
      val pos = graft.operators.EpochShuffle.withPosition(
        Tables.documents(s, d).select("doc_id"), col("doc_id"), "ep0")
      val tot = Tables.documents(s, d).agg(count(lit(1)).as("total"))
      val inc = TextQueries.shinglesDf(s, d).select("doc_id", "m")
        .join(pos, "doc_id")
        .crossJoin(broadcast(tot))
        .select(col("m"), col("pos"), expr("pos * 10 div total").as("decile"))
      val nw = inc.groupBy("m").agg(min("pos").as("fp"))
        .crossJoin(broadcast(tot))
        .groupBy(expr("fp * 10 div total").as("decile"))
        .agg(count(lit(1)).as("n_new"))
      val oc = inc.groupBy("decile").agg(count(lit(1)).as("n_occ"))
      oc.join(nw, Seq("decile"), "left")
        .select(col("decile"), coalesce(col("n_new"), lit(0L)).as("n_new"),
          col("n_occ"),
          expr("coalesce(n_new, 0L) * 1000000 div n_occ").as("novelty_ppm"))
        .orderBy("decile")
    },

    // ── CUR1: curriculum ordering — the easy→hard schedule of curriculum
    // learning (Bengio et al., ICML'09) composed from house pieces: phase
    // from FIXED difficulty thresholds on length (no quantile pass, no
    // global sort to find bucket edges), position = GlobalIds rank over
    // (phase, md5('cur0:'+id), id) — docs stream in phase order but
    // pseudo-randomly WITHIN each phase (ord1's seeded-hash shuffle, so
    // the schedule replays identically across runs/engines); composes with
    // shd1 for curriculum-ordered shards. Rank is range-repartition +
    // O(P) prefix-sum — never a single-partition window.
    Q("cur1_curriculum_order",
      """SELECT doc_id,
        |       CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
        |            ELSE 2 END AS phase,
        |       row_number() OVER (ORDER BY
        |         CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
        |              ELSE 2 END,
        |         md5('cur0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("n_chars") < 200, 0).when(col("n_chars") < 400, 1)
          .otherwise(2).as("phase"))
      graft.operators.GlobalIds.withGlobalId(
          docs.withColumn("_h",
            md5(concat_ws(":", lit("cur0"), col("doc_id").cast("string")))),
          "pos", col("phase"), col("_h"), col("doc_id"))
        .drop("_h")
        .orderBy("doc_id")
    },

    // ── SHD1: deterministic sized-shard export layout
    // (graft.operators.Sharding): shard = global_rank(doc_id) div 512 — the
    // fixed-row-shard layout a training loader streams. The rank comes from
    // GlobalIds (no single-partition sort, plan-asserted in GlobalIdsSpec);
    // the oracle replays the naive row_number form. Emitted as per-shard
    // stats; writeSharded (spec-gated) is the layout writer.
    Q("shd1_sized_shards",
      """WITH r AS (SELECT doc_id,
        |             (row_number() OVER (ORDER BY doc_id) - 1) // 512 AS shard_id
        |           FROM documents)
        |SELECT shard_id, count(*) AS n_rows, min(doc_id) AS min_id,
        |       max(doc_id) AS max_id
        |FROM r GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, d) =>
      graft.operators.Sharding.withShardId(
          Tables.documents(s, d).select("doc_id"), 512, col("doc_id"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("shard_id")
    },

    // ── SRC1: JSONL ingest round-trip (graft.sources.JsonlSource): the
    // documents table staged as line-delimited JSON plus two deliberately
    // corrupt lines (broken syntax; type mismatch), read back with the
    // schema ENFORCED (no inference pass — at 100 TB inference is a second
    // full scan) and PERMISSIVE per-row quarantine. The oracle pins the
    // valid-row aggregates to the parquet truth and the corrupt count to
    // the injected literal 2: a reader that drops rows, mis-parses a
    // field, or fails to quarantine flips some column → hash mismatch
    // (the agg4 bound-flag pattern).
    Q("src1_jsonl_roundtrip",
      """SELECT count(*) AS n_valid, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT lang) AS n_langs, 2 AS n_corrupt
        |FROM documents""".stripMargin) { (s, d) =>
      val dir = stageJsonl(s, d)
      val tagged = graft.sources.JsonlSource.readTagged(s, dir, docSchema)
      // doc_id is the REQUIRED field: a type-mismatched line surfaces as a
      // partial row with doc_id null (see JsonlSource.quarantined)
      val bad = graft.sources.JsonlSource.quarantined(col("doc_id"))
      tagged.agg(
        count(when(!bad, lit(1))).as("n_valid"),
        sum(when(!bad, col("n_chars"))).cast("long").as("sum_chars"),
        countDistinct(when(!bad, col("lang"))).as("n_langs"),
        count(when(bad, lit(1))).cast("int").as("n_corrupt"))
    },

    // ── SRC2: ORC ingest round-trip — the other columnar format a corpus
    // pipeline inherits (Hive-era lakes are ORC). Stage documents as ORC
    // (fingerprint-guarded, src1's contract), read back, and aggregate a
    // FILTERED slice so the comparison exercises ORC predicate pushdown +
    // column pruning (asserted in PlanSpec), not just a blind copy; the
    // oracle pins the slice aggregates to the parquet truth — a reader
    // that drops rows, loses a column, or breaks a pushed filter flips a
    // value. One staged write + one pruned scan; nothing driver-side.
    Q("src2_orc_roundtrip",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT source) AS n_sources
        |FROM documents WHERE n_chars >= 200
        |GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      val dir = stageOrc(s, d)
      s.read.orc(dir)
        .filter(col("n_chars") >= 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    },

    // ── URL1: URL canonicalization + host/registrable-domain extraction.
    // 100 TB: every output column is a codegen'd per-row projection
    // (regexp/string ops, no UDF, no shuffle) — this runs inside the scan
    // stage of whatever consumes it.
    Q("url1_canonicalize",
      s"""WITH $urlCanonSqlCtes
         |SELECT doc_id, url, canon, host, domain FROM c
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      canonicalDocs(Tables.documents(s, d))
        .select("doc_id", "url", "canon", "host", "domain")
        .orderBy("doc_id")
    },

    // ── URL2: canonical-URL exact dedup — first-wins keeper per canonical
    // key (d1's contract on url1's key). One keyed agg + one equi-join,
    // both shuffling on the canonical string; at 100 TB this is dd1's
    // plan with the md5 key replaced by the canonical URL (hash-partition
    // on canon, no skew: a canonical key's multiplicity is its crawl
    // duplication factor, not a power law).
    Q("url2_url_dedup",
      s"""WITH $urlCanonSqlCtes,
         |g AS (SELECT canon, min(doc_id) AS keeper_id FROM c GROUP BY 1)
         |SELECT c.doc_id, g.keeper_id,
         |       CAST(CASE WHEN c.doc_id <> g.keeper_id THEN 1 ELSE 0 END AS INTEGER) AS is_dup
         |FROM c JOIN g USING (canon)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val c = canonicalDocs(Tables.documents(s, d))
      // keeper = min(doc_id) over the canon group as a WINDOW, not an
      // agg + join-back: the join form shuffled the doc table twice (agg
      // input + join probe, non-identical exchanges so no reuse); the
      // window form is ONE canon-keyed exchange with the same hot-key
      // clustering exposure the join had anyway
      val w = org.apache.spark.sql.expressions.Window.partitionBy("canon")
      c.select(col("doc_id"), min(col("doc_id")).over(w).as("keeper_id"))
        .select(col("doc_id"), col("keeper_id"),
          when(col("doc_id") =!= col("keeper_id"), 1).otherwise(0)
            .cast("int").as("is_dup"))
        .orderBy("doc_id")
    },

    // ── URL3: per-registrable-domain corpus cap, quality-ranked — keep
    // the top-3 docs per domain by (n_chars desc, doc_id asc). cap1's
    // bounded TopKAggregator keyed by domain: the shuffle carries
    // O(domains × K) rank-carrying rows, never O(docs) (the row_number
    // window the oracle uses would sort every row of a hot domain
    // through one task at 100 TB).
    Q("url3_domain_cap",
      s"""WITH $urlCanonSqlCtes,
         |r AS (SELECT domain, doc_id, n_chars,
         |        row_number() OVER (PARTITION BY domain
         |                           ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM c)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rn <= 3 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM r GROUP BY 1 ORDER BY domain""".stripMargin) { (s, d) =>
      val K = 3
      val c = canonicalDocs(Tables.documents(s, d))
      val kept = c
        .select(col("domain"), col("doc_id"), col("n_chars").cast("double").as("score"))
        .groupBy("domain")
        .agg(graft.functions.TopKAggregator.topK(K)(col("score"), col("doc_id"))
          .as("top"))
        .select(explode(col("top.id")).as("doc_id"))
      val keptMass = c.join(broadcast(kept), Seq("doc_id"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      c.groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .join(keptMass, Seq("domain"), "left")
        .select(col("domain"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_chars"), lit(0L)).cast("long").as("kept_chars"))
        .orderBy("domain")
    },

    // ── URL4: politeness-aware crawl frontier. After url1 canonicalization
    // and url2's first-wins dedup, each domain's URLs are quality-ranked
    // (n_chars desc, doc_id asc) and the rank IS the crawl wave — a polite
    // crawler fetches at most one URL per domain per wave, so wave w's
    // size is the number of domains with ≥ w URLs left (the frontier
    // drain curve). Ranks are produced by the bounded TopKAggregator
    // (url3's device, K = 64): the shuffle carries O(domains × 64)
    // rank-carrying rows, never O(urls) — the oracle's row_number window
    // would sort a hot domain through one task at 100 TB. Output: per-wave
    // URL count and fetched chars for the first 64 waves.
    Q("url4_crawl_frontier",
      s"""WITH ${urlCanonSqlCtes},
         |k AS (SELECT canon, min(doc_id) AS doc_id FROM c GROUP BY 1),
         |kd AS (SELECT c.domain, c.doc_id, c.n_chars
         |       FROM c JOIN k ON k.doc_id = c.doc_id),
         |r AS (SELECT domain, n_chars,
         |        row_number() OVER (PARTITION BY domain
         |                           ORDER BY n_chars DESC, doc_id) AS wave
         |      FROM kd)
         |SELECT wave, CAST(count(*) AS BIGINT) AS n_urls,
         |       CAST(sum(n_chars) AS BIGINT) AS fetched_chars
         |FROM r WHERE wave <= 64 GROUP BY 1 ORDER BY wave""".stripMargin) { (s, d) =>
      val c = canonicalDocs(Tables.documents(s, d))
      val keep = c.groupBy("canon").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kd = c.join(keep, Seq("doc_id"), "left_semi")
      val waves = kd.groupBy("domain")
        .agg(graft.functions.TopKAggregator.topK(64)(
          col("n_chars").cast("double"), col("doc_id")).as("top"))
        .select(col("domain"), posexplode(col("top")))
        // the aggregator's array is (score desc, id asc)-sorted, so the
        // position is exactly the oracle's row_number; per-row cast back
        // to long is exact (n_chars ≪ 2^53) so the sum stays integer
        .select((col("pos") + 1).cast("long").as("wave"),
          col("col.score").cast("long").as("chars"))
      waves.groupBy("wave")
        .agg(count(lit(1)).as("n_urls"), sum("chars").cast("long").as("fetched_chars"))
        .orderBy("wave")
    }
  )

  /** Stage documents as ORC once per dataset dir (fingerprint-guarded —
    * re-staged when the driver regenerates the corpus in place).
    */
  private[graft] def stageOrc(s: SparkSession, d: String): String =
    staged(d, "orc")(Tables.documents(s, d).write.mode("overwrite").orc(_))

  /** documents' enforced read schema (JSONL carries no footer metadata —
    * the expected shape is part of the ingest contract).
    */
  private[graft] val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))

  /** Stage documents as JSONL (once per dataset dir, _STAGED-guarded) and
    * inject two corrupt lines: one syntactically broken, one with a type
    * mismatch — the two classes PERMISSIVE must quarantine.
    *
    * The marker records a fingerprint of the source parquet (mtime+size of
    * every data file): the corpus is regenerated between rounds with the
    * same path, so a path-keyed cache alone would serve stale JSONL while
    * the oracle reads fresh parquet. Fingerprint mismatch → re-stage.
    */
  private[graft] def stageJsonl(s: SparkSession, d: String): String =
    staged(d, "jsonl") { dir =>
      Tables.documents(s, d).write.mode("overwrite").json(dir)
      import s.implicits._
      Seq("""{"doc_id": 900000001, "text": "truncated line""",
          """{"doc_id": "not-a-number", "text": "bad type", "lang": "en", "source": "srcX", "n_chars": 8}""")
        .toDS().coalesce(1).write.mode("append").text(dir)
    }

  /** The staging directory `<scratch>/<kind>-stage/docs_<dataset>`, written
    * by `write` when its `_STAGED` marker is missing or holds another
    * fingerprint of the source parquet.
    */
  private def staged(d: String, kind: String)(write: String => Unit): String = {
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"${graft.GraftSession.scratchRoot}/$kind-stage/docs_$sf"
    val marker = new java.io.File(dir, "_STAGED")
    val fp = sourceFingerprint(s"$d/documents.parquet")
    val stale = !marker.exists() ||
      scala.io.Source.fromFile(marker).mkString.trim != fp
    if (stale) {
      write(dir)
      val w = new java.io.PrintWriter(marker)
      try w.print(fp) finally w.close()
    }
    dir
  }

  /** Deterministic fingerprint of a parquet file-or-directory: sorted
    * (name, mtime, size) of every regular file, md5'd. Cheap (pure
    * metadata, no data read) and changes whenever the driver regenerates
    * the corpus in place.
    */
  private[graft] def sourceFingerprint(path: String): String = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else Seq(f)
    val desc = files(new java.io.File(path))
      .map(f => s"${f.getName}:${f.lastModified}:${f.length}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
