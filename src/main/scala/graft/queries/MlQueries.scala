package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import QueryHelpers.{h16, lnMicro, lnMicroSql, purchaseCentsByDay, purchaseCentsByDaySql,
  ws, wsSql}

/** The model-adjacent operators of a training-data pipeline — per-doc
  * information metrics (token entropy), broadcast-weight linear-model
  * inference, in-engine trainers (closed-form ridge rg1, Naive Bayes nb1),
  * behavioral Markov transition matrices,
  * higher-moment distribution profiling, per-source corpus caps, k-NN label
  * prediction, and a distributed power-iteration principal component.
  *
  * Determinism contracts (shared with t11/dsir1/ols1/km1):
  *  - every cross-engine sum is an exact INTEGER (micro-units / fixed-point)
  *    so partition order and engine never change a digit;
  *  - `ln`/`sqrt` appear only on values both engines derive from the same
  *    exact integers, through identical expression shapes (the documented
  *    1-ulp libm risk class);
  *  - `pow` is never used (cross-libm); x^1.5 is `sqrt(x)*x` (IEEE-exact
  *    composition of correctly-rounded primitives).
  *
  * Scale design (100 TB):
  *  - ent1/lr1 are one narrow explode + keyed aggs with map-side combine —
  *    the corpus shuffles (doc, word)-counts, never token positions.
  *  - mk1 is one window shuffle on user_id; the transition matrix itself is
  *    |event_types|² rows — driver-free, broadcast-class.
  *  - mom1 is ols1's contract: ANY polynomial moment is a single scan of
  *    exact integer power sums + O(groups) double arithmetic.
  *  - cap1 bounds per-group state with the TopKAggregator (O(K) per group
  *    map-side, shuffle carries O(sources·K)) — NOT a row_number window,
  *    which would sort every row of a hot source on one reducer.
  *  - knn1 broadcasts the query set; the corpus streams once (sim1's plan)
  *    and the vote table is O(queries·k).
  *  - pca1 runs 3 fixed-point power iterations: per iteration one narrow
  *    zip_with pass (dot products) + one posexplode keyed agg on 64 dim
  *    keys; v moves driver→plan as a 64-long literal (km1's bounded
  *    broadcast class). All corpus-side sums are exact integers small
  *    enough (see pca1 scaladoc) that every integer→double conversion is
  *    exact below ~10⁹ vectors.
  */
object MlQueries {

  // ────────────────────────────────────────────────────────────────────────
  // PCA1 helpers: quantized power iteration.
  //
  // Fixed-point spec (both engines replay it bit-for-bit):
  //   xq[j]  = round(x[j]·100)                 |xq| ≤ ~100 for unit-ish vecs
  //   vq[j]  = round(v[j]·1e4)                 |vq| ≤ 1e4
  //   dotq_i = Σ_j xq_ij·vq_j                  exact int, ≤ 64·100·1e4 = 6.4e7
  //   dsq_i  = round(dotq_i / 1000.0)          ≤ 6.4e4 (correctly-rounded /)
  //   u_j    = Σ_i xq_ij·dsq_i                 exact int, ≤ n·6.4e6 — exact
  //                                            as a double below n ≈ 1.4e9
  //   norm²  = Σ_j u_j²                        exact DECIMAL(38,0)/HUGEINT
  //   v_j    = u_j / sqrt(double(norm²))       identical IEEE shape
  //
  // The ONLY inexact integer→double conversion is norm² (can exceed 2⁵³);
  // both engines round-to-nearest from the same exact integer, so the
  // double — and everything after it — is still identical.
  // ────────────────────────────────────────────────────────────────────────

  private val PcaIters = 3
  /** v₀ = the normalized all-ones direction: vq₀[j] = round(1e4/√64). */
  private val Vq0 = 1250L

  /** One power-iteration step: given the quantized corpus (vec_id, xq) and
    * the current quantized direction, return the 64-row (j, u) image.
    */
  private def pcaStep(xq: DataFrame, vq: Array[Long]): DataFrame = {
    val vlit = vq.mkString("array(", "L,", "L)")
    xq.withColumn("dotq",
        expr(s"aggregate(zip_with(xq, $vlit, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"))
      .withColumn("dsq", round(col("dotq") / 1000.0).cast("long"))
      .select(col("dsq"), posexplode(col("xq")).as(Seq("j", "x")))
      .groupBy("j").agg(sum(col("x") * col("dsq")).as("u"))
  }

  /** Next quantized direction from the step image — rounding done in Spark
    * SQL expressions (not driver math) so round() semantics match DuckDB's.
    * A 64-row bounded collect (km1's class).
    */
  private def nextVq(u: DataFrame): Array[Long] = {
    val n2 = u.agg(
      sum(col("u").cast("decimal(19,0)") * col("u").cast("decimal(19,0)")).as("n2"))
    u.crossJoin(broadcast(n2))
      .select(col("j"),
        round(col("u").cast("double") / sqrt(col("n2").cast("double")) * 1e4)
          .cast("long").as("vq"))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1))
  }

  /** Oracle twin of one pcaStep: CTEs `d$i` (dots) and `u$i` (image) from
    * direction CTE `$vsrc(j, vq)`.
    */
  private def pcaStepSql(i: Int, vsrc: String): String =
    s"""d$i AS (SELECT xq.vec_id,
       |          CAST(round(sum(xq.x * $vsrc.vq) / 1000.0) AS BIGINT) AS dsq
       |        FROM xq JOIN $vsrc USING (j) GROUP BY 1),
       |u$i AS (SELECT xq.j, CAST(sum(xq.x * d$i.dsq) AS BIGINT) AS u
       |        FROM xq JOIN d$i USING (vec_id) GROUP BY 1)""".stripMargin

  private def pcaNormSql(i: Int): String =
    s"""n$i AS (SELECT sqrt(CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE)) AS nrm
       |        FROM u$i),
       |v$i AS (SELECT j, CAST(round(CAST(u AS DOUBLE) / nrm * 1e4) AS BIGINT) AS vq
       |        FROM u$i, n$i)""".stripMargin

  /** The top-10 cosine neighbours (qid, nid, rn) of the 10 query vectors
    * (vec_id < 10), ranked on the first `dims` dimensions of each vector:
    * sim1's plan (broadcast queries, one corpus stream, rounded cosine,
    * nid tie-break) at a matryoshka prefix.
    */
  private def prefixTopK(corpus: DataFrame, dims: Int): DataFrame = {
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim",
        round(expr(s"cosine_sim(slice(qe, 1, $dims), slice(embedding, 1, $dims))"), 4))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id").as("nid"), col("rn"))
  }

  /** [[prefixTopK]] as DuckDB CTEs `norms<cte>` and `top<cte>`. */
  private def prefixTopKSql(dims: Int, cte: String): String =
    s"""norms$cte AS (
       |  SELECT vec_id, sqrt(sum(CAST(embedding[r.range+1] AS DOUBLE)
       |                          * CAST(embedding[r.range+1] AS DOUBLE))) AS nrm
       |  FROM embeddings, range($dims) r GROUP BY vec_id),
       |top$cte AS (
       |  SELECT qid, nid, rn FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY round(dot / (nq.nrm * ne.nrm), 4) DESC, nid) AS rn
       |    FROM (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |                 sum(CAST(q.embedding[r.range+1] AS DOUBLE)
       |                     * CAST(e.embedding[r.range+1] AS DOUBLE)) AS dot
       |          FROM embeddings q, embeddings e, range($dims) r
       |          WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
       |          GROUP BY 1, 2) d
       |    JOIN norms$cte nq ON nq.vec_id = qid
       |    JOIN norms$cte ne ON ne.vec_id = nid)
       |  WHERE rn <= 10)""".stripMargin

  /** rg1's Cramer's-rule determinants (det, det0, det1, det2) of the ridge
    * normal equations A + λ·diag(0, 1, 1), λ = 1, over the sufficient
    * statistics n, st, stt, sw, stw, sy, sty, swy — one expression text
    * that both engines parse.
    */
  private val (ridgeDet, ridgeDet0, ridgeDet1, ridgeDet2) = {
    val a22 = "(stt + 1)"; val a33 = "(sw + 1)"
    (s"(n * ($a22 * $a33 - stw * stw)" +
      s" - st * (st * $a33 - stw * sw)" +
      s" + sw * (st * stw - $a22 * sw))",
     s"(sy * ($a22 * $a33 - stw * stw)" +
      s" - st * (sty * $a33 - stw * swy)" +
      s" + sw * (sty * stw - $a22 * swy))",
     s"(n * (sty * $a33 - swy * stw)" +
      s" - sy * (st * $a33 - stw * sw)" +
      s" + sw * (st * swy - sty * sw))",
     s"(n * ($a22 * swy - stw * sty)" +
      s" - st * (st * swy - sw * sty)" +
      s" + sy * (st * stw - $a22 * sw))")
  }

  def all: Seq[Q] = Seq(

    // ── ENT1: per-document token entropy (a quality/diversity signal —
    // boilerplate and template spam have low entropy). H = ln n − (Σ c·ln c)/n
    // carried as ent_micro = round(ln n·1e6) − (Σ c·round(ln c·1e6)) div n:
    // the only floats are ln on exact integer counts (t11's contract); the
    // per-doc reduction is an exact integer sum + one integer division.
    // One narrow explode + two keyed aggs with map-side combine.
    Q("ent1_token_entropy",
      s"""WITH t AS (SELECT doc_id,
         |             unnest(regexp_split_to_array(trim(text), '$wsSql')) AS w
         |           FROM documents),
         |wc AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
         |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |        CAST(sum(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS slc
         |      FROM wc GROUP BY 1)
         |SELECT doc_id, n AS n_tokens,
         |       CAST(round(ln(n) * 1e6) AS BIGINT) - (slc // n) AS ent_micro
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), ws)).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("doc_id")
        .agg(sum(col("c")).cast("long").as("n"),
          sum(col("c") * round(log(col("c").cast("double")) * 1e6).cast("long"))
            .cast("long").as("slc"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          (round(log(col("n").cast("double")) * 1e6).cast("long") -
            expr("slc div n")).as("ent_micro"))
        .orderBy("doc_id")
    },

    // ── LR1: hashed-feature linear quality model, inference only — the
    // fastText-style classifier gate of a corpus pipeline. Features are
    // tokens hashed into 1024 buckets (dsir1's hashing trick); weights are
    // a pure function of the bucket id (a stand-in for trained micro-unit
    // weights — the REAL model would broadcast a 1024-row weight table, and
    // the plan is identical). logit = Σ count(bucket)·w_micro(bucket) is an
    // exact integer; the class decision is logit > 0 — NO sigmoid, so zero
    // libm risk (p = σ(z) is monotone in z; thresholding z is thresholding
    // p). One narrow explode + keyed aggs; nothing but (doc, bucket) counts
    // ever shuffles.
    Q("lr1_quality_logit",
      s"""WITH t AS (SELECT doc_id,
         |             unnest(regexp_split_to_array(trim(text), '$wsSql')) AS w
         |           FROM documents),
         |hb AS (SELECT doc_id, ${h16("w")} % 1024 AS k FROM t),
         |db AS (SELECT doc_id, k, count(*) AS n FROM hb GROUP BY 1, 2),
         |sc AS (SELECT doc_id, k, n,
         |         (${h16("'w:' || CAST(k AS VARCHAR)")} % 2001 - 1000) AS wm
         |       FROM db)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |       CAST(sum(n * wm) AS BIGINT) AS logit_micro,
         |       CAST(CASE WHEN sum(n * wm) > 0 THEN 1 ELSE 0 END AS INTEGER) AS pred_quality
         |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val hb = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), ws)).as("w"))
        .select(col("doc_id"),
          pmod(graft.operators.Sampling.bucket(col("w")), lit(1024)).as("k"))
      val db = hb.groupBy("doc_id", "k").agg(count(lit(1)).as("n"))
      val wm = (pmod(graft.operators.Sampling.bucket(
          concat(lit("w:"), col("k").cast("string"))), lit(2001)) - 1000).cast("long")
      db.withColumn("wm", wm)
        .groupBy("doc_id")
        .agg(sum(col("n")).cast("long").as("n_tokens"),
          sum(col("n") * col("wm")).cast("long").as("logit_micro"))
        .withColumn("pred_quality", (col("logit_micro") > 0).cast("int"))
        .orderBy("doc_id")
    },

    // ── MK1: first-order Markov transition matrix over each user's event
    // stream — the behavioral model behind next-event prediction and
    // anomaly scoring. One window shuffle on user_id (w6's ordering: sec,
    // then event_id as the total tie-break); the matrix is |types|² rows.
    // Probabilities travel as exact integer ppm (count·1e6 div row-total).
    Q("mk1_markov_transitions",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                       CAST(ts AS TIMESTAMP)) AS sec
        |           FROM events),
        |p AS (SELECT user_id, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY sec, event_id) AS prev
        |      FROM e),
        |c AS (SELECT prev AS prev_type, event_type AS next_type,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, next_type, n,
        |             CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS tot
        |      FROM c)
        |SELECT prev_type, next_type, n, (n * 1000000) // tot AS prob_ppm
        |FROM t ORDER BY prev_type, next_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type"))
      val c = e.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val tw = Window.partitionBy("prev_type")
      c.withColumn("tot", sum(col("n")).over(tw))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 1000000L) div tot").as("prob_ppm"))
        .orderBy("prev_type", "next_type")
    },

    // ── MOM1: higher-moment distribution profile (skewness + excess
    // kurtosis) per group — ols1's one-pass sufficient-statistics contract
    // extended to 4th-order: a single scan accumulates exact integer power
    // sums S1..S4 (identical at any partition count), then O(groups) double
    // arithmetic with identical expression shapes. pow() is never called:
    // m2^1.5 is sqrt(m2)·m2 (IEEE-exact composition).
    Q("mom1_higher_moments",
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |             CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q*q) AS BIGINT) AS s2,
        |             CAST(sum(q*q*q) AS BIGINT) AS s3,
        |             CAST(sum(q*q*q*q) AS BIGINT) AS s4
        |           FROM (SELECT l_returnflag,
        |                        CAST(round(l_quantity) AS BIGINT) AS q
        |                 FROM lineitem)
        |           GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |        CAST(s1 AS DOUBLE) / n AS mn,
        |        CAST(s2 AS DOUBLE) / n AS r2,
        |        CAST(s3 AS DOUBLE) / n AS r3,
        |        CAST(s4 AS DOUBLE) / n AS r4
        |      FROM s),
        |c AS (SELECT l_returnflag, n, mn,
        |        r2 - mn*mn AS m2,
        |        r3 - 3*mn*r2 + 2*mn*mn*mn AS m3,
        |        r4 - 4*mn*r3 + 6*mn*mn*r2 - 3*mn*mn*mn*mn AS m4
        |      FROM m)
        |SELECT l_returnflag, n, round(mn, 6) AS mean_qty,
        |       round(m3 / (sqrt(m2) * m2), 6) AS skewness,
        |       round(m4 / (m2 * m2) - 3, 6) AS kurtosis
        |FROM c ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val q = round(col("l_quantity")).cast("long")
      val sums = Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(q).as("s1"), sum(q * q).as("s2"),
          sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val mn = d(col("s1")) / col("n")
      val r2 = d(col("s2")) / col("n")
      val r3 = d(col("s3")) / col("n")
      val r4 = d(col("s4")) / col("n")
      sums.withColumn("mn", mn).withColumn("r2", r2)
        .withColumn("r3", r3).withColumn("r4", r4)
        .withColumn("m2", col("r2") - col("mn") * col("mn"))
        .withColumn("m3", col("r3") - lit(3) * col("mn") * col("r2") +
          lit(2) * col("mn") * col("mn") * col("mn"))
        .withColumn("m4", col("r4") - lit(4) * col("mn") * col("r3") +
          lit(6) * col("mn") * col("mn") * col("r2") -
          lit(3) * col("mn") * col("mn") * col("mn") * col("mn"))
        .select(col("l_returnflag"), col("n"), round(col("mn"), 6).as("mean_qty"),
          round(col("m3") / (sqrt(col("m2")) * col("m2")), 6).as("skewness"),
          round(col("m4") / (col("m2") * col("m2")) - 3, 6).as("kurtosis"))
        .orderBy("l_returnflag")
    },

    // ── CAP1: per-source document cap — the domain/source frequency cap of
    // corpus curation (keep at most K docs per source, chosen by a
    // deterministic hash priority so the kept set is a pure function of the
    // data). The selection is the TopKAggregator, NOT a row_number window:
    // per-group state is O(K) map-side and the shuffle carries
    // O(sources·K), where a window would sort every row of a hot source on
    // one reducer — the cap1 plan survives a source with 10⁹ docs. Kept ids
    // (bounded: sources·K) broadcast back onto the corpus for the kept-mass
    // aggregate.
    Q("cap1_source_cap",
      s"""WITH p AS (SELECT source, doc_id, n_chars,
         |             ${h16("CAST(doc_id AS VARCHAR)")} AS pri
         |           FROM documents),
         |r AS (SELECT source, doc_id, n_chars,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY pri, doc_id) AS rn
         |      FROM p)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM r GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      val K = 10
      val docs = Tables.documents(s, d)
      val pri = graft.operators.Sampling.bucket(col("doc_id"))
      // score desc / id asc picks (pri asc, doc_id asc): score = -pri.
      val kept = docs
        .select(col("source"), col("doc_id"), (-pri).cast("double").as("score"))
        .groupBy("source")
        .agg(graft.functions.TopKAggregator.topK(K)(col("score"), col("doc_id"))
          .as("top"))
        .select(col("source").as("ksrc"), explode(col("top.id")).as("doc_id"))
      val keptMass = docs.join(broadcast(kept.select("doc_id")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(keptMass, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_chars"), lit(0L)).cast("long").as("kept_chars"))
        .orderBy("source")
    },

    // ── KNN1: k-nearest-neighbor label prediction over the embeddings —
    // the label-propagation/auto-labeling op of a curation pipeline.
    // Neighbor set = sim1's exact rounded-cosine top-k (query set
    // broadcast, corpus streamed once, ties on nid); prediction = majority
    // vote with ties to the smallest label. The vote table is
    // O(queries·k) — driver-free and broadcast-class at any corpus size.
    Q("knn1_label_knn",
      """WITH norms AS (
        |  SELECT vec_id, sqrt(sum(CAST(embedding[r.range+1] AS DOUBLE)
        |                          * CAST(embedding[r.range+1] AS DOUBLE))) AS nrm
        |  FROM embeddings, range(64) r GROUP BY vec_id),
        |dots AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id AS nid,
        |         e.label AS nlabel,
        |         sum(CAST(q.embedding[r.range+1] AS DOUBLE)
        |             * CAST(e.embedding[r.range+1] AS DOUBLE)) AS dot
        |  FROM embeddings q, embeddings e, range(64) r
        |  WHERE q.vec_id < 20 AND e.vec_id >= 20
        |  GROUP BY 1, 2, 3, 4),
        |scored AS (
        |  SELECT qid, qlabel, nid, nlabel,
        |         round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid
        |            JOIN norms ne ON ne.vec_id = nid),
        |topk AS (
        |  SELECT qid, qlabel, nlabel,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY cos_sim DESC, nid) AS rn
        |  FROM scored),
        |votes AS (
        |  SELECT qid, qlabel, nlabel, count(*) AS nv
        |  FROM topk WHERE rn <= 10 GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT qid, qlabel, nlabel, nv,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY nv DESC, nlabel) AS vr
        |  FROM votes)
        |SELECT qid, CAST(qlabel AS INTEGER) AS qlabel,
        |       CAST(nlabel AS INTEGER) AS pred_label, CAST(nv AS BIGINT) AS n_votes,
        |       CAST(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS INTEGER) AS correct
        |FROM best WHERE vr = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qe"))
      val scored = corpus.filter(col("vec_id") >= 20)
        .crossJoin(broadcast(queries))
        .withColumn("cos_sim", round(expr("cosine_sim(qe, embedding)"), 4))
      val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
      val votes = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy(col("qid"), col("qlabel"), col("label").as("nlabel"))
        .agg(count(lit(1)).as("nv"))
      val vw = Window.partitionBy("qid").orderBy(col("nv").desc, col("nlabel"))
      votes.withColumn("vr", row_number().over(vw)).filter(col("vr") === 1)
        .select(col("qid"), col("qlabel"), col("nlabel").as("pred_label"),
          col("nv").as("n_votes"),
          (col("nlabel") === col("qlabel")).cast("int").as("correct"))
        .orderBy("qid")
    },

    // ── PCA1: top principal direction of the embedding corpus by
    // fixed-point power iteration — the whitening/drift-analysis primitive
    // of an embedding pipeline, expressed so a 10⁹-vector corpus computes
    // it in 3 scans with NO driver-side row materialization beyond the
    // 64-long direction vector (km1's bounded-broadcast class).
    // Determinism: see the fixed-point spec above `pcaStep` — all corpus
    // sums are exact integers; the single >2⁵³ integer→double conversion
    // (norm²) rounds to nearest identically in both engines.
    Q("pca1_power_iteration",
      s"""WITH xq AS (SELECT vec_id, CAST(r.range AS INTEGER) AS j,
         |              CAST(round(CAST(embedding[r.range+1] AS DOUBLE) * 100) AS BIGINT) AS x
         |            FROM embeddings, range(64) r),
         |v0 AS (SELECT CAST(r.range AS INTEGER) AS j, CAST($Vq0 AS BIGINT) AS vq
         |       FROM range(64) r),
         |${pcaStepSql(1, "v0")},
         |${pcaNormSql(1)},
         |${pcaStepSql(2, "v1")},
         |${pcaNormSql(2)},
         |${pcaStepSql(3, "v2")},
         |n3 AS (SELECT sqrt(CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE)) AS nrm
         |       FROM u3)
         |SELECT j, round(CAST(u AS DOUBLE) / nrm, 6) AS v
         |FROM u3, n3 ORDER BY j""".stripMargin) { (s, d) =>
      val xq = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 100) AS BIGINT))")
          .as("xq"))
      var vq = Array.fill(64)(Vq0)
      var u: DataFrame = null
      for (_ <- 1 to PcaIters) {
        u = pcaStep(xq, vq)
        vq = nextVq(u) // dead on the last loop, but keeps the step uniform
      }
      val n2 = u.agg(
        sum(col("u").cast("decimal(19,0)") * col("u").cast("decimal(19,0)")).as("n2"))
      u.crossJoin(broadcast(n2))
        .select(col("j"),
          round(col("u").cast("double") / sqrt(col("n2").cast("double")), 6).as("v"))
        .orderBy("j")
    },

    // ── CT2: Bloom-filter benchmark decontamination — ct1's scale form.
    // ct1 broadcasts the benchmark's DISTINCT shingle set, whose broadcast
    // carries full shingle STRINGS; ct2 collapses it into a Bloom position
    // set — 4-byte ints, ~10× smaller, probed in-codegen — so the corpus
    // never joins against benchmark text. The filter SIZES ITSELF IN-PLAN:
    // bits = 16 × |benchmark shingles| (a 1-row broadcast count — the dd9
    // k∝√n lesson: a fixed-size filter saturates one decade up; 16
    // bits/key with 3 hashes holds FP ≈ 0.5% at ANY benchmark size).
    // Positions come from 8 md5 nibbles (32-bit range, uniform for any
    // bits ≤ 2³²) — the 4-nibble/fixed-2048 form stays in
    // graft.operators.BloomFilter for bf1. The FP price is MEASURED: per
    // flagged doc, n_candidates (Bloom hits) vs n_exact (true hits via the
    // exact broadcast referee); no false negatives by construction.
    Q("ct2_bloom_decontam", {
      def h32sql(i: Int): String = {
        val h = s"md5('$i:' || sh)"
        (1 to 8).map(n =>
          s"(strpos('0123456789abcdef', substr($h, $n, 1)) - 1) * ${1L << (4 * (8 - n))}")
          .mkString("(", " + ", ")")
      }
      // each md5 position is computed ONCE per DISTINCT shingle (p3), not
      // per (doc, shingle) occurrence, and every multiply-referenced CTE is
      // MATERIALIZED (the gr2 oracle lesson — DuckDB inlines plain CTEs and
      // re-derives the whole shingle pipeline per reference; the inlined
      // form spilled past this host's 78 GB temp at sf10)
      def posSql(i: Int): String = s"(${h32sql(i)} % m)"
      val probeIn = (0 until 3)
        .map(i => s"p.pos$i IN (SELECT pos FROM bits)").mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
         |         toks[r.range+1] || ' ' || toks[r.range+2] || ' ' || toks[r.range+3] AS sh
         |       FROM t, range(1024) r WHERE r.range < len(toks) - 2),
         |bench AS MATERIALIZED (SELECT doc_id FROM documents
         |  WHERE ${h16("CAST(doc_id AS VARCHAR)")} < 3276),
         |bs AS MATERIALIZED (SELECT DISTINCT sh FROM sh JOIN bench USING (doc_id)),
         |nb AS (SELECT count(*) * 16 AS m FROM bs),
         |p3 AS MATERIALIZED (SELECT sh, ${(0 until 3).map(i => s"${posSql(i)} AS pos$i").mkString(", ")}
         |      FROM (SELECT DISTINCT sh FROM sh), nb),
         |bits AS MATERIALIZED (SELECT DISTINCT unnest(ARRAY[pos0, pos1, pos2]) AS pos
         |         FROM p3 JOIN bs USING (sh)),
         |probe AS (SELECT s.doc_id,
         |            CAST($probeIn AS INT) AS pass,
         |            CAST(s.sh IN (SELECT sh FROM bs) AS INT) AS is_exact
         |          FROM sh s JOIN p3 p USING (sh)
         |          WHERE s.doc_id NOT IN (SELECT doc_id FROM bench)),
         |agg AS (SELECT doc_id, count(*) AS n_shingles,
         |          CAST(sum(pass) AS BIGINT) AS n_candidates,
         |          CAST(sum(is_exact) AS BIGINT) AS n_exact
         |        FROM probe GROUP BY 1)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_candidates, n_exact
         |FROM agg WHERE n_candidates > 0 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val sh = TextQueries.shinglesDf(s, d)
      val bench = graft.operators.Sampling
        .uniform(Tables.documents(s, d), col("doc_id"), 0.05)
        .select("doc_id")
      val bs = sh.join(bench, Seq("doc_id"), "left_semi").select("sh").distinct()
      def pos(i: Int, m: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(concat(lit(s"$i:"), col("sh"))), 1, 8), 16, 10)
          .cast("long"), m)
      // the same 1-row count feeds build and probe; two aggregates with
      // distinct names keep attribute ids unambiguous when both land in
      // one plan tree (the position table is a subtree of the probe)
      val nbBuild = bs.agg((count(lit(1)) * 16).as("m_build"))
      val nbProbe = bs.agg((count(lit(1)) * 16).as("m_probe"))
      // set positions as a TABLE, probed by BROADCAST hash join — O(1) per
      // probe row. (A first draft collapsed them into one array probed
      // with array_contains, which is a LINEAR scan per row: fine at
      // bf1's 2048 bits, 4e14 comparisons at sf10's 3M-position filter.)
      val bits = bs.crossJoin(broadcast(nbBuild))
        .select(explode(array((0 until 3).map(pos(_, col("m_build"))): _*)).as("pos"))
        .distinct()
      val exact = bs.withColumn("is_exact", lit(1))
      val probed = (0 until 3).foldLeft(
        sh.join(bench, Seq("doc_id"), "left_anti")
          .crossJoin(broadcast(nbProbe))
          .join(broadcast(exact), Seq("sh"), "left")
          .select(Seq(col("doc_id"), col("is_exact")) ++
            (0 until 3).map(i => pos(i, col("m_probe")).as(s"pos$i")): _*)) {
        (df, i) =>
          df.join(broadcast(bits.select(col("pos").as(s"pos$i"),
            lit(1).as(s"hit$i"))), Seq(s"pos$i"), "left")
      }
      probed
        .select(col("doc_id"),
          (0 until 3).map(i => col(s"hit$i").isNotNull)
            .reduce(_ && _).cast("int").as("pass"),
          coalesce(col("is_exact"), lit(0)).as("is_exact"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("pass")).cast("long").as("n_candidates"),
          sum(col("is_exact")).cast("long").as("n_exact"))
        .filter(col("n_candidates") > 0)
        .orderBy("doc_id")
    },

    // ── WP1: exact weighted percentiles — "the quantity below which half
    // the REVENUE sits" (traffic-weighted latency percentiles are the same
    // op). The scale contract: pre-aggregate weight per (group, value)
    // FIRST — the cumulative window then sees |groups × distinct values|
    // rows, not N — and keep every threshold test in exact integers
    // (cum·2 ≥ W, cum·10 ≥ 9·W on integer cents; agg5's percentile family
    // is unweighted and row-counted, this one is mass-weighted).
    Q("wp1_weighted_percentile",
      """WITH g AS (SELECT l_returnflag AS flag,
        |             CAST(round(l_quantity) AS BIGINT) AS qty,
        |             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, qty, w,
        |             CAST(sum(w) OVER (PARTITION BY flag ORDER BY qty
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS wt
        |      FROM g)
        |SELECT flag AS l_returnflag, min(wt) AS w_total,
        |       min(CASE WHEN cum * 2 >= wt THEN qty END) AS p50_qty,
        |       min(CASE WHEN cum * 10 >= wt * 9 THEN qty END) AS p90_qty
        |FROM c GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"),
          round(col("l_quantity")).cast("long").as("qty"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("w"))
      val cw = Window.partitionBy("flag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("flag")
      g.withColumn("cum", sum(col("w")).over(cw))
        .withColumn("wt", sum(col("w")).over(tw))
        .groupBy(col("flag").as("l_returnflag"))
        .agg(min(col("wt")).as("w_total"),
          min(when(col("cum") * 2 >= col("wt"), col("qty"))).as("p50_qty"),
          min(when(col("cum") * 10 >= col("wt") * 9, col("qty"))).as("p90_qty"))
        .orderBy("l_returnflag")
    },

    // ── EMB5: matryoshka truncation fidelity — how much of the exact
    // 64-dim top-10 neighborhood the 16-dim PREFIX embedding recovers
    // (Kusupati et al. 2022: MRL prefixes as cheap first-pass retrievers).
    // Both rankings are sim1's deterministic plan (broadcast queries, one
    // corpus stream each, rounded cosine, nid tie-break); overlap@10 is an
    // O(queries·k) join. The 100 TB read: a 4× cheaper scan that keeps
    // ~most of the neighborhood is the retrieval mode worth shipping —
    // and this query is the measurement that justifies it.
    Q("emb5_matryoshka_overlap",
      s"""WITH ${prefixTopKSql(64, "f")},
         |${prefixTopKSql(16, "p")}
         |SELECT f.qid, CAST(sum(CASE WHEN p.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
         |FROM topf f LEFT JOIN topp p ON p.qid = f.qid AND p.nid = f.nid
         |GROUP BY 1 ORDER BY f.qid""".stripMargin) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
      val full = prefixTopK(corpus, 64).select("qid", "nid")
      val pre = prefixTopK(corpus, 16).select(col("qid"), col("nid"), lit(1).as("m"))
      full.join(pre, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("m"), lit(0))).cast("long").as("n_overlap"))
        .orderBy("qid")
    },

    // ── AB1: two-proportion experiment readout — the A/B significance op
    // of product analytics. Users split into arms by md5 parity (a pure
    // function of user_id — the assignment every engine reproduces);
    // conversion = ≥1 high-value purchase (value > 200 — rare enough that
    // neither arm saturates at any SF, keeping the pooled variance
    // nonzero). The z statistic is ols1's
    // contract: exact integer counts from ONE keyed pass, then O(1) double
    // arithmetic with identical expression shapes; significance thresholds
    // the ROUNDED z so both engines compare the same value. At 100 TB the
    // entire query is one user-keyed agg + a 2-row rollup.
    Q("ab1_proportion_ztest",
      s"""WITH u AS (SELECT user_id,
         |             ${h16("CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |             max(CASE WHEN event_type = 'purchase' AND value > 200
         |                      THEN 1 ELSE 0 END) AS conv
         |           FROM events GROUP BY 1, 2),
         |a AS (SELECT
         |        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         |        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |        CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
         |      FROM u),
         |z AS (SELECT n_a, conv_a, n_b, conv_b,
         |        round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         |          / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |                 * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |                 * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
         |      FROM a)
         |SELECT n_a, conv_a, n_b, conv_b, z_score,
         |       CAST(abs(z_score) > 1.96 AS INT) AS significant
         |FROM z""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"),
          pmod(graft.operators.Sampling.bucket(col("user_id")), lit(2)).as("arm"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 200, 1)
          .otherwise(0)).as("conv"))
      val a = u.agg(
        sum(when(col("arm") === 0, 1).otherwise(0)).cast("long").as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long").as("conv_a"),
        sum(when(col("arm") === 1, 1).otherwise(0)).cast("long").as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long").as("conv_b"))
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val pHat = dd(col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))
      val z = round((dd(col("conv_a")) / col("n_a") - dd(col("conv_b")) / col("n_b")) /
        sqrt(pHat * (lit(1) - pHat) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
      a.withColumn("z_score", z)
        .withColumn("significant", (abs(col("z_score")) > 1.96).cast("int"))
    },

    // ── NDCG1: position-discounted ranking quality — nDCG@10 of the
    // 16-dim-prefix ranking against the full-64-dim ranking as ground
    // truth (relevance of the full rank-r neighbor = 11 − r). emb5's
    // overlap counts set agreement; nDCG weighs WHERE in the list the
    // agreement sits — the metric retrieval evaluation actually reports.
    // Per-position gains travel as INTEGER micro-units
    // (round(rel·1e6 / log2(pos+1)) — ln-shape identical both engines,
    // t11's risk class) so the per-query Σ is exact; idcg is the same
    // integers over the ideal positions.
    Q("ndcg1_rank_quality", {
      s"""WITH ${prefixTopKSql(64, "f")},
         |${prefixTopKSql(16, "p")},
         |gains AS (SELECT p.qid,
         |            CAST(round((11 - f.rn) * 1e6 / (ln(p.rn + 1) / ln(2))) AS BIGINT) AS g
         |          FROM topp p JOIN topf f ON f.qid = p.qid AND f.nid = p.nid),
         |dcg AS (SELECT qid, CAST(sum(g) AS BIGINT) AS dcg_micro FROM gains GROUP BY 1),
         |ideal AS (SELECT CAST(sum(CAST(round((11 - r.range) * 1e6
         |            / (ln(r.range + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS idcg_micro
         |          FROM range(1, 11) r),
         |qs AS (SELECT DISTINCT qid FROM topf)
         |SELECT qs.qid, coalesce(dcg.dcg_micro, 0) AS dcg_micro,
         |       round(CAST(coalesce(dcg.dcg_micro, 0) AS DOUBLE) / idcg_micro, 6) AS ndcg
         |FROM qs LEFT JOIN dcg ON dcg.qid = qs.qid CROSS JOIN ideal
         |ORDER BY qs.qid""".stripMargin
    }) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
      val full = prefixTopK(corpus, 64)
      val pre = prefixTopK(corpus, 16)
      val gains = pre.as("p")
        .join(full.as("f"), col("p.qid") === col("f.qid") && col("p.nid") === col("f.nid"))
        .select(col("p.qid").as("qid"),
          round((lit(11) - col("f.rn")) * 1e6 /
            (log(col("p.rn") + 1) / log(lit(2.0)))).cast("long").as("g"))
      val dcg = gains.groupBy("qid").agg(sum(col("g")).cast("long").as("dcg_micro"))
      val idcg = (1 to 10).map(r =>
        math.round((11 - r) * 1e6 / (math.log(r + 1) / math.log(2.0)))).sum
      full.select("qid").distinct()
        .join(dcg, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
          round(coalesce(col("dcg_micro"), lit(0L)).cast("double") / idcg, 6).as("ndcg"))
        .orderBy("qid")
    },

    // ── MMR1: maximal-marginal-relevance diversification (Carbonell &
    // Goldstein, SIGIR'98) — the rerank between retrieval and a RAG
    // context window: greedily pick k=5 of the top-20 candidates
    // maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7.
    // With rel/sim as round(cos·1e4) integers the score is the EXACT
    // integer 7·rel − 3·ms (×10) — the greedy argmax chain is pure integer
    // comparison, tie-broken on nid, so both engines replay every pick.
    //
    // Scale shape: candidate generation is sim1's plan (query broadcast,
    // ONE corpus stream, TakeOrdered 20); the 20×20 pair-sim table and the
    // 5-step greedy run on the bounded candidate set (≤420 integer rows —
    // the hh1/pca1 bounded-collect class; all float math stays in-plan).
    // The oracle unrolls the same five steps as CTEs over the same
    // integers.
    Q("mmr1_diverse_rerank", {
      val norms =
        """norms AS (
          |  SELECT vec_id, sqrt(sum(CAST(embedding[r.range+1] AS DOUBLE)
          |                          * CAST(embedding[r.range+1] AS DOUBLE))) AS nrm
          |  FROM embeddings, range(64) r GROUP BY vec_id)""".stripMargin
      val cand =
        """d AS (SELECT e.vec_id AS nid,
          |         sum(CAST(q.embedding[r.range+1] AS DOUBLE)
          |             * CAST(e.embedding[r.range+1] AS DOUBLE)) AS dot
          |       FROM embeddings q, embeddings e, range(64) r
          |       WHERE q.vec_id = 0 AND e.vec_id <> 0 GROUP BY 1),
          |relq AS (SELECT nid, CAST(round(dot / (nq.nrm * ne.nrm) * 10000) AS BIGINT) AS rel
          |         FROM d JOIN norms nq ON nq.vec_id = 0 JOIN norms ne ON ne.vec_id = nid),
          |cand AS (SELECT nid, rel FROM relq ORDER BY rel DESC, nid LIMIT 20),
          |cd AS (SELECT c.nid, e.embedding FROM cand c JOIN embeddings e ON e.vec_id = c.nid),
          |pd AS (SELECT a.nid AS i, b.nid AS j,
          |         sum(CAST(a.embedding[r.range+1] AS DOUBLE)
          |             * CAST(b.embedding[r.range+1] AS DOUBLE)) AS dot
          |       FROM cd a, cd b, range(64) r WHERE a.nid <> b.nid GROUP BY 1, 2),
          |p AS (SELECT i, j, CAST(round(dot / (ni.nrm * nj.nrm) * 10000) AS BIGINT) AS sim
          |      FROM pd JOIN norms ni ON ni.vec_id = i JOIN norms nj ON nj.vec_id = j),
          |sel0 AS (SELECT CAST(NULL AS BIGINT) AS nid WHERE 1 = 0)""".stripMargin
      val steps = (1 to 5).map { i =>
        s"""sc$i AS (SELECT c.nid, c.rel,
           |    coalesce(max(CASE WHEN p.j IN (SELECT nid FROM sel${i - 1})
           |                      THEN p.sim END), 0) AS ms
           |  FROM cand c LEFT JOIN p ON p.i = c.nid
           |  WHERE c.nid NOT IN (SELECT nid FROM sel${i - 1}) GROUP BY 1, 2),
           |pick$i AS (SELECT nid, 7 * rel - 3 * ms AS score FROM sc$i
           |           ORDER BY score DESC, nid LIMIT 1),
           |sel$i AS (SELECT nid FROM sel${i - 1} UNION ALL SELECT nid FROM pick$i)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 5).map(i =>
        s"SELECT CAST($i AS INTEGER) AS step, nid, score AS score_x10 FROM pick$i")
        .mkString("\nUNION ALL ")
      s"WITH $norms,\n$cand,\n$steps\n$out\nORDER BY step"
    }) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
      val q0 = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cands = corpus.crossJoin(broadcast(q0)).filter(col("vec_id") =!= 0)
        .withColumn("rel", round(expr("cosine_sim(qe, embedding) * 10000")).cast("long"))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .select(col("vec_id").as("nid"), col("rel"), col("embedding"))
        .localCheckpoint()
      val a = cands.select(col("nid").as("i"), col("embedding").as("ea"))
      val b = cands.select(col("nid").as("j"), col("embedding").as("eb"))
      val psims = a.crossJoin(b).filter(col("i") =!= col("j"))
        .withColumn("sim", round(expr("cosine_sim(ea, eb) * 10000")).cast("long"))
        .select("i", "j", "sim")
      val rels = cands.select("nid", "rel").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val sims = psims.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // greedy argmax chain on the bounded integers — identical to the
      // oracle's unrolled CTEs pick-for-pick (exact ints, nid tie-break)
      var selected = Vector.empty[(Int, Long, Long)]
      for (step <- 1 to 5) {
        val selIds = selected.map(_._2)
        val remaining = rels.filter { case (c, _) => !selIds.contains(c) }
        // < k candidates exhausts the pool early — the oracle's pick CTEs
        // go empty the same way, so both sides emit the same short list
        if (remaining.nonEmpty) {
          val (nid, score) = remaining
            .map { case (c, rel) =>
              val ms = if (selIds.isEmpty) 0L else selIds.map(sid => sims((c, sid))).max
              (c, 7 * rel - 3 * ms)
            }
            .minBy { case (c, sc) => (-sc, c) }
          selected :+= ((step, nid, score))
        }
      }
      import s.implicits._
      selected.toDF("step", "nid", "score_x10")
    },

    // ── TR1: corpus snapshot diff — the versioning op between two corpus
    // releases (what changed since the last training run): full outer join
    // on the key comparing content fingerprints → added / removed /
    // changed / unchanged counts. One co-partitioned shuffle on doc_id;
    // fingerprints are md5 so the diff never compares text bodies across
    // the join (the 100 TB trick: ship 16-byte digests, not documents).
    // Snapshot B is derived deterministically here (drop doc_id ≡ 0 mod 7,
    // edit text for doc_id ≡ 0 mod 5) — in production A and B are two
    // partition dates of the same table.
    Q("tr1_snapshot_diff",
      """WITH a AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |b AS (SELECT doc_id,
        |             CASE WHEN doc_id % 5 = 0 THEN md5(text || ' [edited]')
        |                  ELSE md5(text) END AS fp
        |      FROM documents WHERE doc_id % 7 <> 0),
        |d AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |             CASE WHEN a.doc_id IS NULL THEN 'added'
        |                  WHEN b.doc_id IS NULL THEN 'removed'
        |                  WHEN a.fp <> b.fp THEN 'changed'
        |                  ELSE 'unchanged' END AS status
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, count(*) AS n_docs
        |FROM d GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val a = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val b = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, md5(concat(col("text"), lit(" [edited]"))))
            .otherwise(md5(col("text"))).as("fp"))
      a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "removed")
          .when(col("a.fp") =!= col("b.fp"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },

    // ── RG1: closed-form ridge regression of daily purchase revenue on
    // (day index, weekend flag) — the in-engine GLM trainer beside ols1's
    // per-group simple regression: TWO features + intercept solved by
    // Cramer's rule on the 3×3 ridge normal equations A+λ·diag(0,1,1),
    // λ = 1 (the intercept is never penalized — standard ridge). With
    // λ > 0 and ≥ 1 day, A' is positive definite (x'A'x = 0 forces
    // x₂ = x₃ = 0 and then n·x₁² = 0), so det > 0 always; the NULL guard
    // is belt-and-braces. Every sufficient statistic and every cofactor
    // is an exact integer in decimal(38,0)/HUGEINT; coefficients emit in
    // MILLI-cents via sign·(abs div d) (milli, not micro: the ×1e3 keeps
    // the det_i product under 38 digits out to a 10-year × sf10-density
    // envelope — det_i ≤ ~1.2e33, ×1e3 = 1.2e36 < 1e38; micro would pass
    // 1e38 one decade earlier — ses1's documented magnitude-contract
    // class). Weekend via ISO day-of-week (Spark weekday()+1 = DuckDB
    // isodow — both Monday=1..Sunday=7, no locale dependence).
    // 100 TB: ONE keyed corpus scan → day grain; the min-day anchor is a
    // 1-row broadcast (seg1's device); eight sufficient statistics in one
    // agg over the |days|-row table; the solve is single-row arithmetic.
    Q("rg1_ridge_regression", {
      def emit(num: String, alias: String) =
        s"""CASE WHEN $ridgeDet = 0 THEN NULL
           |     ELSE CAST(CAST(sign($num) AS BIGINT) * CAST(sign($ridgeDet) AS BIGINT)
           |            * ((abs($num) * 1000) // abs($ridgeDet)) AS BIGINT) END AS $alias"""
          .stripMargin.replace("\n", " ")
      s"""WITH ${purchaseCentsByDaySql()},
         |anchor AS (SELECT min(day) AS d0 FROM dc),
         |d AS (SELECT CAST(date_diff('day', CAST(d0 AS DATE), CAST(day AS DATE)) AS BIGINT) AS t,
         |        CAST(CASE WHEN isodow(CAST(day AS DATE)) >= 6 THEN 1 ELSE 0 END AS BIGINT) AS w,
         |        cents AS y
         |      FROM dc, anchor),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(sum(t) AS HUGEINT) AS st, CAST(sum(t * t) AS HUGEINT) AS stt,
         |        CAST(sum(w) AS HUGEINT) AS sw, CAST(sum(t * w) AS HUGEINT) AS stw,
         |        sum(CAST(y AS HUGEINT)) AS sy,
         |        sum(CAST(t AS HUGEINT) * y) AS sty,
         |        sum(CAST(w AS HUGEINT) * y) AS swy
         |      FROM d)
         |SELECT CAST(n AS BIGINT) AS n_days, CAST(1 AS BIGINT) AS lambda,
         |       ${emit(ridgeDet0, "b0_milli")},
         |       ${emit(ridgeDet1, "b1_milli")},
         |       ${emit(ridgeDet2, "b2_milli")}
         |FROM s""".stripMargin
    }) { (s, d) =>
      def emit(num: String): Column =
        when(expr(ridgeDet) === 0, lit(null).cast("long"))
          .otherwise(expr(s"cast(cast(sign($num) as bigint) * cast(sign($ridgeDet) as bigint)" +
            s" * ((abs($num) * 1000) div abs($ridgeDet)) as bigint)"))
      val dc = purchaseCentsByDay(s, d).withColumnRenamed("cents", "y")
      val anchor = dc.agg(min("day").as("d0"))
      val day = dc.crossJoin(broadcast(anchor))
        .select(datediff(to_date(col("day")), to_date(col("d0"))).cast("long").as("t"),
          when(expr("weekday(to_date(day)) + 1") >= 6, 1L).otherwise(0L).as("w"),
          col("y"))
      day.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("t")).cast("decimal(38,0)").as("st"),
          sum(col("t") * col("t")).cast("decimal(38,0)").as("stt"),
          sum(col("w")).cast("decimal(38,0)").as("sw"),
          sum(col("t") * col("w")).cast("decimal(38,0)").as("stw"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum(col("t").cast("decimal(38,0)") * col("y")).as("sty"),
          sum(col("w").cast("decimal(38,0)") * col("y")).as("swy"))
        .select(col("n").cast("long").as("n_days"),
          lit(1L).as("lambda"),
          emit(ridgeDet0).as("b0_milli"),
          emit(ridgeDet1).as("b1_milli"),
          emit(ridgeDet2).as("b2_milli"))
    },

    // ── NB1: multinomial Naive Bayes language classifier — train on the
    // 90% split (doc_id % 10 ≠ 0), apply to the held-out 10%, emit the
    // confusion matrix: the in-engine "can a bag-of-words model recover
    // lang?" pass every curation pipeline runs before trusting a learned
    // quality/language filter (lr1 scores with FIXED weights; nb1 LEARNS
    // its table from the corpus). Laplace-smoothed scores live entirely
    // in micro-ln integers: score(doc, c) = Σ_tok mult·lnMicro(cnt+1)
    // − m_doc·lnMicro(tot_c + V) + lnMicro(n_c) − lnMicro(n_train) —
    // every ln on an exact integer, every sum exact, so argmax (ties →
    // smallest lang) is deterministic on both engines. Out-of-vocabulary
    // test tokens are DROPPED (the documented convention — they carry the
    // same smoothed mass in every class, so they cannot move the argmax
    // ordering... except through m_doc; dropping them is the standard
    // choice and is replayed identically in the oracle). Priors count ALL
    // train docs (token-free docs included); a token-free test doc is
    // classified by prior alone (the tedoc grid LEFT-joins token scores).
    // 100 TB: the model is a TABLE keyed on (lang, tok) — never a driver
    // object; the grid costs |test tokens|·|langs| narrow rows (langs
    // bounded ~6); the only windows partition per doc over ≤ |langs| rows.
    Q("nb1_naive_bayes", {
      val lnC = lnMicroSql("coalesce(c, 0) + 1")
      s"""WITH tok AS (SELECT doc_id, lang, t.tok AS tok
         |             FROM documents, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)
         |             WHERE t.tok <> ''),
         |tr AS (SELECT * FROM tok WHERE doc_id % 10 <> 0),
         |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_c
         |        FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
         |ctot AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot_c FROM tr GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n_train FROM cls),
         |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
         |cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
         |te AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS mult
         |       FROM tok WHERE doc_id % 10 = 0 GROUP BY 1, 2),
         |tev AS (SELECT te.doc_id, te.tok, te.mult
         |        FROM te JOIN (SELECT DISTINCT tok FROM tr) v USING (tok)),
         |sc AS (SELECT tev.doc_id, cls.lang,
         |         CAST(sum(tev.mult) AS BIGINT) AS m_doc,
         |         CAST(sum(tev.mult * $lnC) AS BIGINT) AS ts
         |       FROM tev CROSS JOIN cls
         |       LEFT JOIN cnt ON cnt.lang = cls.lang AND cnt.tok = tev.tok
         |       GROUP BY 1, 2),
         |tedoc AS (SELECT doc_id, lang AS true_lang FROM documents WHERE doc_id % 10 = 0),
         |grid AS (SELECT td.doc_id, td.true_lang, cls.lang,
         |           coalesce(sc.ts, 0)
         |             - coalesce(sc.m_doc, 0)
         |               * ${lnMicroSql("coalesce(ctot.tot_c, 0) + voc.v")}
         |             + ${lnMicroSql("cls.n_c")} - ${lnMicroSql("tot.n_train")} AS score
         |         FROM tedoc td
         |         CROSS JOIN cls
         |         LEFT JOIN ctot ON ctot.lang = cls.lang
         |         CROSS JOIN voc CROSS JOIN tot
         |         LEFT JOIN sc ON sc.doc_id = td.doc_id AND sc.lang = cls.lang),
         |pred AS (SELECT doc_id, true_lang, lang AS pred_lang,
         |           row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, lang) AS rk
         |         FROM grid)
         |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs
        .select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val tr = tok.filter(col("doc_id") % 10 =!= 0)
      val cls = docs.filter(col("doc_id") % 10 =!= 0)
        .groupBy("lang").agg(count(lit(1)).cast("long").as("n_c"))
      val ctot = tr.groupBy("lang").agg(count(lit(1)).cast("long").as("tot_c"))
      val tot = cls.agg(sum("n_c").cast("long").as("n_train"))
      val voc = tr.agg(countDistinct("tok").cast("long").as("v"))
      val cnt = tr.groupBy("lang", "tok").agg(count(lit(1)).cast("long").as("c"))
      val te = tok.filter(col("doc_id") % 10 === 0)
        .groupBy("doc_id", "tok").agg(count(lit(1)).cast("long").as("mult"))
      val tev = te.join(tr.select("tok").distinct(), Seq("tok"), "left_semi")
      // class grid: |langs| is bounded (~6), so the cls side broadcasts
      val sc = tev.crossJoin(broadcast(cls.select("lang")))
        .join(cnt, Seq("lang", "tok"), "left")
        .groupBy("doc_id", "lang")
        .agg(sum("mult").cast("long").as("m_doc"),
          sum(col("mult") * lnMicro(coalesce(col("c"), lit(0L)) + lit(1L)))
            .cast("long").as("ts"))
      val tedoc = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang").as("true_lang"))
      val grid = tedoc
        .crossJoin(broadcast(cls
          .join(ctot, Seq("lang"), "left")
          .crossJoin(voc).crossJoin(tot)))
        .join(sc, Seq("doc_id", "lang"), "left")
        .select(col("doc_id"), col("true_lang"), col("lang"),
          (coalesce(col("ts"), lit(0L))
            - coalesce(col("m_doc"), lit(0L))
              * lnMicro(coalesce(col("tot_c"), lit(0L)) + col("v"))
            + lnMicro(col("n_c")) - lnMicro(col("n_train"))).as("score"))
      val wr = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("lang"))
      grid.withColumn("rk", row_number().over(wr))
        .filter(col("rk") === 1)
        .groupBy(col("true_lang"), col("lang").as("pred_lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("true_lang", "pred_lang")
    }
  )
}
