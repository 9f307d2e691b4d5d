package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Rounds, Tables}
import QueryHelpers.{h16, purchaseCentsByDay, purchaseCentsByDaySql}

/** The model-evaluation and monitoring operators of a production pipeline
  * — rank-statistic AUC, empirical calibration tables, precision/recall
  * curves, CUSUM changepoint detection over daily series, forecast
  * backtests, KMV distinct-intersection sketches — plus its privacy audits
  * (k-anonymity, l-diversity, t-closeness, a geometric-mechanism release:
  * pa1–pa3, dp1) and revenue attribution (last-touch, position-weighted,
  * Markov removal effect: at1–at3).
  *
  * Determinism contracts (the ols1/ab1 class):
  *  - every cross-engine aggregate is an exact INTEGER (counts, integer
  *    ppm via `div`, exact cents) — identical at any partition count;
  *  - AUC, calibration, CUSUM, KMV, the privacy audits and the
  *    attribution chain are pure integer arithmetic end to end.
  *
  * Scale design (100 TB):
  *  - auc1 reduces the corpus to |distinct scores| rows FIRST (one keyed
  *    agg with map-side combine); the tie-correcting prefix window runs
  *    over that bounded table, never over rows.
  *  - cal1 is two keyed aggs (user, then bin) — the classic two-level
  *    rollup, no window, no sort beyond the final bin ordering.
  *  - cp1's CUSUM recursion max(0, S+d) is rewritten as
  *    prefix_sum − running_min — two windows over the DAILY series
  *    (|days| rows), so the recurrence never leaves declarative SQL.
  *  - agg9's per-side sketch is a k-row TakeOrdered (O(k) heap per
  *    partition, map-side partial top-k — sp4's plan class); sketches
  *    merge by union∘limit, which is exactly KMV mergeability, and every
  *    join downstream of the corpus scan is k-row broadcast-class.
  *  - at1 is one window shuffle on user_id (w6's key) + a low-cardinality
  *    keyed rollup; the window state is one string per user (the last
  *    non-purchase type), independent of history length.
  */
object EvalQueries {

  /** 48-bit md5-prefix hash in DuckDB SQL — the 12-nibble extension of
    * MlQueries.h16 (same strpos arithmetic, BIGINT-exact; 48 bits keeps
    * every value below 2^53 so even a DOUBLE round-trip would be exact).
    */
  private def h48(e: String): String =
    (0 until 12).map { j =>
      s"(strpos('0123456789abcdef', substr(md5($e), ${j + 1}, 1)) - 1) * ${1L << (4 * (11 - j))}"
    }.mkString("(", "\n + ", ")")

  /** Spark twin of [[h48]]: conv on the first 12 md5 nibbles. */
  private def h48c(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  private val KmvK = 256
  /** 2^48 — the hash domain size for the (k−1)·M/h_k KMV estimator. */
  private val KmvM = 1L << 48

  /** auc1's and prc1's input: document lengths labelled positive when the
    * doc is English, collapsed to the distinct-score table (score, np, nn)
    * of positive and negative counts.
    */
  private def labeledScoreCounts(docs: DataFrame): DataFrame =
    docs.select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score").agg(sum("pos").cast("long").as("np"),
        (count(lit(1)) - sum("pos")).cast("long").as("nn"))

  /** [[labeledScoreCounts]] as DuckDB CTEs `s` and `g`. */
  private val labeledScoreCountsSql =
    """WITH s AS (SELECT n_chars AS score,
      |             CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos
      |           FROM documents),
      |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np,
      |             CAST(count(*) - sum(pos) AS BIGINT) AS nn
      |      FROM s GROUP BY 1)""".stripMargin

  def all: Seq[Q] = Seq(

    // ── AUC1: tie-corrected Mann–Whitney AUC of a score column against a
    // binary label — the metric every classifier gate (lr1's class) is
    // judged by. Scored here: does document length predict English?
    // (score = n_chars, label = lang = 'en'; the operator is the rank
    // statistic — any score/label pair plugs in.)
    //
    // 2U = Σ_scores n_pos(s)·(2·n_neg(<s) + n_neg(=s)) counts every
    // (pos, neg) pair won twice and every tie once — an exact integer, so
    // AUC travels as auc_ppm = 2U·1e6 div (2·n_pos·n_neg). Exactness
    // envelope: 2U·1e6 < 2^63 holds to ~4·10⁶ labeled docs per eval
    // scope — far beyond any human-labeled eval split; at corpus scale
    // you AUC a hash-sampled split (sp1), not 10¹⁰ rows.
    //
    // 100 TB: the corpus collapses to |distinct scores| rows in one
    // map-side-combined agg; the prefix window orders THAT table.
    Q("auc1_rank_auc",
      s"""$labeledScoreCountsSql,
        |c AS (SELECT score, np, nn,
        |        CAST(coalesce(sum(nn) OVER (ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_lt
        |      FROM g),
        |u AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
        |             CAST(sum(np * (2 * cum_lt + nn)) AS BIGINT) AS u2
        |      FROM c)
        |SELECT n_pos, n_neg, u2,
        |       (u2 * 1000000) // (2 * n_pos * n_neg) AS auc_ppm
        |FROM u""".stripMargin) { (s, d) =>
      val g = labeledScoreCounts(Tables.documents(s, d))
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cum_lt", coalesce(sum("nn").over(w), lit(0L)).cast("long"))
        .agg(sum("np").cast("long").as("n_pos"),
          sum("nn").cast("long").as("n_neg"),
          sum(col("np") * (lit(2L) * col("cum_lt") + col("nn"))).cast("long").as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          expr("(u2 * 1000000L) div (2 * n_pos * n_neg)").as("auc_ppm"))
    },

    // ── CAL1: empirical calibration table for a monotone score — the
    // response-curve readout behind threshold tuning (does the score's
    // ordering hold up in observed outcome rates?). Score: per-user click
    // count; outcome: ≥1 purchase. Bins are FIXED-WIDTH on the score
    // (clamped at 10) — never ntile, which would global-sort every user
    // on one reducer at 100 TB. Two keyed aggs; rates as integer ppm.
    Q("cal1_calibration_bins",
      """WITH u AS (SELECT user_id,
        |             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
        |           FROM events GROUP BY 1)
        |SELECT least(clicks, 10) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(conv) AS BIGINT) AS n_conv,
        |       (CAST(sum(conv) AS BIGINT) * 1000000) // count(*) AS conv_ppm,
        |       (CAST(sum(clicks) AS BIGINT) * 1000000) // count(*) AS mean_clicks_ppm
        |FROM u GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("long").as("clicks"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("conv"))
        .groupBy(least(col("clicks"), lit(10L)).as("bin"))
        .agg(count(lit(1)).as("n_users"),
          sum("conv").cast("long").as("n_conv"),
          expr("(sum(conv) * 1000000L) div count(*)").as("conv_ppm"),
          expr("(sum(clicks) * 1000000L) div count(*)").as("mean_clicks_ppm"))
        .orderBy("bin")
    },

    // ── CP1: CUSUM changepoint detection over the daily error-count
    // series — the drift alarm of pipeline monitoring (ad1 flags single
    // anomalous days; CUSUM accumulates SUSTAINED shifts too small to trip
    // a per-day test). The recursion S_t = max(0, S_{t−1} + (x_t − μ)) is
    // not expressible as a window fold — but its closed form is:
    //   S_t = P_t − min(0, min_{k≤t} P_k),   P_t = Σ_{i≤t} (x_i − μ),
    // two windows over the daily series (CusumSpec proves the identity
    // against the literal fold). Deviations are scaled by D = #days
    // (x_t·D − T with T = total) so P stays an exact integer — μ = T/D is
    // never materialized as a float. Alarm threshold h = T in scaled
    // units ≡ one full mean-day of cumulative excess.
    //
    // 100 TB: the corpus reduces to |days| rows in one keyed agg; both
    // windows run over that bounded series.
    Q("cp1_cusum_changepoint",
      """WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                             '%Y-%m-%d') AS day,
        |              CAST(count(*) AS BIGINT) AS n
        |            FROM events WHERE event_type = 'error' GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS tot FROM dc),
        |p AS (SELECT day, n, tot,
        |        CAST(sum(n * nd - tot) OVER (ORDER BY day) AS BIGINT) AS pfx
        |      FROM dc CROSS JOIN t),
        |sarr AS (SELECT day, n, tot,
        |           pfx - least(CAST(0 AS BIGINT), min(pfx) OVER (ORDER BY day)) AS cusum
        |         FROM p)
        |SELECT day, n AS n_events, cusum AS cusum_scaled,
        |       CAST(CASE WHEN cusum > tot THEN 1 ELSE 0 END AS INTEGER) AS flagged
        |FROM sarr ORDER BY day""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d).filter(col("event_type") === "error")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val t = dc.agg(count(lit(1)).cast("long").as("nd"),
        sum("n").cast("long").as("tot"))
      val w = Window.orderBy("day")
      dc.crossJoin(broadcast(t))
        .withColumn("pfx", sum(col("n") * col("nd") - col("tot")).over(w).cast("long"))
        .withColumn("cusum", col("pfx") - least(lit(0L), min("pfx").over(w)))
        .select(col("day"), col("n").as("n_events"), col("cusum").as("cusum_scaled"),
          (col("cusum") > col("tot")).cast("int").as("flagged"))
        .orderBy("day")
    },

    // ── AGG9: KMV (k-minimum-values) distinct-INTERSECTION sketch — the
    // set-overlap estimator agg4/agg7 (HLL) can't give you: HLL unions,
    // KMV intersects (Beyer et al., SIGMOD'07). Sets: users who click vs
    // users who purchase. Each side keeps its k smallest 48-bit hash
    // values; the union sketch is the k smallest of the merged sketches
    // (KMV mergeability — exactly how per-partition sketches combine on a
    // cluster); |A∪B| ≈ (k−1)·M/h_k and |A∩B| ≈ ρ/k · |A∪B| with ρ =
    // union-sketch members present in BOTH side sketches. Every estimate
    // is integer `div` arithmetic on exact integers — both engines replay
    // it digit-for-digit, and the exact counts travel alongside (the
    // agg4/agg8 exact-companion contract; KmvSpec asserts the error).
    //
    // 100 TB: per-side sketch = distinct-hash TakeOrdered k (O(k) heap
    // per partition, map-side partial top-k); everything after the two
    // corpus scans is ≤3k rows.
    Q("agg9_kmv_intersection", {
      val h = h48("CAST(user_id AS VARCHAR)")
      s"""WITH a AS (SELECT DISTINCT CAST($h AS BIGINT) AS h
         |           FROM events WHERE event_type = 'click'),
         |b AS (SELECT DISTINCT CAST($h AS BIGINT) AS h
         |      FROM events WHERE event_type = 'purchase'),
         |ska AS (SELECT h FROM a ORDER BY h LIMIT $KmvK),
         |skb AS (SELECT h FROM b ORDER BY h LIMIT $KmvK),
         |sku AS (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
         |        ORDER BY h LIMIT $KmvK),
         |hk AS (SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS ku FROM sku),
         |rho AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM sku
         |        WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_int FROM a WHERE h IN (SELECT h FROM b)),
         |exu AS (SELECT CAST(count(*) AS BIGINT) AS exact_union
         |        FROM (SELECT h FROM a UNION SELECT h FROM b)),
         |est AS (SELECT CASE WHEN ku < $KmvK THEN (SELECT exact_union FROM exu)
         |                    ELSE ((ku - 1) * $KmvM) // hk END AS est_union, ku
         |        FROM hk)
         |SELECT $KmvK AS k, exact_union, est_union, exact_int,
         |       (rho * est_union) // ku AS est_int
         |FROM est CROSS JOIN rho CROSS JOIN ex CROSS JOIN exu""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(t: String): DataFrame = ev.filter(col("event_type") === t)
        .select(h48c(col("user_id").cast("string")).as("h")).distinct()
      val a = side("click")
      val b = side("purchase")
      def sk(df: DataFrame): DataFrame = df.orderBy("h").limit(KmvK)
      val ska = sk(a)
      val skb = sk(b)
      val sku = sk(ska.union(skb).distinct())
      val hk = sku.agg(max("h").as("hk"), count(lit(1)).as("ku"))
      val rho = sku.join(broadcast(ska), "h").join(broadcast(skb), "h")
        .agg(count(lit(1)).as("rho"))
      val ex = a.join(b, "h").agg(count(lit(1)).as("exact_int"))
      val exu = a.union(b).distinct().agg(count(lit(1)).as("exact_union"))
      hk.crossJoin(broadcast(rho)).crossJoin(ex).crossJoin(exu)
        .select(lit(KmvK).as("k"), col("exact_union"),
          when(col("ku") < KmvK, col("exact_union"))
            .otherwise(expr(s"((ku - 1) * ${KmvM}L) div hk")).as("est_union"),
          col("exact_int"), col("rho"), col("ku"))
        .select(col("k"), col("exact_union"), col("est_union"), col("exact_int"),
          expr("(rho * est_union) div ku").as("est_int"))
    },

    // ── OS1: robust outlier profile (median/MAD) — the monitoring screen
    // mean/stddev can't provide when the tail IS the signal (ad1's z-test
    // breaks down exactly when outliers inflate its own stddev; the
    // median/MAD pair is outlier-proof by construction). Two grouped exact
    // percentiles (agg5's proven cross-engine path) joined back to the
    // rows; the outlier verdict compares micro-unit INTEGERS rounded from
    // identically-shaped doubles (ndcg1's risk class) — dev4 > thr4, never
    // raw float vs raw float on a knife edge. Scale: two keyed percentile
    // aggs over |types| groups + one broadcast join back; the corpus
    // streams twice, shuffling only (type, value) pairs.
    Q("os1_robust_outliers",
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |a AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM a GROUP BY 1)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(max(a.med), 4) AS med, round(max(md.mad), 4) AS mad,
        |       CAST(sum(CASE WHEN CAST(round(abs(a.value - a.med) * 10000) AS BIGINT)
        |                        > CAST(round(3 * 1.4826 * md.mad * 10000) AS BIGINT)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM a JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select("event_type", "value")
      val m = ev.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
      val a = ev.join(broadcast(m), "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
      val md = a.groupBy("event_type").agg(expr("percentile(ad, 0.5)").as("mad"))
      a.join(broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(max("med"), 4).as("med"), round(max("mad"), 4).as("mad"),
          sum(when(round(abs(col("value") - col("med")) * 10000).cast("long")
            > round(lit(3 * 1.4826) * col("mad") * 10000).cast("long"), 1L)
            .otherwise(0L)).cast("long").as("n_outliers"))
        .orderBy("event_type")
    },

    // ── GINI1: revenue-concentration Gini coefficient — the inequality
    // readout of marketplace analytics (how concentrated is spend across
    // customers?). G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over per-user
    // revenue sorted ascending. The rank is [[graft.operators.GlobalIds]]
    // (range repartition + O(P) prefix-sum) — NEVER a row_number window,
    // whose SinglePartition sort over every user is the canonical scale-
    // killer; (cents, user) is the total tie-broken order both engines
    // replay. Σ rank·cents exceeds int64 at sf10-scale (n·w ≈ 5e20), so it
    // accumulates as DECIMAL(38,0)/HUGEINT — pca1's norm² contract: the
    // one >2⁵³ integer→double conversion rounds to nearest identically in
    // both engines, and every double after it has the same expression
    // shape. Revenue sums as exact integer cents (j1 contract).
    Q("gini1_revenue_concentration",
      """WITH u AS (SELECT o_custkey AS usr,
        |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, usr) AS rnk FROM u),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS total_cents FROM u),
        |sq AS (SELECT sum(CAST(rnk AS HUGEINT) * cents) AS sw FROM r)
        |SELECT n, total_cents,
        |       round((2.0 * sw - (CAST(n AS DOUBLE) + 1) * total_cents)
        |             / (CAST(n AS DOUBLE) * total_cents), 6) AS gini
        |FROM t CROSS JOIN sq""".stripMargin) { (s, d) =>
      val u = Tables.orders(s, d).groupBy(col("o_custkey").as("usr"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val ranked = graft.operators.GlobalIds
        .withGlobalId(u, "gid", col("cents"), col("usr"))
      val t = u.agg(count(lit(1)).cast("long").as("n"),
        sum("cents").cast("long").as("total_cents"))
      ranked
        .agg(sum((col("gid") + 1).cast("decimal(38,0)") * col("cents")).as("sw"))
        .crossJoin(broadcast(t))
        .select(col("n"), col("total_cents"),
          round((lit(2.0) * col("sw") - (col("n").cast("double") + 1) * col("total_cents"))
            / (col("n").cast("double") * col("total_cents")), 6).as("gini"))
    },

    // ── PA1: k-anonymity audit over quasi-identifiers — the privacy
    // release check for a training-data drop: how many (lang, source,
    // length-bucket) groups have fewer than k=5 members, and how many rows
    // sit in them (re-identification candidates). One keyed agg to
    // |groups| rows + a 1-row rollup — rd1 redacts PII VALUES; pa1 audits
    // whether the remaining metadata still isolates individuals.
    Q("pa1_k_anonymity",
      """WITH q AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |       CAST(min(n) AS BIGINT) AS min_group
        |FROM q""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"), expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).cast("long").as("small_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).cast("long").as("rows_at_risk"),
          min("n").cast("long").as("min_group"))
    },

    // ── PA2: l-diversity audit — for each (lang, length-bucket)
    // quasi-identifier group, l = distinct sensitive values (source);
    // output is the histogram of l with the rows exposed at each level.
    // Groups with small l are the leak surface even when pa1's k is
    // satisfied. Two keyed aggs: corpus → |groups|, then |groups| →
    // |l-values|.
    Q("pa2_l_diversity",
      """WITH q AS (SELECT lang, n_chars // 200 AS len_bucket,
        |             CAST(count(DISTINCT source) AS BIGINT) AS l,
        |             CAST(count(*) AS BIGINT) AS n_rows
        |           FROM documents GROUP BY 1, 2)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(n_rows) AS BIGINT) AS n_rows
        |FROM q GROUP BY l ORDER BY l""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), expr("n_chars div 200").as("len_bucket"))
        .agg(countDistinct(col("source")).as("l"),
          count(lit(1)).as("n_rows"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum("n_rows").cast("long").as("n_rows"))
        .orderBy("l")
    },

    // ── PA3: t-closeness audit. For each (lang, length-bucket) QI group,
    // t = total-variation distance between the group's source distribution
    // and the corpus-global one; output is the histogram of t in 0.1-wide
    // buckets with the rows exposed at each level. EXACT integer: every
    // per-source term |cnt_gs·N − cnt_s·n_g| shares the denominator
    // 2·n_g·N, so the sum is one integer numerator and ONE truncating
    // division yields t in ppm (products pass int64 at sf10 → decimal(38)/
    // HUGEINT). Plan: two corpus-keyed aggs (group×source, group), the
    // |groups|×|sources| grid is a broadcast cross join — the data-sized
    // stage is the aggs; everything after is O(groups · sources) rows.
    Q("pa3_t_closeness",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
        |gs AS (SELECT source, CAST(count(*) AS BIGINT) AS cs
        |       FROM documents GROUP BY 1),
        |g AS (SELECT lang, n_chars // 200 AS len_bucket,
        |             CAST(count(*) AS BIGINT) AS ng
        |      FROM documents GROUP BY 1, 2),
        |gc AS (SELECT lang, n_chars // 200 AS len_bucket, source,
        |              CAST(count(*) AS BIGINT) AS cgs
        |       FROM documents GROUP BY 1, 2, 3),
        |grid AS (SELECT g.lang, g.len_bucket, g.ng, gs.cs, nn,
        |                coalesce(gc.cgs, 0) AS cgs
        |         FROM g CROSS JOIN gs CROSS JOIN n
        |         LEFT JOIN gc ON gc.lang = g.lang
        |                     AND gc.len_bucket = g.len_bucket
        |                     AND gc.source = gs.source),
        |t AS (SELECT lang, len_bucket, ng,
        |        CAST((sum(abs(CAST(cgs AS HUGEINT) * nn
        |                      - CAST(cs AS HUGEINT) * ng)) * 1000000)
        |             // (2 * CAST(ng AS HUGEINT) * max(nn)) AS BIGINT) AS t_ppm
        |      FROM grid GROUP BY 1, 2, 3)
        |SELECT t_ppm // 100000 AS t_bucket,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(ng) AS BIGINT) AS n_rows
        |FROM t GROUP BY 1 ORDER BY t_bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("nn"))
      val gs = docs.groupBy("source").agg(count(lit(1)).as("cs"))
      val g = docs.groupBy(col("lang"), expr("n_chars div 200").as("len_bucket"))
        .agg(count(lit(1)).as("ng"))
      val gc = docs
        .groupBy(col("lang"), expr("n_chars div 200").as("len_bucket"), col("source"))
        .agg(count(lit(1)).as("cgs"))
      val grid = g.crossJoin(broadcast(gs)).crossJoin(broadcast(n))
        .join(gc.withColumnsRenamed(Map(
            "lang" -> "c_lang", "len_bucket" -> "c_len", "source" -> "c_src")),
          col("c_lang") === col("lang") && col("c_len") === col("len_bucket")
            && col("c_src") === col("source"), "left")
        .select(col("lang"), col("len_bucket"), col("ng"), col("cs"), col("nn"),
          coalesce(col("cgs"), lit(0L)).as("cgs"))
      val t = grid.groupBy("lang", "len_bucket", "ng")
        .agg(expr(
          """cast((sum(abs(cast(cgs as decimal(38,0)) * nn
            |              - cast(cs as decimal(38,0)) * ng)) * 1000000)
            |     div (2 * cast(ng as decimal(38,0)) * max(nn)) as bigint)
            |""".stripMargin.replaceAll("\n", " ")).as("t_ppm"))
      t.groupBy(expr("t_ppm div 100000").as("t_bucket"))
        .agg(count(lit(1)).as("n_groups"), sum("ng").cast("long").as("n_rows"))
        .orderBy("t_bucket")
    },

    // ── DP1: ε = ln 2 differentially-private per-language count release
    // (geometric mechanism). noise = tz(u_x) − tz(u_y) with u_x/u_y
    // INDEPENDENT 16-bit md5 buckets keyed on the release id + group key:
    // tz ~ Geom(1/2), and the difference of two iid geometrics IS the
    // two-sided geometric P(k) ∝ 2^-|k| — the exact discrete-Laplace
    // mechanism for sensitivity-1 counts (tail truncated at 16, mass
    // 2^-16 ≈ 1.5e-5, documented bias bound). Deterministic: the "draw"
    // is a pure function of the group key, so release replay is
    // idempotent — and both engines compute the identical integers.
    // Plan: one data-sized count agg; the mechanism is a per-row
    // projection over |groups| rows. True counts are emitted beside the
    // release because this pack row is the mechanism's AUDIT (the
    // noise/released columns alone are what a real release ships).
    Q("dp1_geometric_release",
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS true_n
         |           FROM documents GROUP BY 1),
         |u AS (SELECT lang, true_n,
         |        ${h16("'dp1x|' || lang")} AS ux,
         |        ${h16("'dp1y|' || lang")} AS uy
         |      FROM c),
         |z AS (SELECT lang, true_n,
         |        ${tzSql("ux")} - ${tzSql("uy")} AS noise
         |      FROM u)
         |SELECT lang, true_n, CAST(noise AS BIGINT) AS noise,
         |       CAST(true_n + noise AS BIGINT) AS released_n
         |FROM z ORDER BY lang""".stripMargin) { (s, d) =>
      val ux = graft.operators.Sampling.bucket(concat(lit("dp1x|"), col("lang")))
        .cast("long")
      val uy = graft.operators.Sampling.bucket(concat(lit("dp1y|"), col("lang")))
        .cast("long")
      val noise = (tzCol(ux) - tzCol(uy)).as("noise")
      Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("true_n"))
        .select(col("lang"), col("true_n"), noise,
          (col("true_n") + tzCol(ux) - tzCol(uy)).cast("long").as("released_n"))
        .orderBy("lang")
    },

    // ── AT1: last-touch revenue attribution — which channel (the last
    // non-purchase event before each purchase) gets credit for the
    // revenue. The per-user carry-forward is `last(..., ignoreNulls)` over
    // ROWS UNBOUNDED PRECEDING..1 PRECEDING (w6's ordering: sec, then
    // event_id as the total tie-break) — O(1) window state per user
    // regardless of history length; purchases with no prior event
    // attribute to 'direct'. Revenue sums as exact integer cents (the j1
    // contract). One user-keyed window shuffle + a |channels|-row rollup.
    Q("at1_last_touch_attribution",
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |             date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                       CAST(ts AS TIMESTAMP)) AS sec
        |           FROM events),
        |a AS (SELECT user_id, event_type, value,
        |        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |                   IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |      FROM e)
        |SELECT coalesce(channel, 'direct') AS channel,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS revenue
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          unix_timestamp(col("ts")).as("sec"))
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")), true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("revenue"))
        .orderBy("channel")
    },

    // ── AT2: position-weighted (U-shaped) multi-touch attribution — at1
    // gives the last touch 100%; the U-shaped model marketing teams
    // actually reconcile against gives 40% to the FIRST touch, 40% to the
    // LAST, and splits 20% among the middles: per purchase, the same
    // user's view/click/signup events in the preceding 7 days rank by
    // (ts, event_id); credits are integer ppm — n=1 → 1e6, n=2 → 5e5
    // each, n≥3 → 4e5/4e5 ends + 2e5 div (n−2) per middle (truncating
    // per middle — mi1's per-cell class; the sub-ppm remainder is
    // documented unassigned). 100 TB: ONE user-keyed join with the time
    // range as a residual predicate; the rank window is keyed per
    // conversion; users with > 256 touch events are excluded (the hot-key
    // guard bounding the join fan-out a bot user would otherwise make
    // quadratic — cap pinned in the oracle, inert on every driver corpus).
    Q("at2_position_weighted",
      """WITH c AS (SELECT event_id AS cid, user_id, CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'purchase'),
        |t0 AS (SELECT event_id AS tid, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS tts
        |      FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |hot AS (SELECT user_id FROM t0 GROUP BY 1 HAVING count(*) > 256),
        |t AS (SELECT * FROM t0
        |      WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.user_id = t0.user_id)),
        |j AS (SELECT c.cid, t.tid, t.event_type,
        |        row_number() OVER (PARTITION BY c.cid ORDER BY t.tts, t.tid) AS rk,
        |        count(*) OVER (PARTITION BY c.cid) AS n
        |      FROM c JOIN t ON t.user_id = c.user_id
        |        AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
        |cr AS (SELECT event_type,
        |         CASE WHEN n = 1 THEN 1000000
        |              WHEN n = 2 THEN 500000
        |              WHEN rk = 1 OR rk = n THEN 400000
        |              ELSE 200000 // (n - 2) END AS ppm
        |       FROM j)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(ppm) AS BIGINT) AS credit_ppm
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val c = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("cid"), col("user_id").as("cu"),
          col("ts").as("cts"))
      val t0 = ev.filter(col("event_type").isin("view", "click", "signup"))
        .select(col("event_id").as("tid"), col("user_id").as("tu"),
          col("event_type"), col("ts").as("tts"))
      // hot-user guard (fi1/gr2's cap class, pinned in the oracle): a bot
      // with T touches and P purchases explodes the join to T*P rows —
      // users over 256 touch events are excluded outright, bounding
      // per-conversion fan-out; ~13 events/user on every driver corpus,
      // so the cap is purely adversarial (spec-asserted inert)
      val hot = t0.groupBy("tu").agg(count(lit(1)).as("ntouch"))
        .filter(col("ntouch") > 256).select("tu")
      val t = t0.join(broadcast(hot), Seq("tu"), "left_anti")
      val j = c.join(t, col("tu") === col("cu")
          && col("tts") < col("cts")
          && col("tts") >= col("cts") - expr("INTERVAL 7 DAY"))
      val wr = Window.partitionBy("cid").orderBy(col("tts"), col("tid"))
      val wn = Window.partitionBy("cid")
      j.withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wn).cast("long"))
        .select(col("event_type"),
          when(col("n") === 1L, 1000000L)
            .when(col("n") === 2L, 500000L)
            .when(col("rk") === 1L || col("rk") === col("n"), 400000L)
            .otherwise(expr("200000L div (n - 2)")).as("ppm"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum("ppm").cast("long").as("credit_ppm"))
        .orderBy("event_type")
    },

    // ── AT3: Markov removal-effect attribution. Stage 1 (the data-sized
    // part): per-user journeys cut at the first purchase — one user-keyed
    // window shuffle (at1's ordering: sec, then event_id) — aggregated to
    // a |states|² transition-count table. Stage 2 (O(channels²) rows):
    // ppm transition probabilities, then 24 exact-integer power-iteration
    // rounds run SIMULTANEOUSLY for every removal variant (mass table
    // keyed by (removed_channel, state) — one plan, not one per channel),
    // each round localCheckpointed so lineage stays O(1). Removal effect
    // = base conversion mass minus the variant's; purchase revenue is
    // attributed proportionally in exact integer cents.
    // Every chain step is exact integer arithmetic (ppm transition
    // probabilities, 1e12-scale mass, truncating div), so Spark and DuckDB
    // agree bit-for-bit — ses1/t11's micro-integer discipline applied to
    // matrix power iteration.
    Q("at3_markov_attribution", at3OracleSql) { (s, d) =>
      at3Attribution(s, d)
    },

    // ── PF1: Pareto frontier (skyline) — the multi-objective operator
    // (Börzsönyi et al. ICDE'01): which suppliers are non-dominated on
    // (total cost minimized, total quantity maximized)? A supplier is
    // dominated iff some other is no-worse on both axes and strictly
    // better on one. The naive form is the quadratic all-pairs NOT
    // EXISTS; the 2-D skyline collapses to TWO window functions over the
    // (cents asc) order — running max quantity over STRICTLY cheaper rows
    // (RANGE .. 1 PRECEDING, w5's numeric-range frame) plus the same-cost
    // group max — so the op is linear in the dim. The corpus reduces to
    // the supplier dim in ONE keyed agg (exact integer cents/units), and
    // the windows run over that bounded table, never over rows.
    Q("pf1_pareto_frontier",
      """WITH s AS (SELECT l_suppkey AS sk,
        |             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |           FROM lineitem GROUP BY 1),
        |w AS (SELECT sk, cents, qty,
        |        max(qty) OVER (ORDER BY cents
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |        max(qty) OVER (PARTITION BY cents) AS m2
        |      FROM s)
        |SELECT sk AS suppkey, cents, qty
        |FROM w WHERE (m1 IS NULL OR m1 < qty) AND qty = m2
        |ORDER BY cents, suppkey""".stripMargin) { (s, d) =>
      val sup = Tables.lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
        .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
      val strictlyCheaper = Window.orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val samePrice = Window.partitionBy("cents")
      sup.select(col("sk"), col("cents"), col("qty"),
          max("qty").over(strictlyCheaper).as("m1"),
          max("qty").over(samePrice).as("m2"))
        .filter((col("m1").isNull || col("m1") < col("qty")) &&
          col("qty") === col("m2"))
        .select(col("sk").as("suppkey"), col("cents"), col("qty"))
        .orderBy("cents", "suppkey")
    },

    // ── LTV1: cohort lifetime-value curve — co1 counts RETAINED USERS per
    // cohort age; ltv1 adds the money dimension growth teams actually
    // plan against: cumulative exact revenue cents per weekly cohort as
    // it ages. Weeks are integer epoch-weeks (unix seconds div 604800 —
    // no calendar library on either engine), the cumulative window runs
    // over the |cohorts × ages| grid (bounded at any corpus size), and
    // everything upstream is two keyed aggs joined on user.
    Q("ltv1_cohort_ltv",
      """WITH p AS (SELECT user_id,
        |             date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                       CAST(ts AS TIMESTAMP)) // 604800 AS wk,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM p GROUP BY 1),
        |g AS (SELECT cohort_wk, p.wk - cohort_wk AS age_weeks,
        |             CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
        |             CAST(sum(cents) AS BIGINT) AS cents
        |      FROM p JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_wk, age_weeks, n_users, cents,
        |       CAST(sum(cents) OVER (PARTITION BY cohort_wk ORDER BY age_weeks)
        |         AS BIGINT) AS cum_cents
        |FROM g ORDER BY cohort_wk, age_weeks""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 604800").as("wk"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val c = p.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val g = p.join(c, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_weeks"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum("cents").cast("long").as("cents"))
      val w = Window.partitionBy("cohort_wk").orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("cohort_wk"), col("age_weeks"), col("n_users"), col("cents"),
          sum("cents").over(w).cast("long").as("cum_cents"))
        .orderBy("cohort_wk", "age_weeks")
    },

    // ── SEG1: RFM segmentation — the canonical customer-value cube
    // (recency / frequency / monetary) every growth dashboard starts
    // from. Scores use FIXED integer thresholds (cur1's no-quantile-pass
    // device: ntile would global-sort every user on one reducer at
    // 100 TB and make each user's segment depend on every other user);
    // recency anchors to the corpus max event time (1-row broadcast), so
    // the whole op is one user-keyed agg + O(1) integer scoring + a
    // ≤125-row segment rollup with exact cent sums.
    Q("seg1_rfm_segments",
      """WITH p AS (SELECT user_id,
        |             max(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                           CAST(ts AS TIMESTAMP))) AS last_s,
        |             CAST(count(*) AS BIGINT) AS f,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |nowt AS (SELECT max(last_s) AS now_s FROM p),
        |s AS (SELECT user_id, f, cents,
        |             (now_s - last_s) // 86400 AS rdays
        |      FROM p CROSS JOIN nowt),
        |sc AS (SELECT user_id, cents,
        |         CASE WHEN rdays < 3 THEN 5 WHEN rdays < 7 THEN 4
        |              WHEN rdays < 14 THEN 3 WHEN rdays < 21 THEN 2 ELSE 1 END AS r,
        |         CASE WHEN f >= 8 THEN 5 WHEN f >= 5 THEN 4
        |              WHEN f >= 3 THEN 3 WHEN f >= 2 THEN 2 ELSE 1 END AS fs,
        |         CASE WHEN cents >= 200000 THEN 5 WHEN cents >= 100000 THEN 4
        |              WHEN cents >= 50000 THEN 3 WHEN cents >= 20000 THEN 2
        |              ELSE 1 END AS m
        |       FROM s)
        |SELECT CAST(r * 100 + fs * 10 + m AS BIGINT) AS rfm,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM sc GROUP BY 1 ORDER BY rfm""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(unix_timestamp(col("ts"))).as("last_s"),
          count(lit(1)).as("f"),
          sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      val now = p.agg(max("last_s").as("now_s"))
      p.crossJoin(broadcast(now))
        .select(col("f"), col("cents"),
          expr("(now_s - last_s) div 86400").as("rdays"))
        .select(col("cents"),
          when(col("rdays") < 3, 5).when(col("rdays") < 7, 4)
            .when(col("rdays") < 14, 3).when(col("rdays") < 21, 2)
            .otherwise(1).as("r"),
          when(col("f") >= 8, 5).when(col("f") >= 5, 4)
            .when(col("f") >= 3, 3).when(col("f") >= 2, 2)
            .otherwise(1).as("fs"),
          when(col("cents") >= 200000, 5).when(col("cents") >= 100000, 4)
            .when(col("cents") >= 50000, 3).when(col("cents") >= 20000, 2)
            .otherwise(1).as("m"))
        .groupBy((col("r") * 100 + col("fs") * 10 + col("m")).cast("long").as("rfm"))
        .agg(count(lit(1)).as("n_users"), sum("cents").cast("long").as("total_cents"))
        .orderBy("rfm")
    },

    // ── MC1: rolling correlation between two operational series — do
    // errors move with revenue? (the metric-coupling monitor behind
    // "are these two dashboards the same incident"): 7-day windowed
    // Pearson over the daily (revenue cents, error count) series. All
    // window aggregates are EXACT integer sums (products decimal-cast
    // before summing — daily-cents × daily-count products pass int64 on
    // big days); each day then runs ONE double expression with sc1's
    // shapes, zero-variance windows guard to NULL. The corpus collapses
    // to the |days| series first (two keyed aggs joined on day), so every
    // window runs over ~30 rows at any corpus size.
    Q("mc1_rolling_corr",
      """WITH dr AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |              CAST(sum(CASE WHEN event_type = 'purchase'
        |                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |              CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS y
        |            FROM events GROUP BY 1),
        |w AS (SELECT day, x, y,
        |        CAST(count(*) OVER win AS BIGINT) AS n,
        |        CAST(sum(x) OVER win AS BIGINT) AS sx,
        |        CAST(sum(y) OVER win AS BIGINT) AS sy,
        |        sum(CAST(x AS HUGEINT) * x) OVER win AS sxx,
        |        sum(CAST(y AS HUGEINT) * y) OVER win AS syy,
        |        sum(CAST(x AS HUGEINT) * y) OVER win AS sxy
        |      FROM dr
        |      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, n,
        |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |              AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |            ELSE NULL END AS corr
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val dr = Tables.events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(
          sum(expr("case when event_type = 'purchase' " +
            "then cast(round(value * 100) as bigint) else 0L end")).as("x"),
          count(when(col("event_type") === "error", 1)).as("y"))
      val win = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      val w = dr.select(col("day"),
        count(lit(1)).over(win).cast("long").as("n"),
        sum("x").over(win).cast("long").as("sx"),
        sum("y").over(win).cast("long").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).over(win).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).over(win).as("syy"),
        sum(expr("cast(x as decimal(38,0)) * y")).over(win).as("sxy"))
      val nD = col("n").cast("double")
      val da = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
      val db = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
      val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
      w.select(col("day"), col("n"),
          when(da > 0 && db > 0, round(num / sqrt(da * db), 6))
            .otherwise(lit(null)).as("corr"))
        .orderBy("day")
    },

    // ── RK1: top-k rank churn — who entered, exited, and moved in the
    // top-20 revenue leaderboard between two periods (the dashboard diff
    // behind every "movers and shakers" panel; tr1 diffs SNAPSHOT rows,
    // rk1 diffs RANKINGS). One corpus scan produces both periods' exact
    // cent totals (conditional aggregation, no second pass); each period's
    // top-20 is a TakeOrderedAndProject over the supplier dim (map-side
    // partial top-k, never a global sort); ranks are windows over those
    // 20-row tables; the FULL OUTER join classifies entered/exited/held.
    // Total order everywhere: (cents desc, suppkey).
    Q("rk1_rank_churn",
      """WITH r AS (SELECT l_suppkey AS sk,
        |             CAST(sum(CASE WHEN l_shipdate < DATE '1998-01-01'
        |               THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS ca,
        |             CAST(sum(CASE WHEN l_shipdate >= DATE '1998-01-01'
        |               THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cb
        |           FROM lineitem GROUP BY 1),
        |ta AS (SELECT sk, ca, CAST(row_number() OVER (ORDER BY ca DESC, sk) AS BIGINT) AS ra
        |       FROM (SELECT sk, ca FROM r ORDER BY ca DESC, sk LIMIT 20)),
        |tb AS (SELECT sk, cb, CAST(row_number() OVER (ORDER BY cb DESC, sk) AS BIGINT) AS rb
        |       FROM (SELECT sk, cb FROM r ORDER BY cb DESC, sk LIMIT 20))
        |SELECT coalesce(ta.sk, tb.sk) AS suppkey, ra, rb,
        |       CASE WHEN ra IS NULL THEN 'entered'
        |            WHEN rb IS NULL THEN 'exited'
        |            WHEN ra = rb THEN 'held' ELSE 'moved' END AS status
        |FROM ta FULL OUTER JOIN tb ON ta.sk = tb.sk
        |ORDER BY coalesce(ra, 99), coalesce(rb, 99), suppkey""".stripMargin) { (s, d) =>
      val r = Tables.lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
        .agg(
          sum(expr("case when l_shipdate < date'1998-01-01' " +
            "then cast(round(l_extendedprice * 100) as bigint) else 0L end")).as("ca"),
          sum(expr("case when l_shipdate >= date'1998-01-01' " +
            "then cast(round(l_extendedprice * 100) as bigint) else 0L end")).as("cb"))
      def top(c: String, rk: String) = r
        .orderBy(col(c).desc, col("sk")).limit(20)
        .withColumn(rk,
          row_number().over(Window.orderBy(col(c).desc, col("sk"))).cast("long"))
      val ta = top("ca", "ra").select(col("sk").as("ska"), col("ra"))
      val tb = top("cb", "rb").select(col("sk").as("skb"), col("rb"))
      ta.join(tb, col("ska") === col("skb"), "full_outer")
        .select(coalesce(col("ska"), col("skb")).as("suppkey"),
          col("ra"), col("rb"),
          when(col("ra").isNull, "entered")
            .when(col("rb").isNull, "exited")
            .when(col("ra") === col("rb"), "held")
            .otherwise("moved").as("status"))
        .orderBy(coalesce(col("ra"), lit(99L)), coalesce(col("rb"), lit(99L)),
          col("suppkey"))
    },

    // ── AMS1: second frequency moment (self-join size) via the AMS
    // Tug-of-War sketch (Alon-Matias-Szegedy 1996) — the third classic
    // sketch family next to agg4's HLL (F0), agg8's CMS (point queries),
    // and agg9's KMV (intersections): F2 = Σ f(k)² is the self-join
    // cardinality an optimizer estimates before picking a join order.
    // Exact F2 travels alongside (the agg4/agg8 exact-companion contract);
    // the sketch is 64 counters z_j = Σ f(k)·σ_j(k) with σ_j = ±1 from
    // md5(j:k) first-nibble parity — deterministic in both engines, no
    // rand() — and est = (Σ z_j²) div 64 (unbiased mean-of-64), all exact
    // integers via decimal(38,0)/HUGEINT. bound_ok asserts est within 2×
    // of exact (the estimator's relative σ is sqrt(2/64) ≈ 18%, so 2× is
    // a ≥5σ envelope). Plan: ONE keyed agg to the frequency table, a
    // narrow ×64 sketch-row explode over THAT (|keys| rows, not the
    // corpus), one 64-row rollup — sketch counters are exactly how
    // per-partition partials merge on a cluster (addition commutes).
    Q("ams1_second_moment", {
      // b1/b2 = the md5's first/second 8 hex digits as 32-bit words — ONE
      // md5 per key supplies all 64 sign bits (dd4's SimHash device: the
      // per-digit strpos arithmetic here equals Spark's conv(substr))
      def word(off: Int): String = (1 to 8).map { i =>
        s"(strpos('0123456789abcdef', substr(h, ${off + i}, 1)) - 1) * ${1L << (4 * (8 - i))}"
      }.mkString("(", " + ", ")")
      s"""WITH f AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS fk,
         |             md5(CAST(l_partkey AS VARCHAR)) AS h
         |           FROM lineitem GROUP BY 1),
         |fb AS (SELECT k, fk, ${word(0)} AS b1, ${word(8)} AS b2 FROM f),
         |c AS (SELECT
         |${(0 until 64).map { j =>
             val bit = if (j < 32) s"(b1 // (CAST(1 AS BIGINT) << $j)) % 2"
                       else s"(b2 // (CAST(1 AS BIGINT) << ${j - 32})) % 2"
             s"  CAST(sum(fk * (1 - 2 * ($bit))) AS HUGEINT) AS z$j"
           }.mkString(",\n")},
         |  CAST(sum(CAST(fk AS HUGEINT) * fk) AS BIGINT) AS f2_exact
         |FROM fb),
         |e AS (SELECT f2_exact,
         |        CAST((${(0 until 64).map(j => s"z$j * z$j").mkString(" + ")}) // 64
         |          AS BIGINT) AS f2_est
         |      FROM c)
         |SELECT f2_exact, f2_est,
         |       CAST(f2_est * 2 >= f2_exact AND f2_est <= f2_exact * 2 AS INT) AS bound_ok
         |FROM e""".stripMargin
    }) { (s, d) =>
      val f = Tables.lineitem(s, d).groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("fk"))
        .withColumn("h", md5(col("k").cast("string")))
        .withColumn("b1", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
        .withColumn("b2", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
      // 64 sketch counters as 64 AGGREGATE COLUMNS of one pass — no ×64
      // row explode, no 64-group shuffle; partials combine map-side, which
      // is also exactly how the counters merge across cluster partitions.
      // cast BEFORE the sum: Σ contrib is bounded by n, past int64 at
      // extreme row counts, and Spark long sums wrap silently.
      val zCols = (0 until 64).map { j =>
        val bit = if (j < 32) s"shiftright(b1, $j) % 2"
                  else s"shiftright(b2, ${j - 32}) % 2"
        sum(expr(s"cast(fk * (1 - 2 * ($bit)) as decimal(38,0))")).as(s"z$j")
      }
      val exact = expr("cast(sum(cast(fk as decimal(38,0)) * fk) as bigint)")
        .as("f2_exact")
      f.agg(zCols.head, (zCols.tail :+ exact): _*)
        .select(col("f2_exact"),
          expr(s"cast((${(0 until 64).map(j => s"z$j * z$j").mkString(" + ")}) div 64 as bigint)")
            .as("f2_est"))
        .select(col("f2_exact"), col("f2_est"),
          (col("f2_est") * 2 >= col("f2_exact") &&
            col("f2_est") <= col("f2_exact") * 2).cast("int").as("bound_ok"))
    },

    // ── SES1: exponential smoothing (EWMA) of the daily revenue series —
    // the forecasting/monitoring primitive between cp1's changepoint alarm
    // and ad1's per-day z-test: S_t = α·x_t + (1−α)·S_{t−1}. With α = 1/2
    // the recursion is EXACT INTEGER arithmetic end to end: scale by
    // 2^(t−1) and it collapses to a plain prefix sum of y_i = x_1 (i=1),
    // x_i·2^(i−2) (i≥2) — U_t = Σ y_i, S_t = U_t div 2^(t−1) — so a
    // sequential recurrence that "can't" be declarative becomes ONE window
    // over the |days| series, with no float anywhere (the cp1 closed-form
    // lesson applied to smoothing). The shifted terms pass 2^63 (2^28 ×
    // daily cents), so y accumulates as decimal(38,0)/HUGEINT.
    // EXACTNESS HORIZON t ≤ 90 (both engines, by construction): the
    // scaled term cents·2^(t−2) must fit decimal(38,0)/HUGEINT (~1e38 ⇒
    // 2^(t−2)·1e10 caps t at ~94); days past 90 emit NULL smoothed_cents
    // on BOTH engines rather than silently-wrong values.
    // MAGNITUDE CONTRACT (the horizon's other axis), GUARDED SYMMETRICALLY
    // IN-PLAN: the t ≤ 90 bound assumes |daily cents| ≤ 3.2e11 (≈ $3.2B/day
    // — ~30× the sf10 maximum); at the horizon the term is cents·2^88 ≈
    // cents·3.1e26, so cents past that would overflow decimal(38,0) —
    // Spark's non-ANSI multiply would NULL the term (silently skipped by
    // the window sum) while DuckDB HUGEINT stays exact to ~5.5e11 then
    // ERRORS: a silent-divergence mode. Both engines therefore apply the
    // SAME guard: a day with |cents| > 3.2e11 contributes 0 to the prefix
    // sum, and every output row from the first such day onward (running
    // max over the window) emits NULL smoothed_cents — earlier rows stay
    // exact, out-of-contract rows are NULL on both engines, silent
    // divergence is unreachable (ExpSmoothingSpec pins a fixture AT the
    // bound; tools/test_ses1_horizon.py replays the 130-day fixture
    // through the DuckDB oracle to pin the in-bound behavior). Two hazards at
    // t > 64 are avoided explicitly: Java's long `<<` masks the shift
    // count mod 64 (so Spark's shiftleft(1L, t−2) would WRAP where
    // DuckDB's HUGEINT << stays exact — wrong answers with no error),
    // hence 2^k is built as a two-factor decimal product
    // 2^min(k,62)·2^(k−62); and past-horizon terms contribute 0 to the
    // prefix sum so in-horizon rows stay exact regardless of series
    // length. Corpus scans once into the day-grain pre-agg; everything
    // after is |days| rows.
    Q("ses1_exp_smoothing",
      s"""WITH ${purchaseCentsByDaySql()},
        |r AS (SELECT day, cents,
        |             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM dc),
        |y AS (SELECT day, cents, t,
        |             CASE WHEN abs(cents) > 320000000000 THEN CAST(0 AS HUGEINT)
        |                  WHEN t = 1 THEN CAST(cents AS HUGEINT)
        |                  WHEN t <= 90 THEN CAST(cents AS HUGEINT) * (CAST(1 AS HUGEINT) << (t - 2))
        |                  ELSE CAST(0 AS HUGEINT)
        |             END AS yt
        |      FROM r),
        |u AS (SELECT day, cents, t, sum(yt) OVER (ORDER BY t) AS ut,
        |             max(abs(cents)) OVER (ORDER BY t) AS cmax FROM y)
        |SELECT day, cents,
        |       CASE WHEN t <= 90 AND cmax <= 320000000000
        |            THEN CAST(ut // (CAST(1 AS HUGEINT) << (t - 1)) AS BIGINT)
        |       END AS smoothed_cents
        |FROM u ORDER BY day""".stripMargin) { (s, d) =>
      val dc = purchaseCentsByDay(s, d)
      val wd = Window.orderBy("day")
      val r = dc.withColumn("t", row_number().over(wd).cast("long"))
      val centsBound = 320000000000L // the documented $3.2B/day contract
      // 2^k as decimal(38,0) WITHOUT Java's shift-count-mod-64 wrap:
      // split the exponent across two long shifts (exact to k = 124;
      // the t <= 90 horizon needs k <= 89)
      def pow2(k: String): String =
        s"(cast(shiftleft(1L, cast(least($k, 62L) as int)) as decimal(38,0))" +
          s" * cast(shiftleft(1L, cast(greatest(($k) - 62L, 0L) as int)) as decimal(38,0)))"
      val y = r.withColumn("yt",
        when(abs(col("cents")) > centsBound, lit(0).cast("decimal(38,0)"))
          .when(col("t") === 1, col("cents").cast("decimal(38,0)"))
          .when(col("t") <= 90,
            col("cents").cast("decimal(38,0)") * expr(pow2("t - 2")))
          .otherwise(lit(0).cast("decimal(38,0)")))
      val wRun = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u = y
        .withColumn("ut", sum(col("yt")).over(wRun))
        .withColumn("cmax", max(abs(col("cents"))).over(wRun))
      u.select(col("day"), col("cents"),
          // integral `div` on decimals — NOT `/`+floor, whose decimal
          // quotient rounds to 6dp first and can carry past the floor
          // boundary (k/2^30 fractions get within 1e-9 of 1)
          when(col("t") <= 90 && col("cmax") <= centsBound,
            expr(s"cast(ut div ${pow2("t - 1")} as bigint)"))
            .as("smoothed_cents"))
        .orderBy("day")
    },

    // ── CR1: Cramér's V — the categorical-association audit (are lang
    // and source independent, or does one source feed one language?):
    // chi-square over the r×c contingency table, normalized to [0,1] by
    // V = sqrt(chi2 / (n·min(r−1,c−1))) so the strength reads off without
    // a distribution table. an1 compares group MEANS; cr1 is the
    // categorical×categorical sibling every dataset profiler ships. The
    // contingency table is one keyed agg (|lang×source| rows); margins are
    // two rollups broadcast back; the ONE float reduction (Σ (o−e)²/e over
    // the cells) folds over the (lang, source)-SORTED list with 0.0 init —
    // an1's aggregate ≡ list_reduce device — so the double is
    // bit-identical at any partition count.
    Q("cr1_cramers_v",
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |           FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM c GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cl FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST((SELECT count(*) FROM rt) AS BIGINT) AS nr,
        |               CAST((SELECT count(*) FROM ct) AS BIGINT) AS nc FROM c),
        |grid AS (SELECT lang, source, r, cl, coalesce(o, 0) AS o
        |         FROM rt CROSS JOIN ct LEFT JOIN c USING (lang, source)),
        |cell AS (SELECT g.lang, g.source,
        |                (CAST(o AS DOUBLE)
        |                   - CAST(r AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE))
        |                * (CAST(o AS DOUBLE)
        |                   - CAST(r AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE))
        |                / (CAST(r AS DOUBLE) * CAST(cl AS DOUBLE) / CAST(n AS DOUBLE)) AS t
        |         FROM grid g CROSS JOIN tot),
        |chi AS (SELECT list_reduce(list(t ORDER BY lang, source), (a, x) -> a + x) AS chi2
        |        FROM cell)
        |SELECT n, nr, nc, round(chi2, 6) AS chi2,
        |       round(sqrt(chi2 / (CAST(n AS DOUBLE)
        |                          * CAST(least(nr - 1, nc - 1) AS DOUBLE))), 6) AS v
        |FROM chi CROSS JOIN tot""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("o"))
      val rt = c.groupBy("lang").agg(sum("o").cast("long").as("r"))
      val ct = c.groupBy("source").agg(sum("o").cast("long").as("cl"))
      val tot = c.agg(sum("o").cast("long").as("n")).crossJoin(
          broadcast(rt.agg(count(lit(1)).as("nr"))))
        .crossJoin(broadcast(ct.agg(count(lit(1)).as("nc"))))
      // the FULL r×c grid (margins cross-joined, observed counts left-
      // joined, absent cells = 0): chi-square must charge empty cells
      // their full (0−e)²/e — summing only observed cells understates
      // dependence (a perfectly-dependent 2×2 would score V=0.707, not 1)
      val cell = rt.crossJoin(ct)
        .join(c, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"), col("nr"), col("nc"),
          expr("""(cast(o as double) - cast(r as double) * cast(cl as double) / cast(n as double))
                  * (cast(o as double) - cast(r as double) * cast(cl as double) / cast(n as double))
                  / (cast(r as double) * cast(cl as double) / cast(n as double))""").as("t"))
      cell.groupBy("n", "nr", "nc")
        .agg(expr("""aggregate(
               array_sort(collect_list(named_struct('l', lang, 's', source, 't', t))),
               cast(0.0 as double), (a, x) -> a + x.t)""").as("chi2"))
        .select(col("n"), col("nr"), col("nc"),
          round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2") / (col("n").cast("double")
            * least(col("nr") - 1, col("nc") - 1).cast("double"))), 6).as("v"))
    },

    // ── HILL1: Hill tail-index estimator — is the revenue distribution
    // power-law, and how heavy is the tail? gini1 summarizes inequality in
    // one number; the Hill estimator α̂ = (k−1) / Σ ln(x_i/x_min) over the
    // top-k order statistics is the parametric readout capacity planning
    // and fraud screens use (α ≤ 2 ⇒ infinite variance: plan for whales).
    // The corpus collapses to per-user cents (one keyed agg), the top
    // k=200 come from TakeOrderedAndProject on the total (cents desc, usr)
    // order — map-side partial top-k, never a global sort — and ln runs
    // ONLY on those 200 exact integers, micro-rounded per value (t11's
    // contract: round(ln·1e6) as integer, sums exact, the documented
    // 1-ulp cross-libm risk class) before an O(1) terminal division.
    Q("hill1_tail_index",
      """WITH u AS (SELECT o_custkey AS usr,
        |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM orders GROUP BY 1),
        |top AS (SELECT usr, cents FROM u ORDER BY cents DESC, usr LIMIT 200),
        |l AS (SELECT usr, cents,
        |             CAST(round(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT) AS lnm
        |      FROM top),
        |m AS (SELECT CAST(min(lnm) AS BIGINT) AS lnmin,
        |             CAST(min(cents) AS BIGINT) AS xmin_cents,
        |             CAST(count(*) AS BIGINT) AS k FROM l)
        |SELECT k, xmin_cents,
        |       round((CAST(k AS DOUBLE) - 1) * 1000000
        |             / CAST(sum(lnm - lnmin) AS DOUBLE), 6) AS alpha
        |FROM l CROSS JOIN m GROUP BY k, xmin_cents, lnmin""".stripMargin) { (s, d) =>
      val u = Tables.orders(s, d).groupBy(col("o_custkey").as("usr"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      val top = u.orderBy(col("cents").desc, col("usr")).limit(200)
        .withColumn("lnm",
          expr("cast(round(ln(cast(cents as double)) * 1000000) as bigint)"))
      val m = top.agg(min("lnm").as("lnmin"), min("cents").as("xmin_cents"),
        count(lit(1)).as("k"))
      top.crossJoin(broadcast(m))
        .groupBy("k", "xmin_cents", "lnmin")
        .agg(sum(col("lnm") - col("lnmin")).as("sd"))
        .select(col("k"), col("xmin_cents"),
          round((col("k").cast("double") - 1) * 1000000
            / col("sd").cast("double"), 6).as("alpha"))
    },

    // ── AN1: one-way ANOVA — does order priority move order value? ab1
    // compares TWO proportions; an1 is the k-group mean comparison
    // (F = between-group / within-group variance). Sufficient statistics
    // are ols1's one-pass contract: per group exact n, Σcents (int64) and
    // Σcents² (decimal(38,0)/HUGEINT — cents² sums pass 2^63 in the first
    // decade). The ONE float reduction (Σ_g S_g²/n_g) folds over the
    // group-SORTED list with 0.0 init — Spark `aggregate` ≡ DuckDB
    // `list_reduce` (first-element init; 0.0+x == x exactly), the emb1
    // device, so the double sum is bit-identical at any partition count.
    // Corpus scans once; everything after is O(k) arithmetic on 5 rows.
    Q("an1_anova",
      """WITH g AS (SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n_g,
        |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_g,
        |             sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
        |                 * CAST(round(o_totalprice * 100) AS BIGINT)) AS q_g
        |           FROM orders GROUP BY 1),
        |one AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |               CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(q_g) AS DOUBLE) AS qq,
        |               list_reduce(
        |                 list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
        |                        / CAST(n_g AS DOUBLE) ORDER BY p),
        |                 (a, x) -> a + x) AS t
        |        FROM g)
        |SELECT k, n,
        |       CASE WHEN qq - t > 0
        |            THEN round(((t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |                          / CAST(k - 1 AS DOUBLE))
        |                   / ((qq - t) / CAST(n - k AS DOUBLE)), 6)
        |            ELSE NULL END AS f_stat
        |FROM one""".stripMargin) { (s, d) =>
      val cents = expr("cast(round(o_totalprice * 100) as bigint)")
      val g = Tables.orders(s, d)
        .select(col("o_orderpriority").as("p"), cents.as("c"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_g"), sum("c").as("s_g"),
          sum(expr("cast(c as decimal(38,0)) * c")).as("q_g"))
      val one = g.agg(
        count(lit(1)).as("k"),
        sum("n_g").cast("long").as("n"),
        sum("s_g").cast("long").as("s"),
        sum("q_g").cast("double").as("qq"),
        expr("""aggregate(
                 array_sort(collect_list(named_struct('p', p,
                   't', cast(s_g as double) * cast(s_g as double) / cast(n_g as double)))),
                 cast(0.0 as double), (a, x) -> a + x.t)""").as("t"))
      val kD = col("k").cast("double")
      val nD = col("n").cast("double")
      val sD = col("s").cast("double")
      one.select(col("k"), col("n"),
        when(col("qq") - col("t") > 0,
          round(((col("t") - sD * sD / nD) / (kD - 1))
            / ((col("qq") - col("t")) / (nD - kD)), 6))
          .otherwise(lit(null)).as("f_stat"))
    },

    // ── SC1: per-language Spearman rank correlation (tie-corrected) —
    // the monotone-association readout behind "does length predict
    // vocabulary richness?" screens: Pearson's r assumes linearity;
    // Spearman ranks first, so any monotone relation scores 1. Ties are
    // handled the textbook way (average ranks), kept EXACT by carrying
    // 2·avgrank = 2·prev_cumcount + cnt + 1 as an integer (Pearson is
    // affine-invariant, so correlating the doubled ranks IS correlating
    // the ranks). Sufficient statistics are ols1's one-pass contract at
    // rank scale: DECIMAL(38,0)/HUGEINT sums (rank² sums pass 2^63 at
    // ~sf10 — gini1's overflow contract), then O(groups) double
    // arithmetic with identical expression shapes in both engines (sqrt
    // is IEEE correctly-rounded; no other libm call).
    //
    // Scale: the corpus reduces to |lang × distinct value| rows FIRST
    // (keyed agg, map-side combine); the tie-correcting rank windows run
    // over THAT bounded table, never over documents (auc1's device); the
    // rank tables broadcast back onto the corpus; stats are one keyed agg.
    Q("sc1_spearman",
      """WITH d AS (SELECT doc_id, lang, n_chars AS x,
        |             len(list_distinct(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'))) AS y
        |           FROM documents),
        |cx AS (SELECT lang, x, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
        |rx AS (SELECT lang, x,
        |         2 * coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY x
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |       FROM cx),
        |cy AS (SELECT lang, y, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
        |ry AS (SELECT lang, y,
        |         2 * coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY y
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + cnt + 1 AS r2
        |       FROM cy),
        |j AS (SELECT d.lang, rx.r2 AS a, ry.r2 AS b
        |      FROM d JOIN rx ON rx.lang = d.lang AND rx.x = d.x
        |             JOIN ry ON ry.lang = d.lang AND ry.y = d.y),
        |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
        |         sum(CAST(a AS HUGEINT) * a) AS saa,
        |         sum(CAST(b AS HUGEINT) * b) AS sbb,
        |         sum(CAST(a AS HUGEINT) * b) AS sab
        |       FROM j GROUP BY 1)
        |SELECT lang, n,
        |       CASE WHEN CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
        |              AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
        |            THEN round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |                         - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |                   / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |                            - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |                        * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
        |            ELSE NULL END AS rho
        |FROM st ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars").as("x"),
        size(array_distinct(split(trim(col("text")), "[ \\t\\n\\f\\r]+")))
          .cast("long").as("y"))
      spearmanByGroup(docs, "lang", "x", "y").orderBy("lang")
    },

    // ── PRC1: precision/recall curve for a monotone score — the
    // imbalanced-classification companion to auc1 (one scalar) and cal1
    // (response curve): one row per distinct threshold t = "predict
    // positive when score ≥ t", carrying exact tp/fp and ppm precision/
    // recall. Score: n_chars; positive: lang = 'en' (the house auc1
    // framing). 100 TB: ONE keyed agg collapses the corpus to the
    // distinct-score table; the reverse-cumulative window and the final
    // sort run over that bounded table (ks1's bounded-window contract —
    // n_chars domain ≤ max doc length); totals ride a 1-row broadcast.
    // tp·1e6 rides decimal(38,0)/HUGEINT (passes 2^63 at ~9.2e12 docs).
    Q("prc1_pr_curve",
      s"""$labeledScoreCountsSql,
        |c AS (SELECT score,
        |        CAST(sum(np) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |        CAST(sum(nn) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
        |        CAST(sum(np) OVER () AS BIGINT) AS n_pos
        |      FROM g)
        |SELECT score, tp, fp,
        |       CAST((CAST(tp AS HUGEINT) * 1000000) // (tp + fp) AS BIGINT) AS prec_ppm,
        |       CASE WHEN n_pos = 0 THEN NULL
        |            ELSE CAST((CAST(tp AS HUGEINT) * 1000000) // n_pos AS BIGINT) END AS rec_ppm
        |FROM c ORDER BY score DESC""".stripMargin) { (s, d) =>
      val g = labeledScoreCounts(Tables.documents(s, d))
      val w = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = g.agg(sum("np").cast("long").as("n_pos"))
      g.withColumn("tp", sum("np").over(w).cast("long"))
        .withColumn("fp", sum("nn").over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("score"), col("tp"), col("fp"),
          expr("cast((cast(tp as decimal(38,0)) * 1000000) div (tp + fp) as bigint)")
            .as("prec_ppm"),
          when(col("n_pos") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast((cast(tp as decimal(38,0)) * 1000000) div n_pos as bigint)"))
            .as("rec_ppm"))
        .orderBy(col("score").desc)
    },

    // ── FC1: seasonal-naive forecast backtest — the accuracy readout
    // that closes the time-series family: forecast(d) = revenue(d − 7
    // CALENDAR days) (the strongest naive baseline on weekly-seasonal
    // data; sd1 established the weekday structure), scored as MAPE and
    // signed bias in ppm. The lag is a calendar equi-join of the day
    // table with itself — a ROWS-7 window would silently misalign the
    // season across day gaps. Per-day APE truncates to ppm then averages
    // exactly (mi1's per-cell class); bias multiplies through — both
    // sums first, one division, sign device. Days without a 7-day-old
    // twin or with zero revenue score NULL and drop from both engines
    // identically.
    Q("fc1_backtest_mape",
      s"""WITH ${purchaseCentsByDaySql()},
        |l AS (SELECT a.day, a.cents, b.cents AS fc
        |      FROM dc a LEFT JOIN dc b
        |        ON CAST(b.day AS DATE) = CAST(a.day AS DATE) - INTERVAL 7 DAY),
        |s AS (SELECT CASE WHEN fc IS NULL OR cents <= 0 THEN NULL
        |               ELSE CAST((CAST(abs(cents - fc) AS HUGEINT) * 1000000) // cents AS BIGINT)
        |             END AS ape_ppm,
        |        CASE WHEN fc IS NULL OR cents <= 0 THEN NULL ELSE cents END AS y,
        |        CASE WHEN fc IS NULL OR cents <= 0 THEN NULL ELSE fc END AS yh
        |      FROM l)
        |SELECT CAST(count(ape_ppm) AS BIGINT) AS n_scored,
        |       CASE WHEN count(ape_ppm) = 0 THEN NULL
        |            ELSE CAST(sum(ape_ppm) // count(ape_ppm) AS BIGINT) END AS mape_ppm,
        |       CASE WHEN count(ape_ppm) = 0 OR sum(y) = 0 THEN NULL
        |            ELSE CAST(CAST(sign(sum(yh) - sum(y)) AS BIGINT)
        |                   * ((CAST(abs(sum(yh) - sum(y)) AS HUGEINT) * 1000000) // sum(y)) AS BIGINT) END AS bias_ppm
        |FROM s""".stripMargin) { (s, d) =>
      val dc = purchaseCentsByDay(s, d)
      val a = dc.select(to_date(col("day")).as("dd"), col("cents"))
      val b = dc.select(to_date(col("day")).as("bd"), col("cents").as("fc"))
      val l = a.join(b, col("bd") === date_sub(col("dd"), 7), "left")
      val scored = l.select(
        when(col("fc").isNull || col("cents") <= 0L, lit(null).cast("long"))
          .otherwise(expr("cast((cast(abs(cents - fc) as decimal(38,0)) * 1000000) div cents as bigint)"))
          .as("ape_ppm"),
        when(col("fc").isNull || col("cents") <= 0L, lit(null).cast("long"))
          .otherwise(col("cents")).as("y"),
        when(col("fc").isNull || col("cents") <= 0L, lit(null).cast("long"))
          .otherwise(col("fc")).as("yh"))
      scored.agg(count(col("ape_ppm")).cast("long").as("n_scored"),
          sum("ape_ppm").as("sape"), sum("y").as("sy"), sum("yh").as("syh"))
        .select(col("n_scored"),
          when(col("n_scored") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast(sape div n_scored as bigint)")).as("mape_ppm"),
          when(col("n_scored") === 0L || col("sy") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast(cast(sign(syh - sy) as bigint)" +
              " * ((cast(abs(syh - sy) as decimal(38,0)) * 1000000) div sy) as bigint)"))
            .as("bias_ppm"))
    },

    // ── RBO1: rank-biased overlap (p = 0.9, depth 20) between this year's
    // and last year's top-20 revenue parts — the TOP-WEIGHTED ranking
    // similarity rk1's churn counts can't read (rk1 says how many names
    // moved; RBO says how much the ranking changed WHERE IT MATTERS, with
    // geometric depth discounting — Webber et al. 2010). Exact integers:
    // term_d = (overlap_d · 9^d · 1e6) div (d · 10^d) truncated per depth
    // (mi1's per-cell class; 9^20·1e6 ≈ 1.2e25 rides decimal/HUGEINT),
    // rbo_min_micro = (Σ term_d) div 9 — the (1−p)/p factor as a final
    // integer division. Both rankings are TakeOrdered-20 under the total
    // (revenue desc, partkey) order; overlap_d counts keys with both ranks
    // ≤ d over the ≤40-key full-outer join × 20-row depth grid — all
    // bounded tables after the two keyed apportioning aggs.
    Q("rbo1_rank_overlap",
      """WITH y AS (SELECT CAST(strftime(l_shipdate, '%Y') AS INT) AS yr,
        |             l_partkey AS k,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |mx AS (SELECT max(yr) AS y2 FROM y),
        |ra AS (SELECT k, row_number() OVER (ORDER BY sum(c) DESC, k) AS r
        |       FROM y, mx WHERE yr = y2 GROUP BY k ORDER BY r LIMIT 20),
        |rb AS (SELECT k, row_number() OVER (ORDER BY sum(c) DESC, k) AS r
        |       FROM y, mx WHERE yr = y2 - 1 GROUP BY k ORDER BY r LIMIT 20),
        |j AS (SELECT coalesce(ra.k, rb.k) AS k, ra.r AS r_a, rb.r AS r_b
        |      FROM ra FULL OUTER JOIN rb ON ra.k = rb.k),
        |pw(d, p9, p10) AS (VALUES
        |  (1, 9, 10),
        |  (2, 81, 100),
        |  (3, 729, 1000),
        |  (4, 6561, 10000),
        |  (5, 59049, 100000),
        |  (6, 531441, 1000000),
        |  (7, 4782969, 10000000),
        |  (8, 43046721, 100000000),
        |  (9, 387420489, 1000000000),
        |  (10, 3486784401, 10000000000),
        |  (11, 31381059609, 100000000000),
        |  (12, 282429536481, 1000000000000),
        |  (13, 2541865828329, 10000000000000),
        |  (14, 22876792454961, 100000000000000),
        |  (15, 205891132094649, 1000000000000000),
        |  (16, 1853020188851841, 10000000000000000),
        |  (17, 16677181699666569, 100000000000000000),
        |  (18, 150094635296999121, 1000000000000000000),
        |  (19, 1350851717672992089, 10000000000000000000),
        |  (20, 12157665459056928801, 100000000000000000000)),
        |ov AS (SELECT pw.d, CAST(count(j.k) AS BIGINT) AS overlap
        |       FROM pw LEFT JOIN j ON j.r_a <= pw.d AND j.r_b <= pw.d
        |       GROUP BY 1),
        |tm AS (SELECT ov.d, ov.overlap,
        |         CAST((CAST(ov.overlap AS HUGEINT) * CAST(pw.p9 AS HUGEINT) * 1000000)
        |           // (CAST(ov.d AS HUGEINT) * CAST(pw.p10 AS HUGEINT)) AS BIGINT) AS term_micro
        |       FROM ov JOIN pw ON pw.d = ov.d)
        |SELECT CAST(sum(CASE WHEN d = 20 THEN overlap END) AS BIGINT) AS overlap_20,
        |       CAST(sum(term_micro) // 9 AS BIGINT) AS rbo_min_micro
        |FROM tm""".stripMargin) { (s, d) =>
      val y = Tables.lineitem(s, d).select(
        year(col("l_shipdate")).as("yr"), col("l_partkey").as("k"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("c"))
      val mx = y.agg(max("yr").as("y2"))
      def top(cond: Column): DataFrame = y.crossJoin(broadcast(mx)).filter(cond)
        .groupBy("k").agg(sum("c").as("rev"))
        .orderBy(col("rev").desc, col("k")).limit(20)
        .select(col("k"), row_number().over(
          Window.orderBy(col("rev").desc, col("k"))).cast("long").as("r"))
      val ra = top(col("yr") === col("y2"))
        .select(col("k"), col("r").as("r_a"))
      val rb = top(col("yr") === col("y2") - 1)
        .select(col("k").as("kb"), col("r").as("r_b"))
      val j = ra.join(rb, col("k") === col("kb"), "full_outer")
        .select(coalesce(col("k"), col("kb")).as("k"), col("r_a"), col("r_b"))
      // exact 9^d / 10^d as a 20-row LITERAL grid (double power() loses
      // exactness past 2^53 — 9^20 ~ 1.2e19 would round)
      import s.implicits._
      val grid = (1 to 20).map(dd =>
        (dd.toLong, BigInt(9).pow(dd).toString, BigInt(10).pow(dd).toString))
        .toDF("d", "p9", "p10")
        .select(col("d"), col("p9").cast("decimal(38,0)").as("p9"),
          col("p10").cast("decimal(38,0)").as("p10"))
      val ov = grid.join(j,
          col("r_a") <= col("d") && col("r_b") <= col("d"), "left")
        .groupBy("d", "p9", "p10").agg(count(col("k")).cast("long").as("overlap"))
      val tm2 = ov.select(col("d"), col("overlap"),
        expr("cast((cast(overlap as decimal(38,0)) * p9 * 1000000)" +
          " div (cast(d as decimal(38,0)) * p10) as bigint)").as("term_micro"))
      tm2.agg(
        sum(when(col("d") === 20, col("overlap"))).cast("long").as("overlap_20"),
        expr("cast(sum(term_micro) div 9 as bigint)").as("rbo_min_micro"))
    }
  )

  /** at3's unrolled chain depth: mass not yet absorbed after t rounds is
    * ≤ (max row-mass of the transient submatrix)^t of the start mass;
    * 24 rounds drive the truncated remainder far below the 1e-6 grain the
    * ppm arithmetic resolves, and both engines compute the SAME truncated
    * value exactly — the bound is about meaningfulness, not agreement.
    */
  private val at3Rounds = 24

  /** Trailing-zero count of a 16-bit bucket (0 → 16): P(tz = k) = 2^-(k+1),
    * i.e. tz ~ Geometric(1/2) — the noise primitive for dp1. Pure modular
    * arithmetic (no engine-specific bit intrinsics), identical CASE in
    * both engines.
    */
  private def tzCol(c: Column): Column =
    (15 to 0 by -1).foldLeft(lit(16L)) { (acc, k) =>
      when(c % (1L << (k + 1)) === (1L << k), k.toLong).otherwise(acc)
    }

  private def tzSql(e: String): String = {
    val whens = (0 to 15).map { k =>
      s"WHEN ($e) % ${1L << (k + 1)} = ${1L << k} THEN ${k}"
    }.mkString(" ")
    s"(CASE $whens ELSE 16 END)"
  }

  /** at3 stage 1, ONE materialization job: (src, nxt, ppm, audit = false)
    * transition probabilities from per-user journeys cut at the first
    * purchase (states: 'START', the channel event types, absorbing
    * 'CONV'/'NULL'), UNIONED with one audit row per raw event type
    * (src = the type, nxt NULL, ppm = its total purchase cents, audit =
    * true) — the tag is a column of its own, so no event type's name can
    * pass for an audit row. The channel list and the
    * revenue total ride the same checkpoint instead of costing their own
    * events scans (the former shape paid three passes over the fact table:
    * transitions, DISTINCT event_type, and the revenue sum inside the
    * final action). The two legs are independent subtrees of one job, so
    * their scans overlap on idle cores.
    */
  private[queries] def at3Stage1(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("sec"), col("event_type"))
    // rows before (and including) the user's first purchase: the count of
    // STRICTLY PRECEDING purchases is 0
    val kept = e.withColumn("pprev",
        count(when(col("event_type") === "purchase", 1))
          .over(order.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(coalesce(col("pprev"), lit(0L)) === 0L)
      .select(col("user_id"), col("sec"), col("event_id"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("st"))
    val seq = kept
      .withColumn("prev", lag(col("st"), 1).over(order))
      .withColumn("rdesc", row_number().over(
        Window.partitionBy("user_id").orderBy(col("sec").desc, col("event_id").desc)))
    val tr = seq.select(coalesce(col("prev"), lit("START")).as("src"), col("st").as("nxt"))
      .unionByName(seq.filter(col("rdesc") === 1 && col("st") =!= "CONV")
        .select(col("st").as("src"), lit("NULL").as("nxt")))
    val c = tr.groupBy("src", "nxt").agg(count(lit(1)).as("n"))
    val tw = Window.partitionBy("src")
    val p = c.withColumn("tot", sum(col("n")).over(tw))
      .select(col("src"), col("nxt"), expr("(n * 1000000L) div tot").as("ppm"),
        lit(false).as("audit"))
    // audit leg: per-event-type purchase cents (exact integers), one keyed
    // agg with map-side partials
    val ct = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L))
        .cast("long").as("cents"))
      .select(col("event_type").as("src"), lit(null).cast("string").as("nxt"),
        col("cents").as("ppm"), lit(true).as("audit"))
    p.unionByName(ct)
  }

  /** at3 stage 2: exact-integer chain iteration + proportional revenue
    * split. Every DataFrame past the first two aggs is O(channels²) rows.
    */
  private def at3Attribution(s: SparkSession, d: String): DataFrame = {
    // ONE checkpoint job pins transitions + the per-event-type audit rows;
    // the 24 rounds then iterate on in-memory |states|²-row data and the
    // final action never touches the fact table again
    val stage1 = at3Stage1(s, d).localCheckpoint()
    val p = stage1.filter(!col("audit")).drop("audit")
    val channels = stage1
      .filter(col("audit") && col("src") =!= "purchase")
      .select(col("src").as("rem"))
    val rem = channels.unionByName(
      s.range(1).select(lit("__none__").as("rem")))
    // hash-partition the mass table by rem ONCE: rem never changes through
    // a round (only st does), and HashPartitioning(rem) clusters the
    // round agg's (rem, st) keys — so every round's groupBy runs WITHOUT
    // an exchange and the whole chain between checkpoints is one stage
    val m0 = rem.select(col("rem"), lit("START").as("st"),
      lit(1000000000000L).as("v")).repartition(col("rem")).localCheckpoint()
    // One round = ONE left join instead of the former absorbed/moved
    // filter-union (which referenced m twice, so plans doubled per
    // un-checkpointed round and m had to be checkpointed EVERY round —
    // 24 jobs over a ~50-row mass table was the query's dominant cost,
    // not arithmetic). The left join touches each mass row once: an
    // absorbed row matches no transition (the join condition excludes
    // absorbing states) and passes through on the null-extended side; a
    // transient row fans out to its surviving transitions and is dropped
    // if removal left it none (inner-join semantics via the post-filter).
    // p is O(|states|²) — broadcast, so the mass side never shuffles for
    // the join. Single-reference rounds grow the plan LINEARLY, so one
    // checkpoint per 8 rounds (3 jobs total; A/B-swept 4/6/8/12 — 8 won,
    // 12 pays superlinear planning) bounds lineage; the
    // truncated-integer arithmetic is checkpoint-cadence-invariant.
    val absorbing = col("m.st").isin("CONV", "NULL")
    val m = Rounds.iterate(m0, at3Rounds, every = 8) { (mass, _) =>
      mass.as("m")
        .join(broadcast(p.as("p")),
          !absorbing && col("p.src") === col("m.st") &&
            col("p.nxt") =!= col("m.rem"), "left")
        .filter(absorbing || col("p.src").isNotNull)
        .select(col("m.rem").as("rem"),
          when(absorbing, col("m.st")).otherwise(col("p.nxt")).as("st"),
          when(absorbing, col("m.v"))
            .otherwise(expr("(v * ppm) div 1000000L")).as("v"))
        .groupBy("rem", "st").agg(sum("v").cast("long").as("v"))
    }
    val conv = m.filter(col("st") === "CONV").select(col("rem"), col("v"))
    val base = rem.filter(col("rem") === "__none__")
      .join(conv, Seq("rem"), "left")
      .select(coalesce(col("v"), lit(0L)).as("base_conv"))
    val eff = channels.join(conv, Seq("rem"), "left")
      .crossJoin(broadcast(base))
      .select(col("rem").as("channel"),
        greatest(col("base_conv") - coalesce(col("v"), lit(0L)), lit(0L)).as("eff"))
    val tot = stage1.filter(col("audit"))
      .agg(sum(col("ppm")).cast("long").as("total_cents"))
    val sumEff = eff.agg(sum("eff").cast("long").as("sum_eff"))
    eff.crossJoin(broadcast(tot)).crossJoin(broadcast(sumEff))
      .select(col("channel"), col("eff").as("removal_e12"),
        when(col("sum_eff") > 0,
          expr("(CAST(total_cents AS DECIMAL(38,0)) * eff) div sum_eff"))
          .otherwise(0L).cast("long").as("attributed_cents"))
      .orderBy("channel")
  }

  /** at3's oracle: the identical journey cut, ppm probabilities, and
    * 24 exact-integer rounds unrolled as materialized CTEs (one mass table
    * keyed by (removed, state) — same simultaneous-variant shape as the
    * Spark plan). HUGEINT only where cents × 1e12 exceeds int64.
    */
  private def at3OracleSql: String = {
    val rounds = (1 to at3Rounds).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT rem, st, CAST(sum(v) AS BIGINT) AS v FROM (
         |    SELECT rem, st, v FROM m${i - 1} WHERE st IN ('CONV', 'NULL')
         |    UNION ALL
         |    SELECT m.rem, p.nxt AS st, (m.v * p.ppm) // 1000000 AS v
         |    FROM m${i - 1} m JOIN p ON p.src = m.st AND p.nxt <> m.rem
         |    WHERE m.st NOT IN ('CONV', 'NULL')
         |  ) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |             date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
       |                       CAST(ts AS TIMESTAMP)) AS sec
       |           FROM events),
       |k AS (SELECT user_id, sec, event_id,
       |        CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS st,
       |        count(CASE WHEN event_type = 'purchase' THEN 1 END)
       |          OVER (PARTITION BY user_id ORDER BY sec, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pprev
       |      FROM e),
       |j AS (SELECT user_id, sec, event_id, st FROM k WHERE coalesce(pprev, 0) = 0),
       |sq AS (SELECT user_id, st,
       |         lag(st) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY sec DESC, event_id DESC) AS rdesc
       |       FROM j),
       |tr AS (SELECT coalesce(prev, 'START') AS src, st AS nxt FROM sq
       |       UNION ALL
       |       SELECT st, 'NULL' FROM sq WHERE rdesc = 1 AND st <> 'CONV'),
       |c AS (SELECT src, nxt, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
       |p AS MATERIALIZED (SELECT src, nxt,
       |       (n * 1000000) // CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS ppm
       |     FROM c),
       |ch AS MATERIALIZED (SELECT DISTINCT event_type AS rem FROM events
       |                    WHERE event_type <> 'purchase'),
       |rem AS (SELECT rem FROM ch UNION ALL SELECT '__none__'),
       |m0 AS MATERIALIZED (SELECT rem, 'START' AS st,
       |                           CAST(1000000000000 AS BIGINT) AS v FROM rem),
       |$rounds,
       |conv AS (SELECT rem, v FROM m$at3Rounds WHERE st = 'CONV'),
       |base AS (SELECT coalesce((SELECT v FROM conv WHERE rem = '__none__'), 0) AS base_conv),
       |eff AS (SELECT ch.rem AS channel,
       |               greatest(base_conv - coalesce(conv.v, 0), 0) AS eff
       |        FROM ch CROSS JOIN base LEFT JOIN conv ON conv.rem = ch.rem),
       |tot AS (SELECT CAST(sum(CASE WHEN event_type = 'purchase'
       |                             THEN CAST(round(value * 100) AS BIGINT)
       |                             ELSE 0 END) AS BIGINT) AS total_cents
       |        FROM events),
       |se AS (SELECT CAST(sum(eff) AS BIGINT) AS sum_eff FROM eff)
       |SELECT channel, CAST(eff AS BIGINT) AS removal_e12,
       |       CAST(CASE WHEN sum_eff > 0
       |                 THEN (CAST(total_cents AS HUGEINT) * eff) // sum_eff
       |                 ELSE 0 END AS BIGINT) AS attributed_cents
       |FROM eff CROSS JOIN tot CROSS JOIN se ORDER BY channel""".stripMargin
  }

  /** sc1's operator: tie-corrected Spearman rho of `xc` vs `yc` within each
    * `grp`. Doubled average ranks (exact integers) via a prefix window over
    * the distinct-value table; DECIMAL(38,0) sufficient statistics; one
    * terminal double expression per group.
    */
  def spearmanByGroup(df: DataFrame, grp: String, xc: String, yc: String): DataFrame = {
    def rank2(vc: String): DataFrame = {
      val w = Window.partitionBy(grp).orderBy(vc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.groupBy(col(grp), col(vc)).agg(count(lit(1)).as("cnt"))
        .select(col(grp), col(vc),
          (lit(2) * coalesce(sum(col("cnt")).over(w), lit(0L))
            + col("cnt") + 1).as("r2"))
    }
    val joined = df
      .join(broadcast(rank2(xc)).withColumnRenamed("r2", "a"), Seq(grp, xc))
      .join(broadcast(rank2(yc)).withColumnRenamed("r2", "b"), Seq(grp, yc))
    val st = joined.groupBy(grp).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("a").cast("decimal(38,0)")).as("sa"),
      sum(col("b").cast("decimal(38,0)")).as("sb"),
      // cast BEFORE the multiply (DuckDB's CAST(a AS HUGEINT)*a shape):
      // doubled ranks reach 2n, so the raw long product would overflow
      // int64 around 10^9.5 rows — decimal(38,0) products never do
      sum(col("a").cast("decimal(38,0)") * col("a")).as("saa"),
      sum(col("b").cast("decimal(38,0)") * col("b")).as("sbb"),
      sum(col("a").cast("decimal(38,0)") * col("b")).as("sab"))
    val nD = col("n").cast("double")
    val da = nD * col("saa").cast("double") - col("sa").cast("double") * col("sa").cast("double")
    val db = nD * col("sbb").cast("double") - col("sb").cast("double") * col("sb").cast("double")
    val num = nD * col("sab").cast("double") - col("sa").cast("double") * col("sb").cast("double")
    st.select(col(grp), col("n"),
      when(da > 0 && db > 0, round(num / sqrt(da * db), 6))
        .otherwise(lit(null)).as("rho"))
  }
}
