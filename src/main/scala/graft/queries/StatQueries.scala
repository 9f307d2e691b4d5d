package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.operators.{GlobalIds, Sampling}
import QueryHelpers.{lnMicro, lnMicroSql, ws, wsSql}

/** The distribution-testing and corpus-statistics operators of a
  * monitoring/curation pipeline — two-sample Kolmogorov–Smirnov drift,
  * categorical mutual information, Good–Turing unseen-mass estimation,
  * Zipf-slope fitting, a Kaplan–Meier-input life table, a TPC-H Q8-style
  * market-share join, robust location and agreement (tm1, ka1),
  * resampling inference (ci1, pm1), and variance reduction and
  * normalization (cuped1, qn1).
  *
  * Determinism contracts (the ent1/ols1 class):
  *  - every cross-engine aggregate is an exact integer (counts, integer
  *    ppm/micro via truncating division on non-negative operands); where a
  *    dividend can be negative (mi1's near-zero MI, zipf1's negative
  *    slope) the division travels as sign(x)·(abs(x) div d) so DuckDB's
  *    floor `//` and Spark's truncating `div` cannot disagree;
  *  - the only floats are ln on exact integer counts, rounded to
  *    micro/milli units identically on both engines (t11/dsir1's
  *    documented contract).
  *
  * Scale design (100 TB):
  *  - ks1 collapses each corpus to |distinct score| rows FIRST (one keyed
  *    agg with map-side combine — auc1's plan class); the ECDF prefix
  *    window and the final max run over that bounded table, and the side
  *    totals ride a 1-row broadcast.
  *  - mi1 reduces the corpus to the |lang|×|source| contingency table in
  *    one keyed agg; marginals are windows over that bounded cell table,
  *    never a second corpus scan.
  *  - gt1 is explode → two keyed aggs (token counts, then
  *    frequency-of-frequencies) — the r→N_r table is tiny at any corpus
  *    size and the r≤10 output joins it to itself broadcast-style.
  *  - zipf1's top-K is an orderBy+limit (map-side partial top-k heap per
  *    partition, K·P rows to one reducer); the log-log OLS runs over K
  *    rows on exact integer milli-log sums.
  *  - sur1 is one distinct + one per-customer window (keyed shuffle) +
  *    a bounded life-table rollup; the reverse-cumulative at-risk count
  *    windows over |months| rows only.
  *  - tq8 keeps the one unavoidable fact-fact shuffle (lineitem⋈orders on
  *    orderkey) and broadcasts every dimension (part filtered to one
  *    type, supplier, nation⋈region) — the classic star-join shape whose
  *    plan survives 1000 executors unchanged.
  */
object StatQueries {

  private def lnMilli(c: Column): Column =
    round(log(c.cast("double")) * 1e3).cast("long")
  private def lnMilliSql(e: String): String =
    s"CAST(round(ln($e) * 1e3) AS BIGINT)"

  /** The two-sample family's input: document lengths split en (a) vs
    * non-en (b), collapsed to the distinct-score table (score, ca, cb). Its
    * row count is bounded by the score domain, not by the corpus.
    */
  private def scoreCounts(docs: DataFrame): DataFrame =
    docs.select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("a"),
        when(col("lang") === "en", 0L).otherwise(1L).as("b"))
      .groupBy("score")
      .agg(sum("a").cast("long").as("ca"), sum("b").cast("long").as("cb"))

  /** [[scoreCounts]]'s side totals as one row (n_a, n_b). */
  private def sideTotals(g: DataFrame): DataFrame =
    g.agg(sum("ca").cast("long").as("n_a"), sum("cb").cast("long").as("n_b"))

  /** The ECDF table: [[scoreCounts]] with the prefix sums cum_a, cum_b and
    * the side totals on every row. The unpartitioned window runs over the
    * distinct-score table only.
    */
  private def ecdf(docs: DataFrame): DataFrame = {
    val g = scoreCounts(docs)
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_a", sum("ca").over(w).cast("long"))
      .withColumn("cum_b", sum("cb").over(w).cast("long"))
      .crossJoin(broadcast(sideTotals(g)))
  }

  /** [[scoreCounts]] as DuckDB CTEs `s` and `g`. */
  private val scoreCountsSql =
    """WITH s AS (SELECT n_chars AS score,
      |             CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS a,
      |             CAST(CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS BIGINT) AS b
      |           FROM documents),
      |g AS (SELECT score, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb
      |      FROM s GROUP BY 1)""".stripMargin

  /** [[ecdf]] as DuckDB CTEs `s`, `g` and `c`. */
  private val ecdfSql =
    s"""$scoreCountsSql,
       |c AS (SELECT score, ca, cb,
       |        CAST(sum(ca) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
       |        CAST(sum(cb) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
       |        CAST(sum(ca) OVER () AS BIGINT) AS n_a,
       |        CAST(sum(cb) OVER () AS BIGINT) AS n_b
       |      FROM g)""".stripMargin

  def all: Seq[Q] = Seq(

    // ── KS1: two-sample Kolmogorov–Smirnov statistic between the English
    // and non-English document-length distributions — the drift test a
    // corpus monitor runs between yesterday's and today's shard (psi/dq3
    // bins by hand; KS is the bin-free referee). D = sup|F_a − F_b| is
    // carried exactly: d_scaled = max|cum_a·n_b − cum_b·n_a| over the
    // distinct-score ECDF table is an integer (no rational ever
    // materializes), and d_ppm = d_scaled·1e6 div (n_a·n_b). Exactness
    // envelope: cum·n < 2^63 holds to ~3·10⁹ docs per side.
    // 100 TB: one keyed agg collapses the corpus to |distinct n_chars|
    // rows; the window orders THAT table; totals are a 1-row broadcast.
    // BOUNDED-WINDOW CONTRACT (w5/auc1's class): the unpartitioned ECDF
    // window runs over the DISTINCT-score table g, whose row count is
    // bounded by the score domain — n_chars ≤ max document length (≤ 8192
    // on every driver corpus; StatQueriesSpec pins distinct(n_chars) ≪
    // |documents| and ≤ that cap), NOT by corpus size. A continuous score
    // (an ML quality float) must be binned/quantized to a bounded domain
    // first — the same pre-step dq3's PSI takes — before riding this plan.
    Q("ks1_ks_test",
      s"""$ecdfSql
         |SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         |       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_scaled,
         |       CAST((CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS HUGEINT) * 1000000)
         |         // (CAST(max(n_a) AS HUGEINT) * max(n_b)) AS BIGINT) AS d_ppm
         |FROM c""".stripMargin) { (s, d) =>
      ecdf(Tables.documents(s, d))
        .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
          max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
            .cast("long").as("d_scaled"))
        // the x1e6 rides decimal(38,0)/HUGEINT — d_scaled alone reaches
        // ~6e12 at sf10, so the ppm product passes 2^63 one decade later
        .select(col("n_a"), col("n_b"), col("d_scaled"),
          expr("cast((cast(d_scaled as decimal(38,0)) * 1000000)" +
            " div (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("d_ppm"))
    },

    // ── MI1: mutual information between two categorical columns
    // (lang × source) — the feature-association readout behind "does this
    // source's language mix differ?" (cr1 is the chi-square cousin; MI is
    // the information-theoretic one, and NMI = mi/√(H_x·H_y) follows from
    // the two entropy columns). N·MI = Σ c_xy·(ln c_xy + ln N − ln c_x −
    // ln c_y); the micro-unit sum can land epsilon-negative when the
    // columns are near-independent, so the div-by-N travels as
    // sign·(abs div N). Entropies use ent1's exact formula.
    // 100 TB: ONE corpus-scan keyed agg → |lang|×|source| cells; every
    // marginal is a window over that bounded table.
    Q("mi1_feature_mi", {
      val lnN = lnMicroSql("n"); val lnXY = lnMicroSql("cxy")
      val lnX = lnMicroSql("cx"); val lnY = lnMicroSql("cy")
      s"""WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cxy
         |           FROM documents GROUP BY 1, 2),
         |m AS (SELECT lang, source, cxy,
         |        CAST(sum(cxy) OVER (PARTITION BY lang) AS BIGINT) AS cx,
         |        CAST(sum(cxy) OVER (PARTITION BY source) AS BIGINT) AS cy,
         |        CAST(sum(cxy) OVER () AS BIGINT) AS n
         |      FROM c),
         |s AS (SELECT max(n) AS n_docs, CAST(count(*) AS BIGINT) AS n_cells,
         |        sum(CAST(cxy AS HUGEINT) * ($lnXY + $lnN - $lnX - $lnY)) AS nmi_sum,
         |        sum(CAST(cxy AS HUGEINT) * $lnX) AS sx,
         |        sum(CAST(cxy AS HUGEINT) * $lnY) AS sy,
         |        ${lnMicroSql("max(n)")} AS ln_n
         |      FROM m)
         |SELECT n_docs, n_cells,
         |       CAST(CAST(sign(nmi_sum) AS BIGINT) * (abs(nmi_sum) // n_docs) AS BIGINT) AS mi_micro,
         |       CAST(ln_n - (sx // n_docs) AS BIGINT) AS h_lang_micro,
         |       CAST(ln_n - (sy // n_docs) AS BIGINT) AS h_source_micro
         |FROM s""".stripMargin
    }) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).cast("long").as("cxy"))
      val m = c
        .withColumn("cx", sum("cxy").over(Window.partitionBy("lang")).cast("long"))
        .withColumn("cy", sum("cxy").over(Window.partitionBy("source")).cast("long"))
        .withColumn("n", sum("cxy").over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long"))
      // cast-BEFORE-sum (ams1's contract): each term is cxy x a ~3e7 micro-ln,
      // so the corpus-sized sum passes 2^63 near 3e11 docs — decimal(38,0)
      // here, native HUGEINT on the DuckDB side
      m.agg(max("n").as("n_docs"), count(lit(1)).cast("long").as("n_cells"),
          sum((col("cxy") * (lnMicro(col("cxy")) + lnMicro(col("n"))
            - lnMicro(col("cx")) - lnMicro(col("cy")))).cast("decimal(38,0)"))
            .as("nmi_sum"),
          sum((col("cxy") * lnMicro(col("cx"))).cast("decimal(38,0)")).as("sx"),
          sum((col("cxy") * lnMicro(col("cy"))).cast("decimal(38,0)")).as("sy"))
        .select(col("n_docs"), col("n_cells"),
          expr("cast(cast(sign(nmi_sum) as bigint) * (abs(nmi_sum) div n_docs) as bigint)")
            .as("mi_micro"),
          (lnMicro(col("n_docs")) - expr("sx div n_docs")).cast("long")
            .as("h_lang_micro"),
          (lnMicro(col("n_docs")) - expr("sy div n_docs")).cast("long")
            .as("h_source_micro"))
    },

    // ── GT1: Good–Turing frequency-of-frequencies — the unseen-mass
    // estimate (p₀ = N₁/N) and smoothed counts r* = (r+1)·N_{r+1}/N_r that
    // calibrate how much vocabulary a corpus is still missing (the
    // companion readout to nv2's growth curve; Good 1953 semantics).
    // Everything is integer: r, N_r, and r*·1e6 via truncating division.
    // 100 TB: explode → token-count keyed agg (map-side combine) →
    // freq-of-freq keyed agg; the r→N_r table is tiny at any scale and
    // the r≤10 self-join is broadcast-class.
    Q("gt1_good_turing",
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '$wsSql')) AS w
         |           FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         |ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_types FROM wc GROUP BY 1),
         |tot AS (SELECT CAST(sum(c * n_types) AS BIGINT) AS n_tokens,
         |               CAST(sum(CASE WHEN c = 1 THEN n_types ELSE 0 END) AS BIGINT) AS n1
         |        FROM (SELECT r AS c, n_types FROM ff))
         |SELECT ff.r, ff.n_types,
         |       CAST(coalesce(nxt.n_types, 0) AS BIGINT) AS n_types_next,
         |       CAST(((ff.r + 1) * CAST(coalesce(nxt.n_types, 0) AS HUGEINT) * 1000000)
         |         // ff.n_types AS BIGINT) AS r_star_micro,
         |       tot.n_tokens,
         |       CAST((CAST(tot.n1 AS HUGEINT) * 1000000) // tot.n_tokens AS BIGINT) AS unseen_ppm
         |FROM (SELECT * FROM ff ORDER BY r LIMIT 10) ff
         |LEFT JOIN ff nxt ON nxt.r = ff.r + 1, tot
         |ORDER BY ff.r""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), ws)).as("w"))
        .groupBy("w").agg(count(lit(1)).cast("long").as("c"))
      val ff = wc.groupBy(col("c").as("r"))
        .agg(count(lit(1)).cast("long").as("n_types"))
      val tot = ff.agg(
        sum(col("r") * col("n_types")).cast("long").as("n_tokens"),
        sum(when(col("r") === 1, col("n_types")).otherwise(0L))
          .cast("long").as("n1"))
      val nxt = ff.select((col("r") - 1).as("r"), col("n_types").as("nn"))
      // the 10 LOWEST r present (TakeOrdered), not a fixed r <= 10 cut —
      // a corpus whose rarest token still has count > 10 (every driver
      // corpus: synthetic docs repeat every word) would emit zero rows
      // under the fixed cut, gutting the oracle row
      ff.orderBy("r").limit(10)
        .join(broadcast(nxt), Seq("r"), "left")
        .crossJoin(broadcast(tot))
        // micro/ppm products in decimal(38,0)/HUGEINT: N_r and N1 reach
        // ~1e12 types at 100 TB, so the x1e6 products need the headroom
        .select(col("r"), col("n_types"),
          coalesce(col("nn"), lit(0L)).cast("long").as("n_types_next"),
          expr("cast(((r + 1) * cast(coalesce(nn, 0L) as decimal(38,0)) * 1000000)" +
            " div n_types as bigint)").as("r_star_micro"),
          col("n_tokens"),
          expr("cast((cast(n1 as decimal(38,0)) * 1000000) div n_tokens as bigint)")
            .as("unseen_ppm"))
        .orderBy("r")
    },

    // ── ZIPF1: Zipf-slope fit — OLS of ln(freq) on ln(rank) over the
    // top-512 tokens (natural text sits near −1; template/boilerplate
    // corpora flatten toward 0, so the slope is a corpus-health scalar).
    // x, y are milli-lns (exact integers both engines); num/den are the
    // classic OLS integer sums, emitted raw so the compare is airtight;
    // slope_micro = sign(num)·(abs(num) div (den div 1e6)) keeps the
    // negative division truncating on both engines. Envelope: n=512,
    // x≤6.3e3, y≤ln(1e12)·1e3≈2.8e4 ⇒ n·Σxy ≤ 2^63/200.
    // 100 TB: token counts are one keyed agg; top-K is a per-partition
    // top-k heap (TakeOrdered — K·P rows ever cross the wire); the OLS
    // runs over 512 rows. BOUNDED-WINDOW CONTRACT: the rank window's
    // input is the LIMIT-512 table by construction (the limit sits
    // upstream of the window in the same plan — StatQueriesSpec asserts
    // the plan shape), so the unpartitioned row_number never sees more
    // than 512 rows at any corpus size.
    Q("zipf1_zipf_slope",
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '$wsSql')) AS w
         |           FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 512),
         |r AS (SELECT row_number() OVER (ORDER BY c DESC, w) AS rnk, c FROM top),
         |xy AS (SELECT ${lnMilliSql("rnk")} AS x, ${lnMilliSql("c")} AS y FROM r),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM xy)
         |SELECT n AS n_ranks, (n * sxy - sx * sy) AS num, (n * sxx - sx * sx) AS den,
         |       CAST(sign(n * sxy - sx * sy) AS BIGINT)
         |         * (abs(n * sxy - sx * sy) // ((n * sxx - sx * sx) // 1000000)) AS slope_micro
         |FROM s""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), ws)).as("w"))
        .groupBy("w").agg(count(lit(1)).cast("long").as("c"))
      val top = wc.orderBy(col("c").desc, col("w")).limit(512)
      val r = top.withColumn("rnk",
        row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
      r.select(lnMilli(col("rnk")).as("x"), lnMilli(col("c")).as("y"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"))
        .select(col("n").as("n_ranks"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
          expr("cast(sign(num) as bigint) * (abs(num) div (den div 1000000L))")
            .as("slope_micro"))
        .select(col("n_ranks"), col("num"), col("den"), col("slope_micro"))
    },

    // ── SUR1: Kaplan–Meier life table for customer repeat-purchase —
    // time-to-second-order in 30-day buckets, right-censored at the last
    // observed order date. The output IS the KM input: per-bucket events,
    // censorings, the reverse-cumulative at-risk count, and the discrete
    // hazard d_t/n_t in ppm (S(t) = Π(1−h) is the caller's one bounded
    // fold — a product never travels cross-engine). All integers.
    // 100 TB: distinct (cust, date) → one per-customer window (keyed
    // shuffle on the natural key) → a |months|-row life table; the
    // at-risk window orders THAT table only; the censoring horizon is a
    // 1-row broadcast DERIVED FROM the distinct table (max over distinct
    // (cust, dt) ≡ global max(o_orderdate)), which is localCheckpointed so
    // orders is scanned ONCE — the horizon agg and the main chain both
    // read the materialized post-distinct table, not the parquet twice
    // (StatQueriesSpec asserts zero FileScans in the final plan).
    Q("sur1_life_table",
      """WITH d AS (SELECT o_custkey, o_orderdate AS dt FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_custkey, dt,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY dt) AS rn
        |      FROM d),
        |cu AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN dt END) AS d1,
        |              min(CASE WHEN rn = 2 THEN dt END) AS d2
        |       FROM r GROUP BY 1),
        |mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
        |ev AS (SELECT CASE WHEN d2 IS NOT NULL
        |                THEN CAST(date_diff('day', d1, d2) AS BIGINT) // 30
        |                ELSE CAST(date_diff('day', d1, dmax) AS BIGINT) // 30 END AS t,
        |              CAST(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS e
        |       FROM cu, mx),
        |lt AS (SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
        |              CAST(count(*) - sum(e) AS BIGINT) AS n_censored
        |       FROM ev GROUP BY 1),
        |ar AS (SELECT t, n_events, n_censored,
        |         CAST(sum(n_events + n_censored) OVER
        |           (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
        |       FROM lt)
        |SELECT t, n_events, n_censored, n_at_risk,
        |       (n_events * 1000000) // n_at_risk AS hazard_ppm
        |FROM ar ORDER BY t""".stripMargin) { (s, d) =>
      val dd = Tables.orders(s, d).select(col("o_custkey"),
        col("o_orderdate").as("dt")).distinct().localCheckpoint()
      val r = dd.withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy("dt")))
      val cu = r.groupBy("o_custkey")
        .agg(min(when(col("rn") === 1, col("dt"))).as("d1"),
          min(when(col("rn") === 2, col("dt"))).as("d2"))
      // max over the distinct (cust, dt) table IS max(o_orderdate) — one
      // orders scan total (both consumers read the checkpointed distinct)
      val mx = dd.agg(max("dt").as("dmax"))
      val ev = cu.crossJoin(broadcast(mx))
        .select(
          when(col("d2").isNotNull,
            expr("cast(datediff(d2, d1) as bigint) div 30"))
            .otherwise(expr("cast(datediff(dmax, d1) as bigint) div 30")).as("t"),
          when(col("d2").isNotNull, 1L).otherwise(0L).as("e"))
      val lt = ev.groupBy("t").agg(sum("e").cast("long").as("n_events"),
        (count(lit(1)) - sum("e")).cast("long").as("n_censored"))
      val w = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lt.withColumn("n_at_risk",
          sum(col("n_events") + col("n_censored")).over(w).cast("long"))
        .select(col("t"), col("n_events"), col("n_censored"), col("n_at_risk"),
          expr("(n_events * 1000000L) div n_at_risk").as("hazard_ppm"))
        .orderBy("t")
    },

    // ── TQ8: market-share star join (TPC-H Q8's shape on this schema) —
    // NATION_3 suppliers' share of EUROPE-supplied PROMO-part revenue per
    // order year. Revenue is the j1/tq3 exact-integer contract: cents ×
    // (100 − discount-cents) = 4dp integer units, summed exactly; the
    // share is integer ppm. The plan is the canonical large-scale star:
    // lineitem⋈orders is THE shuffle (both sides pre-filtered and
    // column-pruned); part (one p_type), supplier, nation⋈region are all
    // broadcast — no dimension ever shuffles the fact table twice.
    Q("tq8_market_share",
      """WITH rev AS (
        |  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
        |         CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS r4,
        |         n.n_name
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE')
        |SELECT o_year,
        |       CAST(sum(r4) AS BIGINT) AS rev_all_c4,
        |       CAST(sum(CASE WHEN n_name = 'NATION_3' THEN r4 ELSE 0 END) AS BIGINT) AS rev_nation_c4,
        |       CAST((CAST(sum(CASE WHEN n_name = 'NATION_3' THEN r4 ELSE 0 END) AS HUGEINT) * 1000000)
        |         // CAST(sum(r4) AS HUGEINT) AS BIGINT) AS mkt_share_ppm
        |FROM rev GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, d) =>
      val cents = (c: Column) => round(c * 100).cast("long")
      val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val nr = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (cents(col("l_extendedprice"))
            * (lit(100L) - cents(col("l_discount")))).as("r4"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_year")
        .agg(sum("r4").cast("long").as("rev_all_c4"),
          sum(when(col("n_name") === "NATION_3", col("r4")).otherwise(0L))
            .cast("long").as("rev_nation_c4"))
        // ppm in decimal(38,0)/HUGEINT: rev·1e6 passes 2^63 already at sf10
        // (yearly rev_c4 ~ 1e15), while the BIGINT outputs themselves hold
        // to ~9e18 (~1e9x the sf0.1 corpus)
        .select(col("o_year"), col("rev_all_c4"), col("rev_nation_c4"),
          expr("cast((cast(rev_nation_c4 as decimal(38,0)) * 1000000) div rev_all_c4 as bigint)")
            .as("mkt_share_ppm"))
        .orderBy("o_year")
    },

    // ── EMD1: Wasserstein-1 (earth-mover) drift between the en and non-en
    // length distributions — ks1's companion: KS reads the WORST point of
    // ECDF divergence, W1 integrates ALL of it (∫|F_a − F_b|dx), so a
    // broad small shift that KS underweights still moves W1. Carried
    // exactly on ks1's distinct-score ECDF table: each gap contributes
    // |cum_a·n_b − cum_b·n_a|·(next−score), summed cast-BEFORE-sum in
    // decimal(38,0)/HUGEINT (a term reaches ~6e12·gap at sf10, the sum
    // passes 2^63 well before the output does); w1_micro = sum·1e6 div
    // (n_a·n_b) ≤ 1e6·max_score fits BIGINT at any corpus size.
    // 100 TB: identical plan class to ks1 — one keyed agg to the
    // domain-bounded score table, windows over THAT, 1-row result.
    Q("emd1_wasserstein",
      s"""$ecdfSql,
         |cn AS (SELECT *, lead(score) OVER (ORDER BY score) AS nxt FROM c)
         |SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         |       CAST((sum(CASE WHEN nxt IS NULL THEN CAST(0 AS HUGEINT)
         |                      ELSE CAST(abs(cum_a * n_b - cum_b * n_a) AS HUGEINT)
         |                             * (nxt - score) END) * 1000000)
         |         // (CAST(max(n_a) AS HUGEINT) * max(n_b)) AS BIGINT) AS w1_micro
         |FROM cn""".stripMargin) { (s, d) =>
      ecdf(Tables.documents(s, d))
        .withColumn("nxt", lead("score", 1).over(Window.orderBy("score")))
        .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
          sum(when(col("nxt").isNull, lit(0).cast("decimal(38,0)"))
            .otherwise((abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
              * (col("nxt") - col("score"))).cast("decimal(38,0)"))).as("wsum"))
        .select(col("n_a"), col("n_b"),
          expr("cast((wsum * 1000000) div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
            .as("w1_micro"))
    },

    // ── WT1: Welch's two-sample t (unequal variances) + Cohen's d between
    // en and non-en document lengths — the pairwise mean-shift test under
    // an1's k-group ANOVA (an1 asks "do ANY groups differ"; wt1 reads the
    // magnitude and direction of ONE contrast, with the effect size that
    // survives n growing). Sufficient statistics are ols1's one-pass
    // contract: per side exact n, Σx (int64), Σx² (decimal(38,0)/HUGEINT
    // — length² sums pass 2^63 in the corpus's first decades); the double
    // finish runs on the 1-row aggregate with IDENTICAL expression shapes
    // both engines (divisions + one sqrt, IEEE correctly-rounded), 6dp.
    // Zero-variance-both-sides guards to NULL symmetrically.
    // 100 TB: ONE conditional-agg corpus scan → 1 row; nothing else.
    Q("wt1_welch_ttest",
      """WITH g AS (SELECT
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS s_a,
        |  sum(CASE WHEN lang = 'en' THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS q_a,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE n_chars END) AS BIGINT) AS s_b,
        |  sum(CASE WHEN lang = 'en' THEN 0 ELSE CAST(n_chars AS HUGEINT) * n_chars END) AS q_b
        |  FROM documents),
        |v AS (SELECT n_a, n_b,
        |        CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
        |        CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
        |        (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |          / CAST(n_a - 1 AS DOUBLE) AS va,
        |        (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |          / CAST(n_b - 1 AS DOUBLE) AS vb
        |      FROM g)
        |SELECT n_a, n_b,
        |       CASE WHEN va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) > 0
        |            THEN round((m_a - m_b) / sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)), 6)
        |       END AS t_stat,
        |       CASE WHEN va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) > 0
        |            THEN round((va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
        |                         * (va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
        |                   / ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
        |                      + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)), 6)
        |       END AS df_welch,
        |       CASE WHEN (CAST(n_a - 1 AS DOUBLE) * va + CAST(n_b - 1 AS DOUBLE) * vb)
        |                   / CAST(n_a + n_b - 2 AS DOUBLE) > 0
        |            THEN round((m_a - m_b)
        |                   / sqrt((CAST(n_a - 1 AS DOUBLE) * va + CAST(n_b - 1 AS DOUBLE) * vb)
        |                            / CAST(n_a + n_b - 2 AS DOUBLE)), 6)
        |       END AS cohens_d
        |FROM v""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("lang") === "en", col("n_chars")).otherwise(0L))
          .cast("long").as("s_a"),
        sum(when(col("lang") === "en",
          expr("cast(n_chars as decimal(38,0)) * n_chars"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q_a"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).cast("long").as("n_b"),
        sum(when(col("lang") === "en", 0L).otherwise(col("n_chars")))
          .cast("long").as("s_b"),
        sum(when(col("lang") === "en", lit(0).cast("decimal(38,0)"))
          .otherwise(expr("cast(n_chars as decimal(38,0)) * n_chars"))).as("q_b"))
      val v = g.select(col("n_a"), col("n_b"),
        (col("s_a").cast("double") / col("n_a").cast("double")).as("m_a"),
        (col("s_b").cast("double") / col("n_b").cast("double")).as("m_b"),
        ((col("q_a").cast("double") - col("s_a").cast("double")
          * col("s_a").cast("double") / col("n_a").cast("double"))
          / (col("n_a") - 1).cast("double")).as("va"),
        ((col("q_b").cast("double") - col("s_b").cast("double")
          * col("s_b").cast("double") / col("n_b").cast("double"))
          / (col("n_b") - 1).cast("double")).as("vb"))
      val sa = col("va") / col("n_a").cast("double")
      val sb = col("vb") / col("n_b").cast("double")
      val pooled = (((col("n_a") - 1).cast("double") * col("va")
        + (col("n_b") - 1).cast("double") * col("vb"))
        / (col("n_a") + col("n_b") - 2).cast("double"))
      v.select(col("n_a"), col("n_b"),
        when(sa + sb > 0,
          round((col("m_a") - col("m_b")) / sqrt(sa + sb), 6)).as("t_stat"),
        when(sa + sb > 0,
          round((sa + sb) * (sa + sb)
            / (sa * sa / (col("n_a") - 1).cast("double")
              + sb * sb / (col("n_b") - 1).cast("double")), 6)).as("df_welch"),
        when(pooled > 0,
          round((col("m_a") - col("m_b")) / sqrt(pooled), 6)).as("cohens_d"))
    },

    // ── SD1: weekday seasonal decomposition of daily revenue — the
    // seasonality-aware layer between mc1's coupling and ad1's anomaly
    // z-test: revenue = weekday-mean + residual, so a "drop" that is just
    // Sunday stops paging. Exact integers end to end: the weekday index
    // is epoch-day mod 7 (no calendar/locale call on either engine —
    // DuckDB's dayofweek is 0=Sun..6, Spark's is 1=Sun..7, so neither is
    // used), the weekday mean is (Σcents·1e6) div n in decimal(38,0)/
    // HUGEINT (daily cents reach ~3e11 — ses1's documented class — so the
    // micro product needs headroom), and the residual is an integer
    // subtraction. 100 TB: the corpus collapses to the day-grain pre-agg
    // in ONE keyed scan (ses1's plan class); the weekday windows run over
    // that |days|-row table.
    Q("sd1_weekday_decomp",
      """WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                            '%Y-%m-%d') AS day,
        |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |wd AS (SELECT day, cents,
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS BIGINT) % 7 AS dow
        |       FROM dc),
        |m AS (SELECT day, cents, dow,
        |        CAST(sum(cents) OVER (PARTITION BY dow) AS BIGINT) AS s_wd,
        |        CAST(count(*) OVER (PARTITION BY dow) AS BIGINT) AS n_wd
        |      FROM wd)
        |SELECT day, cents, dow,
        |       CAST((CAST(s_wd AS HUGEINT) * 1000000) // n_wd AS BIGINT) AS wd_mean_micro,
        |       cents * 1000000 - CAST((CAST(s_wd AS HUGEINT) * 1000000) // n_wd AS BIGINT) AS residual_micro
        |FROM m ORDER BY day""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      val wd = dc.withColumn("dow",
        expr("cast(datediff(cast(day as date), date'1970-01-01') as bigint) % 7"))
      val win = Window.partitionBy("dow")
      wd.withColumn("s_wd", sum("cents").over(win).cast("long"))
        .withColumn("n_wd", count(lit(1)).over(win).cast("long"))
        .select(col("day"), col("cents"), col("dow"),
          expr("cast((cast(s_wd as decimal(38,0)) * 1000000) div n_wd as bigint)")
            .as("wd_mean_micro"),
          (col("cents") * 1000000L
            - expr("cast((cast(s_wd as decimal(38,0)) * 1000000) div n_wd as bigint)"))
            .as("residual_micro"))
        .orderBy("day")
    },

    // ── JS1: Jensen–Shannon divergence between the en and non-en length
    // distributions — the SYMMETRIC, always-finite drift scalar beside
    // ks1 (worst ECDF point) and emd1 (ECDF integral): JSD reads
    // per-cell mass disagreement, is bounded by ln 2, and never blows up
    // on cells one side lacks (KL's failure mode). Carried exactly on
    // ks1's distinct-score cell table via the common-denominator device:
    // with a_i = ca_i·n_b and b_i = cb_i·n_a (both sides normalized to
    // D = n_a·n_b), D·KL(P‖M) = Σ a_i·(ln2 + ln a_i − ln(a_i+b_i)) —
    // every ln runs on an EXACT integer (t11's micro-ln contract), the
    // a_i·micro products are cast-BEFORE-sum decimal(38,0)/HUGEINT
    // (a_i alone passes 2^63 at ~3e9 docs/side), and the two one-sided
    // sums land as js_micro = (sa+sb) div (2·D). Each KL(·‖M) ≥ 0
    // analytically, but micro-ln rounding can leave an epsilon-negative
    // total, so every division travels as sign·(abs div d) (mi1's
    // device); an empty side (D = 0) guards to NULL on both engines.
    // 100 TB: identical plan class to ks1/emd1 — one keyed agg to the
    // domain-bounded score table, a 1-row broadcast of the totals, and
    // the term sum over THAT bounded table. BOUNDED-WINDOW CONTRACT:
    // no window at all — the only non-agg intermediate is the cell
    // table, bounded by the score domain (spec pins it ≪ corpus).
    Q("js1_jensen_shannon", {
      val lnAi = lnMicroSql("CAST(ai AS DOUBLE)")
      val lnBi = lnMicroSql("CAST(bi AS DOUBLE)")
      val lnM = lnMicroSql("CAST(ai + bi AS DOUBLE)")
      val ln2 = lnMicroSql("2")
      s"""$scoreCountsSql,
         |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM g),
         |m AS (SELECT n_a, n_b,
         |        CAST(ca AS HUGEINT) * n_b AS ai, CAST(cb AS HUGEINT) * n_a AS bi
         |      FROM g CROSS JOIN t),
         |e AS (SELECT n_a, n_b,
         |        CASE WHEN ai > 0 THEN ai * ($ln2 + $lnAi - $lnM)
         |             ELSE CAST(0 AS HUGEINT) END AS ta,
         |        CASE WHEN bi > 0 THEN bi * ($ln2 + $lnBi - $lnM)
         |             ELSE CAST(0 AS HUGEINT) END AS tb
         |      FROM m),
         |f AS (SELECT max(n_a) AS n_a, max(n_b) AS n_b,
         |        CAST(count(*) AS BIGINT) AS n_cells,
         |        sum(ta) AS sa, sum(tb) AS sb,
         |        CAST(max(n_a) AS HUGEINT) * max(n_b) AS dd
         |      FROM e)
         |SELECT n_a, n_b, n_cells,
         |       CASE WHEN dd > 0 THEN
         |         CAST(CAST(sign(sa) AS BIGINT) * (abs(sa) // dd) AS BIGINT) END AS kl_a_micro,
         |       CASE WHEN dd > 0 THEN
         |         CAST(CAST(sign(sb) AS BIGINT) * (abs(sb) // dd) AS BIGINT) END AS kl_b_micro,
         |       CASE WHEN dd > 0 THEN
         |         CAST(CAST(sign(sa + sb) AS BIGINT)
         |           * (abs(sa + sb) // (2 * dd)) AS BIGINT) END AS js_micro
         |FROM f""".stripMargin
    }) { (s, d) =>
      val g = scoreCounts(Tables.documents(s, d))
      val m = g.crossJoin(broadcast(sideTotals(g)))
        .select(col("n_a"), col("n_b"),
          (col("ca").cast("decimal(38,0)") * col("n_b")).as("ai"),
          (col("cb").cast("decimal(38,0)") * col("n_a")).as("bi"))
      val z = lit(0).cast("decimal(38,0)")
      val e = m.select(col("n_a"), col("n_b"),
        when(col("ai") > 0,
          col("ai") * (lnMicro(lit(2)) + lnMicro(col("ai"))
            - lnMicro(col("ai") + col("bi")))).otherwise(z).as("ta"),
        when(col("bi") > 0,
          col("bi") * (lnMicro(lit(2)) + lnMicro(col("bi"))
            - lnMicro(col("ai") + col("bi")))).otherwise(z).as("tb"))
      e.agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
          count(lit(1)).cast("long").as("n_cells"),
          sum("ta").as("sa"), sum("tb").as("sb"))
        .withColumn("dd", col("n_a").cast("decimal(38,0)") * col("n_b"))
        .select(col("n_a"), col("n_b"), col("n_cells"),
          when(col("dd") > 0, expr(
            "cast(cast(sign(sa) as bigint) * (abs(sa) div dd) as bigint)"))
            .as("kl_a_micro"),
          when(col("dd") > 0, expr(
            "cast(cast(sign(sb) as bigint) * (abs(sb) div dd) as bigint)"))
            .as("kl_b_micro"),
          when(col("dd") > 0, expr(
            "cast(cast(sign(sa + sb) as bigint)" +
              " * (abs(sa + sb) div (2 * dd)) as bigint)"))
            .as("js_micro"))
    },

    // ── ACF1: autocorrelation of the daily-revenue series at lags 1..7 —
    // the periodicity detector between sd1 (which REMOVES the weekday
    // component you already know about) and mc1 (which correlates two
    // DIFFERENT series): a spike at lag 7 says "weekly rhythm", decay
    // says "momentum". Convention pinned for both engines: both factors
    // center on the FULL-series mean, the lag-k numerator sums t = 1..n−k,
    // the denominator is the full Σ(x_t−x̄)² — the standard ACF estimator.
    // Exact integers: multiplying through by n² makes every centered
    // factor integral ((n·x_t − S)), products cast-BEFORE-sum into
    // decimal(38,0)/HUGEINT (a factor reaches ~1e15 at 100 TB, products
    // 1e30); the terminal ppm divides by (den div 1e6) — zipf1's
    // documented double-truncation, identical on both engines — and a
    // near-constant series (den < 1e6) guards to NULL symmetrically.
    // 100 TB: the corpus collapses to the day-grain pre-agg in ONE keyed
    // scan (sd1's class); the lag self-join and windows run over that
    // |days|-row table only. BOUNDED-WINDOW CONTRACT: the row_number
    // window and the ×7-lag self-join input is the day table (|days|
    // rows — ses1's class), never the corpus.
    Q("acf1_autocorrelation",
      """WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                            '%Y-%m-%d') AS day,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT cents, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM dc),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM r),
        |dn AS (SELECT sum(CAST(n * cents - s AS HUGEINT) * (n * cents - s)) AS den
        |       FROM r CROSS JOIN tt),
        |lg AS (SELECT CAST(lag AS BIGINT) AS lag
        |       FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS v(lag)),
        |p AS (SELECT l.lag, tt.n, tt.s,
        |        CAST(tt.n * x.cents - tt.s AS HUGEINT)
        |          * (tt.n * y.cents - tt.s) AS prod
        |      FROM lg l CROSS JOIN tt
        |        JOIN r x ON true
        |        JOIN r y ON y.t = x.t + l.lag)
        |SELECT p.lag, max(p.n) AS n_days, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CASE WHEN max(dn.den) >= 1000000 THEN
        |         CAST(CAST(sign(sum(p.prod)) AS BIGINT)
        |           * (abs(sum(p.prod)) // (max(dn.den) // 1000000)) AS BIGINT)
        |       END AS acf_ppm
        |FROM p CROSS JOIN dn
        |GROUP BY p.lag ORDER BY p.lag""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      val r = dc.select(col("cents"),
        row_number().over(Window.orderBy("day")).cast("long").as("t"))
      val tt = r.agg(count(lit(1)).cast("long").as("n"),
        sum("cents").cast("long").as("s"))
      val dn = r.crossJoin(broadcast(tt))
        .agg(sum(((col("n") * col("cents") - col("s")).cast("decimal(38,0)")
          * (col("n") * col("cents") - col("s"))).cast("decimal(38,0)")).as("den"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val x = r.select(col("cents").as("cx"), col("t").as("tx"))
      val y = r.select(col("cents").as("cy"), col("t").as("ty"))
      val p = lags.crossJoin(broadcast(tt))
        .crossJoin(x)
        .join(y, col("ty") === col("tx") + col("lag"))
        .select(col("lag"),
          col("n"),
          ((col("n") * col("cx") - col("s")).cast("decimal(38,0)")
            * (col("n") * col("cy") - col("s"))).cast("decimal(38,0)").as("prod"))
      p.crossJoin(broadcast(dn))
        .groupBy("lag")
        .agg(max("n").as("n_days"), count(lit(1)).cast("long").as("n_pairs"),
          sum("prod").as("num"), max("den").as("den"))
        .select(col("lag"), col("n_days"), col("n_pairs"),
          when(col("den") >= 1000000L, expr(
            "cast(cast(sign(num) as bigint)" +
              " * (abs(num) div (den div 1000000)) as bigint)"))
            .as("acf_ppm"))
        .orderBy("lag")
    },

    // ── THEIL1: Theil–Sen robust trend of the daily-revenue series — the
    // slope estimator that survives the outlier days ols1's least squares
    // is dragged by (breakdown point 29% vs 0%): the MEDIAN of all
    // pairwise slopes (c_j−c_i)/(t_j−t_i), plus the median-residual
    // intercept. Slopes are exact integer micro-units — sign(dc)·
    // (|dc|·1e6 div dt) fits BIGINT to ~9e12 daily cents — and both
    // medians are LOWER medians picked by row_number over a TOTAL order
    // ((slope, t_i, t_j) / (resid, t)), so both engines select the
    // identical element; no averaging of middle pairs, no floats at all.
    // 100 TB: the corpus collapses to the day-grain pre-agg in ONE keyed
    // scan; the O(|days|²) pair grid, the median windows, and the
    // intercept pass all run over that bounded table (≈ 66k pairs even
    // for a 10-year daily series). BOUNDED-WINDOW CONTRACT: every window
    // input is the day table or its pair grid, never the corpus.
    Q("theil1_theil_sen",
      """WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                            '%Y-%m-%d') AS day,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT cents, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM dc),
        |p AS (SELECT x.t AS ti, y.t AS tj,
        |        CAST(CAST(sign(y.cents - x.cents) AS BIGINT)
        |          * ((abs(y.cents - x.cents) * 1000000) // (y.t - x.t)) AS BIGINT)
        |          AS slope_micro
        |      FROM r x JOIN r y ON y.t > x.t),
        |q AS (SELECT slope_micro,
        |        CAST(row_number() OVER (ORDER BY slope_micro, ti, tj) AS BIGINT) AS rn,
        |        CAST(count(*) OVER () AS BIGINT) AS cnt
        |      FROM p),
        |sl AS (SELECT slope_micro, cnt AS n_pairs FROM q WHERE rn = (cnt + 1) // 2),
        |res AS (SELECT r.cents * 1000000 - sl.slope_micro * r.t AS resid, r.t,
        |          sl.slope_micro, sl.n_pairs,
        |          CAST(row_number() OVER (ORDER BY r.cents * 1000000 - sl.slope_micro * r.t, r.t) AS BIGINT) AS rn,
        |          CAST(count(*) OVER () AS BIGINT) AS n_days
        |        FROM r CROSS JOIN sl)
        |SELECT n_days, n_pairs, slope_micro, CAST(resid AS BIGINT) AS icept_micro
        |FROM res WHERE rn = (n_days + 1) // 2""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      val r = dc.select(col("cents"),
        row_number().over(Window.orderBy("day")).cast("long").as("t"))
      val x = r.select(col("cents").as("cx"), col("t").as("ti"))
      val y = r.select(col("cents").as("cy"), col("t").as("tj"))
      val p = x.join(y, col("tj") > col("ti"))
        .select(col("ti"), col("tj"),
          (signum(col("cy") - col("cx")).cast("long")
            * expr("(abs(cy - cx) * 1000000) div (tj - ti)")).as("slope_micro"))
      val wq = Window.orderBy("slope_micro", "ti", "tj")
      val q = p.withColumn("rn", row_number().over(wq).cast("long"))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long"))
      val sl = q.filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("slope_micro"), col("cnt").as("n_pairs"))
      val res = r.crossJoin(broadcast(sl))
        .select(col("t"), col("slope_micro"), col("n_pairs"),
          (col("cents") * 1000000L - col("slope_micro") * col("t")).as("resid"))
      val wr = Window.orderBy("resid", "t")
      res.withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n_days", count(lit(1)).over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long"))
        .filter(col("rn") === expr("(n_days + 1) div 2"))
        .select(col("n_days"), col("n_pairs"), col("slope_micro"),
          col("resid").cast("long").as("icept_micro"))
    },

    // ── AB2: Wald's sequential probability ratio test (SPRT 1945) on the
    // daily view→purchase conversion rate — the SEQUENTIAL decision layer
    // the testing family lacked: ab1 is a fixed-horizon z-test, cp1 an
    // open-ended CUSUM alarm; SPRT is the "stop the experiment early,
    // with α/β guarantees" primitive. H0: p = 1/5 vs H1: p = 1/4, α = β
    // = 0.05. Exact integers end to end via the INTEGER-RATIO device:
    // ln(p1/p0) = ln 5 − ln 4 and ln((1−p1)/(1−p0)) = ln 15 − ln 16 in
    // micro-lns of SMALL INTEGERS (t11's contract — no float ratio is
    // ever ln'd), so day d contributes k_d·(ln5−ln4) + (n_d−k_d)·
    // (ln15−ln16) as pure integer products; the cumulative LLR is one
    // prefix window over the day table; thresholds ±ln 19 = ±lnMicro(19).
    // Decisions are a CASE over integers — identical both engines.
    // 100 TB: ONE conditional-agg corpus scan to the |days| table; the
    // window rides that (ses1's bounded-window class). k·2e5 micro stays
    // under 2^63 to ~4.6e13 conversions/day — cast decimal anyway.
    Q("ab2_sprt", {
      val c1 = s"(${lnMicroSql("5")} - ${lnMicroSql("4")})"
      val c0 = s"(${lnMicroSql("15")} - ${lnMicroSql("16")})"
      val lnA = lnMicroSql("19")
      s"""WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
         |                            '%Y-%m-%d') AS day,
         |              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k,
         |              CAST(count(*) AS BIGINT) AS n
         |            FROM events WHERE event_type IN ('view', 'purchase')
         |            GROUP BY 1),
         |c AS (SELECT day, k, n,
         |        CAST(sum(k * $c1 + (n - k) * $c0)
         |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS llr_micro
         |      FROM dc)
         |SELECT day, k, n, llr_micro,
         |       CASE WHEN llr_micro >= $lnA THEN 'accept_h1'
         |            WHEN llr_micro <= -$lnA THEN 'accept_h0'
         |            ELSE 'continue' END AS decision
         |FROM c ORDER BY day""".stripMargin
    }) { (s, d) =>
      val c1 = lnMicro(lit(5)) - lnMicro(lit(4))
      val c0 = lnMicro(lit(15)) - lnMicro(lit(16))
      val lnA = lnMicro(lit(19))
      val dc = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("k"),
          count(lit(1)).cast("long").as("n"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dc.withColumn("llr_micro",
          sum(col("k") * c1 + (col("n") - col("k")) * c0).over(w).cast("long"))
        .select(col("day"), col("k"), col("n"), col("llr_micro"),
          when(col("llr_micro") >= lnA, "accept_h1")
            .when(col("llr_micro") <= -lnA, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("day")
    },

    // ── QQ1: quantile–quantile drift table between the en and non-en
    // length distributions — the DIAGNOSTIC the scalar drift family
    // (ks1 worst point, emd1 integral, js1 mass) can't draw: 19 ventile
    // pairs (q_j^a, q_j^b) whose plot shows WHERE the distributions
    // depart (head, body, or tail). Quantiles are exact type-1 (lower)
    // order statistics in pure integers: q_j = min{score : 20·cum ≥ j·n}
    // — no interpolation, no rational (20·cum stays under 2^63 to
    // ~4.6e17 docs/side); an empty side yields NULL at every level via
    // the symmetric n > 0 guard. 100 TB: ks1's plan class — one keyed
    // agg to the domain-bounded ECDF table, one prefix window over THAT,
    // and a ×19 broadcast level grid; the quantile extraction is one
    // conditional-min agg. BOUNDED-WINDOW CONTRACT: the ECDF window
    // input is the distinct-score table (ks1's spec-pinned bound).
    Q("qq1_quantile_drift",
      s"""$ecdfSql,
         |l AS (SELECT CAST(range + 1 AS BIGINT) AS lvl FROM range(19))
         |SELECT l.lvl,
         |       min(CASE WHEN n_a > 0 AND 20 * cum_a >= l.lvl * n_a THEN score END) AS qa,
         |       min(CASE WHEN n_b > 0 AND 20 * cum_b >= l.lvl * n_b THEN score END) AS qb
         |FROM c CROSS JOIN l GROUP BY 1 ORDER BY lvl""".stripMargin) { (s, d) =>
      val c = ecdf(Tables.documents(s, d))
      val levels = s.range(1, 20).select(col("id").as("lvl"))
      c.crossJoin(broadcast(levels))
        .groupBy("lvl")
        .agg(
          min(when(col("n_a") > 0 &&
            col("cum_a") * 20L >= col("lvl") * col("n_a"), col("score"))).as("qa"),
          min(when(col("n_b") > 0 &&
            col("cum_b") * 20L >= col("lvl") * col("n_b"), col("score"))).as("qb"))
        .orderBy("lvl")
    },

    // ── DID1: difference-in-differences — the 2×2 causal-contrast readout
    // above wt1's single contrast: did = (treated post − treated pre) −
    // (control post − control pre) on mean purchase value, the estimator
    // every experiment dashboard reports when assignment predates the
    // launch. Cells are pinned deterministically: treatment = user_id
    // parity, post = epoch-day ≥ the corpus midpoint ((min+max+1) div 2 —
    // integer day arithmetic, no timestamp math on either engine). Cell
    // means are micro-units via truncating division on non-negative sums
    // (the sc·1e6 product rides decimal(38,0)/HUGEINT — a cell sum at
    // 100 TB passes 2^63 after ×1e6); the DiD itself is pure integer
    // subtraction, and ANY empty cell guards the estimate to NULL on both
    // engines. Plan: one ts-only column-pruned scan for the 1-row
    // min/max broadcast (seg1's anchor device), then ONE conditional-agg
    // corpus scan to a single row — no window, no join wider than the
    // 1-row broadcast.
    Q("did1_diff_in_diff",
      """WITH b AS (SELECT CAST(min(date_diff('day', DATE '1970-01-01',
        |                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))) AS BIGINT) AS mn,
        |             CAST(max(date_diff('day', DATE '1970-01-01',
        |                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))) AS BIGINT) AS mx
        |           FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT CAST(user_id % 2 AS BIGINT) AS treat,
        |        CASE WHEN CAST(date_diff('day', DATE '1970-01-01',
        |               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS BIGINT)
        |             >= (b.mn + b.mx + 1) // 2 THEN 1 ELSE 0 END AS post,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events CROSS JOIN b WHERE event_type = 'purchase'),
        |c AS (SELECT
        |        CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
        |        CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
        |        CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
        |        CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        |        sum(CASE WHEN treat = 1 AND post = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_t0,
        |        sum(CASE WHEN treat = 1 AND post = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_t1,
        |        sum(CASE WHEN treat = 0 AND post = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_c0,
        |        sum(CASE WHEN treat = 0 AND post = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_c1
        |      FROM e),
        |m AS (SELECT n_t0, n_t1, n_c0, n_c1,
        |        CASE WHEN n_t0 > 0 THEN CAST((s_t0 * 1000000) // n_t0 AS BIGINT) END AS m_t0,
        |        CASE WHEN n_t1 > 0 THEN CAST((s_t1 * 1000000) // n_t1 AS BIGINT) END AS m_t1,
        |        CASE WHEN n_c0 > 0 THEN CAST((s_c0 * 1000000) // n_c0 AS BIGINT) END AS m_c0,
        |        CASE WHEN n_c1 > 0 THEN CAST((s_c1 * 1000000) // n_c1 AS BIGINT) END AS m_c1
        |      FROM c)
        |SELECT n_t0, n_t1, n_c0, n_c1,
        |       m_t0 AS m_t0_micro, m_t1 AS m_t1_micro,
        |       m_c0 AS m_c0_micro, m_c1 AS m_c1_micro,
        |       (m_t1 - m_t0) - (m_c1 - m_c0) AS did_micro
        |FROM m""".stripMargin) { (s, d) =>
      val day = expr(
        "cast(datediff(cast(date_trunc('day', ts) as date), date'1970-01-01') as bigint)")
      val pur = Tables.events(s, d).filter(col("event_type") === "purchase")
      val b = pur.agg(min(day).as("mn"), max(day).as("mx"))
      val e = pur.crossJoin(broadcast(b))
        .select((col("user_id") % 2).cast("long").as("treat"),
          when(day >= expr("(mn + mx + 1) div 2"), 1L).otherwise(0L).as("post"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      def nOf(t: Int, p: Int) =
        sum(when(col("treat") === t && col("post") === p, 1L).otherwise(0L))
          .cast("long")
      def sOf(t: Int, p: Int) =
        sum(when(col("treat") === t && col("post") === p, col("cents"))
          .otherwise(0L).cast("decimal(38,0)"))
      val c = e.agg(nOf(1, 0).as("n_t0"), nOf(1, 1).as("n_t1"),
        nOf(0, 0).as("n_c0"), nOf(0, 1).as("n_c1"),
        sOf(1, 0).as("s_t0"), sOf(1, 1).as("s_t1"),
        sOf(0, 0).as("s_c0"), sOf(0, 1).as("s_c1"))
      def mOf(n: String, sm: String) =
        when(col(n) > 0, expr(s"cast(($sm * 1000000) div $n as bigint)"))
      c.select(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
          mOf("n_t0", "s_t0").as("m_t0_micro"), mOf("n_t1", "s_t1").as("m_t1_micro"),
          mOf("n_c0", "s_c0").as("m_c0_micro"), mOf("n_c1", "s_c1").as("m_c1_micro"))
        .withColumn("did_micro",
          (col("m_t1_micro") - col("m_t0_micro"))
            - (col("m_c1_micro") - col("m_c0_micro")))
    },

    // ── MWU1: Mann–Whitney U (two-sided, tie-corrected) on ks1's split —
    // the NONPARAMETRIC member of the two-sample family: wt1's Welch t
    // assumes a mean shift matters, ks1 reads the worst ECDF point; U
    // reads stochastic dominance ("is a random en doc longer than a
    // random non-en doc?") and survives any monotone transform of the
    // score. Exact on ks1's distinct-score ECDF table: in DOUBLED units
    // U2 = Σ_s ca·(2·below_b + ties_b) — strict wins count 2, ties 1 —
    // every product in decimal(38,0)/HUGEINT (a term reaches ~2n²; the
    // EMITTED u2 ≤ 2·n_a·n_b holds BIGINT to ~2.1e9 docs/side, 1e4× sf10,
    // the ks1 d_scaled class). The tie term T = Σ t³−t rides decimal too.
    // The z finish is wt1's documented device: ONE double expression of
    // identical shape on both engines over the 1-row exact-integer
    // aggregate (round 6, one sqrt); all-tied corpora (variance 0) and an
    // empty side guard to NULL symmetrically. BOUNDED-WINDOW CONTRACT:
    // ks1's — the only window runs over the distinct-score table.
    Q("mwu1_mann_whitney",
      s"""$ecdfSql,
         |f AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
         |        CAST(sum(CAST(ca AS HUGEINT) * (2 * (cum_b - cb) + cb)) AS BIGINT) AS u2,
         |        sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb)) AS tsum
         |      FROM c)
         |SELECT n_a, n_b, u2,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2
         |         OR CAST(n_a + n_b + 1 AS DOUBLE)
         |            - CAST(tsum AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1.0)) <= 0
         |       THEN NULL
         |       ELSE round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
         |         / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b
         |            * (CAST(n_a + n_b + 1 AS DOUBLE)
         |               - CAST(tsum AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1.0)))
         |            / 12.0)), 6) END AS z
         |FROM f""".stripMargin) { (s, d) =>
      val c = ecdf(Tables.documents(s, d))
      c.agg(sum("ca").cast("long").as("n_a"), sum("cb").cast("long").as("n_b"),
          sum((col("ca").cast("decimal(38,0)")
            * (lit(2L) * (col("cum_b") - col("cb")) + col("cb"))))
            .cast("long").as("u2"),
          sum((col("ca") + col("cb")).cast("decimal(38,0)")
            * (col("ca") + col("cb")) * (col("ca") + col("cb"))
            - (col("ca") + col("cb"))).as("tsum"))
        .select(col("n_a"), col("n_b"), col("u2"),
          expr("""CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2
                   OR CAST(n_a + n_b + 1 AS DOUBLE)
                      - CAST(tsum AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1.0)) <= 0
                 THEN NULL
                 ELSE round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
                   / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b
                      * (CAST(n_a + n_b + 1 AS DOUBLE)
                         - CAST(tsum AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1.0)))
                      / 12.0)), 6) END""").as("z"))
    },

    // ── KT1: Kendall's tau-a between daily revenue and daily order count
    // — the rank-concordance companion to sc1 (Spearman reads rank
    // POSITIONS; tau reads pairwise ORDER agreement and is the standard
    // robust check that "more orders" and "more revenue" move together
    // day over day). Pure integers end to end: each day pair contributes
    // sign(Δcents)·sign(Δcount) ∈ {−1,0,1}; tau_a_ppm = sign(C−D)·
    // (|C−D|·1e6 div n_pairs) — the zipf1 truncation device, identical
    // both engines. 100 TB: theil1's plan class — the corpus collapses to
    // the day-grain pre-agg in ONE conditional-agg keyed scan; the
    // O(|days|²) pair grid (~66k pairs for 10 years) runs over that
    // bounded table. BOUNDED-WINDOW CONTRACT: the rank window input is
    // the day table, never the corpus.
    Q("kt1_kendall_tau",
      """WITH dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                            '%Y-%m-%d') AS day,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |             CAST(count(*) AS BIGINT) AS cnt
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT cents, cnt, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM dc),
        |p AS (SELECT CAST(sign(y.cents - x.cents) AS BIGINT)
        |               * CAST(sign(y.cnt - x.cnt) AS BIGINT) AS s
        |      FROM r x JOIN r y ON y.t > x.t),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
        |        CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc
        |      FROM p)
        |SELECT n_pairs, n_conc, n_disc,
        |  CASE WHEN n_pairs = 0 THEN NULL
        |       ELSE CAST(CAST(sign(n_conc - n_disc) AS BIGINT)
        |         * ((abs(n_conc - n_disc) * 1000000) // n_pairs) AS BIGINT) END AS tau_a_ppm
        |FROM f""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
          count(lit(1)).cast("long").as("cnt"))
      val r = dc.select(col("cents"), col("cnt"),
        row_number().over(Window.orderBy("day")).cast("long").as("t"))
      val x = r.select(col("cents").as("cx"), col("cnt").as("kx"), col("t").as("ti"))
      val y = r.select(col("cents").as("cy"), col("cnt").as("ky"), col("t").as("tj"))
      x.join(y, col("tj") > col("ti"))
        .select((signum(col("cy") - col("cx")).cast("long")
          * signum(col("ky") - col("kx")).cast("long")).as("s"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(when(col("s") === 1L, 1L).otherwise(0L)).cast("long").as("n_conc"),
          sum(when(col("s") === -1L, 1L).otherwise(0L)).cast("long").as("n_disc"))
        .select(col("n_pairs"), col("n_conc"), col("n_disc"),
          when(col("n_pairs") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast(cast(sign(n_conc - n_disc) as bigint)" +
              " * ((abs(n_conc - n_disc) * 1000000) div n_pairs) as bigint)"))
            .as("tau_a_ppm"))
    },

    // ── TM1: 10% two-sided trimmed mean of document length per language —
    // the robust location estimate os1's MAD flags can't give (os1 says
    // WHICH rows are outliers; tm1 says what the center is once they're
    // gone). EXACT type-1 order statistics without any per-row rank: with
    // k = n div 10 trimmed each side, a distinct value v with inclusive
    // cumulative count cum and multiplicity cnt keeps
    // max(0, min(cum, n−k) − max(cum−cnt, k)) copies — pure integer
    // arithmetic over the ECDF table (qq1's device, made per-group).
    // kept_n = n − 2k ≥ ceil(0.8n) ≥ 1 for every non-empty group, so the
    // terminal division never sees 0. v·kc rides decimal/HUGEINT.
    // 100 TB: ONE keyed agg → |lang|×|distinct n_chars| rows; both windows
    // partition by lang over that bounded table (ks1's contract).
    Q("tm1_trimmed_mean",
      """WITH g AS (SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        |           FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, v, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        |      FROM g),
        |k AS (SELECT lang, v, cnt, cum, n, n // 10 AS k FROM c),
        |kept AS (SELECT lang, n, k, n - 2 * k AS kept_n, v,
        |           greatest(CAST(0 AS BIGINT),
        |                    least(cum, n - k) - greatest(cum - cnt, k)) AS kc
        |         FROM k)
        |SELECT lang, max(n) AS n_docs, max(k) AS k_trim, max(kept_n) AS kept_n,
        |       CAST(sum(CAST(v AS HUGEINT) * kc) AS BIGINT) AS trimmed_sum,
        |       CAST((sum(CAST(v AS HUGEINT) * kc) * 1000) // max(kept_n) AS BIGINT) AS tmean_milli
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val wc = Window.partitionBy("lang").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("lang")
      g.withColumn("cum", sum("cnt").over(wc).cast("long"))
        .withColumn("n", sum("cnt").over(wn).cast("long"))
        .withColumn("k", expr("n div 10"))
        .select(col("lang"), col("n"), col("k"),
          (col("n") - lit(2L) * col("k")).as("kept_n"), col("v"),
          greatest(lit(0L),
            least(col("cum"), col("n") - col("k"))
              - greatest(col("cum") - col("cnt"), col("k"))).as("kc"))
        .groupBy("lang")
        .agg(max("n").as("n_docs"), max("k").as("k_trim"),
          max("kept_n").as("kept_n"),
          sum(expr("cast(v as decimal(38,0)) * kc")).as("tsum"))
        .select(col("lang"), col("n_docs"), col("k_trim"), col("kept_n"),
          col("tsum").cast("long").as("trimmed_sum"),
          expr("cast((tsum * 1000) div kept_n as bigint)").as("tmean_milli"))
        .orderBy("lang")
    },

    // ── KA1: Cohen's kappa between two heuristic quality annotators —
    // the agreement readout every labeling loop needs before trusting a
    // rule (or a model) as ground truth. Annotator A: n_chars ≥ 500;
    // annotator B: ≥ 80 whitespace tokens (t1's exact token device, so
    // the raters disagree exactly where short-token/long-char docs live).
    // kappa = (po − pe)/(1 − pe) multiplied through: num = n·(n11+n00) −
    // (a1·b1 + a0·b0), den = n² − (a1·b1 + a0·b0) — every term an exact
    // integer in decimal(38,0)/HUGEINT; num can be negative
    // (worse-than-chance agreement) so the ppm travels sign·(abs div d);
    // den = 0 ⟺ a rater is constant (pe = 1) → NULL symmetrically.
    // 100 TB: ONE conditional-agg corpus scan to four cells.
    Q("ka1_cohens_kappa",
      """WITH r AS (SELECT
        |             CAST(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS BIGINT) AS a,
        |             CAST(CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 80 THEN 1 ELSE 0 END AS BIGINT) AS b
        |           FROM documents),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(a * b) AS BIGINT) AS n11,
        |        CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |        CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |        CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        |      FROM r),
        |f AS (SELECT n, n11, n10, n01, n00,
        |        CAST(n AS HUGEINT) * (n11 + n00)
        |          - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
        |             + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS num,
        |        CAST(n AS HUGEINT) * n
        |          - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
        |             + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS den
        |      FROM m)
        |SELECT n AS n_docs, n11, n10, n01, n00,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE CAST(CAST(sign(num) AS BIGINT)
        |                   * ((abs(num) * 1000000) // den) AS BIGINT) END AS kappa_ppm
        |FROM f""".stripMargin) { (s, d) =>
      val r = Tables.documents(s, d).select(
        when(col("n_chars") >= 500L, 1L).otherwise(0L).as("a"),
        when(size(split(trim(col("text")), "\\s+")) >= 80, 1L).otherwise(0L).as("b"))
      r.agg(count(lit(1)).cast("long").as("n"),
          sum(col("a") * col("b")).cast("long").as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).cast("long").as("n10"),
          sum((lit(1L) - col("a")) * col("b")).cast("long").as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).cast("long").as("n00"))
        .withColumn("num",
          expr("cast(n as decimal(38,0)) * (n11 + n00)" +
            " - (cast(n11 + n10 as decimal(38,0)) * (n11 + n01)" +
            "    + cast(n01 + n00 as decimal(38,0)) * (n10 + n00))"))
        .withColumn("den",
          expr("cast(n as decimal(38,0)) * n" +
            " - (cast(n11 + n10 as decimal(38,0)) * (n11 + n01)" +
            "    + cast(n01 + n00 as decimal(38,0)) * (n10 + n00))"))
        .select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
          when(col("den") === 0, lit(null).cast("long"))
            .otherwise(expr("cast(cast(sign(num) as bigint)" +
              " * ((abs(num) * 1000000) div den) as bigint)"))
            .as("kappa_ppm"))
    },

    // ── CI1: grouped-jackknife error bars for the mean document length —
    // the standard error a corpus metric needs before anyone reads a
    // day-over-day delta as real: 32 deterministic md5 buckets (sp1's
    // device, pinned in the oracle), delete-one-bucket means in exact
    // integer micro (per-bucket truncating division — mi1's per-cell
    // class), SE = sqrt((B−1)/B · Σ(mean_b − M)²) with the ONE terminal
    // sqrt as wt1's single-double-expression device (round(·,4)). Fewer
    // than 2 non-empty buckets → NULL symmetrically.
    // 100 TB: one keyed agg to ≤32 rows; everything after is arithmetic
    // on that bounded table.
    Q("ci1_jackknife", {
      val bucket = (c: String) =>
        s"((strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 4096" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 2, 1)) - 1) * 256" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 3, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 4, 1)) - 1)) // 2048"
      s"""WITH b AS (SELECT ${bucket("doc_id")} AS bkt,
         |             CAST(sum(n_chars) AS BIGINT) AS s_b,
         |             CAST(count(*) AS BIGINT) AS n_b
         |           FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(s_b) AS BIGINT) AS s, CAST(sum(n_b) AS BIGINT) AS n,
         |             CAST(count(*) AS BIGINT) AS nb FROM b),
         |loo AS (SELECT b.bkt,
         |          CAST((CAST(t.s - b.s_b AS HUGEINT) * 1000000) // (t.n - b.n_b) AS BIGINT) AS m_b
         |        FROM b CROSS JOIN t WHERE t.n - b.n_b > 0),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS be,
         |              CAST(sum(m_b) // count(*) AS BIGINT) AS m FROM loo),
         |v AS (SELECT mm.be, mm.m,
         |        sum(CAST(loo.m_b - mm.m AS HUGEINT) * (loo.m_b - mm.m)) AS ss
         |      FROM loo CROSS JOIN mm GROUP BY 1, 2)
         |SELECT t.n AS n_docs, v.be AS n_buckets,
         |       CAST((CAST(t.s AS HUGEINT) * 1000000) // t.n AS BIGINT) AS mean_micro,
         |       CASE WHEN v.be < 2 THEN NULL
         |            ELSE round(sqrt((v.be - 1.0) / v.be * CAST(v.ss AS DOUBLE)), 4) END AS se_micro
         |FROM v CROSS JOIN t""".stripMargin
    }) { (s, d) =>
      val b = Tables.documents(s, d)
        .groupBy((Sampling.bucket(col("doc_id")) / 2048).cast("long").as("bkt"))
        .agg(sum("n_chars").cast("long").as("s_b"),
          count(lit(1)).cast("long").as("n_b"))
      val t = b.agg(sum("s_b").cast("long").as("s"),
        sum("n_b").cast("long").as("n"), count(lit(1)).cast("long").as("nb"))
      val loo = b.crossJoin(broadcast(t))
        .filter(col("n") - col("n_b") > 0L)
        .select(col("bkt"),
          expr("cast((cast(s - s_b as decimal(38,0)) * 1000000) div (n - n_b) as bigint)")
            .as("m_b"))
      val mm = loo.agg(count(lit(1)).cast("long").as("be"),
        expr("cast(sum(m_b) div count(*) as bigint)").as("m"))
      val v = loo.crossJoin(broadcast(mm))
        .groupBy("be", "m")
        .agg(sum(expr("cast(m_b - m as decimal(38,0)) * (m_b - m)")).as("ss"))
      v.crossJoin(broadcast(t))
        .select(col("n").as("n_docs"), col("be").as("n_buckets"),
          expr("cast((cast(s as decimal(38,0)) * 1000000) div n as bigint)")
            .as("mean_micro"),
          when(col("be") < 2L, lit(null).cast("double"))
            .otherwise(round(sqrt((col("be") - lit(1.0)) / col("be")
              * col("ss").cast("double")), 4)).as("se_micro"))
    },

    // ── PM1: deterministic permutation test — is the en/non-en mean-length
    // gap larger than chance relabeling produces? The resampling cousin of
    // wt1 (which assumes the z approximation) and the inference partner of
    // ci1's jackknife: 64 deterministic label permutations (side = md5
    // parity of doc_id#perm — sp1's device, pinned in the oracle), each
    // replica's |mean gap| compared against the observed gap by EXACT
    // cross-multiplication on the common-denominator form |S_a·n_b −
    // S_b·n_a| (no rational ever materializes; the cross products ride
    // decimal(38,0)/HUGEINT — the envelope passes 38 digits near ~1e8 docs
    // per side, past which the comparison must drop to truncated ppm).
    // p = (1 + #extreme) / (B + 1), the standard add-one estimate. ONE
    // corpus scan computes all 64 replicas (narrow 64× explode, each row
    // (perm, side, value)); an empty side → NULL symmetrically.
    // The 64 replicas then reduce in one keyed agg to 64 rows; the observed
    // gap rides a 1-row broadcast.
    Q("pm1_permutation_test", {
      val parity = (k: String) =>
        s"(strpos('0123456789abcdef', substr(md5($k), 1, 1)) - 1) % 2"
      s"""WITH obs AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS HUGEINT) AS s_a,
         |              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |              CAST(sum(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END) AS HUGEINT) AS s_b,
         |              CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |            FROM documents),
         |pe AS (SELECT p.range AS perm,
         |         ${parity("CAST(d.doc_id AS VARCHAR) || '#' || CAST(p.range AS VARCHAR)")} AS side,
         |         d.n_chars
         |       FROM documents d, range(64) p),
         |pr AS (SELECT perm,
         |         CAST(sum(CASE WHEN side = 0 THEN n_chars ELSE 0 END) AS HUGEINT) AS s_pa,
         |         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pa,
         |         CAST(sum(CASE WHEN side = 1 THEN n_chars ELSE 0 END) AS HUGEINT) AS s_pb,
         |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pb
         |       FROM pe GROUP BY 1),
         |x AS (SELECT CAST(count(*) AS BIGINT) AS n_extreme
         |      FROM pr CROSS JOIN obs
         |      WHERE n_pa > 0 AND n_pb > 0
         |        AND abs(s_pa * n_pb - s_pb * n_pa) * (CAST(obs.n_a AS HUGEINT) * obs.n_b)
         |            >= abs(obs.s_a * obs.n_b - obs.s_b * obs.n_a) * (CAST(n_pa AS HUGEINT) * n_pb))
         |SELECT obs.n_a, obs.n_b,
         |       CAST(abs(obs.s_a * obs.n_b - obs.s_b * obs.n_a) AS BIGINT) AS d_obs_scaled,
         |       CASE WHEN obs.n_a = 0 OR obs.n_b = 0 THEN NULL ELSE x.n_extreme END AS n_extreme,
         |       CASE WHEN obs.n_a = 0 OR obs.n_b = 0 THEN NULL
         |            ELSE CAST(((x.n_extreme + 1) * 1000000) // 65 AS BIGINT) END AS p_ppm
         |FROM obs CROSS JOIN x""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val obs = docs.agg(
        sum(when(col("lang") === "en", col("n_chars")).otherwise(0L))
          .cast("decimal(38,0)").as("s_a"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("lang") =!= "en", col("n_chars")).otherwise(0L))
          .cast("decimal(38,0)").as("s_b"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).cast("long").as("n_b"))
      val pe = docs.select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(s.range(0, 64).select(col("id").as("perm"))))
        .select(col("perm"),
          // first md5 hex digit parity — Sampling.bucket's conv device
          // (Spark has no strpos; the oracle spells the same digit lookup)
          (conv(substring(md5(concat_ws("#", col("doc_id").cast("string"),
            col("perm").cast("string"))), 1, 1), 16, 10).cast("long") % 2)
            .as("side"),
          col("n_chars"))
      val pr = pe.groupBy("perm").agg(
        sum(when(col("side") === 0, col("n_chars")).otherwise(0L))
          .cast("decimal(38,0)").as("s_pa"),
        sum(when(col("side") === 0, 1L).otherwise(0L)).cast("long").as("n_pa"),
        sum(when(col("side") === 1, col("n_chars")).otherwise(0L))
          .cast("decimal(38,0)").as("s_pb"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).cast("long").as("n_pb"))
      val x = pr.crossJoin(broadcast(obs))
        .filter(col("n_pa") > 0L && col("n_pb") > 0L)
        .filter(expr("abs(s_pa * n_pb - s_pb * n_pa) * (cast(n_a as decimal(38,0)) * n_b)" +
          " >= abs(s_a * n_b - s_b * n_a) * (cast(n_pa as decimal(38,0)) * n_pb)"))
        .agg(count(lit(1)).cast("long").as("n_extreme"))
      obs.crossJoin(broadcast(x))
        .select(col("n_a"), col("n_b"),
          expr("cast(abs(s_a * n_b - s_b * n_a) as bigint)").as("d_obs_scaled"),
          when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("long"))
            .otherwise(col("n_extreme")).as("n_extreme"),
          when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast(((n_extreme + 1) * 1000000) div 65 as bigint)"))
            .as("p_ppm"))
    },

    // ── CUPED1: CUPED variance-reduction diagnostic — before running an
    // experiment on revenue, the standard question is "how much variance
    // does pre-period adjustment (CUPED, Deng et al. 2013) buy us?": with
    // θ = cov(pre, post)/var(pre), the adjusted metric post − θ·(pre −
    // mean(pre)) has variance var(post)·(1 − ρ²) — so ρ² IS the
    // reduction. Pre/post = did1's midpoint day split; per-user cents are
    // exact; the five moment sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate
    // in decimal(38,0)/HUGEINT (mom1's device — exact to ~1e9 users ×
    // ~1e9 cents, documented), and only the final two SCALARS (θ, ρ²)
    // are computed in IEEE double from those identical exact integers
    // (cr1's device) — bit-identical across engines and partitionings.
    // 100 TB: one user-keyed agg, one 1-row reduction; nothing else.
    Q("cuped1_variance_reduction",
      """WITH b AS (SELECT CAST(min(date_diff('day', DATE '1970-01-01',
        |                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))) AS BIGINT) AS mn,
        |             CAST(max(date_diff('day', DATE '1970-01-01',
        |                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))) AS BIGINT) AS mx
        |           FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id,
        |        CASE WHEN CAST(date_diff('day', DATE '1970-01-01',
        |               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS BIGINT)
        |             >= (b.mn + b.mx + 1) // 2 THEN 1 ELSE 0 END AS post,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events CROSS JOIN b WHERE event_type = 'purchase'),
        |u AS (SELECT user_id,
        |        CAST(sum(CASE WHEN post = 0 THEN cents ELSE 0 END) AS BIGINT) AS x,
        |        CAST(sum(CASE WHEN post = 1 THEN cents ELSE 0 END) AS BIGINT) AS y
        |      FROM e GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |        sum(CAST(x AS HUGEINT) * y) AS sxy,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx,
        |        sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM u)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |       CAST(sx AS BIGINT) AS pre_cents, CAST(sy AS BIGINT) AS post_cents,
        |       CASE WHEN n * sxx - sx * sx > 0
        |            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |                       / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
        |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |            THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |                            * CAST(n * sxy - sx * sy AS DOUBLE)
        |                            / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                               * CAST(n * syy - sy * sy AS DOUBLE))
        |                            * 1000000) AS BIGINT) END AS var_reduction_ppm
        |FROM m""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          datediff(date_trunc("day", col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val b = ev.agg(min("day").as("mn"), max("day").as("mx"))
      val u = ev.crossJoin(broadcast(b))
        .withColumn("post",
          when(col("day") >= expr("(mn + mx + 1) div 2"), 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum(when(col("post") === 0, col("cents")).otherwise(0L))
            .cast("long").as("x"),
          sum(when(col("post") === 1, col("cents")).otherwise(0L))
            .cast("long").as("y"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val m = u.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
      m.select(
        col("n").cast("long").as("n_users"),
        col("sx").cast("long").as("pre_cents"),
        col("sy").cast("long").as("post_cents"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("theta"),
        when((col("n") * col("sxx") - col("sx") * col("sx") > 0)
            && (col("n") * col("syy") - col("sy") * col("sy") > 0),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
            * 1e6).cast("long"))
          .as("var_reduction_ppm"))
    },

    // ── QN1: within-source quantile normalization — map every source's
    // n_chars distribution onto the POOLED distribution (each doc's value
    // is replaced by the pooled value at its within-source quantile) —
    // the batch-effect correction applied before mixing heterogeneous
    // sources (microarray lineage; for corpora: a source whose "long"
    // docs are another's "medium" stops skewing length-based filters). Exact
    // integer rank semantics: within-source rank r (1-based, ties broken
    // by doc_id), pooled target rank = ((2r−1)·N) div (2·n_s) + 1 clamped
    // to N (midpoint mapping — both engines replay the same truncating
    // arithmetic; the multiply rides decimal(38,0)/HUGEINT so 1e12-doc
    // corpora can't overflow it).
    // 100 TB: BOTH rank assignments are GlobalIds (range repartition +
    // O(P) prefix sum) — the row_number()-over-everything the oracle
    // writes would be a single-partition sort at corpus scale; per-source
    // offsets and counts broadcast (|sources| rows); the normalized value
    // arrives by ONE equi-join on pooled rank.
    Q("qn1_quantile_normalize",
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT doc_id, source, n_chars,
        |        CAST(row_number() OVER (PARTITION BY source
        |                                ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns FROM d),
        |p AS (SELECT n_chars AS v,
        |        CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS p FROM d),
        |ix AS (SELECT doc_id, source, n_chars,
        |         least(nn.n, CAST(((2 * r - 1) * CAST(nn.n AS HUGEINT))
        |                          // (2 * ns) AS BIGINT) + 1) AS idx
        |       FROM r CROSS JOIN nn)
        |SELECT i.doc_id, i.source, i.n_chars, p.v AS norm_chars
        |FROM ix i JOIN p ON p.p = i.idx
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      // within-source ranks WITHOUT a per-source sort task: one global
      // (source, n_chars, doc_id) ranking, minus the source's offset
      val g = GlobalIds.withGlobalId(docs, "g",
        col("source"), col("n_chars"), col("doc_id"))
      val off = g.groupBy("source")
        .agg(min("g").as("off"), count(lit(1)).cast("long").as("ns"))
      val nn = off.agg(sum("ns").cast("long").as("n"))
      val r = g.join(broadcast(off), "source")
        .withColumn("r", col("g") - col("off") + 1)
      val pooled = GlobalIds.withGlobalId(
          docs.select(col("n_chars").as("v"), col("doc_id").as("pid")),
          "p0", col("v"), col("pid"))
        .select((col("p0") + 1).as("p"), col("v"))
      val ix = r.crossJoin(broadcast(nn))
        .select(col("doc_id"), col("source"), col("n_chars"),
          least(col("n"),
            expr("cast(((2 * r - 1) * cast(n as decimal(38,0))) div (2 * ns) as bigint) + 1")
          ).as("idx"))
      ix.join(pooled, col("idx") === col("p"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("v").as("norm_chars"))
        .orderBy("doc_id")
    }
  )
}
