package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.operators.{GlobalIds, Sampling}

/** Reference-surface relational operators (SURVEY.md §2) re-expressed over the
  * driver corpus, each paired with its DuckDB oracle.
  *
  * Determinism rules applied throughout (the driver hash-compares values):
  *  - every floating aggregate is `round(_, 2..4)` on BOTH sides, so
  *    summation-order ulp drift between engines cannot flip the hash;
  *  - MONEY sums go further: at 10⁸+ rows a group's revenue reaches 10¹⁰⁺,
  *    where the cents digit is the ~13th significant digit — inside
  *    double-summation association error, so rounding alone can land on a
  *    boundary where engines disagree by 0.01 (caught by j1 on a fresh sf1
  *    corpus). All 2dp quantities (TPC-H money columns, events.value)
  *    therefore sum as EXACT integer cents ([[cents]]/[[sumMoney]], the tq5
  *    pattern): the sum is order-independent, and the single terminal
  *    division is deterministic;
  *  - every result carries a total ORDER BY (ties broken by a unique key);
  *  - dates/timestamps are rendered as formatted strings at the boundary so
  *    parquet physical type differences cannot leak into the compare.
  *
  * Scale notes are inline per query — the same plans are what we'd run at
  * 100 TB, with broadcast hints only where the build side is provably small.
  */
object RelationalQueries {
  import Tables._

  private val fmtD = "yyyy-MM-dd"

  /** Exact integer cents of a 2dp money double (all corpus money columns
    * are 2dp multiples up to representation error — round recovers them).
    */
  private[queries] def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")

  /** Order-independent money sum: Σ exact cents, one terminal division.
    * SQL twin: `round(sum(CAST(round(x * 100) AS BIGINT)) / 100.0, 2)`.
    */
  private[queries] def sumMoney(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(cents(c)) / 100.0, 2)

  /** The oracle of j6 and j6b, the as-of join's two Spark formulations:
    * tag both streams, order by (time, orders first, key), and carry the
    * last order key forward.
    */
  private val asOfSql =
    """WITH tagged AS (
      |  SELECT o_custkey AS k, o_orderdate AS t, o_orderkey AS okey,
      |         NULL::BIGINT AS event_id, 1 AS is_order FROM orders
      |  UNION ALL
      |  SELECT user_id, ts, NULL, event_id, 0 FROM events),
      |carried AS (
      |  SELECT k, t, event_id, is_order,
      |         last_value(okey IGNORE NULLS) OVER (
      |           PARTITION BY k ORDER BY t, is_order DESC, okey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_okey
      |  FROM tagged)
      |SELECT event_id, asof_okey FROM carried WHERE is_order = 0
      |ORDER BY event_id""".stripMargin

  def all: Seq[Q] = Seq(
    // ── A1: row count (docs/GCP_SETUP.md:362-365) ──────────────────────────
    Q("a1_count",
      "SELECT count(*) AS n_rows FROM lineitem") { (s, d) =>
      lineitem(s, d).agg(count(lit(1)).as("n_rows"))
    },

    // ── A2: freshness MAX(date) (docs/DEPLOYMENT.md:448-450) ───────────────
    Q("a2_freshness",
      "SELECT strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship_date FROM lineitem") { (s, d) =>
      lineitem(s, d).agg(date_format(max(col("l_shipdate")), fmtD).as("max_ship_date"))
    },

    // ── A3: daily rollup over trailing week (docs/DEPLOYMENT.md:452-461).
    // Anchored to max(l_shipdate) instead of current_date so the result is
    // stable on the fixed corpus. Scale: partial (map-side) agg + one shuffle
    // on the group key; with date-partitioned storage the filter is partition
    // pruning, not a scan.
    Q("a3_daily_rollup",
      """WITH mx AS (SELECT max(l_shipdate) AS m FROM lineitem)
        |SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |       count(*) AS n_rows,
        |       round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS sum_qty,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price
        |FROM lineitem, mx WHERE l_shipdate >= m - INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY ship_date DESC""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val mx = li.agg(max(col("l_shipdate")).as("m"))
      li.join(broadcast(mx), col("l_shipdate") >= col("m") - expr("INTERVAL 7 DAYS"))
        .groupBy(date_format(col("l_shipdate"), fmtD).as("ship_date"))
        .agg(count(lit(1)).as("n_rows"),
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("ship_date").desc)
    },

    // ── A4: freshness health check CASE WHEN (docs/DEPLOYMENT.md:466-475).
    // "today" := max(o_orderdate); OK iff shipments are at least that fresh.
    Q("a4_health_check",
      """SELECT strftime((SELECT max(o_orderdate) FROM orders), '%Y-%m-%d') AS check_date,
        |       CASE WHEN (SELECT max(l_shipdate) FROM lineitem) >=
        |                 (SELECT max(o_orderdate) FROM orders)
        |            THEN 'OK' ELSE 'MISSING_DATA' END AS status""".stripMargin) { (s, d) =>
      val mxShip  = lineitem(s, d).agg(max(col("l_shipdate")).as("ms"))
      val mxOrder = orders(s, d).agg(max(col("o_orderdate")).as("mo"))
      mxShip.crossJoin(mxOrder).select(
        date_format(col("mo"), fmtD).as("check_date"),
        when(col("ms") >= col("mo"), "OK").otherwise("MISSING_DATA").as("status"))
    },

    // ── D1: deterministic first-wins dedup (main.py:500-515). The reference
    // relies on Python arrival order; under parallelism we pin an explicit
    // TOTAL ingest order (l_linenumber alone is not unique in this corpus,
    // so ties are broken by the remaining columns) and take row_number()==1
    // per key. Scale: one shuffle on the key; no driver-side state.
    Q("d1_dedup_first_wins",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .drop("l_partkey", "l_suppkey", "l_extendedprice")
        .filter(col("rn") === 1).drop("rn")
        .orderBy("l_orderkey")
    },

    // ── D2: full-row distinct (README.md:382-385) ──────────────────────────
    Q("d2_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ── U1: multi-source union then aggregate (main.py:471-498). Mirrors the
    // per-account fetch + concat; unionByName keeps it schema-safe.
    Q("u1_union_accounts",
      """SELECT event_type, count(*) AS n,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total FROM (
        |  SELECT * FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT * FROM events WHERE event_type = 'purchase'
        |) GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      ev.filter(col("event_type") === "click")
        .unionByName(ev.filter(col("event_type") === "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total"))
        .orderBy("event_type")
    },

    // ── V1: dynamic pivot (main.py:383-391,517-520). Key list pinned for
    // oracle parity; the dynamic two-pass variant (distinct keys collected
    // first) lives in operators.ActionsPivot. Scale: single shuffle on the
    // group key; pivot is a wide projection after the aggregate.
    Q("v1_pivot_events",
      """SELECT user_id,
        |  coalesce(round(sum(CASE WHEN event_type='click'    THEN CAST(round(value * 100) AS BIGINT) END) / 100.0, 2), 0) AS click,
        |  coalesce(round(sum(CASE WHEN event_type='error'    THEN CAST(round(value * 100) AS BIGINT) END) / 100.0, 2), 0) AS error,
        |  coalesce(round(sum(CASE WHEN event_type='purchase' THEN CAST(round(value * 100) AS BIGINT) END) / 100.0, 2), 0) AS purchase,
        |  coalesce(round(sum(CASE WHEN event_type='signup'   THEN CAST(round(value * 100) AS BIGINT) END) / 100.0, 2), 0) AS signup,
        |  coalesce(round(sum(CASE WHEN event_type='view'     THEN CAST(round(value * 100) AS BIGINT) END) / 100.0, 2), 0) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sumMoney(col("value")))
        .na.fill(0.0)
        .orderBy("user_id")
    },

    // ── V2: top-k-with-OTHER pivot guard — v1's dynamic pivot collects
    // the DISTINCT key set to the driver, which is only safe while the
    // key domain is column-dimension-bounded; v2 is the cap that makes it
    // safe on ANY domain: pivot columns = the top-3 event types by global
    // count (total order: count desc, then name), everything else folds
    // into 'other'. The collect is 3 rows BY CONSTRUCTION (the pivot-key
    // class with a guaranteed bound). The wide pivot then unpivots back to
    // long form so the oracle stays SF-general (pivot column NAMES are
    // data-dependent; a long-form compare is the v1/p9 pair's device).
    Q("v2_pivot_topk_other",
      """WITH cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |             FROM events GROUP BY 1),
        |top AS (SELECT event_type FROM cnt ORDER BY n DESC, event_type LIMIT 3),
        |mapped AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |                           '%Y-%m-%d') AS day,
        |             CASE WHEN event_type IN (SELECT event_type FROM top)
        |                  THEN event_type ELSE 'other' END AS bucket
        |           FROM events)
        |SELECT day, bucket, CAST(count(*) AS BIGINT) AS n
        |FROM mapped GROUP BY 1, 2 ORDER BY day, bucket""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      // BOUNDED driver collect (3 rows by construction — the pivot-key
      // class with a cap the data cannot exceed)
      val top = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type")).limit(3)
        .collect().map(_.getString(0)).toSeq
      // an event_type literally named 'other' must not yield a duplicate
      // pivot column (its rows and the folded tail are the same bucket)
      val buckets = (top :+ "other").distinct
      val mapped = ev.select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        when(col("event_type").isin(top: _*), col("event_type"))
          .otherwise("other").as("bucket"))
      val wide = mapped.groupBy("day").pivot("bucket", buckets).count()
      // unpivot back to long form (p9's device) so the compare is
      // SF-general; pivot NULLs (day × absent bucket) drop like the
      // oracle's missing GROUP BY combinations. The pivot columns are
      // rebound POSITIONALLY (toDF) before unpivoting — event types are
      // data, and a name holding a quote/backtick must never reach a
      // parsed SQL fragment
      val safe = wide.toDF("day" +: buckets.indices.map(i => s"b$i"): _*)
      safe.select(col("day"), explode(array(buckets.indices.map(i =>
          struct(lit(buckets(i)).as("bucket"), col(s"b$i").as("n"))): _*)).as("x"))
        .filter(col("x.n").isNotNull)
        .select(col("day"), col("x.bucket").as("bucket"),
          col("x.n").cast("long").as("n"))
        .orderBy("day", "bucket")
    },

    // ── P2/P6/P7: JSON flatten + cast (main.py:359-393; resp.json parse) ───
    Q("p2_flatten_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // ── P7: JSON parse + serialize round-trip (main.py:303, 229-233) ───────
    Q("p7_json_roundtrip",
      """SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS BIGINT)))
        |            AS VARCHAR) AS rt
        |FROM events ORDER BY k""".stripMargin) { (s, d) =>
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .select(col("k"), to_json(struct(col("k"))).as("rt"))
        .distinct()
        .orderBy("k")
    },

    // ── P3: guarded first-element extraction (backfill.py:126-133) ─────────
    Q("p3_extract_first",
      """SELECT doc_id,
        |       coalesce(regexp_split_to_array(trim(text), '\s+')[1], '') AS first_tok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select(col("doc_id"),
        coalesce(try_element_at(split(trim(col("text")), "\\s+"), lit(1)), lit("")).as("first_tok"))
        .orderBy("doc_id")
    },

    // ── P4: column-name normalization (main.py:384,390) ────────────────────
    Q("p4_normalize",
      """SELECT DISTINCT replace(p_type, ' ', '_') AS type_norm FROM part
        |ORDER BY type_norm""".stripMargin) { (s, d) =>
      part(s, d).select(regexp_replace(col("p_type"), " ", "_").as("type_norm"))
        .distinct().orderBy("type_norm")
    },

    // ── P5: composite key construction (main.py:506) ───────────────────────
    Q("p5_concat_key",
      """SELECT c_custkey, concat_ws('|', c_name, c_mktsegment) AS ckey
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("ckey"))
        .orderBy("c_custkey")
    },

    // ── F2: inclusive date-range filter (backfill.py:263-269) ──────────────
    Q("f2_date_range",
      """SELECT l_returnflag, count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    },

    // ── J1: broadcast join — part is the small build side; at 100 TB the dim
    // stays broadcastable while lineitem streams map-side (no shuffle).
    Q("j1_broadcast_join",
      """SELECT p_brand, count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin) { (s, d) =>
      lineitem(s, d).join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          round(sum(cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))) / 10000.0, 2).as("revenue"))
        .orderBy("p_brand")
    },

    // ── J2: shuffle join — both sides scale with SF, so hash-partition on the
    // join key and let AQE pick shuffle-hash vs sort-merge (+ skew split).
    Q("j2_shuffle_join",
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      lineitem(s, d).join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // ── J3: semi join (EXISTS) ─────────────────────────────────────────────
    Q("j3_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).join(
        orders(s, d).filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ── J4: anti join (NOT EXISTS) ─────────────────────────────────────────
    Q("j4_anti_join",
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },

    // ── J5: star join across 5 relations (flagship). Dims are broadcast;
    // only the lineitem⋈orders edge shuffles.
    Q("j5_star_join",
      """SELECT r_name, n_name, count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n"),
          round(sum(cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))) / 10000.0, 2).as("revenue"))
        .orderBy("r_name", "n_name")
    },

    // ── W1: running sum window. The frame order must be TOTAL down to exact
    // duplicates — (shipdate, orderkey, linenumber) collides at sf0.1, so
    // price and partkey join the ordering; remaining ties are full
    // duplicates whose outputs form the same multiset either way. The final
    // ORDER BY includes `running` so even those rows order identically.
    Q("w1_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_partkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS running
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, d).select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(cents(col("l_extendedprice"))).over(w) / 100.0, 2).as("running"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running")
    },

    // ── W2: top-N per group via rank ───────────────────────────────────────
    Q("w2_topn_per_group",
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d).select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn")
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // ── S1: global top-k with total tie-break. Scale: Spark turns
    // ORDER BY+LIMIT into TakeOrderedAndProject (per-partition heaps, no full
    // sort/shuffle of the data).
    Q("s1_topk_orders",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // ── AGG1: multi-aggregate incl. exact distinct ─────────────────────────
    Q("agg1_stats",
      """SELECT l_returnflag, count(*) AS n, count(DISTINCT l_partkey) AS n_parts,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(min(l_extendedprice), 2) AS min_price,
        |       round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), countDistinct(col("l_partkey")).as("n_parts"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy("l_returnflag")
    },

    // ── AGG2: rollup (subtotals + grand total) ─────────────────────────────
    Q("agg2_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n,
        |       round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      lineitem(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    },

    // ── E1: schema evolution (main.py:400-438): old batch lacks the new
    // metric column; merged read back-fills NULL. unionByName with
    // allowMissingColumns is the parquet-world equivalent of the reference's
    // BQ update_table append-NULLABLE-field flow.
    Q("e1_schema_evolution",
      """SELECT n_nationkey, n_name, CAST(NULL AS DOUBLE) AS new_metric FROM nation
        |UNION ALL SELECT n_nationkey + 100, n_name, 1.5 FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val n = nation(s, d)
      val oldBatch = n.select(col("n_nationkey"), col("n_name"))
      val newBatch = n.select((col("n_nationkey") + 100).as("n_nationkey"),
        col("n_name"), lit(1.5).as("new_metric"))
      oldBatch.unionByName(newBatch, allowMissingColumns = true)
        .orderBy("n_nationkey")
    },

    // ── AGG4: HLL sketch distinct — the approximate VALUE is engine-
    // specific (Spark HLL++ vs DuckDB's HLL differ per-run-of-algorithm,
    // not per-run-of-query), so it cannot be hash-compared directly.
    // Keys-exact oracle instead: the hashed result carries the group keys,
    // the exact companion distinct, and `approx_ok` — the ±5% accuracy
    // bound EVALUATED INSIDE THE ENGINE — which DuckDB asserts as literal
    // 1. The sketch aggregate stays in the plan (a wrong or drifting HLL
    // flips approx_ok to 0 and the driver hash mismatches), making the
    // accuracy bound itself oracle-gated, not just spec-gated. At 100 TB
    // the sketch replaces the exact distinct's full shuffle with
    // fixed-size mergeable state.
    Q("agg4_approx_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       1 AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // two-level agg instead of countDistinct + HLL in ONE agg: the
      // multi-distinct rewrite made the FIRST aggregate key on
      // (returnflag, partkey) while ALSO carrying the 410-word HLL buffer
      // PER PAIR — ~60k sketch buffers through the exchange. Deduping to
      // (flag, partkey) first (plain count buffers), then running exact
      // count + the HLL over the deduped rows, keeps sketch state at one
      // buffer per FLAG; the HLL is duplicate-insensitive so the estimate
      // is bit-identical.
      lineitem(s, d).select("l_returnflag", "l_partkey")
        .groupBy("l_returnflag", "l_partkey").agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("approx_parts") - col("exact_parts"))
            / col("exact_parts") <= 0.05, lit(1)).otherwise(lit(0))
            .as("approx_ok"))
        .orderBy("l_returnflag")
    },

    // ── AGG6: sketch-based quantiles (Greenwald-Khanna approx_percentile).
    // Same keys-exact oracle shape as agg4: the hashed result carries the
    // exact interpolated percentiles plus p50_ok/p90_ok — GK's rank-error
    // guarantee (±n/accuracy = ±0.001·n) checked in-engine against exact
    // quantiles at ±0.01 rank (10× the guaranteed error), asserted by the
    // oracle as literal 1. The GK value itself stays engine-specific and
    // spec-gated. At 100 TB the sketch merges map-side in fixed memory,
    // where exact percentiles must shuffle every value.
    Q("agg6_approx_quantiles",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS med_exact,
        |       round(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
        |       1 AS p50_ok, 1 AS p90_ok
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)")
          .as("qa"),
          expr("percentile(l_quantity, array(0.49, 0.5, 0.51, 0.89, 0.9, 0.91))")
            .as("qe"))
        .select(col("l_returnflag"),
          round(element_at(col("qe"), 2), 4).as("med_exact"),
          round(element_at(col("qe"), 5), 4).as("p90_exact"),
          when(element_at(col("qa"), 1)
            .between(element_at(col("qe"), 1), element_at(col("qe"), 3)), lit(1))
            .otherwise(lit(0)).as("p50_ok"),
          when(element_at(col("qa"), 2)
            .between(element_at(col("qe"), 4), element_at(col("qe"), 6)), lit(1))
            .otherwise(lit(0)).as("p90_ok"))
        .orderBy("l_returnflag")
    },

    // ── AGG7: mergeable-sketch incrementality (Datasketches HLL) — the
    // incremental-DISTINCT pattern mv1 can't reach with algebraic counts:
    // per-day sketches are built ONCE (at 100 TB: persisted with each
    // day's partition), and the corpus-wide distinct is re-estimated by
    // UNIONING stored sketches — no row re-scan, re-agg cost O(days), and
    // late-arriving days just union in. Oracle shape as agg4: day count +
    // exact companion distinct hash-checked, the sketch-union estimate
    // asserted in-engine to ±5% as a flag DuckDB expects as literal 1.
    Q("agg7_sketch_union",
      """SELECT count(DISTINCT CAST(l_shipdate AS DATE)) AS n_days,
        |       count(DISTINCT l_partkey) AS exact_parts, 1 AS union_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      val daily = lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      val merged = daily.agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      merged.crossJoin(exact)
        .select(col("n_days"), col("exact_parts"),
          when(abs(col("est") - col("exact_parts")) / col("exact_parts") <= 0.05,
            lit(1)).otherwise(lit(0)).as("union_ok"))
    },

    // ── GS1: GROUPING SETS with per-column grouping flags — the general
    // form agg2 (rollup) and agg3 (cube) are shorthands for; grouping()
    // flags disambiguate real NULLs from subtotal rows. Spark plans one
    // Expand + single aggregate. total rounds to 2dp: the addends are
    // 2-decimal prices, so every set's sum is a 2-decimal value (midpoint-
    // free at 2dp) and both engines land on it despite summation-order
    // drift across 15k rows.
    Q("gs1_grouping_sets",
      """SELECT strftime(date_trunc('year', o_orderdate), '%Y') AS yr,
        |       o_orderstatus AS st,
        |       CAST(grouping(strftime(date_trunc('year', o_orderdate), '%Y')) AS INT) AS g_yr,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_st,
        |       count(*) AS n,
        |       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((yr), (st), ())
        |ORDER BY g_yr, g_st, yr NULLS FIRST, st NULLS FIRST""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("gs1_orders")
      s.sql(
        """SELECT yr, st,
          |       CAST(grouping(yr) AS INT) AS g_yr, CAST(grouping(st) AS INT) AS g_st,
          |       count(*) AS n,
          |       round(sum(CAST(round(tp * 100) AS BIGINT)) / 100.0D, 2) AS total
          |FROM (SELECT date_format(o_orderdate, 'yyyy') AS yr,
          |             o_orderstatus AS st, o_totalprice AS tp FROM gs1_orders)
          |GROUP BY GROUPING SETS ((yr), (st), ())
          |ORDER BY g_yr, g_st, yr NULLS FIRST, st NULLS FIRST""".stripMargin)
    },

    // ── AGG5: exact interpolated percentiles (both engines use the R-7
    // linear-interpolation convention; rounded to absorb ulp drift) ────────
    Q("agg5_percentiles",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        |       round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("med_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("med_price"))
        .orderBy("l_returnflag")
    },

    // ── AGG3: cube — all grouping-set combinations ─────────────────────────
    Q("agg3_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      lineitem(s, d).cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(avg(col("l_discount")), 4).as("avg_disc"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("avg_disc"))
        .orderBy("rflag", "lstatus")
    },

    // ── W3: lag + moving average over a total frame order. The average runs
    // over exact integer cents: engines differ in sliding-window accumulator
    // arithmetic (ulp drift flips values sitting exactly on a .xx5 rounding
    // boundary), and integer sums are drift-free.
    Q("w3_moving_avg",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       round(coalesce(lag(o_totalprice) OVER w, 0), 2) AS prev_price,
        |       round(round(avg(CAST(round(o_totalprice * 100) AS BIGINT))
        |             OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 0) / 100.0, 2)
        |         AS moving_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0)), 2).as("prev_price"),
        round(round(avg(cents).over(w.rowsBetween(-2, Window.currentRow)), 0) / 100.0, 2)
          .as("moving_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ── J6: as-of join — for each event, the latest order of the same
    // customer at or before the event time. Composed from built-ins via the
    // union + last(ignoreNulls) window trick (SURVEY §7.3 preference (a)):
    // tag both streams, order by (time, orders-first, key), carry the last
    // order key forward. One shuffle on the join key — no range-join
    // explosion. Same formulation in DuckDB.
    Q("j6_asof_join", asOfSql) { (s, d) =>
      // runs on the CUSTOM physical operator (graft.plans.AsOfJoin:
      // LogicalPlan + Strategy + sorted-merge SparkPlan) — oracle-gated
      // here; AsOfJoinSpec proves it equal to the union+window formulation
      graft.plans.AsOfJoin(events(s, d), orders(s, d),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreak = Seq("o_orderkey"))
        .select(col("event_id"), col("o_orderkey").as("asof_okey"))
        .orderBy("event_id")
    },

    // ── J6b: the same as-of join composed from built-ins (union + carry-
    // forward window) — SURVEY §7.3 preference (a), kept oracle-checked as
    // the portable formulation.
    Q("j6b_asof_window", asOfSql) { (s, d) =>
      val o = orders(s, d).select(col("o_custkey").as("k"),
        col("o_orderdate").as("t"), col("o_orderkey").as("okey"),
        lit(null).cast("long").as("event_id"), lit(1).as("is_order"))
      val e = events(s, d).select(col("user_id").as("k"),
        col("ts").as("t"), lit(null).cast("long").as("okey"),
        col("event_id"), lit(0).as("is_order"))
      val w = Window.partitionBy("k")
        .orderBy(col("t"), col("is_order").desc, col("okey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.unionByName(e)
        .withColumn("asof_okey", last(col("okey"), ignoreNulls = true).over(w))
        .filter(col("is_order") === 0)
        .select(col("event_id"), col("asof_okey"))
        .orderBy("event_id")
    },

    // ── W4: rank-function family over one total order ──────────────────────
    Q("w4_rank_funcs",
      """SELECT o_orderkey,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       round(percent_rank() OVER w, 6) AS prnk,
        |       ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d).select(col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    },

    // ── F3: null construction + null-aware counting/equality ───────────────
    Q("f3_null_handling",
      """SELECT c_mktsegment,
        |       count(*) AS n_total,
        |       count(nullif(c_mktsegment, 'BUILDING')) AS n_not_building,
        |       count(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_negative,
        |       CAST(sum(CASE WHEN c_mktsegment IS NOT DISTINCT FROM 'BUILDING'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_building_nullsafe
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      customer(s, d).groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_total"),
          count(nullif(col("c_mktsegment"), lit("BUILDING"))).as("n_not_building"),
          count(when(col("c_acctbal") < 0, 1)).as("n_negative"),
          sum(when(col("c_mktsegment") <=> "BUILDING", 1).otherwise(0))
            .as("n_building_nullsafe"))
        .orderBy("c_mktsegment")
    },

    // ── S5: array-function surface (split → sort/distinct/slice/contains);
    // arrays are rendered via concat_ws so the compare stays scalar.
    Q("s5_array_funcs",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |       len(toks) AS n,
        |       len(list_distinct(toks)) AS n_distinct,
        |       array_to_string(list_sort(list_distinct(toks))[1:5], ' ') AS first5_sorted,
        |       CAST(list_contains(toks, 'spark') AS INT) AS has_spark
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          concat_ws(" ", slice(sort_array(array_distinct(col("toks"))), 1, 5))
            .as("first5_sorted"),
          array_contains(col("toks"), "spark").cast("int").as("has_spark"))
        .orderBy("doc_id")
    },

    // ── U2: multi-day union (backfill.py:212-230): day-sliced reads
    // concatenated then aggregated back per day.
    Q("u2_multi_day_union",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d, count(*) AS n FROM (
        |  SELECT ts FROM events WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-05'
        |  UNION ALL SELECT ts FROM events WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-06'
        |  UNION ALL SELECT ts FROM events WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-07'
        |) GROUP BY 1 ORDER BY d""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      def day(dt: String) =
        ev.filter(date_trunc("day", col("ts")) === lit(dt).cast("timestamp")).select("ts")
      day("2024-01-05").unionByName(day("2024-01-06")).unionByName(day("2024-01-07"))
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("d"))
        .agg(count(lit(1)).as("n"))
        .orderBy("d")
    },

    // ── SO1: intersect — customers active in both segments of the year ─────
    Q("so1_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val cut = lit("1998-01-01").cast("timestamp")
      o.filter(col("o_orderdate") < cut).select("o_custkey")
        .intersect(o.filter(col("o_orderdate") >= cut).select("o_custkey"))
        .orderBy("o_custkey")
    },

    // ── SO2: except — customers who never bought after the cutoff ──────────
    Q("so2_except",
      """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val cut = lit("1998-01-01").cast("timestamp")
      o.filter(col("o_orderdate") < cut).select("o_custkey")
        .except(o.filter(col("o_orderdate") >= cut).select("o_custkey"))
        .orderBy("o_custkey")
    },

    // ── J7: left outer join — every customer, matched or not ───────────────
    Q("j7_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       round(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) / 100.0, 2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(cents(col("o_totalprice"))), lit(0L)) / 100.0, 2).as("total"))
        .orderBy("c_custkey")
    },

    // ── J8: full outer join over two aggregate views ───────────────────────
    Q("j8_full_outer",
      """WITH ship AS (SELECT l_suppkey AS k, count(*) AS n_ship FROM lineitem GROUP BY 1),
        |acct AS (SELECT s_suppkey AS k, round(s_acctbal, 2) AS bal FROM supplier)
        |SELECT coalesce(ship.k, acct.k) AS k, coalesce(n_ship, 0) AS n_ship,
        |       coalesce(bal, 0) AS bal
        |FROM ship FULL OUTER JOIN acct ON ship.k = acct.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val ship = lineitem(s, d).groupBy(col("l_suppkey").as("k"))
        .agg(count(lit(1)).as("n_ship"))
      val acct = supplier(s, d).select(col("s_suppkey").as("k2"),
        round(col("s_acctbal"), 2).as("bal"))
      ship.join(acct, col("k") === col("k2"), "full_outer")
        .select(coalesce(col("k"), col("k2")).as("k"),
          coalesce(col("n_ship"), lit(0)).as("n_ship"),
          coalesce(col("bal"), lit(0)).as("bal"))
        .orderBy("k")
    },

    // ── S3: datetime-function surface (extract, trunc, diff, add) ──────────
    Q("s3_datetime_funcs",
      """SELECT o_orderkey,
        |       year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS dom,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |       date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
        |       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_2002"),
        date_format(col("o_orderdate") + expr("INTERVAL 90 DAYS"), "yyyy-MM-dd")
          .as("plus_90d"))
        .orderBy("o_orderkey")
    },

    // ── S4: math-function surface in one pass ──────────────────────────────
    Q("s4_math_funcs",
      """SELECT c_custkey,
        |       round(abs(c_acctbal), 2) AS abs_bal,
        |       CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
        |       CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
        |       CAST(sign(c_acctbal) AS DOUBLE) AS sgn,
        |       round(sqrt(abs(c_acctbal)), 4) AS sqrt_bal,
        |       round(ln(abs(c_acctbal) + 1), 4) AS ln_bal,
        |       round(pow(c_custkey % 10, 2), 1) AS sq_digit
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
        round(abs(col("c_acctbal")), 2).as("abs_bal"),
        ceil(col("c_acctbal")).cast("long").as("ceil_bal"),
        floor(col("c_acctbal")).cast("long").as("floor_bal"),
        signum(col("c_acctbal")).as("sgn"),
        round(sqrt(abs(col("c_acctbal"))), 4).as("sqrt_bal"),
        round(log(abs(col("c_acctbal")) + 1), 4).as("ln_bal"),
        round(pow(col("c_custkey") % 10, 2), 1).as("sq_digit"))
        .orderBy("c_custkey")
    },

    // ── S2: scalar string-function surface in one pass ─────────────────────
    Q("s2_string_funcs",
      """SELECT c_custkey,
        |       upper(c_mktsegment) AS seg_upper,
        |       substr(c_name, 1, 8) AS name_prefix,
        |       length(c_name) AS name_len,
        |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |       CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one,
        |       strpos(c_name, '#') AS hash_pos
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        when(col("c_name").like("%1%"), 1).otherwise(0).as("has_one"),
        instr(col("c_name"), "#").as("hash_pos"))
        .orderBy("c_custkey")
    },

    // ── SQ1: scalar subquery — customers above the global average balance.
    // The 1-row aggregate broadcasts; the comparison is a map-side filter.
    Q("sq1_scalar_subquery",
      """SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val avgDf = customer(s, d).agg(avg(col("c_acctbal")).as("ab"))
      customer(s, d).join(broadcast(avgDf), col("c_acctbal") > col("ab"))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    },

    // ── SQ2: CORRELATED scalar subquery through the SQL path — exercises
    // Catalyst's decorrelation rewrite (subquery → left join on the
    // correlation key). Identical SQL text runs on both engines.
    Q("sq2_correlated_scalar",
      """SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT 50 * c_acctbal FROM customer c
        |                      WHERE c.c_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("orders")
      customer(s, d).createOrReplaceTempView("customer")
      s.sql(
        """SELECT o_orderkey FROM orders o
          |WHERE o_totalprice > (SELECT 50 * c_acctbal FROM customer c
          |                      WHERE c.c_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ── P8: higher-order array functions — transform / aggregate(fold) /
    // filter / array_max over per-document token lengths, all inside
    // whole-stage codegen (no UDFs). Elements are cast to BIGINT before
    // the fold on BOTH sides (lambda arithmetic keeps the element type).
    Q("p8_higher_order",
      """WITH t AS (SELECT doc_id,
        |             list_transform(regexp_split_to_array(trim(text), '\s+'),
        |                            x -> CAST(length(x) AS BIGINT)) AS lens
        |           FROM documents)
        |SELECT doc_id,
        |       list_reduce(lens, (a, x) -> a + x) AS total_len,
        |       CAST(len(list_filter(lens, x -> x > 5)) AS INT) AS n_long,
        |       CAST(list_aggregate(lens, 'max') AS BIGINT) AS max_len
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          expr("transform(split(trim(text), '\\\\s+'), x -> CAST(length(x) AS BIGINT))")
            .as("lens"))
        .select(col("doc_id"),
          expr("aggregate(lens, 0L, (a, x) -> a + x)").as("total_len"),
          size(expr("filter(lens, x -> x > 5)")).as("n_long"),
          array_max(col("lens")).as("max_len"))
        .orderBy("doc_id")
    },

    // ── P9: UNPIVOT (wide → long) — the inverse of V1's dynamic pivot,
    // completing the reshape family: Spark's native Dataset.unpivot (an
    // Expand node — one pass, no join or union explosion) against DuckDB's
    // UNPIVOT. 2-decimal sums round midpoint-free on both engines.
    Q("p9_unpivot",
      """SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag,
        |         round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS qty,
        |         round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS price
        |  FROM lineitem GROUP BY 1)
        |UNPIVOT (value FOR metric IN (qty, price))
        |ORDER BY l_returnflag, metric""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(sumMoney(col("l_quantity")).as("qty"),
          sumMoney(col("l_extendedprice")).as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    },

    // ── W5: RANGE frame with a time interval — trailing-30-day revenue per
    // customer. Spark ranges over epoch seconds (cast), DuckDB over the
    // INTERVAL frame: same inclusive window; the frame is defined by the
    // ORDER-BY VALUE, so tie rows share one deterministic sum.
    Q("w5_range_frame",
      """SELECT o_orderkey,
        |       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) / 100.0, 2)
        |         AS trailing30
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      orders(s, d).select(col("o_orderkey"),
        round(sum(cents(col("o_totalprice"))).over(w) / 100.0, 2).as("trailing30"))
        .orderBy("o_orderkey")
    },

    // ── J9: salted skew join (graft.operators.SkewJoin), oracle-gated: the
    // salt spreads each hot key over `salts` reducers, and the aggregated
    // result is provably identical to the plain equi-join the oracle runs.
    Q("j9_skew_salted",
      """SELECT c_mktsegment AS seg, count(*) AS n,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY seg""".stripMargin) { (s, d) =>
      val big = events(s, d).select(col("user_id"), col("value"))
      val small = customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedEquiJoin(big, small, "user_id", salts = 8)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total"))
        .orderBy("seg")
    },

    // ── J10: interval (range) join via the binned equi-join rewrite
    // (graft.operators.RangeJoin): lineitems shipping inside the 60-day
    // window after their order date. The bin quantization turns the BETWEEN
    // theta predicate into an equi-join on (key, bin) + residual filter —
    // no nested loop (plan-asserted).
    Q("j10_range_join",
      """SELECT l.l_orderkey, l.l_linenumber,
        |       CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS lag_days
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
        |ORDER BY l_orderkey, l_linenumber, lag_days""".stripMargin) { (s, d) =>
      val left = lineitem(s, d)
        .select(col("l_orderkey").as("k"), col("l_linenumber"), col("l_shipdate"))
      val right = orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderdate"))
        .withColumn("o_end", col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      graft.operators.RangeJoin.binned(left, right,
        leftTime = "l_shipdate", rightStart = "o_orderdate", rightEnd = "o_end",
        keys = Seq("k"), binSeconds = 60L * 86400)
        .select(col("k").as("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .as("lag_days"))
        .orderBy("l_orderkey", "l_linenumber", "lag_days")
    },

    // ── J12: INTERVAL-OVERLAP join (two-sided range join) — per-order
    // 7-day activity windows against the j11-style nation maintenance
    // windows (14 days each). RangeJoin.intervalOverlap: both sides
    // explode to 7-day bins, equi-join on bin, exact overlap as residual
    // filter, and each pair counted ONCE via the canonical
    // bin-of-overlap-start predicate — dedup is a per-row filter, never a
    // distinct over the join output. The oracle is the naive theta join.
    Q("j12_interval_overlap",
      """SELECT o.o_orderkey, n.n_nationkey
        |FROM orders o JOIN nation n
        |  ON o.o_orderdate < TIMESTAMP '1995-01-01' + (n.n_nationkey * 30 + 14) * INTERVAL 1 DAY
        | AND TIMESTAMP '1995-01-01' + n.n_nationkey * 30 * INTERVAL 1 DAY
        |     < o.o_orderdate + INTERVAL 7 DAY
        |ORDER BY o_orderkey, n_nationkey""".stripMargin) { (s, d) =>
      val a = orders(s, d).select(col("o_orderkey"),
        col("o_orderdate").as("a_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("a_end"))
      val b = nation(s, d).select(col("n_nationkey"),
        expr("TIMESTAMP '1995-01-01' + make_dt_interval(n_nationkey * 30)")
          .as("b_start"),
        expr("TIMESTAMP '1995-01-01' + make_dt_interval(n_nationkey * 30 + 14)")
          .as("b_end"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
          aStart = "a_start", aEnd = "a_end", bStart = "b_start", bEnd = "b_end",
          binSeconds = 7L * 86400)
        .select(col("o_orderkey"), col("n_nationkey"))
        .orderBy("o_orderkey", "n_nationkey")
    },

    // ── TQ5: TPC-H Q5-shaped six-table composite (local-supplier volume):
    // two fact-fact shuffle joins on their natural keys, broadcast
    // nation/region dims, region filter pushed below everything. Money
    // arithmetic is EXACT integer cents (price·(100−disc) as BIGINT), so
    // nation-level sums are deterministic at ANY group size — the general
    // fix for float-sum association drift that per-group rounding can't
    // give on large groups.
    Q("tq5_local_supplier_volume",
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |              CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c
        |            FROM lineitem)
        |SELECT n_name, round(sum(rev_c) / 10000.0, 2) AS revenue
        |FROM customer, orders, li, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_c"))
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val c = customer(s, d).select("c_custkey", "c_nationkey")
      val su = supplier(s, d).select("s_suppkey", "s_nationkey")
      val n = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val r = region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("rev_c")) / 10000.0, 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ── TQ18: large-volume-order lookup (TPC-H Q18's shape) — which
    // customers placed orders whose TOTAL line quantity tops 250? The
    // decorrelation lesson: the literal form is a correlated IN-subquery
    // per order; the scale form runs the HAVING as a map-side-combinable
    // keyed agg over lineitem ALONE (one narrow (orderkey, qty) scan, no
    // join upstream), and only the ~1% survivors ever join orders and
    // customer — at 100 TB the filter kills 99% of the fact table before
    // the first join byte moves. Quantities are exact integers
    // (cast(round) — the corpus stores integral quantities as doubles);
    // o_totalprice rides the cents contract; the top-100 is
    // TakeOrderedAndProject on the (total_cents desc, o_orderkey) total
    // order — K·P rows cross the wire, never a global sort.
    Q("tq18_big_orders",
      """WITH q AS (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |           FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)
        |SELECT c.c_name, o.o_custkey, o.o_orderkey,
        |       strftime(date_trunc('day', o.o_orderdate), '%Y-%m-%d') AS order_day,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |       q.sum_qty
        |FROM q JOIN orders o ON q.l_orderkey = o.o_orderkey
        |       JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_cents DESC, o.o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      val q = lineitem(s, d)
        .select(col("l_orderkey"),
          expr("cast(round(l_quantity) as bigint)").as("qty"))
        .groupBy("l_orderkey").agg(sum("qty").cast("long").as("sum_qty"))
        .filter(col("sum_qty") > 250L)
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        date_format(date_trunc("day", col("o_orderdate")), fmtD).as("order_day"),
        cents(col("o_totalprice")).as("total_cents"))
      val c = customer(s, d).select("c_custkey", "c_name")
      q.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
          col("order_day"), col("total_cents"), col("sum_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(100)
    },

    // ── TQ21: suppliers who kept orders waiting (TPC-H Q21's shape on
    // this schema: "late" = shipped > 1000 days after the order date,
    // this corpus's p90 lag) — for each supplier, how many multi-supplier
    // orders was it the ONLY late supplier of? The decorrelation
    // showcase: the literal form is EXISTS (another supplier in the
    // order) AND NOT EXISTS (another LATE supplier) — two extra
    // lineitem self-joins, three fact shuffles. The aggregate form does
    // ONE fact-fact join (lineitem⋈orders, both sides column-pruned) and
    // ONE keyed agg per order — n_supp = count(distinct supplier),
    // n_late = count(distinct late supplier), and when n_late = 1 the
    // offender IS max(late supplier) — then a supplier-keyed rollup.
    // The two-distinct agg expands 2× (bounded); supplier broadcasts;
    // the top-100 is TakeOrdered on the (numwait desc, s_name) total
    // order (s_name is unique).
    Q("tq21_late_supplier",
      """WITH j AS (SELECT l.l_orderkey, l.l_suppkey,
        |             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 1000 DAY
        |                  THEN 1 ELSE 0 END AS late
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |po AS (SELECT l_orderkey,
        |         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |         CAST(count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS BIGINT) AS n_late,
        |         max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        |       FROM j GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM po JOIN supplier s ON po.late_supp = s.s_suppkey
        |WHERE po.n_supp >= 2 AND po.n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin) { (s, d) =>
      val j = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          when(col("l_shipdate") > col("o_orderdate")
            + expr("INTERVAL 1000 DAYS"), 1).otherwise(0).as("late"))
      // aggregate BEFORE the distinct-shuffle: collapsing to (order,
      // supplier) grain first (late = "any line late") turns the two
      // countDistincts into plain count/sum — no Expand (the former plan
      // tripled every joined row through the multi-distinct Expand), and
      // both aggs get map-side partials
      val po = j.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).cast("long").as("n_supp"),
          sum(col("late")).cast("long").as("n_late"),
          max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
      // group and order on the KEY, not the name: supplier names are not
      // unique (replicated corpora repeat them across key ranges), so a
      // name-grained rollup would silently merge distinct suppliers and a
      // name tie-break is not a total order — (numwait desc, s_suppkey) is
      po.filter(col("n_supp") >= 2L && col("n_late") === 1L)
        .groupBy("late_supp")
        .agg(count(lit(1)).cast("long").as("numwait"))
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
          col("late_supp") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(100)
    },

    // ── TQ17: small-quantity-order revenue (TPC-H Q17's shape) — revenue
    // locked in lineitems whose quantity is below 20% of THEIR PART's
    // average quantity. The decorrelation lesson, Spark-first: the
    // correlated per-part average subquery is a WINDOW aggregate — one
    // partkey-keyed shuffle, ONE lineitem scan (spec-asserted), no second
    // scan and no fact⋈group-table join (the per-part table at 100 TB is
    // fact-sized/30 — too big to broadcast, so the join form shuffles the
    // fact anyway AND scans it twice). The 20% comparison is EXACT
    // integer: qty < avg/5 ⟺ qty·5·cnt_p < sum_p on positive integers —
    // no rational ever materializes. Revenue is exact cents; the yearly
    // average divides by 7 (Q17's constant) in integer cents.
    Q("tq17_small_qty_revenue",
      """WITH w AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(sum(CAST(round(l_quantity) AS BIGINT))
        |               OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_p,
        |             CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS cnt_p
        |           FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS rev_cents,
        |       CAST(coalesce(sum(cents), 0) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM w WHERE qty * 5 * cnt_p < sum_p""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      lineitem(s, d)
        .select(col("l_partkey"),
          expr("cast(round(l_quantity) as bigint)").as("qty"),
          cents(col("l_extendedprice")).as("cents"))
        .withColumn("sum_p", sum("qty").over(w).cast("long"))
        .withColumn("cnt_p", count(lit(1)).over(w).cast("long"))
        .filter(col("qty") * 5L * col("cnt_p") < col("sum_p"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum("cents"), lit(0L)).cast("long").as("rev_cents"))
        .select(col("n_rows"), col("rev_cents"),
          expr("rev_cents div 7").as("avg_yearly_cents"))
    },

    // ── MV1: incremental materialized-view refresh — the daily revenue
    // rollup computed as COMBINE(partial over 90% "history", partial over
    // the 10% "delta") via graft.operators.IncrementalAgg; the oracle is
    // the full recompute. Proves the partial-reaggregation math the daily
    // pipeline relies on: refresh cost O(|MV| + |delta|), never a rescan.
    // the addends are exact 4-decimal products carried as INTEGER
    // hundredths-of-cents (the tq5/j1 contract), so partial ⊕ partial ==
    // full recompute EXACTLY — the mergeability the incremental refresh
    // rests on holds in integer arithmetic at any group size
    Q("mv1_incremental_rollup",
      """SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d') AS day,
        |       count(*) AS n,
        |       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 4) AS rev
        |FROM lineitem GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
        .select(date_format(date_trunc("day", col("l_shipdate")), "yyyy-MM-dd").as("day"),
          col("l_orderkey"),
          (cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))).as("rev_c"))
      def partial(df: DataFrame) =
        df.groupBy("day").agg(count(lit(1)).as("n"), sum(col("rev_c")).as("rev_p"))
      val history = partial(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = partial(li.filter(col("l_orderkey") % 10 === 0))
      graft.operators.IncrementalAgg
        .combine(history, delta, Seq("day"), sumCols = Seq("n", "rev_p"))
        .select(col("day"), col("n"), round(col("rev_p") / 10000.0, 4).as("rev"))
        .orderBy("day")
    },

    // ── MV2: incremental JOIN-view maintenance — the delta rule
    // Δ(A⋈B) = A⋈ΔB when only B changed, demonstrated on the
    // per-customer revenue view over lineitem⋈orders: the latest order
    // day is "today's delta", history is the base. The base side pays
    // the one honest fact-fact keyed shuffle; the DELTA side joins by
    // broadcast (a day's orders vs full history — the whole point of
    // incremental refresh), and the two partial views merge by
    // re-aggregation at customer grain (exact 4dp integer revenue, the
    // tq5/j1 contract, so partial ⊕ partial == full recompute EXACTLY).
    // The oracle IS the full recompute — equality is the correctness of
    // the delta rule itself. Refresh cost at 100 TB: broadcast probe +
    // |view| merge; never a second history shuffle.
    Q("mv2_join_delta",
      """WITH mx AS (SELECT max(o_orderdate) AS d0 FROM orders)
        |SELECT o.o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_c4
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        (expr("cast(round(l_extendedprice * 100) as bigint)")
          * (lit(100L) - expr("cast(round(l_discount * 100) as bigint)"))).as("r4"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val mx = o.agg(max("o_orderdate").as("d0"))
      // base view: history (all but the delta day) — the keyed fact-fact
      // join an incremental pipeline computed YESTERDAY and persisted
      val base = li.join(o.crossJoin(broadcast(mx))
          .filter(col("o_orderdate") < col("d0"))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("r4").cast("decimal(38,0)")).as("rev"))
      // delta view: today's order slice joins BROADCAST — the fact side
      // probes a day-sized build, no second history shuffle
      val delta = li.join(broadcast(o.crossJoin(broadcast(mx))
          .filter(col("o_orderdate") === col("d0"))
          .select("o_orderkey", "o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("r4").cast("decimal(38,0)")).as("rev"))
      base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum("n_lines").cast("long").as("n_lines"),
          sum("rev").cast("long").as("rev_c4"))
        .select(col("o_custkey").as("custkey"), col("n_lines"), col("rev_c4"))
        .orderBy("custkey")
    },

    // ── AD1: anomaly flagging on the daily event rollup — trailing-7-day
    // mean/stddev (current day excluded), 3σ exceedance flag: the
    // monitoring health-check (reference A4) upgraded from fixed
    // thresholds to adaptive ones. One global 30-row window here; at scale
    // the window partitions by metric/entity.
    Q("ad1_anomaly_days",
      """WITH d AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |                  count(*) AS n FROM events GROUP BY 1),
        |w AS (SELECT day, n,
        |        round(avg(n) OVER t, 4) AS avg7,
        |        round(stddev_samp(n) OVER t, 4) AS sd7
        |      FROM d WINDOW t AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, n, avg7, sd7,
        |       CAST(sd7 IS NOT NULL AND n > avg7 + 3 * sd7 AS INT) AS anomaly
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val dc = events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val t = Window.orderBy("day").rowsBetween(-7, -1)
      dc.withColumn("avg7", round(avg(col("n")).over(t), 4))
        .withColumn("sd7", round(stddev_samp(col("n")).over(t), 4))
        .withColumn("anomaly",
          (col("sd7").isNotNull && col("n") > col("avg7") + col("sd7") * 3).cast("int"))
        .orderBy("day")
    },

    // ── Z1: Morton (Z-order) clustering key (graft.operators.Layout) —
    // the key both engines compute bit-identically (LayoutSpec asserts
    // the Morton order). Pure codegen'd bit arithmetic.
    Q("z1_zorder_key", {
      val z = graft.operators.Layout.zorderOracleExpr(
        "(l_partkey % 256)", "(l_suppkey % 256)", bits = 8)
      s"""SELECT l_orderkey, l_linenumber, CAST($z AS BIGINT) AS zkey
         |FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
    }) { (s, d) =>
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zorderKey(
          col("l_partkey") % 256, col("l_suppkey") % 256, bits = 8).as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber")
    },

    // ── FN1: funnel analysis — ordered-stage conversion (first view →
    // click within 6h → purchase within 6h of that click). Three keyed
    // min-aggregations chained by equi-joins on user_id — every stage
    // shuffles on the same key, so at scale the chain co-partitions and
    // AQE collapses the exchanges. Stage labels carry a v1/v2/v3 prefix so
    // ORDER BY stage is total even when counts tie.
    Q("fn1_funnel",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS tv FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS tc FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.tv
        |        AND e.ts <= v.tv + INTERVAL 6 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS tp FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.tc
        |        AND e.ts <= c.tc + INTERVAL 6 HOUR GROUP BY 1)
        |SELECT 'v1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT 'v2_click', count(*) FROM c
        |UNION ALL SELECT 'v3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val e = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("tv"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("tv") &&
          col("ts") <= col("tv") + expr("INTERVAL 6 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("tc"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("tc") &&
          col("ts") <= col("tc") + expr("INTERVAL 6 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("tp"))
      def stage(df: DataFrame, label: String) =
        df.agg(count(lit(1)).as("n_users")).select(lit(label).as("stage"), col("n_users"))
      stage(v, "v1_view").unionByName(stage(c, "v2_click"))
        .unionByName(stage(p, "v3_purchase")).orderBy("stage")
    },

    // ── J11: the SAME interval-join shape written as the NATURAL theta
    // join — no manual binning, no equi key. graft.plans.RangeJoinRewrite
    // (injected via GraftExtensions) rewrites it to the binned equi-join
    // automatically; without the rule this plans as a nested-loop cartesian.
    // Rewrite-fires and no-nested-loop are plan-asserted in its spec.
    Q("j11_range_join_auto",
      """SELECT l.l_orderkey, l.l_linenumber, n.n_nationkey
        |FROM lineitem l JOIN nation n
        |  ON l.l_shipdate >= TIMESTAMP '1995-01-01' + n.n_nationkey * INTERVAL 30 DAY
        | AND l.l_shipdate <  TIMESTAMP '1995-01-01' + n.n_nationkey * INTERVAL 30 DAY + INTERVAL 7 DAY
        |WHERE l.l_quantity = 1
        |ORDER BY l_orderkey, l_linenumber, n_nationkey""".stripMargin) { (s, d) =>
      val pts = lineitem(s, d).filter(col("l_quantity") === 1.0)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
      val ivals = nation(s, d).select(col("n_nationkey"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          col("n_nationkey") * 30)).as("w_start"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          col("n_nationkey") * 30 + 7)).as("w_end"))
      pts.join(ivals,
          col("l_shipdate") >= col("w_start") && col("l_shipdate") < col("w_end"))
        .select("l_orderkey", "l_linenumber", "n_nationkey")
        .orderBy("l_orderkey", "l_linenumber", "n_nationkey")
    },

    // ── TQ3: TPC-H Q3-shaped composite — shipping-priority revenue: filter
    // both fact sides early, broadcast the filtered customer dim, aggregate
    // revenue per order, top-10. The plan this should (and does) produce:
    // pushed filters on both scans, one broadcast join, one shuffle join on
    // orderkey, partial agg, TakeOrderedAndProject.
    Q("tq3_shipping_priority",
      """SELECT l.l_orderkey,
        |       round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS odate
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = orders(s, d)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = lineitem(s, d)
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), fmtD).as("odate"))
        .agg(round(sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))) / 10000.0, 2).as("revenue"))
        .select("l_orderkey", "revenue", "odate")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ── CD1: daily new customers + cumulative distinct customers — the
    // growth-accounting curve ("how many distinct customers ever, by
    // acquisition day"), which a naive per-day count(DISTINCT) gets wrong
    // (it counts actives, not news) and a running distinct over the raw
    // stream cannot do without per-day state. Anchored on orders/o_custkey
    // (a 562-day arrival curve on this corpus; the events table's 150
    // users all arrive within 2 days — degenerate, the tq11 lesson).
    // First-order day per customer is ONE keyed agg; new-customer counts
    // and the running total live on the |days| table (bounded window,
    // ks1's contract).
    Q("cd1_cumulative_distinct",
      """WITH f AS (SELECT o_custkey,
        |             min(strftime(date_trunc('day', CAST(o_orderdate AS TIMESTAMP)),
        |                          '%Y-%m-%d')) AS day
        |           FROM orders GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_customers
        |FROM d ORDER BY day""".stripMargin) { (s, d) =>
      val f = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(min(date_format(date_trunc("day", col("o_orderdate")), "yyyy-MM-dd"))
          .as("day"))
      val dd = f.groupBy("day").agg(count(lit(1)).cast("long").as("n_new"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dd.withColumn("cum_customers", sum("n_new").over(w).cast("long"))
        .orderBy("day")
    },

    // ── PT1: top user journeys — each user's first three event types in
    // time order, counted: mk1's one-step transitions generalized to the
    // 3-step paths product analytics reads ("view > click > purchase" vs
    // "view > view > view"). The rank window is KEYED per user (w2's
    // class — scale-safe at any user count); ties on ts break by
    // event_id (total order); the path table is bounded by
    // |event_type|³. concat_ws skips the NULLs of shorter journeys
    // identically on both engines; top-20 under (n_users desc, path).
    Q("pt1_top_paths",
      """WITH r AS (SELECT user_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
        |           FROM events),
        |p AS (SELECT user_id,
        |        concat_ws('>', max(CASE WHEN rk = 1 THEN event_type END),
        |                       max(CASE WHEN rk = 2 THEN event_type END),
        |                       max(CASE WHEN rk = 3 THEN event_type END)) AS path
        |      FROM r WHERE rk <= 3 GROUP BY 1)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
      r.groupBy("user_id")
        .agg(concat_ws(">",
          max(when(col("rk") === 1, col("event_type"))),
          max(when(col("rk") === 2, col("event_type"))),
          max(when(col("rk") === 3, col("event_type")))).as("path"))
        .groupBy("path").agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(20)
    },

    // ── RP1: range-split planner — the balanced repartitionByRange
    // boundaries, computed IN-PLAN: Spark's range partitioner samples to
    // the DRIVER and is boundary-nondeterministic run to run; rp1 derives
    // 16 splits on l_orderkey from a DETERMINISTIC 2% md5 sample (sp1's
    // device, pinned in the oracle), ranks the sampled keys with
    // GlobalIds (range-repartition + O(P) prefix sum — no single-
    // partition sort), picks boundary j at sample rank (j·n) div 16
    // against a 1-row broadcast, and then measures ACHIEVED balance with
    // one fact scan against the 16-row broadcast interval table — the
    // report that tells you whether these splits would spill before you
    // launch the real job. share in ppm; an empty split keeps its row
    // with n_rows = 0 (intervals LEFT JOIN counts).
    Q("rp1_range_splits", {
      val bucket = (c: String) =>
        s"(strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 4096" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 2, 1)) - 1) * 256" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 3, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), 4, 1)) - 1)"
      s"""WITH samp AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
         |              WHERE ${bucket("l_orderkey")} < 1310),
         |rk AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS r FROM samp),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM samp),
         |b AS (SELECT j.range AS j, rk.k
         |      FROM range(1, 16) j JOIN n ON true
         |      JOIN rk ON rk.r = (j.range * n.n) // 16),
         |iv AS (SELECT j, k AS lo, lead(k) OVER (ORDER BY j) AS hi FROM b),
         |iv0 AS (SELECT CAST(0 AS BIGINT) AS split_no, CAST(NULL AS BIGINT) AS lo,
         |               (SELECT min(k) FROM b WHERE j = 1) AS hi
         |        UNION ALL SELECT j, lo, hi FROM iv),
         |cts AS (SELECT i.split_no, CAST(count(l.l_orderkey) AS BIGINT) AS n_rows
         |        FROM iv0 i LEFT JOIN lineitem l
         |          ON (i.lo IS NULL OR l.l_orderkey >= i.lo)
         |         AND (i.hi IS NULL OR l.l_orderkey < i.hi)
         |        GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM lineitem)
         |SELECT i.split_no, i.lo, i.hi, c.n_rows,
         |       CASE WHEN tot.nt = 0 THEN NULL
         |            ELSE CAST((CAST(c.n_rows AS HUGEINT) * 1000000) // tot.nt AS BIGINT) END AS share_ppm
         |FROM iv0 i JOIN cts c USING (split_no) CROSS JOIN tot
         |ORDER BY split_no""".stripMargin
    }) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val samp = Sampling.uniform(li.select(col("l_orderkey").as("k")),
        col("k"), 0.02).distinct()
      val ranked = GlobalIds.withGlobalId(samp, "r", col("k"))
      val n = samp.agg(count(lit(1)).cast("long").as("n"))
      val js = s.range(1, 16).select(col("id").as("j"))
      val b = ranked.crossJoin(broadcast(n))
        .join(broadcast(js), col("r") === expr("(j * n) div 16"))
        .select(col("j"), col("k"))
      val wj = Window.orderBy("j")
      val iv = b.withColumn("hi", lead("k", 1).over(wj))
        .select(col("j").as("split_no"), col("k").as("lo"), col("hi"))
      val first = b.agg(min(when(col("j") === 1, col("k"))).as("hi"))
        .select(lit(0L).as("split_no"), lit(null).cast("long").as("lo"), col("hi"))
      val iv0 = first.unionByName(iv)
      // INNER fact⋈broadcast(intervals), empties restored by a 16×16 left
      // join AFTER the aggregate: a LEFT join FROM the 16-row side would
      // force Spark to broadcast the FACT (the build side of a left-outer
      // BNLJ is the right side) — a 4 GiB broadcast at sf10, caught by the
      // scale bench
      val hits = li.select(col("l_orderkey"))
        .join(broadcast(iv0),
          (col("lo").isNull || col("l_orderkey") >= col("lo"))
            && (col("hi").isNull || col("l_orderkey") < col("hi")))
        .groupBy("split_no")
        .agg(count(lit(1)).cast("long").as("n_rows"))
      val cts = iv0.join(hits, Seq("split_no"), "left")
        .select(col("split_no"), col("lo"), col("hi"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      val tot = li.agg(count(lit(1)).cast("long").as("nt"))
      cts.crossJoin(broadcast(tot))
        .select(col("split_no"), col("lo"), col("hi"), col("n_rows"),
          when(col("nt") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast((cast(n_rows as decimal(38,0)) * 1000000) div nt as bigint)"))
            .as("share_ppm"))
        .orderBy("split_no")
    },

    // ── S6: bounded ordered LISTAGG — the string_agg/LISTAGG surface done
    // scale-safely: the 10 alphabetically-first supplier names per nation,
    // ranked in a KEYED window FIRST (w2's class) so the collect_list that
    // follows holds ≤ 10 elements per group BY CONSTRUCTION (a bare
    // collect_list caps state only by luck); the list sorts before
    // concatenation so the string is order-deterministic whatever the
    // merge order.
    Q("s6_ordered_listagg",
      """WITH r AS (SELECT s_nationkey, s_name,
        |             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_name, s_suppkey) AS rk
        |           FROM supplier)
        |SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(s_name, ',' ORDER BY s_name) AS names_csv
        |FROM r WHERE rk <= 10 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val wr = Window.partitionBy("s_nationkey")
        .orderBy(col("s_name"), col("s_suppkey"))
      Tables.supplier(s, d)
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= 10)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          concat_ws(",", array_sort(collect_list(col("s_name")))).as("names_csv"))
        .orderBy("nationkey")
    }
  )
}
