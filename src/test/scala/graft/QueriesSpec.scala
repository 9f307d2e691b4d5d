package graft

/** Smoke: every declared query executes at sf0.001 and oracle coverage is
  * complete. Value-level correctness is the DuckDB oracle gate
  * (tools/check_oracle.py at sf0.01) — this spec guards executability and
  * the queries↔oracle contract shape.
  */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every query executes and the flagship entry returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle (or is explicitly unchecked)") {
    // every query is oracle-checked (`Q.oracle` is not optional) — the
    // approximate operators (agg4/agg6/sim3/dd5b) emit in-engine-verified
    // accuracy/recall bounds the oracle asserts as literal flags
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // the query set is pinned: a dropped or duplicated name fails here
    // (SparkEntry itself refuses a duplicate name)
    assert(SparkEntry.queries.size == 272)
    assert(SparkEntry.oracleSql.size == 272)
  }

  test("GK approx quantiles sit within ±0.01-rank exact bounds (p50_ok/p90_ok)") {
    // the bound is computed in-engine and oracle-gated at sf0.01; this
    // re-asserts it at sf0.001 (smaller groups → relatively larger GK error)
    val rows = SparkEntry.queries("agg6_approx_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(3) == 1, s"p50 outside rank bounds: $r")
      assert(r.getInt(4) == 1, s"p90 outside rank bounds: $r")
    }
    // and the exact companions agree with agg5's independent computation
    val agg5 = SparkEntry.queries("agg5_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (p50e, p90e) = agg5(r.getString(0))
      assert(r.getDouble(1) == p50e && r.getDouble(2) == p90e, s"exact drift: $r")
    }
  }

  test("HLL approx distinct is within 5% of exact (raw values)") {
    // approx_ok is oracle-gated; this asserts the raw sketch value directly
    val rows = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.approx_count_distinct(
        org.apache.spark.sql.functions.col("l_partkey"), 0.02).as("a"),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col("l_partkey")).as("e"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx $approx vs exact $exact")
    }
    // and the query's in-engine flag agrees
    SparkEntry.queries("agg4_approx_distinct")(spark, sf).collect()
      .foreach(r => assert(r.getInt(2) == 1, s"approx_ok=0: $r"))
  }
}
