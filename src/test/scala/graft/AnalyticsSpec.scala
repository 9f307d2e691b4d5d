package graft

import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** gr2's fan-out cap (GraphQueries.coPurchaseEdges): the guard bounds
  * the (suppliers-per-order)² pairing join without changing results on a
  * corpus whose orders sit under the cap — and it genuinely drops hot
  * orders when one exceeds it (so the guard is real, not vacuous).
  * Same contract as the shingle caps (TextQueries.capShingleDf).
  */
class AnalyticsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("gr2 edge build: cap 25 changes nothing on the test corpus (max fan-out sits under it)") {
    val li = Tables.lineitem(spark, sf)
    val base = li.filter(col("l_quantity") >= 40)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    val maxFanout = base.groupBy("o").count().agg(max("count")).head().getLong(0)
    assert(maxFanout <= 25, s"corpus fan-out $maxFanout exceeds the pinned cap — oracle semantics diverge")
    val capped = GraphQueries.coPurchaseEdges(li, "l_suppkey", Some(40), Some(25))
    val exact = GraphQueries.coPurchaseEdges(li, "l_suppkey", Some(40), None)
    assert(capped.exceptAll(exact).isEmpty && exact.exceptAll(capped).isEmpty,
      "capped edges differ from exact below the cap")
  }

  test("gr2 edge build: a hot order above the cap is dropped, bounding the join group") {
    // order 1: 30 suppliers (above cap) — contributes 435 pairs uncapped;
    // order 2: 3 suppliers (under cap) — contributes 3 pairs
    val hot = spark.range(30).select(lit(1L).as("l_orderkey"), col("id").as("l_suppkey"))
    val ok = spark.range(3).select(lit(2L).as("l_orderkey"), (col("id") + 100).as("l_suppkey"))
    val li = hot.unionByName(ok)
    assert(GraphQueries.coPurchaseEdges(li, "l_suppkey", None, Some(25)).count() == 3)
    assert(GraphQueries.coPurchaseEdges(li, "l_suppkey", None, None).count() == 435 + 3)
  }

  test("gr2 collector: aggregation state stays O(cap) on an adversarially hot order") {
    // drive the Aggregator state machine directly (its reduce/merge are pure):
    // 100k distinct suppliers into one buffer must never hold more than
    // cap+1 entries — the failure VERDICT r7 called out was collect_set
    // materializing the full set BEFORE the size filter
    val agg = new graft.functions.CappedCollectSet.CappedDistinct(25)
    var buf = agg.zero
    (1L to 100000L).foreach { v =>
      buf = agg.reduce(buf, v)
      assert(buf.size <= 26, s"buffer grew to ${buf.size}")
    }
    // merging two over-cap partials stays bounded and keeps the verdict
    var other = agg.zero
    (200000L to 200040L).foreach(v => other = agg.reduce(other, v))
    val merged = agg.merge(buf, other)
    assert(merged.size <= 26)
    assert(agg.finish(merged).length > 25, "over-cap verdict lost in merge")
    // under the cap nothing truncates: the full sorted set survives merge
    val aPart = (1L to 10L).foldLeft(agg.zero)(agg.reduce)
    val bPart = (6L to 20L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(aPart, bPart)).toSeq == (1L to 20L))
  }

  test("native capped_distinct: state bound, serialization round-trip, and row-for-row parity with the Aggregator form") {
    // the native TypedImperativeAggregate's state machine, driven directly:
    // same O(cap) bound and over-cap verdict as the Aggregator reference
    val nat = graft.functions.CappedDistinctAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(25))
    var buf = nat.createAggregationBuffer()
    (1L to 100000L).foreach { v =>
      buf.add(v)
      assert(buf.n <= 26, s"buffer grew to ${buf.n}")
    }
    val rt = nat.deserialize(nat.serialize(buf)) // partial-boundary round-trip
    assert(rt.n == buf.n && rt.arr.take(rt.n).sameElements(buf.arr.take(buf.n)))
    var other = nat.createAggregationBuffer()
    (200000L to 200040L).foreach(other.add)
    val merged = nat.merge(buf, other)
    assert(merged.n <= 26 && merged.n > 25, "over-cap verdict lost in merge")

    // end-to-end parity under the size filter (the only contract call sites
    // use): native vs Aggregator-UDAF on a frame with under- and over-cap
    // keys, including a key fed from many partitions (merge path exercised)
    import org.apache.spark.sql.functions._
    val rows = spark.range(0, 4000, 1, 8).select(
      (col("id") % 40).as("k"),
      when(col("k") < 20, col("id") % (col("k") + 1)).otherwise(col("id")).as("v"))
    val n = rows.groupBy("k")
      .agg(graft.functions.CappedCollectSet.sortedSetCapped(10)(col("v")).as("ss"))
      .filter(size(col("ss")) <= 10)
    val u = rows.groupBy("k")
      .agg(graft.functions.CappedCollectSet.sortedSetCappedUdaf(10)(col("v")).as("ss"))
      .filter(size(col("ss")) <= 10)
    assert(n.count() > 0, "filter left no rows — the parity check would be vacuous")
    assert(n.exceptAll(u).isEmpty && u.exceptAll(n).isEmpty,
      "native capped_distinct diverges from the Aggregator reference under the size filter")
  }
}
