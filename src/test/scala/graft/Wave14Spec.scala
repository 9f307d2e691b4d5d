package graft

import org.apache.spark.sql.functions._

/** Wave-14 fixtures: a hand-weighted four-node trade graph for sssp1 (the
  * lighter two-hop route must beat the direct edge, and parallel trades
  * must take the min weight), a four-user journey set for at3 with every
  * chain quantity hand-computed in exact integers, a two-bucket corpus for
  * pa2, planted perceptual-dup components for mm6's representative pick,
  * and a multi-type event set for st8 compared against its batch twin.
  */
class Wave14Spec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    CacheRegistry.trackPath(
      java.nio.file.Files.createTempDirectory(prefix).toString)

  private def writeTrades(dir: String,
      orders: Seq[(Long, Long)], // (o_orderkey, o_custkey)
      lines: Seq[(Long, Long, Double)]): Unit = { // (l_orderkey, l_suppkey, qty)
    import spark.implicits._
    orders.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lines.map { case (o, s, q) => (o, s, s, q) }
      .toDF("l_orderkey", "l_suppkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, String, Double)]): Unit = {
    import spark.implicits._ // (event_id, user_id, ts, type, value)
    rows.map { case (id, uid, ts, et, v) => (id, ts, uid, et, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._ // (doc_id, lang, source, text)
    rows.toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ── sssp1 ────────────────────────────────────────────────────────────────

  test("sssp1: the lighter two-hop route beats the direct edge and " +
      "parallel trades take the min weight") {
    val dir = tmpDir("sssp1a")
    // nodes: c1=2, c2=4, s1=3, s2=5; seed c1.
    // edges (min qty): c1-s1 w=5 (trades 5 and 9 — min wins), c2-s1 w=1,
    // c2-s2 w=1, c1-s2 w=10. shortest: s1=5, c2=6, s2=7 (via s1, not the
    // direct w=10 edge).
    writeTrades(dir,
      orders = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L)),
      lines = Seq((1L, 1L, 5.0), (1L, 1L, 9.0), (2L, 1L, 1.0),
        (3L, 2L, 1.0), (4L, 2L, 10.0)))
    val out = SparkEntry.queries("sssp1_weighted_paths")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 0L, 3L -> 5L, 4L -> 6L, 5L -> 7L), s"got $out")
  }

  // ── at3 ──────────────────────────────────────────────────────────────────

  test("at3: removal effects and attributed cents match the hand-computed " +
      "exact-integer chain") {
    val dir = tmpDir("at3a")
    // journeys (cut at first purchase; user 1's post-purchase view is
    // ignored): u1 view→click→CONV(10.00), u2 view→NULL, u3 click→CONV
    // (20.00), u4 view→NULL.
    // transitions: START→view 3, START→click 1; view→click 1, view→NULL 2;
    // click→CONV 2. ppm: START→view 750000, START→click 250000;
    // view→click 333333, view→NULL 666666; click→CONV 1000000.
    // base conv = 250e9 (u3 path) + 750e9·333333÷1e6 (two-hop) = 250e9 +
    // 249_999_750_000 = 499_999_750_000.
    // remove view: only START→click 250e9 survives → eff(view) =
    // 249_999_750_000. remove click: conversion unreachable → eff(click) =
    // 499_999_750_000. total_cents = 3000; attributed = total·eff÷Σeff
    // (truncating div): click = 3000·499999750000÷749999500000 = 2000,
    // view = 3000·249999750000÷749999500000 = 999.
    writeEvents(dir, Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 10:01:00", "click", 0.0),
      (3L, 1L, "2024-01-01 10:02:00", "purchase", 10.0),
      (4L, 1L, "2024-01-01 10:03:00", "view", 0.0),
      (5L, 2L, "2024-01-01 11:00:00", "view", 0.0),
      (6L, 3L, "2024-01-01 12:00:00", "click", 0.0),
      (7L, 3L, "2024-01-01 12:05:00", "purchase", 20.0),
      (8L, 4L, "2024-01-01 13:00:00", "view", 0.0)))
    val out = SparkEntry.queries("at3_markov_attribution")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("click", 499999750000L, 2000L),
      ("view", 249999750000L, 999L)), s"got ${out.toSeq}")
  }

  test("at3: an event type named like the audit tag is an ordinary channel") {
    // the at3a journeys with `view` spelled `__CT__`: the rows must be
    // at3a's, channel name aside
    def run(view: String): Seq[(String, Long, Long)] = {
      val dir = tmpDir("at3c")
      writeEvents(dir, Seq(
        (1L, 1L, "2024-01-01 10:00:00", view, 0.0),
        (2L, 1L, "2024-01-01 10:01:00", "click", 0.0),
        (3L, 1L, "2024-01-01 10:02:00", "purchase", 10.0),
        (4L, 1L, "2024-01-01 10:03:00", view, 0.0),
        (5L, 2L, "2024-01-01 11:00:00", view, 0.0),
        (6L, 3L, "2024-01-01 12:00:00", "click", 0.0),
        (7L, 3L, "2024-01-01 12:05:00", "purchase", 20.0),
        (8L, 4L, "2024-01-01 13:00:00", view, 0.0)))
      SparkEntry.queries("at3_markov_attribution")(spark, dir).collect().toSeq
        .map(r => (if (r.getString(0) == view) "view" else r.getString(0),
          r.getLong(1), r.getLong(2)))
        .sorted
    }
    assert(run("__CT__") == run("view"))
  }

  test("at3: a corpus with no purchases attributes zero everywhere " +
      "(the sum_eff=0 guard)") {
    val dir = tmpDir("at3b")
    writeEvents(dir, Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 2L, "2024-01-01 11:00:00", "click", 0.0)))
    val out = SparkEntry.queries("at3_markov_attribution")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("click", 0L, 0L), ("view", 0L, 0L)),
      s"got ${out.toSeq}")
  }

  // ── pa2 ──────────────────────────────────────────────────────────────────

  test("pa2: the l histogram counts groups by sensitive-value diversity") {
    val dir = tmpDir("pa2a")
    // QI group (en, bucket 0): sources a,a,b → l=2, 3 rows.
    // QI group (en, bucket 1): source a,a → l=1, 2 rows.
    val short = "x" * 50
    val long = "y" * 250
    writeDocs(dir, Seq(
      (1L, "en", "a", short), (2L, "en", "a", short), (3L, "en", "b", short),
      (4L, "en", "a", long), (5L, "en", "a", long)))
    val out = SparkEntry.queries("pa2_l_diversity")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 2L), (2L, 1L, 3L)), s"got ${out.toSeq}")
  }

  // ── mm6 ──────────────────────────────────────────────────────────────────

  test("mm6: each planted component yields one representative row with " +
      "member count and total bytes; the singleton is absent") {
    val dir = tmpDir("mm6a")
    val p1 = ("the quick brown fox jumps over the lazy dog. " * 60).trim
    val p2 = ("pack my box with five dozen liquor jugs today! " * 60).trim
    val solo = ("sphinx of black quartz judge my vow forever more " * 60).trim
    writeDocs(dir, Seq(
      (1L, "en", "s", p1), (2L, "en", "s", p1), (3L, "en", "s", p1),
      (4L, "en", "s", p2), (5L, "en", "s", p2),
      (6L, "en", "s", solo)))
    val out = SparkEntry.queries("mm6_cluster_representative")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // equal payloads → argmax falls to the doc_id tie-break (min id)
    assert(out.toSeq == Seq(
      (1L, 1L, p1.length.toLong, 3L, 3L * p1.length),
      (4L, 4L, p2.length.toLong, 2L, 2L * p2.length)), s"got ${out.toSeq}")
  }

  // ── st8 ──────────────────────────────────────────────────────────────────

  test("st8: the custom-state stream profile equals its batch twin") {
    val dir = tmpDir("st8a")
    writeEvents(dir, Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 10:01:00", "click", 0.0),
      (3L, 1L, "2024-01-01 10:02:00", "view", 0.0),
      (4L, 2L, "2024-01-01 11:00:00", "purchase", 5.0)))
    val out = SparkEntry.queries("st8_custom_state")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val batch = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("first_sec"),
        max(unix_timestamp(col("ts"))).as("last_sec"),
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == batch.toSeq, s"stream ${out.toSeq} vs batch ${batch.toSeq}")
    assert(out.exists(_._5 == "click,view"), s"got ${out.toSeq}")
  }
}
