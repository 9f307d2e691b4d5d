package graft.ads

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Prop, Test => SCTest}
import graft.SparkSpec

class OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Run a ScalaCheck property and assert it holds (scalatest bridge not on
    * the classpath; raw scalacheck is).
    */
  private def check(p: Prop): Unit =
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p).passed)

  test("extractMetric: present, empty list, null, non-numeric") {
    val df = Seq(
      (1, Seq("5")), (2, Seq.empty[String]), (3, null), (4, Seq("oops"))
    ).toDF("id", "raw")
      .withColumn("m", expr("transform(raw, v -> struct(v AS value))"))
    val got = df.select($"id", AdOps.extractMetric($"m").as("v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 5L, 2 -> 0L, 3 -> 0L, 4 -> 0L))
  }

  test("dedupFirstWins is idempotent and leaves unique keys") {
    val df = Seq(
      ("c", "a", "d1", "fb", 0, 0L, 1.0),
      ("c", "a", "d1", "fb", 0, 1L, 2.0),
      ("c", "a", "d1", "fb", 1, 0L, 3.0),
      ("c", "b", "d1", "fb", 1, 0L, 4.0)
    ).toDF("campaign_name", "ad_name", "date_start", "publisher_platform",
      "account_idx", "ingest_idx", "spend")
    val once = AdOps.dedupFirstWins(df)
    val twice = AdOps.dedupFirstWins(once)
    assert(once.count() == 2)
    assert(twice.collect().toSet == once.collect().toSet)
    assert(once.filter($"ad_name" === "a").select("spend").as[Double].head() == 1.0)
    val keyCounts = once.groupBy(AdOps.dedupKey.map(col): _*).count()
      .filter($"count" > 1).count()
    assert(keyCounts == 0)
  }

  test("normalizeActionName replaces every dot and is idempotent") {
    check(Prop.forAll { (s: String) =>
      val n = AdOps.normalizeActionName(s)
      !n.contains('.') && AdOps.normalizeActionName(n) == n
    })
    assert(AdOps.normalizeActionName("offsite_conversion.fb_pixel_lead") ==
      "offsite_conversion_fb_pixel_lead")
  }

  test("schema merge is monotone: fields only added, never removed/retyped") {
    check(Prop.forAll { (names1: List[String], names2: List[String]) =>
      val ex = StructType(names1.distinct.map(n => StructField(n, StringType)))
      val in = StructType(names2.distinct.map(n => StructField(n, LongType)))
      val merged = SchemaEvolution.merge(ex, in)
      ex.fields.forall(f => merged(f.name).dataType == f.dataType) &&
        merged.fields.length >= ex.fields.length &&
        SchemaEvolution.merge(merged, in) == merged
    })
  }

  test("pivot round-trip: exploding the wide row recovers the actions (up to zero-fill)") {
    val fixtureDir = Fixtures.write()
    val raw = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2")).data
    val types = AdOps.collectActionTypes(raw)
    val flat = AdOps.flattenAndPivot(raw, types)
    // sum of pivoted action columns == sum of raw action values (last-wins
    // per (record, type), zero-filled elsewhere)
    val pivotSum = flat.select(types.map(t =>
      sum(col(AdOps.normalizeActionName(t))).as(t)): _*).collect()(0)
    // the oracle takes last-wins from the map policy, set for it alone
    // (flattenAndPivot must not depend on the session's policy)
    val rawLastWins = withConf("spark.sql.mapKeyDedupPolicy" -> "LAST_WIN") {
      raw.select(explode(expr(
        "map_entries(map_from_entries(transform(actions, a -> struct(a.action_type, a.value))))"
      )).as("e"))
        .select(col("e.key").as("t"), col("e.value").cast("long").as("v"))
        .groupBy("t").agg(sum("v").as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    types.zipWithIndex.foreach { case (t, i) =>
      assert(pivotSum.getLong(i) == rawLastWins.getOrElse(t, 0L), s"mismatch for $t")
    }
  }

  test("dedup result is invariant to account list order (after explicit ingest order)") {
    val fixtureDir = Fixtures.write()
    val fwd = AdOps.dedupFirstWins(
      InsightsSource.read(spark, fixtureDir, Seq("a1", "a2")).data)
    val rev = AdOps.dedupFirstWins(
      InsightsSource.read(spark, fixtureDir, Seq("a2", "a1")).data)
    // keys are identical either way...
    val key = AdOps.dedupKey
    assert(fwd.select(key.map(col): _*).collect().toSet ==
      rev.select(key.map(col): _*).collect().toSet)
    // ...and the contested key resolves by the EXPLICIT ingest order, so the
    // winner follows the account list position (a deliberate, documented
    // property — the reference's winner depends on Python iteration order)
    assert(fwd.filter($"campaign_name" === "camp1" && $"ad_name" === "ad1")
      .select("account_id").as[String].head() == "a1")
    assert(rev.filter($"campaign_name" === "camp1" && $"ad_name" === "ad1")
      .select("account_id").as[String].head() == "a2")
  }

  test("sink rejects and reports rows with null REQUIRED columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val df = Seq(
      (Option("camp1"), "ad1", "facebook", "2024-03-01", "2024-03-01", 10L),
      (None,            "ad2", "facebook", "2024-03-01", "2024-03-01", 20L), // null campaign
      (Option("camp3"), "ad3", "facebook", "2024-03-02", "2024-03-02", 30L)
    ).toDF("campaign_name", "ad_name", "publisher_platform",
      "date_start", "date_stop", "impressions")
    val r = Sinks.appendToTableChecked(spark, df, s"$dir/table",
      errorPath = Some(s"$dir/errors"))
    assert(r.appended == 2 && r.rejected == 1)
    assert(r.rowErrors.size == 1 &&
      r.rowErrors.head.contains("campaign_name: null value for REQUIRED column") &&
      r.rowErrors.head.contains("ad_name=ad2"))
    // the bad row is routed, not silently appended
    assert(Sinks.readTable(spark, s"$dir/table")
      .filter($"ad_name" === "ad2").count() == 0)
    assert(spark.read.parquet(s"$dir/errors").count() == 1)
  }

  test("compaction shrinks file count and preserves the data byte-for-byte") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val mk = (ad: String, imps: Long) => Seq(
      ("campX", ad, "facebook", "2024-05-01", "2024-05-01", imps),
      ("campX", ad, "facebook", "2024-05-02", "2024-05-02", imps)
    ).toDF("campaign_name", "ad_name", "publisher_platform",
      "date_start", "date_stop", "impressions")
    // three appends → ≥3 files per day partition
    (1 to 3).foreach(i => Sinks.appendToTableChecked(spark, mk(s"ad$i", i * 10L), dir).appended)
    val before = Sinks.readTable(spark, dir).collect().toSet
    val (nBefore, nAfter) = Sinks.compact(spark, dir)
    assert(nBefore >= 6 && nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(Sinks.readTable(spark, dir).collect().toSet == before)
  }

  test("alignTo backfills missing columns as typed nulls") {
    val target = StructType(Seq(
      StructField("a", StringType), StructField("b", DoubleType)))
    val aligned = SchemaEvolution.alignTo(Seq("x").toDF("a"), target)
    assert(aligned.schema == StructType(Seq(
      StructField("a", StringType), StructField("b", DoubleType))))
    assert(aligned.select("b").collect()(0).isNullAt(0))
  }
}
