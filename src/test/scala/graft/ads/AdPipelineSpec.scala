package graft.ads

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.SparkSpec

class AdPipelineSpec extends SparkSpec {

  private lazy val fixtureDir = Fixtures.write()
  private lazy val workDir = Files.createTempDirectory("graft-ad-pipeline").toString

  private def fresh(name: String): String = s"$workDir/$name"

  test("daily sync end-to-end: dedup, pivot, zero-fill, audit, append") {
    val table = fresh("ad_data")
    val audit = fresh("audit_csv")
    val res = Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), table, audit)
    assert(res.status == "success")
    // 7 raw records, 2 exact-key dups of (camp1, ad1, 2024-03-01, facebook)
    assert(res.rowsProcessed == 5)

    val t = Sinks.readTable(spark, table)
    // first-wins by (account_idx, ingest_idx): acct a1 idx 0 survives
    val winner = t.filter(col("campaign_name") === "camp1" && col("ad_name") === "ad1")
      .select("impressions", "spend", "link_click").collect()
    assert(winner.length == 1)
    assert(winner(0).getLong(0) == 100L)
    assert(winner(0).getDouble(1) == 5.5)
    assert(winner(0).getLong(2) == 7L)

    // normalization: dotted action types became legal columns
    assert(t.columns.contains("offsite_conversion_fb_pixel_lead"))
    assert(t.columns.contains("novel_metric_v2"))
    // zero-fill: the record with no actions has 0 everywhere
    val noActions = t.filter(col("ad_name") === "ad3")
      .select("link_click", "post_engagement", "novel_metric_v2").collect()(0)
    assert(noActions.getLong(0) == 0 && noActions.getLong(1) == 0 && noActions.getLong(2) == 0)
    // duplicate action_type within one record: last value wins (9, not 4)
    assert(t.filter(col("ad_name") === "ad9" && col("date_start") === "2024-03-02")
      .select("novel_metric_v2").collect()(0).getLong(0) == 9L)
    // P3 guard: empty [] video wrapper extracted as 0
    assert(t.filter(col("ad_name") === "ad2")
      .select("video_2sec_views").collect()(0).getLong(0) == 0L)
    // day-partitioned layout on disk
    assert(new java.io.File(table).listFiles().exists(_.getName.startsWith("p_date=")))
    // audit CSV exists with a header
    assert(new java.io.File(audit).listFiles().exists(_.getName.endsWith(".csv")))
  }

  test("flatten + pivot is one shuffle-free projection") {
    val read = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2"))
    val flat = AdOps.flattenAndPivot(read.data, AdOps.collectActionTypes(read.data))
    val plan = flat.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pivot shuffles:\n$plan")
    assert(!plan.contains("Aggregate"), s"pivot aggregates:\n$plan")
  }

  test("dry run skips the table sink") {
    val table = fresh("ad_data_dry")
    val res = Pipelines.dailySync(spark, fixtureDir, Seq("a1"), table,
      fresh("audit_dry"), dryRun = true)
    assert(res.status == "dry_run")
    assert(!new java.io.File(table).exists())
  }

  test("per-account failure isolation; all-fail raises") {
    val res = InsightsSource.read(spark, fixtureDir, Seq("a1", "missing"))
    assert(res.failedAccounts.map(_._1) == Seq("missing"))
    assert(res.data.count() == 4)
    assertThrows[IllegalStateException] {
      InsightsSource.read(spark, fixtureDir, Seq("nope1", "nope2"))
    }
  }

  test("backfill: range filter drops out-of-range rows; file named per contract") {
    val out = fresh("backfill_out")
    Files.createDirectories(Paths.get(out))
    val (path, res) = Pipelines.backfill(spark, fixtureDir, Seq("a1", "a2"),
      "2024-03-01", "2024-03-02", out)
    assert(path.endsWith("backfill_2024-03-01_to_2024-03-02.csv"))
    // 7 raw − 1 out-of-range (2024-03-09) − 2 key-dups = 4
    assert(res.rowsProcessed == 4)
    assert(Pipelines.latestBackfillCsv(out).contains(path))
  }

  test("schema evolution: second batch adds FLOAT column, old rows read NULL") {
    val table = fresh("ad_data_evolve")
    Pipelines.dailySync(spark, fixtureDir, Seq("a1"), table, fresh("audit_e1"))
    val before = Sinks.readTable(spark, table)
    assert(!before.columns.contains("novel_metric_v2"))
    Pipelines.dailySync(spark, fixtureDir, Seq("a2"), table, fresh("audit_e2"))
    val after = Sinks.readTable(spark, table)
    assert(after.columns.contains("novel_metric_v2"))
    // old rows surface as NULL for the evolved column
    assert(after.filter(col("campaign_name") === "camp1" &&
      col("novel_metric_v2").isNull).count() > 0)
  }

  test("evolution typing rule: identity/date cols STRING, metrics FLOAT") {
    import org.apache.spark.sql.types._
    val existing = StructType(Seq(StructField("campaign_name", StringType)))
    val incoming = StructType(Seq(
      StructField("campaign_name", StringType),
      StructField("date_start", TimestampType), // rule forces STRING
      StructField("some_new_count", LongType))) // rule forces FLOAT/double
    val merged = SchemaEvolution.merge(existing, incoming)
    assert(merged("date_start").dataType == StringType)
    assert(merged("some_new_count").dataType == DoubleType)
  }

  test("idempotent re-run via dynamic partition overwrite") {
    val table = fresh("ad_data_idem")
    val read = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2"))
    val flat = AdOps.flattenAndPivot(AdOps.dedupFirstWins(read.data),
      AdOps.collectActionTypes(read.data))
    Sinks.overwritePartitions(spark, flat, table)
    Sinks.overwritePartitions(spark, flat, table) // re-run same days
    assert(Sinks.readTable(spark, table).count() == 5) // no duplication
  }

  test("monitoring queries answer over the ad table") {
    val table = fresh("ad_data_mon")
    Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), table, fresh("audit_m"))
    val t = Sinks.readTable(spark, table)
    assert(Monitoring.rowCount(t) == 5)
    assert(Monitoring.freshness(t).collect()(0).getString(0) == "2024-03-09")
    val rollup = Monitoring.dailyRollup(t, "2024-03-03").collect()
    assert(rollup.length == 3 && rollup(0).getString(0) == "2024-03-09")
    assert(Monitoring.healthCheck(t, "2024-03-10").select("status")
      .collect()(0).getString(0) == "OK")
    assert(Monitoring.healthCheck(t, "2024-03-03").select("status")
      .collect()(0).getString(0) == "MISSING_DATA")
    assert(Monitoring.distinctRows(t).count() == 5)
  }
}
