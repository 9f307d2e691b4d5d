package graft.ads

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.SparkSpec

/** End-to-end golden run of the daily pipeline over a LARGER fixture —
  * multi-page accounts through the paging reader, cross-account and
  * cross-page duplicates, a novel action_type arriving on day 2, and a
  * REQUIRED-column reject — locking the daily → evolve → append → monitor
  * loop against regressions.
  */
class GoldenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def rec(camp: String, ad: String, platform: String, date: String,
      impressions: Int, actions: String = "null"): String =
    s"""{"campaign_name": ${if (camp == null) "null" else s""""$camp""""},
       | "ad_name": "$ad", "publisher_platform": "$platform",
       | "impressions": "$impressions", "clicks": "1", "spend": "2.5",
       | "date_start": "$date", "date_stop": "$date",
       | "video_continuous_2_sec_watched_actions": [{"value": "5"}],
       | "actions": $actions}""".stripMargin.replaceAll("\n", "")

  private def act(pairs: (String, Int)*): String =
    pairs.map { case (t, v) => s"""{"action_type": "$t", "value": "$v"}""" }
      .mkString("[", ",", "]")

  private val work = java.nio.file.Files.createTempDirectory("graft-golden").toString
  private val table = s"$work/ad_data"

  private def writeDay1(): String = {
    val d = s"$work/day1"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    def w(n: String, ls: String*) = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/$n"), ls.mkString("\n").getBytes("UTF-8"))
    w("account_g1.page1.jsonl",
      rec("campA", "ad1", "facebook", "2024-04-01", 100, act("link_click" -> 5)),
      rec("campA", "ad2", "instagram", "2024-04-01", 200, act("post_engagement" -> 2)))
    w("account_g1.page2.jsonl",
      rec("campA", "ad1", "facebook", "2024-04-01", 999), // page-2 dup: loses
      rec("campB", "ad3", "facebook", "2024-04-01", 300)) // no actions: zero-fill
    w("account_g2.page1.jsonl",
      rec("campA", "ad1", "facebook", "2024-04-01", 888), // cross-account dup: loses
      rec("campC", "ad9", "messenger", "2024-04-01", 400,
        act("offsite_conversion.fb_pixel_lead" -> 4)))
    d
  }

  private def writeDay2(): String = {
    val d = s"$work/day2"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/account_g1.jsonl"), Seq(
      rec("campA", "ad1", "facebook", "2024-04-02", 110, act("novel_thing.v3" -> 7)),
      rec("campD", "ad4", "facebook", "2024-04-02", 500),
      rec(null, "ad-broken", "facebook", "2024-04-02", 1) // REQUIRED reject
    ).mkString("\n").getBytes("UTF-8"))
    d
  }

  test("day 1: paged multi-account sync lands the deduped pivoted golden rows") {
    val r = Pipelines.dailySync(spark, writeDay1(), Seq("g1", "g2"),
      table, s"$work/audit1.csv")
    assert(r.status == "success" && r.rowsProcessed == 4)
    val t = Sinks.readTable(spark, table)
    // pivot columns exist for every observed (normalized) action type
    assert(Set("link_click", "post_engagement", "offsite_conversion_fb_pixel_lead")
      .subsetOf(t.columns.toSet))
    // first-wins dedup: page-1/account-1 row won both the page-2 and the
    // cross-account duplicate
    val ad1 = t.filter($"campaign_name" === "campA" && $"ad_name" === "ad1").collect()
    assert(ad1.length == 1)
    val row = ad1.head
    assert(row.getAs[Long]("impressions") == 100L)
    // day-1 action columns carry the pivot's integer type (the reference
    // declares known actions INTEGER; only later-ADDED columns are FLOAT)
    assert(row.getAs[Long]("link_click") == 5L)
    // zero-fill: the no-actions row has 0 in every action column
    val ad3 = t.filter($"ad_name" === "ad3").collect().head
    assert(ad3.getAs[Long]("link_click") == 0L &&
      ad3.getAs[Long]("post_engagement") == 0L)
    // audit artifact written with a header
    val audit = spark.read.option("header", "true").csv(s"$work/audit1.csv")
    assert(audit.count() == 4 && audit.columns.contains("link_click"))
  }

  test("day 2: novel action evolves the schema; REQUIRED reject is reported") {
    val r = Pipelines.dailySync(spark, writeDay2(), Seq("g1"),
      table, s"$work/audit2.csv")
    assert(r.rowsProcessed == 2, r.message)
    assert(r.message.contains("rejected 1 rows") &&
      r.message.contains("campaign_name: null value for REQUIRED column"), r.message)
    val t = Sinks.readTable(spark, table)
    assert(t.count() == 6) // 4 from day 1 + 2 appended today
    // evolution rule: the novel action column is FLOAT(Double)…
    assert(t.schema("novel_thing_v3").dataType == DoubleType)
    // …day-2 carrier has the value, day-1 rows read NULL (not zero)
    assert(t.filter($"date_start" === "2024-04-02" && $"ad_name" === "ad1")
      .select("novel_thing_v3").as[Double].head() == 7.0)
    assert(t.filter($"date_start" === "2024-04-01")
      .filter($"novel_thing_v3".isNull).count() == 4)
  }

  test("compaction keeps the evolved table byte-identical while shrinking files") {
    def files = new java.io.File(table).listFiles((_, n) => n.startsWith("p_date="))
      .flatMap(d => d.listFiles((_, n) => n.endsWith(".parquet"))).length
    val before = Sinks.readTable(spark, table).orderBy("ad_name", "date_start").collect().toSeq
    val (nBefore, nAfter) = Sinks.compact(spark, table, targetBytes = 64L * 1024 * 1024)
    assert(nBefore >= nAfter && files == nAfter)
    val after = Sinks.readTable(spark, table).orderBy("ad_name", "date_start").collect().toSeq
    assert(after == before)
  }

  test("monitoring answers over the evolved two-day table") {
    val t = Sinks.readTable(spark, table)
    assert(Monitoring.rowCount(t) == 6)
    assert(Monitoring.freshness(t).as[String].head() == "2024-04-02")
    val rollup = Monitoring.dailyRollup(t, "2024-04-03").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rollup == Seq(("2024-04-02", 2L, 610L), ("2024-04-01", 4L, 1000L)))
    val health = Monitoring.healthCheck(t, "2024-04-03").collect().head
    assert(health.getString(2) == "OK") // latest == yesterday
  }
}
