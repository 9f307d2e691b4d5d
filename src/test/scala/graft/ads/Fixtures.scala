package graft.ads

import java.nio.file.{Files, Paths}

/** Deterministic raw-insight fixtures per FIXTURES.md §A1: exact-key
  * duplicates, an empty `[]` video metric, a record with no `actions`, a
  * dotted action_type, and a novel action_type absent from the declared
  * schema.
  */
object Fixtures {

  /** A fresh temp directory per test JVM. */
  lazy val dir: String = Files.createTempDirectory("graft-test-fixtures").toString

  private def rec(
      campaign: String, ad: String, platform: String, date: String,
      impressions: Int, clicks: Int, spend: Double, idx: Long,
      actions: String = "null", video2s: String = """[{"value": "5"}]""",
      results: String = "\"ignored\""): String =
    s"""{"campaign_name": "$campaign", "ad_name": "$ad", "publisher_platform": "$platform",
       | "impressions": "$impressions", "clicks": "$clicks", "spend": "$spend",
       | "date_start": "$date", "date_stop": "$date",
       | "video_continuous_2_sec_watched_actions": $video2s,
       | "video_30_sec_watched_actions": [{"value": "3"}],
       | "video_avg_time_watched_actions": [{"value": "12.5"}],
       | "video_p25_watched_actions": [{"value": "8"}],
       | "video_p50_watched_actions": [{"value": "6"}],
       | "video_p75_watched_actions": [{"value": "4"}],
       | "video_p100_watched_actions": [{"value": "2"}],
       | "actions": $actions, "results": $results, "ingest_idx": $idx}""".stripMargin
      .replaceAll("\n", "")

  /** Two accounts; returns the fixture dir. */
  def write(): String = {
    Files.createDirectories(Paths.get(dir))
    val acct1 = Seq(
      // first-wins winner for key (camp1, ad1, 2024-03-01, facebook)
      rec("camp1", "ad1", "facebook", "2024-03-01", 100, 10, 5.5, 0,
        actions = """[{"action_type": "link_click", "value": "7"},
                     | {"action_type": "offsite_conversion.fb_pixel_lead", "value": "2"}]"""
          .stripMargin.replaceAll("\n", "")),
      // exact-key duplicate — must lose to ingest_idx 0
      rec("camp1", "ad1", "facebook", "2024-03-01", 999, 99, 99.9, 1,
        actions = """[{"action_type": "link_click", "value": "100"}]"""),
      // empty video wrapper list — the P3 guard case
      rec("camp1", "ad2", "instagram", "2024-03-01", 50, 5, 2.25, 2,
        video2s = "[]",
        actions = """[{"action_type": "post_engagement", "value": "11"}]"""),
      // no actions at all — pivot must zero-fill every action column
      rec("camp1", "ad3", "facebook", "2024-03-02", 10, 1, 0.5, 3))
    val acct2 = Seq(
      // novel action_type (schema evolution) + duplicate-in-record key
      // (last value wins: 9)
      rec("camp2", "ad9", "messenger", "2024-03-02", 77, 7, 7.75, 0,
        actions = """[{"action_type": "novel_metric.v2", "value": "4"},
                     | {"action_type": "novel_metric.v2", "value": "9"}]"""
          .stripMargin.replaceAll("\n", "")),
      // cross-account duplicate of acct1's key — account order decides
      rec("camp1", "ad1", "facebook", "2024-03-01", 555, 55, 55.5, 1),
      // out-of-range date for backfill filter tests
      rec("camp2", "ad9", "messenger", "2024-03-09", 1, 1, 0.1, 2))
    Files.write(Paths.get(s"$dir/account_a1.jsonl"),
      acct1.mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/account_a2.jsonl"),
      acct2.mkString("\n").getBytes("UTF-8"))
    dir
  }
}
