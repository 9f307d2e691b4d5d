package graft.ads

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import graft.{JobCounter, SparkSpec}

/** The daily sync is one pass: one scan of the raw records, one dedup
  * shuffle, counts observed on the writes, the dedup cache released on every
  * exit path, and no session config changed along the way.
  */
class SinglePassSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir = Fixtures.write()
  private def work(name: String): String =
    Files.createTempDirectory(s"graft-single-pass-$name").toString

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The fixture accounts in a new directory: a plan over new paths cannot
    * match a cache entry another test left behind.
    */
  private def freshFixtures(name: String): String = {
    val dir = work(name)
    Seq("a1", "a2").foreach(a => Files.copy(
      Paths.get(s"$fixtureDir/account_$a.jsonl"), Paths.get(s"$dir/account_$a.jsonl")))
    dir
  }

  test("dailySync reads each raw record once and runs at most 6 jobs") {
    val dir = work("scan")
    val (r, counter) = JobCounter.during(spark) {
      Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), s"$dir/t", s"$dir/audit")
    }
    // 4 + 3 raw records in the two account files; 6 jobs measured (the
    // table is new, so there is no footer-merge job)
    assert(counter.fileRecords.get() == 7L)
    assert(counter.jobs.get() <= 6, s"${counter.jobs.get()} jobs")
    assert(r.counters == EtlCounters(rowsRead = 7, rowsDeduped = 5, rejected = 0,
      appended = 5, failedAccounts = Seq.empty))
  }

  test("no persistent RDD is left after dailySync, on success and when the append throws") {
    val before = persistentRdds
    val dir = work("cache")
    Pipelines.dailySync(spark, freshFixtures("cache-ok"), Seq("a1", "a2"),
      s"$dir/t", s"$dir/audit")
    assert((persistentRdds -- before).isEmpty)

    val notADir = Files.createFile(Paths.get(s"$dir/table-is-a-file")).toString
    intercept[Exception] {
      Pipelines.dailySync(spark, freshFixtures("cache-throw"), Seq("a1", "a2"),
        notADir, s"$dir/audit2")
    }
    assert((persistentRdds -- before).isEmpty)
  }

  test("an all-rejected day appends 0, rejects n, and does not block") {
    val dir = work("rejected")
    val rec = (ad: String) =>
      s"""{"campaign_name": null, "ad_name": "$ad", "publisher_platform": "facebook",""" +
        """ "impressions": "1", "clicks": "1", "spend": "1.0",""" +
        """ "date_start": "2024-06-01", "date_stop": "2024-06-01", "ingest_idx": 0}"""
    Files.write(Paths.get(s"$dir/account_r1.jsonl"),
      Seq(rec("x1"), rec("x2"), rec("x3")).mkString("\n").getBytes("UTF-8"))
    val r = Await.result(Future(
      Pipelines.dailySync(spark, dir, Seq("r1"), s"$dir/t", s"$dir/audit")), 2.minutes)
    assert(r.rowsProcessed == 0)
    assert(r.counters.appended == 0 && r.counters.rejected == 3)
    assert(r.message.contains("rejected 3 rows"), r.message)
  }

  test("a day with no rows appends 0 and counts zeros") {
    val dir = work("empty")
    Files.write(Paths.get(s"$dir/account_e1.jsonl"), Array.emptyByteArray)
    val r = Await.result(Future(
      Pipelines.dailySync(spark, dir, Seq("e1"), s"$dir/t", s"$dir/audit")), 2.minutes)
    assert(r.rowsProcessed == 0 && r.counters == EtlCounters())
  }

  test("dailySync, overwritePartitions and compact leave the session config alone") {
    val keys = Seq("spark.sql.mapKeyDedupPolicy", "spark.sql.sources.partitionOverwriteMode")
    def confs = keys.map(spark.conf.getOption)
    val before = confs
    val dir = work("conf")
    Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), s"$dir/t", s"$dir/audit")
    // the last-wins pivot holds under the default EXCEPTION policy
    assert(Sinks.readTable(spark, s"$dir/t")
      .filter($"ad_name" === "ad9" && $"date_start" === "2024-03-02")
      .select("novel_metric_v2").as[Long].head() == 9L)
    val read = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2"))
    val flat = AdOps.flattenAndPivot(AdOps.dedupFirstWins(read.data),
      AdOps.collectActionTypes(read.data))
    assert(Sinks.overwritePartitions(spark, flat, s"$dir/o") == 5)
    assert(Sinks.overwritePartitions(spark, flat, s"$dir/o") == 5)
    assert(Sinks.readTable(spark, s"$dir/o").count() == 5)
    Sinks.compact(spark, s"$dir/t")
    assert(confs == before)
  }

  test("compaction swaps in a staged rewrite: same rows, fewer files, no staging left") {
    val dir = work("compact")
    val table = s"$dir/t"
    (1 to 3).foreach { i =>
      Sinks.appendToTableChecked(spark, Seq(
        ("campX", s"ad$i", "facebook", "2024-05-01", "2024-05-01", i * 10L),
        ("campX", s"ad$i", "facebook", "2024-05-02", "2024-05-02", i * 10L)
      ).toDF("campaign_name", "ad_name", "publisher_platform",
        "date_start", "date_stop", "impressions"), table).appended
    }
    val before = Sinks.readTable(spark, table).orderBy("ad_name", "date_start").collect().toSeq
    val (nBefore, nAfter) = Sinks.compact(spark, table)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(Sinks.readTable(spark, table).orderBy("ad_name", "date_start").collect().toSeq == before)
    assert(new java.io.File(dir).list().toSeq == Seq("t"))
  }

  test("CLI JSON line stays valid when a campaign name carries a quote and a backslash") {
    val dir = work("cli")
    val name = """camp "q" \ 1"""
    val quoted = name.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(s"$dir/account_q1.jsonl"), Seq(
      s"""{"campaign_name": "$quoted", "ad_name": null, "publisher_platform": "facebook",""" +
        """ "impressions": "1", "clicks": "1", "spend": "1.0",""" +
        """ "date_start": "2024-06-01", "date_stop": "2024-06-01", "ingest_idx": 0}"""
    ).mkString.getBytes("UTF-8"))
    val r = Pipelines.dailySync(spark, dir, Seq("q1"), s"$dir/t", s"$dir/audit")
    assert(r.message.contains(name), r.message)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(AdsCli.jsonLine(r))
    assert(parsed.get("message").asText() == r.message)
    assert(parsed.get("rejected").asLong() == 1L && parsed.get("appended").asLong() == 0L)
  }
}
