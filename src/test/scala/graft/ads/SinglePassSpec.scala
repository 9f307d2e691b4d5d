package graft.ads

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

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

  /** The fixture accounts in a new directory: a plan over new paths cannot
    * match a cache entry another test left behind.
    */
  private def freshFixtures(name: String): String = {
    val dir = work(name)
    Seq("a1", "a2").foreach(a => Files.copy(
      Paths.get(s"$fixtureDir/account_$a.jsonl"), Paths.get(s"$dir/account_$a.jsonl")))
    dir
  }

  test("dailySync reads each raw record once and runs at most 4 jobs") {
    val dir = work("scan")
    val (r, counter) = JobCounter.during(spark) {
      Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), s"$dir/t", s"$dir/audit")
    }
    // 4 + 3 raw records in the two account files. The table is new, so
    // there is no footer-merge job: the dedup shuffle's map stage, the
    // checkpoint that fills the flat rows, the audit and the append.
    assert(counter.fileRecords.get() == 7L)
    assert(counter.jobs.get() <= 4, s"${counter.jobs.get()} jobs")
    assert(r.counters == EtlCounters(rowsRead = 7, rowsDeduped = 5, rejected = 0,
      appended = 5, failedAccounts = Seq.empty))
  }

  test("backfill reads each raw record in its range once and runs at most 3 jobs") {
    val dir = work("backfill")
    val ((_, r), counter) = JobCounter.during(spark) {
      Pipelines.backfill(spark, fixtureDir, Seq("a1", "a2"), "2024-03-01", "2024-03-02", dir)
    }
    // the scan drops the one out-of-range record of the 7; 3 jobs measured:
    // the dedup shuffle's map stage, the checkpoint and the CSV write
    assert(counter.fileRecords.get() == 6L)
    assert(counter.jobs.get() <= 3, s"${counter.jobs.get()} jobs")
    assert(r.counters == EtlCounters(rowsRead = 6, rowsDeduped = 4, appended = 4))
  }

  /** Runs `body`, then asserts it left no new persistent RDD (the released
    * checkpoint of the flat rows included), no cache entry (when the cache
    * was empty before) and no live sink thread.
    */
  private def leavesNothing(body: => Unit): Unit = {
    def rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (before, cacheWasEmpty) = (rdds, spark.sharedState.cacheManager.isEmpty)
    body
    assert((rdds -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty || !cacheWasEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == "graft-sink" && t.isAlive))
  }

  test("no persistent RDD is left after dailySync, on success and when the append throws") {
    val dir = work("cache")
    leavesNothing(Pipelines.dailySync(spark, freshFixtures("cache-ok"), Seq("a1", "a2"),
      s"$dir/t", s"$dir/audit"))
    val notADir = Files.createFile(Paths.get(s"$dir/table-is-a-file")).toString
    leavesNothing(intercept[Exception] {
      Pipelines.dailySync(spark, freshFixtures("cache-throw"), Seq("a1", "a2"),
        notADir, s"$dir/audit2")
    })
  }

  test("a failed audit fails dailySync, names the rows the append committed, leaves nothing") {
    val dir = work("audit-throws")
    val notADir = Files.createFile(Paths.get(s"$dir/audit-parent-is-a-file")).toString
    // the append runs alongside the audit, so it can commit although the
    // audit fails; a re-run of the day would append these rows again
    leavesNothing {
      val e = intercept[Exception] {
        Pipelines.dailySync(spark, freshFixtures("audit-throws"), Seq("a1", "a2"),
          s"$dir/t", s"$notADir/audit")
      }
      assert(e.getMessage.contains("append committed 5 rows"), e.getMessage)
    }
    assert(Sinks.readTable(spark, s"$dir/t").count() == 5)
  }

  test("the observed action types are collectActionTypes' of the kept rows") {
    val dir = work("types")
    val rec = (ad: String, idx: Int, actions: String) =>
      s"""{"campaign_name": "c", "ad_name": "$ad", "publisher_platform": "facebook",""" +
        """ "impressions": "1", "clicks": "1", "spend": "1.0",""" +
        s""" "date_start": "2024-06-01", "date_stop": "2024-06-01", "actions": $actions,""" +
        s""" "ingest_idx": $idx}"""
    Files.write(Paths.get(s"$dir/account_t1.jsonl"), Seq(
      // dotted names; a type repeated within one record (the later entry wins)
      rec("x1", 0, """[{"action_type": "a.b.c", "value": "3"},""" +
        """ {"action_type": "link_click", "value": "1"},""" +
        """ {"action_type": "a.b.c", "value": "8"}]"""),
      rec("x2", 1, "null"),
      rec("x3", 2, "[]"),
      // a duplicate of x1's key: it loses, and so does the type only it has
      rec("x1", 3, """[{"action_type": "only.in.loser", "value": "5"}]""")
    ).mkString("\n").getBytes("UTF-8"))
    Pipelines.dailySync(spark, dir, Seq("t1"), s"$dir/t", s"$dir/audit", dryRun = true)

    val kept = AdOps.dedupFirstWins(InsightsSource.read(spark, dir, Seq("t1")).data)
    val types = AdOps.collectActionTypes(kept)
    assert(types == Seq("a.b.c", "link_click"))
    Sinks.csvAudit(AdOps.flattenAndPivot(kept, types), s"$dir/expected")
    def lines(p: String) = new java.io.File(p).listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).toSeq
    val (audit, expected) = (lines(s"$dir/audit"), lines(s"$dir/expected"))
    assert(audit.head.split(",").takeRight(2).toSeq == Seq("a_b_c", "link_click"), audit.head)
    // the row order follows each plan's partitioning
    assert(audit.head == expected.head && audit.tail.sorted == expected.tail.sorted)
    assert(audit.exists(_.endsWith(",8,1")), audit)
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
    val header = new java.io.File(s"$dir/audit").listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.headOption).toSeq
    assert(header.forall(_.endsWith(",video_p100_views")), header)
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
