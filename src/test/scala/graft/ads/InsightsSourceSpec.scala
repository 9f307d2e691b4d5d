package graft.ads

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The insights read is one JSON file scan over the account files, with the
  * same rows and lineage columns as one read per account; the driver-side
  * file resolution pages, retries and classifies API errors.
  */
class InsightsSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val fixtureDir = Fixtures.write()

  /** The fixture accounts a1, a2 plus a third account `a 3` (an id with a
    * space) holding a copy of a1's records, in a new directory.
    */
  private lazy val threeAccounts: String = {
    val dir = Files.createTempDirectory("graft-insights-source").toString
    Seq("a1", "a2").foreach(a => Files.copy(
      Paths.get(s"$fixtureDir/account_$a.jsonl"), Paths.get(s"$dir/account_$a.jsonl")))
    Files.copy(Paths.get(s"$fixtureDir/account_a1.jsonl"), Paths.get(s"$dir/account_a 3.jsonl"))
    dir
  }

  /** One read per account, unioned: the lineage columns are literals. */
  private def perAccountOracle(dir: String, accounts: Seq[String]): DataFrame =
    accounts.zipWithIndex.map { case (a, i) =>
      spark.read.schema(AdSchema.rawSchema).json(s"$dir/account_$a.jsonl")
        .withColumn("account_id", lit(a)).withColumn("account_idx", lit(i))
    }.reduce(_ unionByName _)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def jsonScans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
    }
  }

  test("2 and 3 accounts are read by exactly one JSON file scan") {
    for (accounts <- Seq(Seq("a1", "a2"), Seq("a1", "a2", "a 3"))) {
      val data = InsightsSource.read(spark, threeAccounts, accounts).data
      assert(jsonScans(data).size == 1, s"$accounts:\n${data.queryExecution.executedPlan}")
    }
  }

  test("rows and lineage columns equal a per-account unionByName") {
    for (accounts <- Seq(Seq("a1", "a2"), Seq("a2", "a 3", "a1"))) {
      val data = InsightsSource.read(spark, threeAccounts, accounts).data
      assert(data.columns.toSeq == perAccountOracle(threeAccounts, accounts).columns.toSeq)
      assert(rows(data) == rows(perAccountOracle(threeAccounts, accounts)), accounts)
    }
  }

  test("an account id with a space maps through the file name") {
    val data = InsightsSource.read(spark, threeAccounts, Seq("a1", "a 3")).data
    val lineage = data.groupBy("account_id", "account_idx").count()
      .orderBy("account_idx").collect().toSeq
    assert(lineage == Seq(Row("a1", 0, 4L), Row("a 3", 1, 4L)))
  }

  test("an account listed twice is read once, at its first position") {
    val twice = InsightsSource.read(spark, threeAccounts, Seq("a1", "a2", "a1"))
    assert(twice.failedAccounts.isEmpty)
    assert(rows(twice.data) == rows(perAccountOracle(threeAccounts, Seq("a1", "a2"))))

    val dir = Files.createTempDirectory("graft-insights-twice").toString
    val once = Pipelines.dailySync(spark, threeAccounts, Seq("a1", "a2"),
      s"$dir/once", s"$dir/audit-once")
    val dup = Pipelines.dailySync(spark, threeAccounts, Seq("a1", "a2", "a1"),
      s"$dir/twice", s"$dir/audit-twice")
    // rowsRead too: the repeated account's file is scanned once, so 7 raw
    // records are read either way (one read per listed id would count 11)
    assert(dup.counters == once.counters)
    assert(dup.counters.rowsRead == 7L)
    assert(rows(Sinks.readTable(spark, s"$dir/twice")) == rows(Sinks.readTable(spark, s"$dir/once")))
  }

  test("date filters and column pruning are pushed into the JSON scan") {
    val pruned = InsightsSource.read(spark, fixtureDir, Seq("a1", "a2"),
      dateStart = Some("2024-03-01"), dateStop = Some("2024-03-02")).data
      .select("campaign_name", "date_start")
    val Seq(scan) = jsonScans(pruned)
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("campaign_name", "date_start"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(date_start,2024-03-01)") &&
      pushed.contains("LessThanOrEqual(date_start,2024-03-02)"), pushed)
    // the out-of-range 2024-03-09 record is filtered out
    assert(pruned.collect().length == 6)
    // dedup + pivot still work over the read
    assert(AdOps.dedupFirstWins(InsightsSource.read(spark, fixtureDir, Seq("a1", "a2")).data)
      .count() == 5)
  }

  // ── pagination + retry + error taxonomy (reference main.py:294-339) ──────

  private def rec(camp: String, impressions: Int = 1): String =
    s"""{"campaign_name": "$camp", "ad_name": "ad", "publisher_platform": "facebook",
       | "impressions": "$impressions", "clicks": "1", "spend": "1.0",
       | "date_start": "2024-03-01", "date_stop": "2024-03-01"}""".stripMargin
      .replaceAll("\n", "")

  private def pagedDir(): String = {
    val dir = Files.createTempDirectory("graft-paged").toString
    def w(name: String, lines: String*) =
      Files.write(Paths.get(s"$dir/$name"), lines.mkString("\n").getBytes("UTF-8"))
    // pg: three pages walked in cursor order; c1's key is on pages 1 and 3
    w("account_pg.page1.jsonl", rec("c1", 100), rec("c2"))
    w("account_pg.page2.jsonl", rec("c3"))
    w("account_pg.page3.jsonl", rec("c1", 300), rec("c4"))
    // es: empty page 2 short-circuits the walk; page 3 must never be read
    w("account_es.page1.jsonl", rec("e1"))
    w("account_es.page2.jsonl", "")
    w("account_es.page3.jsonl", rec("e3"))
    // tr: two injected transient failures, then success (3 attempts allowed)
    w("account_tr.page1.jsonl", rec("t1"))
    w("account_tr.page1.jsonl.transient", "2")
    // tx: more failures than attempts
    w("account_tx.page1.jsonl", rec("x1"))
    w("account_tx.page1.jsonl.transient", "9")
    // ft: fatal token error body
    w("account_ft.page1.jsonl",
      """{"error": {"code": 190, "type": "OAuthException", "message": "token expired"}}""")
    dir
  }

  private def campaigns(df: DataFrame): Set[String] =
    df.select("campaign_name").collect().map(_.getString(0)).toSet

  test("cursor walk order: a key on pages 1 and 3 keeps page 1's row") {
    val data = InsightsSource.read(spark, pagedDir(), Seq("pg")).data
    assert(data.count() == 5)
    val winners = AdOps.dedupFirstWins(data)
    assert(campaigns(winners) == Set("c1", "c2", "c3", "c4"))
    assert(winners.filter(col("campaign_name") === "c1").select("impressions").head().getString(0)
      == "100")
  }

  test("an empty page stops the cursor walk (later pages are not read)") {
    val camps = campaigns(InsightsSource.read(spark, pagedDir(), Seq("es")).data)
    assert(camps == Set("e1"), s"page past the empty one was read: $camps")
  }

  test("transient failures are retried up to 3 attempts and recover") {
    val dir = pagedDir()
    val read = InsightsSource.read(spark, dir, Seq("tr"))
    assert(read.failedAccounts.isEmpty && read.data.collect().length == 1)
    val marker = new String(Files.readAllBytes(
      Paths.get(s"$dir/account_tr.page1.jsonl.transient"))).trim
    assert(marker == "0") // both injected failures were consumed by retries
  }

  private def chain(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: chain(x.getCause))

  test("persistent transient failure surfaces after 3 attempts") {
    val e = intercept[Exception](InsightsSource.read(spark, pagedDir(), Seq("tx")))
    assert(chain(e).exists(_.getMessage.contains("failed after 3 attempts")),
      s"got: ${chain(e).map(_.getMessage)}")
  }

  test("an account out of retries is isolated; its neighbour's rows land") {
    val dir = pagedDir()
    val read = InsightsSource.read(spark, dir, Seq("pg", "tx"))
    assert(read.failedAccounts.map(_._1) == Seq("tx"))
    assert(read.failedAccounts.head._2.contains("failed after 3 attempts"))
    val r = Pipelines.dailySync(spark, dir, Seq("pg", "tx"), s"$dir/table", s"$dir/audit")
    assert(r.counters.failedAccounts == Seq("tx"))
    assert(r.counters.appended == 4 && Sinks.readTable(spark, s"$dir/table").count() == 4)
  }

  test("token errors (190) are fatal: classified and never retried") {
    val dir = pagedDir()
    for (accounts <- Seq(Seq("ft"), Seq("pg", "ft"))) {
      val e = intercept[Exception](InsightsSource.read(spark, dir, accounts))
      val api = chain(e).collectFirst { case a: AdsApiError => a }
      assert(api.isDefined, s"no AdsApiError in: ${chain(e).map(_.getMessage)}")
      assert(api.get.fatal && api.get.code == 190)
      assert(api.get.getMessage.contains("[fatal - not retried]"))
    }
  }
}
