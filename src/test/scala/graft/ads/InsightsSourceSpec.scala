package graft.ads

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The insights read is one JSON file scan over the account files, with the
  * same rows and lineage columns as one read per account.
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
}
