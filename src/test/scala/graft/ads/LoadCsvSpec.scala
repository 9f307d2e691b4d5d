package graft.ads

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The CSV load (reference `load_csv_to_bq.py`): an append onto a table that
  * already holds days, REQUIRED-column rejects counted, and no job after the
  * append's write (the load reports what it wrote, not the table's size).
  */
class LoadCsvSpec extends SparkSpec {

  private lazy val fixtureDir = Fixtures.write()
  private def work(name: String): String =
    Files.createTempDirectory(s"graft-load-csv-$name").toString

  test("a CSV appends to a table that already holds a day") {
    val dir = work("append")
    val table = s"$dir/t"
    Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"), table, s"$dir/audit")
    assert(Sinks.readTable(spark, table).count() == 5)
    val (csv, backfilled) = Pipelines.backfill(spark, fixtureDir, Seq("a1", "a2"),
      "2024-03-01", "2024-03-02", s"$dir/out")
    assert(backfilled.rowsProcessed == 4)

    val r = Pipelines.loadCsv(spark, csv, table)
    assert(r.status == "success")
    assert(r.message == "loaded 4 rows", r.message)
    assert(r.counters == EtlCounters(appended = 4))
    assert(Sinks.readTable(spark, table).count() == 9)
    assert(Sinks.readTable(spark, table).filter("p_date = DATE'2024-03-01'").count() == 4)
  }

  test("a row with a null REQUIRED column is rejected and counted") {
    val dir = work("rejected")
    val csv = s"$dir/load.csv"
    Files.write(Paths.get(csv), Seq(
      "campaign_name,ad_name,publisher_platform,date_start,date_stop,impressions",
      "camp1,ad1,facebook,2024-03-01,2024-03-01,10",
      ",ad2,facebook,2024-03-01,2024-03-01,20").mkString("\n").getBytes("UTF-8"))
    val r = Pipelines.loadCsv(spark, csv, s"$dir/t")
    assert(r.status == "success")
    assert(r.counters.rejected == 1 && r.counters.appended == 1, r.counters)
    assert(r.message == "loaded 1 rows", r.message)
    assert(Sinks.readTable(spark, s"$dir/t").count() == 1)
  }

  test("no Spark job starts after the append's write") {
    val dir = work("jobs")
    val (csv, _) = Pipelines.backfill(spark, fixtureDir, Seq("a1", "a2"),
      "2024-03-01", "2024-03-02", s"$dir/out")
    val (r, counter) = JobCounter.during(spark)(Pipelines.loadCsv(spark, csv, s"$dir/t"))
    assert(r.counters.appended == 4)
    val sites = counter.callSites.asScala.toSeq
    assert(sites.nonEmpty && sites.last.startsWith("parquet at Sinks.scala"), sites)
  }
}
