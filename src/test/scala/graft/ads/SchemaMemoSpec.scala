package graft.ads

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.SparkSpec

/** `Sinks.readTable` takes the footer-merged schema from the per-version
  * memo in [[SchemaEvolution.tableSchema]]: the same schema as a merging
  * read, no Spark job while the table is unchanged, and a fresh merge after
  * any write to the table.
  */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir = Fixtures.write()
  private def work(name: String): String =
    Files.createTempDirectory(s"graft-schema-memo-$name").toString

  /** One day of rows for `ad`, with an action column of its own. */
  private def batch(ad: String, day: String, action: String): DataFrame =
    Seq(("campX", ad, "facebook", day, day, 10L, 1.0))
      .toDF("campaign_name", "ad_name", "publisher_platform", "date_start", "date_stop",
        "impressions", action)

  private def mergedRead(path: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(path).schema

  test("after evolving appends the schema equals a merging read, p_date last") {
    val table = s"${work("evolve")}/t"
    Seq("act_a", "act_b", "act_c").zipWithIndex.foreach { case (a, i) =>
      Sinks.appendToTableChecked(spark, batch(s"ad$i", s"2024-05-0${i + 1}", a), table).appended
      Sinks.readTable(spark, table) // fills the memo for this version
    }
    val schema = Sinks.readTable(spark, table).schema
    assert(schema == mergedRead(table)) // names, order, types and nullability
    assert(schema.fieldNames.last == "p_date")
    assert(Seq("act_a", "act_b", "act_c").forall(schema.fieldNames.contains))
  }

  test("a second readTable on an unchanged table runs no Spark job") {
    val table = s"${work("hit")}/t"
    // a plain write: an append through Sinks would record its schema itself
    batch("ad1", "2024-05-01", "act_a")
      .withColumn("p_date", $"date_start".cast("date"))
      .write.partitionBy("p_date").parquet(table)
    val (_, first) = JobCounter.during(spark)(Sinks.readTable(spark, table))
    assert(first.footerMerges.get() == 1, "the table changed, so the first read merges")
    val (df, second) = JobCounter.during(spark)(Sinks.readTable(spark, table))
    assert(second.jobs.get() == 0, s"${second.jobs.get()} jobs")
    assert(df.schema == mergedRead(table))
  }

  test("a new action column shows up after appendToTable, compact and a plain write") {
    val table = s"${work("writes")}/t"
    Sinks.appendToTableChecked(spark, batch("ad1", "2024-05-01", "act_a"), table).appended
    assert(!Sinks.readTable(spark, table).columns.contains("act_b"))

    Sinks.appendToTableChecked(spark, batch("ad2", "2024-05-02", "act_b"), table).appended
    assert(Sinks.readTable(spark, table).columns.contains("act_b"))

    Sinks.compact(spark, table)
    val compacted = Sinks.readTable(spark, table)
    assert(compacted.schema == mergedRead(table))
    assert(compacted.columns.contains("act_b") && compacted.count() == 2)

    // a write that bypasses Sinks changes the file listing just the same
    batch("ad3", "2024-05-03", "act_c")
      .withColumn("p_date", $"date_start".cast("date"))
      .write.mode("append").partitionBy("p_date").parquet(table)
    val plain = Sinks.readTable(spark, table)
    assert(plain.schema == mergedRead(table))
    assert(plain.filter($"ad_name" === "ad3").select("act_c").as[Double].head() == 1.0)
  }

  test("an append records the merging read's schema: the next read runs no job") {
    val table = s"${work("record")}/t"
    Sinks.appendToTableChecked(spark, batch("ad1", "2024-05-01", "act_a"), table).appended
    // the first adds a column, the second does not
    Seq(batch("ad2", "2024-05-02", "act_b"), batch("ad3", "2024-05-03", "act_a")).foreach { b =>
      assert(Sinks.appendToTableChecked(spark, b, table).appended == 1)
      val (df, counter) = JobCounter.during(spark)(Sinks.readTable(spark, table))
      assert(counter.jobs.get() == 0, s"${counter.jobs.get()} jobs")
      assert(df.schema == mergedRead(table)) // names, order, types and nullability
    }
  }

  test("compact right after loadCsv runs no footer-merge job") {
    val dir = work("compact")
    val (csv, _) = Pipelines.backfill(spark, fixtureDir, Seq("a1", "a2"),
      "2024-03-01", "2024-03-02", s"$dir/out")
    assert(Pipelines.loadCsv(spark, csv, s"$dir/t").counters.appended == 4)
    val (_, counter) = JobCounter.during(spark)(Sinks.compact(spark, s"$dir/t"))
    assert(counter.footerMerges.get() == 0, counter.callSites)
    assert(Sinks.readTable(spark, s"$dir/t").count() == 4)
  }

  test("a dailySync into a just-read table runs no footer merge and at most 6 jobs") {
    val dir = work("sync")
    val table = s"$dir/t"
    Pipelines.dailySync(spark, fixtureDir, Seq("a1"), table, s"$dir/audit1")
    Sinks.readTable(spark, table).count()
    val (r, counter) = JobCounter.during(spark) {
      Pipelines.dailySync(spark, fixtureDir, Seq("a2"), table, s"$dir/audit2")
    }
    assert(r.rowsProcessed == 3)
    assert(counter.footerMerges.get() == 0)
    assert(counter.jobs.get() <= 6, s"${counter.jobs.get()} jobs")
    assert(Sinks.readTable(spark, table).columns.contains("novel_metric_v2"))
  }
}
