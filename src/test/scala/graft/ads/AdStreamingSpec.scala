package graft.ads

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

class AdStreamingSpec extends SparkSpec {

  private lazy val fixtureDir = Fixtures.write()

  private def work(): String = Files.createTempDirectory("graft-ad-stream").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("streaming daily sync drains the landing zone once, idempotently") {
    val dir = work()
    val (table, ckpt) = (s"$dir/table", s"$dir/ckpt")
    val r1 = Pipelines.dailySyncStreaming(spark, fixtureDir, Seq("a1", "a2"), table, ckpt)
    assert(r1.status == "success")
    assert(r1.rowsProcessed == 5) // same dedup result as the batch sync

    // re-run with the same checkpoint: no new files → no duplicate appends
    val r2 = Pipelines.dailySyncStreaming(spark, fixtureDir, Seq("a1", "a2"), table, ckpt)
    assert(r2.counters.appended == 0)
    assert(Sinks.readTable(spark, table).count() == 5)
  }

  test("streaming sync ignores landing-zone files of unlisted accounts (batch parity)") {
    val dir = work()
    // a2's file sits in the same landing zone but only a1 is requested
    val r = Pipelines.dailySyncStreaming(spark, fixtureDir, Seq("a1"),
      s"$dir/table", s"$dir/ckpt")
    assert(r.rowsProcessed == 3) // acct1's 4 records minus its exact-key dup
    val batch = Pipelines.dailySync(spark, fixtureDir, Seq("a1"),
      s"$dir/batch", s"$dir/audit.csv", dryRun = true)
    assert(r.rowsProcessed == batch.rowsProcessed)
  }

  test("streaming sync maps an account id with a space via its file name") {
    val landing = work()
    Files.copy(Paths.get(s"$fixtureDir/account_a1.jsonl"), Paths.get(s"$landing/account_a 3.jsonl"))
    val dir = work()
    val q = InsightsSource.readStream(spark, landing, Seq("a 3")).writeStream
      .format("memory").queryName("ad_stream_lineage")
      .option("checkpointLocation", s"$dir/lineage-ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val lineage = spark.table("ad_stream_lineage").groupBy("account_id", "account_idx").count()
    assert(lineage.collect().toSeq == Seq(Row("a 3", 0, 4L)))

    val r = Pipelines.dailySyncStreaming(spark, landing, Seq("a 3"), s"$dir/table", s"$dir/ckpt")
    assert(r.rowsProcessed == 3)
    assert(Sinks.readTable(spark, s"$dir/table").count() == 3)
  }

  test("batch and streaming syncs give equal counters and equal tables") {
    val dir = work()
    val batch = Pipelines.dailySync(spark, fixtureDir, Seq("a1", "a2"),
      s"$dir/batch", s"$dir/audit.csv")
    val stream = Pipelines.dailySyncStreaming(spark, fixtureDir, Seq("a1", "a2"),
      s"$dir/stream", s"$dir/ckpt")
    assert(stream.counters == batch.counters)
    assert(stream.counters == EtlCounters(rowsRead = 7, rowsDeduped = 5, appended = 5))
    val (b, s) = (Sinks.readTable(spark, s"$dir/batch"), Sinks.readTable(spark, s"$dir/stream"))
    assert(s.schema == b.schema)
    assert(rows(s) == rows(b))
  }
}
