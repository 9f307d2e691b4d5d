package graft.ads

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

import graft.{JobCounter, SparkSpec, Tables}

/** `Tables.read` takes each table's schema from the shared per-version memo
  * ([[graft.SchemaMemo]]) that also serves [[SchemaEvolution.tableSchema]]:
  * the same schema as the inferring read, no Spark job while the table is
  * unchanged, and a fresh inference after the table or the session's
  * type-mapping settings change.
  */
class TablesSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def work(name: String): String =
    Files.createTempDirectory(s"graft-tables-memo-$name").toString
  /** Writes `df` as the single parquet file `$dir/$name.parquet` (the
    * driver corpus layout), replacing any file there.
    */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"${work("staging")}/out"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }
  private lazy val nation = Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L))
    .toDF("n_nationkey", "n_name", "n_regionkey")
  private lazy val region = Seq((0L, "AFRICA", "x")).toDF("r_regionkey", "r_name", "r_comment")
  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  test("a second Tables.read of an unchanged table runs no Spark job") {
    val dir = work("hit")
    writeFile(nation, dir, "nation")
    val (_, first) = JobCounter.during(spark)(Tables.read(spark, dir, "nation"))
    assert(first.jobs.get() == 1, "the table is new, so the first read infers its schema")
    val (df, second) = JobCounter.during(spark)(Tables.read(spark, dir, "nation"))
    assert(second.jobs.get() == 0, s"${second.jobs.get()} jobs")
    assert(df.count() == spark.read.parquet(s"$dir/nation.parquet").count())
  }

  test("the memoized schema is the inferring read's, for a single file and a directory") {
    val dir = work("same")
    writeFile(spark.range(30).selectExpr("id", "CAST(id AS DOUBLE) AS x", "id % 2 = 0 AS even"),
      dir, "single")
    spark.range(40)
      .selectExpr("id", "id % 3 AS k", "CAST(id AS STRING) AS s", "named_struct('a', id) AS st")
      .write.partitionBy("k").parquet(s"$dir/multi.parquet")
    Seq("single", "multi").foreach { t =>
      val path = s"$dir/$t.parquet"
      Tables.read(spark, dir, t) // fills the memo
      val (df, c) = JobCounter.during(spark)(Tables.read(spark, dir, t))
      assert(c.jobs.get() == 0, s"$t: ${c.jobs.get()} jobs")
      assert(df.schema == inferred(path), t) // names, order, types and nullability
      assert(df.except(spark.read.parquet(path)).isEmpty, t)
    }
    assert(Tables.read(spark, dir, "multi").schema.fieldNames.last == "k")
  }

  test("overwriting a table at the same path shows the new schema") {
    val dir = work("overwrite")
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id", "'x' AS a").write.parquet(path)
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("id", "a"))
    spark.range(3).selectExpr("id", "id * 2.0 AS b").write.mode("overwrite").parquet(path)
    val after = Tables.read(spark, dir, "t")
    assert(after.schema == inferred(path))
    assert(after.columns.toSeq == Seq("id", "b"))

    writeFile(nation, dir, "f")
    assert(Tables.read(spark, dir, "f").columns.contains("n_nationkey"))
    writeFile(region, dir, "f")
    val replaced = Tables.read(spark, dir, "f")
    assert(replaced.schema == inferred(s"$dir/f.parquet"))
    assert(replaced.columns.contains("r_regionkey") && !replaced.columns.contains("n_nationkey"))
  }

  test("toggling nanosAsLong changes the ts type Tables.events sees") {
    val dir = work("nanos")
    // one event with a TIMESTAMP(NANOS) ts, the older corpus form
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withConf(conf).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()
    // the session reads the nanos as a raw long
    assert(Tables.read(spark, dir, "events").schema("ts").dataType == LongType)
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      // the memoized LongType belongs to the other setting: this read infers
      // afresh, and Spark rejects nanosecond timestamps natively
      val err = intercept[Exception](Tables.read(spark, dir, "events"))
      assert(err.getMessage.contains("NANOS"), err.getMessage)
    }
    // back under the session's setting, Tables.events reads the nanos
    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.select("ts").as[Timestamp].head() ==
      Timestamp.from(Instant.ofEpochSecond(1700000000L, 123456000L)))
  }
}
