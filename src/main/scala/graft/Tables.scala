package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver corpus (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * All tables are plain parquet; Catalyst pushes column pruning and
  * predicate filters down to the scan, so readers stay unfiltered here and
  * every query declares its own projection/predicates declaratively.
  *
  * Each table's schema is inferred once per file version ([[SchemaMemo]]):
  * a read of a table unchanged since its last inference plans without the
  * footer-reading Spark job.
  *
  * Scale note (100 TB): at cluster scale these would be partitioned/bucketed
  * tables (`spark.table`), not single files; keeping every access behind this
  * one object means swapping the storage layout touches exactly one file.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    SchemaMemo.schema(spark, path, mergeSchema = false)
      .fold(spark.read)(spark.read.schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across driver corpora:
    * TIMESTAMP(NANOS) (which Spark rejects natively — the legacy flag reads
    * the nanos as a raw long, truncated here to micros) and plain
    * TIMESTAMP(MICROS)/NTZ. Branch on the footer schema and normalize both
    * to session-local TimestampType; the session runs UTC
    * (GraftSession), so the NTZ cast is the identity wall-clock → instant
    * mapping and both forms land on the same micros. DuckDB oracles read
    * the file directly via CAST(ts AS TIMESTAMP) — representation-agnostic
    * on their side, so the two engines agree either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

/** One named query: a Spark plan plus (optionally) the DuckDB oracle SQL the
  * driver hash-compares against. Column names/aliases MUST match the oracle.
  * The builders register graft's native functions on the session before
  * the body runs, so no query body registers them itself.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, registered(run), Some(sql))
  def unchecked(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, registered(run), None)

  private def registered(run: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    run(s, d)
  }
}
