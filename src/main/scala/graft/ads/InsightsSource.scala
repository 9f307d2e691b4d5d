package graft.ads

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-backed insights source (reference `main.py:262-342`,
  * `backfill.py:49-119`). The environment is zero-egress, so the remote API
  * is modeled as JSON-lines files — one `account_<id>.jsonl` per ad account —
  * read with the declared nested schema (no inference: the API contract is
  * the schema).
  *
  * Semantics carried over from the reference:
  *  - per-account failure isolation (`main.py:471-498`): a missing account
  *    is recorded and skipped; only if ALL accounts fail does the read
  *    raise;
  *  - explicit ingest order: (account list position, ingest_idx within the
  *    account's page stream) — the deterministic replacement for the
  *    reference's Python arrival order;
  *  - optional date-range options (`backfill.py:82-83`) applied as a
  *    pushed-down filter (Catalyst collapses it into the scan).
  *
  * Scale: one scan over the account files here; at 100 TB this is the same
  * code over a partitioned landing zone (`.../account=<id>/date=<d>/` jsonl
  * files), where the account/date predicates become partition pruning.
  */
object InsightsSource {

  final case class ReadResult(data: DataFrame, failedAccounts: Seq[(String, String)])

  /** One file scan over the accounts whose files exist; each row's
    * `account_id` and `account_idx` (list position) come from its file name
    * through one literal map. An account listed twice is read once, at its
    * first position: first-wins dedup would discard the later copy anyway.
    */
  def read(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      dateStart: Option[String] = None,
      dateStop: Option[String] = None): ReadResult = {
    require(accounts.nonEmpty, "at least one account required")
    val dir = new Path(fixtureDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (found, missing) = accounts.zipWithIndex.distinctBy(_._1)
      .map { case (acct, idx) => (acct, idx, new Path(dir, s"account_$acct.jsonl")) }
      .partition { case (_, _, file) => fs.exists(file) && fs.getFileStatus(file).isFile }
    val failures = missing.map { case (acct, _, _) => acct -> s"fixture for account $acct not found" }
    if (found.isEmpty)
      throw new IllegalStateException(
        s"all ${accounts.size} accounts failed: ${failures.map(_._1).mkString(", ")}")
    // `_metadata.file_name` is the last segment of the file's URI-encoded path
    val lineage = typedLit(found.map { case (acct, idx, file) =>
      file.toUri.getRawPath.split('/').last -> (acct, idx)
    }.toMap)
    val raw = spark.read.schema(AdSchema.rawSchema).json(found.map(_._3.toString): _*)
    val acct = element_at(lineage, col("_metadata.file_name"))
    val data = raw.select(col("*"), acct("_1").as("account_id"), acct("_2").as("account_idx"))
    ReadResult(inRange(data, dateStart, dateStop), failures)
  }

  /** DataSource V2 path (graft.sources.InsightsV2Source): one partition per
    * account on executors, with column pruning and date-filter pushdown into
    * the reader. Same rows as [[read]]; this is the form that scales past
    * driver memory. Date predicates are plain filters here — Catalyst pushes
    * them into the source (see InsightsV2SourceSpec's plan assertion).
    */
  def readV2(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      dateStart: Option[String] = None,
      dateStop: Option[String] = None): DataFrame =
    inRange(spark.read.format("graft.sources.InsightsV2Source")
      .option("path", fixtureDir)
      .option("accounts", accounts.mkString(","))
      .load(), dateStart, dateStop)

  /** Keeps the rows whose `date_start` lies in the inclusive range. */
  private def inRange(df: DataFrame, start: Option[String], stop: Option[String]): DataFrame =
    (start, stop) match {
      case (Some(s0), Some(s1)) => df.filter(col("date_start").between(s0, s1))
      case (Some(s0), None)     => df.filter(col("date_start") >= s0)
      case (None, Some(s1))     => df.filter(col("date_start") <= s1)
      case _                    => df
    }
}
