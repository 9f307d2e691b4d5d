package graft.ads

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Error taxonomy of the insights API (reference `main.py:305-339`): body
  * errors with codes 190/104 are token failures and HTTP 401/403 are
  * auth/permission failures — all four are FATAL (the reference raises
  * immediately; retrying an expired token cannot succeed). Every other
  * error, and a transport failure, is TRANSIENT and retried up to 3
  * attempts (`max_retries = 3`).
  */
final case class AdsApiError(code: Int, errType: String, message: String)
    extends RuntimeException(
      s"Insights API error [$code] ($errType): $message" +
        (if (AdsApiError.fatalCodes(code)) " [fatal - not retried]" else "")) {
  def fatal: Boolean = AdsApiError.fatalCodes(code)
}

object AdsApiError {
  /** 190/104 = token expired/invalid; 401/403 = unauthorized/forbidden. */
  val fatalCodes: Set[Int] = Set(190, 104, 401, 403)
}

/** Fixture-backed insights source (reference `main.py:262-342`,
  * `backfill.py:49-119`). The environment is zero-egress, so the remote API
  * is modeled as JSON-lines files read with the declared nested schema (no
  * inference: the API contract is the schema). An account's records are
  * one `account_<id>.jsonl`, or the pages `account_<id>.page1.jsonl`,
  * `.page2.jsonl`, … of the reference's cursor walk.
  *
  * Semantics carried over from the reference:
  *  - paging (`main.py:297-324`): pages are walked in cursor order until one
  *    is missing or empty (`if not page: break`); later pages are not read;
  *  - retry ×3 and the error taxonomy of [[AdsApiError]] (`main.py:294-339`);
  *  - per-account failure isolation (`main.py:471-498`): an account that is
  *    missing or exhausts its retries is recorded and skipped; only if ALL
  *    accounts fail does the read raise;
  *  - explicit ingest order: (account list position, page, ingest_idx) —
  *    the deterministic replacement for the reference's Python arrival
  *    order (see [[AdSchema.rawSchema]]);
  *  - optional date-range options (`backfill.py:82-83`) applied as a
  *    filter that Catalyst pushes into the JSON scan.
  *
  * The driver only resolves and probes the files (no Spark job); the
  * records are read by one JSON file scan. At 100 TB this is the same code
  * over a partitioned landing zone (`.../account=<id>/date=<d>/` jsonl
  * files), where the account/date predicates become partition pruning.
  */
object InsightsSource {

  final case class ReadResult(data: DataFrame, failedAccounts: Seq[(String, String)])

  /** One file of an account's record stream in `dir`; page 0 is the
    * single-file form.
    */
  private final case class SourceFile(dir: Path, account: String, idx: Int, page: Int) {
    val path: Path = new Path(dir,
      if (page == 0) s"account_$account.jsonl" else s"account_$account.page$page.jsonl")
  }

  private val maxAttempts = 3
  private val mapper = new ObjectMapper()

  /** One JSON file scan over the files the accounts resolve to; each row's
    * `account_id` and `account_idx` (list position) come from its file name
    * (see [[withLineage]]). An account listed twice is read once, at its
    * first position: first-wins dedup would discard the later copy anyway.
    * A fatal API error propagates: the token is shared, so no account can
    * succeed.
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
    val resolved = accounts.zipWithIndex.distinctBy(_._1)
      .map { case (acct, idx) => acct -> resolve(fs, dir, acct, idx) }
    val failures = resolved.collect { case (acct, Left(reason)) => acct -> reason }
    val files = resolved.flatMap(_._2.getOrElse(Nil))
    if (files.isEmpty)
      throw new IllegalStateException(s"all ${accounts.size} accounts failed: " +
        failures.map { case (acct, reason) => s"$acct ($reason)" }.mkString(", "))
    val raw = spark.read.schema(AdSchema.rawSchema).json(files.map(_.path.toString): _*)
    ReadResult(inRange(withLineage(raw, files), dateStart, dateStop), failures)
  }

  /** The landing zone as a file stream of the listed accounts' single-file
    * records, with the lineage columns of [[read]]. Files of unlisted
    * accounts (and page files) are dropped.
    */
  def readStream(spark: SparkSession, fixtureDir: String, accounts: Seq[String]): DataFrame = {
    val files = accounts.zipWithIndex.distinctBy(_._1)
      .map { case (acct, idx) => SourceFile(new Path(fixtureDir), acct, idx, page = 0) }
    val raw = spark.readStream.schema(AdSchema.rawSchema)
      .option("pathGlobFilter", "account_*.jsonl").json(fixtureDir)
    withLineage(raw, files).filter(col("account_id").isNotNull)
  }

  /** The account's files in cursor order (the empty page that ends a walk
    * included: it scans to nothing), or why the account failed.
    */
  private def resolve(
      fs: FileSystem, dir: Path, acct: String, idx: Int): Either[String, Seq[SourceFile]] = {
    def walk(page: Int): Either[String, List[SourceFile]] = {
      val f = SourceFile(dir, acct, idx, page)
      val isFile =
        try fs.getFileStatus(f.path).isFile catch { case _: FileNotFoundException => false }
      if (!isFile) Right(Nil)
      else probe(fs, f.path).flatMap { hasRecord =>
        if (hasRecord && page > 0) walk(page + 1).map(f :: _) else Right(List(f))
      }
    }
    (walk(0) match {
      case Right(Nil) => walk(1)
      case single     => single
    }).filterOrElse(_.nonEmpty, s"fixture for account $acct not found")
  }

  /** Probes `path` up to [[maxAttempts]] times: whether it holds a record,
    * or why it failed. A fatal [[AdsApiError]] propagates at once; a
    * transient failure (an I/O error or a non-fatal API error) is retried.
    */
  private def probe(fs: FileSystem, path: Path, attempt: Int = 1): Either[String, Boolean] =
    Try(probeOnce(fs, path)) match {
      case Success(hasRecord) => Right(hasRecord)
      case Failure(e: AdsApiError) if e.fatal => throw e
      case Failure(e @ (_: IOException | _: AdsApiError)) =>
        if (attempt < maxAttempts) probe(fs, path, attempt + 1)
        else Left(s"page ${path.getName} failed after $maxAttempts attempts: ${e.getMessage}")
      case Failure(e) => throw e
    }

  /** One fetch attempt: consumes one injected failure from a local
    * `<file>.transient` counter (the stand-in for a request timeout), then
    * reads up to the first non-blank line; an `{"error": …}` body there
    * raises [[AdsApiError]].
    */
  private def probeOnce(fs: FileSystem, path: Path): Boolean = {
    val marker = new java.io.File(path.toUri.getPath + ".transient").toPath
    if (Files.exists(marker)) {
      val remaining = new String(Files.readAllBytes(marker), UTF_8).trim.toInt
      if (remaining > 0) {
        Files.write(marker, (remaining - 1).toString.getBytes(UTF_8))
        throw new IOException(s"simulated transient failure (${path.getName})")
      }
    }
    val in = new BufferedReader(new InputStreamReader(fs.open(path), UTF_8))
    val first = try Iterator.continually(in.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
    finally in.close()
    for {
      line <- first
      err <- Try(mapper.readTree(line)).toOption.flatMap(n => Option(n.get("error")))
      if !err.isNull
    } throw AdsApiError(
      Option(err.get("code")).map(_.asInt).getOrElse(-1),
      Option(err.get("type")).map(_.asText).getOrElse("Unknown"),
      Option(err.get("message")).map(_.asText).getOrElse("Unknown error"))
    first.nonEmpty
  }

  /** `raw` with its lineage, through one literal map on
    * `_metadata.file_name` (the last segment of the file's URI-encoded
    * path): `account_id`, `account_idx`, and, on a page file, `ingest_idx`
    * lifted to `page << 40` plus the record's own (0 when unstamped), so
    * that ingest order is (account, page, record). Single-file rows keep
    * their `ingest_idx`; a file outside `files` gets null lineage.
    */
  private def withLineage(raw: DataFrame, files: Seq[SourceFile]): DataFrame = {
    val byName = typedLit(files.map { f =>
      f.path.toUri.getRawPath.split('/').last -> (f.account, f.idx, f.page.toLong << 40)
    }.toMap)
    val src = element_at(byName, col("_metadata.file_name"))
    val ingest = when(src("_3") === 0L, col("ingest_idx"))
      .otherwise(src("_3") + coalesce(col("ingest_idx"), lit(0L)))
    raw.select(raw.columns.map(c => if (c == "ingest_idx") ingest.as(c) else col(c)).toSeq ++
      Seq(src("_1").as("account_id"), src("_2").as("account_idx")): _*)
  }

  /** Keeps the rows whose `date_start` lies in the inclusive range. */
  private def inRange(df: DataFrame, start: Option[String], stop: Option[String]): DataFrame =
    (start, stop) match {
      case (Some(s0), Some(s1)) => df.filter(col("date_start").between(s0, s1))
      case (Some(s0), None)     => df.filter(col("date_start") >= s0)
      case (None, Some(s1))     => df.filter(col("date_start") <= s1)
      case _                    => df
    }
}
