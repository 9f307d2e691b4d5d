package graft.ads

import java.util.concurrent.atomic.AtomicReference

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, collect_set, count, flatten, lit, map_keys, when}
import org.apache.spark.sql.streaming.Trigger

/** Typed counters of one ETL run, read from observations on the run's own
  * jobs (no job of their own). A job without a stage leaves its counter 0:
  * `rejected` is the table sink's, `appended` counts the rows the job wrote
  * to its sink (the table for the daily sync and the CSV load, the CSV for
  * the backfill).
  */
final case class EtlCounters(
    rowsRead: Long = 0L,
    rowsDeduped: Long = 0L,
    rejected: Long = 0L,
    appended: Long = 0L,
    failedAccounts: Seq[String] = Seq.empty) {

  /** Both runs' counters summed (a streaming sync's micro-batches). */
  def +(o: EtlCounters): EtlCounters = EtlCounters(rowsRead + o.rowsRead,
    rowsDeduped + o.rowsDeduped, rejected + o.rejected, appended + o.appended,
    failedAccounts ++ o.failedAccounts)
}

/** §3 entry points: the three executables of the reference, wired from the
  * operators. (`main.py:454-550`, `backfill.py:177-291`,
  * `load_csv_to_bq.py:41-151`.)
  */
final case class JobResult(
    status: String, message: String, rowsProcessed: Long,
    counters: EtlCounters = EtlCounters())

object Pipelines {

  /** The one ETL core, under the daily, backfill and streaming triggers:
    * runs `sink` over the first-wins dedup of `raw`, flattened and pivoted
    * on the batch's own action types.
    *
    * The deduped rows are materialized once, in [[AdOps.flattenToMap]]'s
    * map form: an eager `localCheckpoint` whose fill is two jobs (the dedup
    * shuffle's map stage, then the checkpoint), each raw record scanned
    * once. Observations on that fill count the rows read and kept and
    * collect the kept rows' action types, so no job runs only to get the
    * types. `sink` gets the checkpoint with the map expanded to the sorted
    * types ([[AdOps.expandActions]]); the checkpoint's blocks are released
    * when `sink` returns or throws.
    *
    * Returns `sink`'s result, rows read, rows after dedup.
    */
  private def dedupPivot[T](raw: DataFrame)(sink: DataFrame => T): (T, Long, Long) = {
    val winner = col(AdOps.rankCol) === 1
    val counts = Observation()
    val seen = Observation()
    // the dedup's own hash partitioning, as a fixed count: left to AQE, the
    // checkpoint's shuffle would coalesce, which reorders the audit's rows
    // and changes how many files the append writes per day
    val partitions = raw.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val kept = AdOps.firstWinsRank(raw.repartition(partitions, AdOps.dedupKey.map(col): _*))
      .observe(counts, count(lit(1)).as("read"), count(when(winner, 1)).as("kept"))
      .filter(winner).drop(AdOps.rankCol)
    val flat = AdOps.flattenToMap(kept)
      .observe(seen, flatten(collect_set(map_keys(col(AdOps.actionsCol)))).as("types"))
      .localCheckpoint()
    try {
      // an observation over no rows may complete with no values
      val types = seen.get.get("types").collect { case ts: Seq[_] => ts.map(_.toString) }
        .getOrElse(Seq.empty).distinct.sorted
      def counted(k: String) = counts.get.get(k).fold(0L)(_.asInstanceOf[Long])
      (sink(AdOps.expandActions(flat, types)), counted("read"), counted("kept"))
    } finally flat.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
  }

  /** Runs `a` on the calling thread while `b` runs on a new thread, and
    * returns both outcomes once both have ended. A new thread per call, not
    * a pool, so the Spark local properties it inherits (job group, trace
    * tags) are the caller's at this call.
    */
  private def both[A, B](a: => A, b: => B): (Try[A], Try[B]) = {
    var second: Try[B] = Failure(new IllegalStateException("sink thread did not finish"))
    val t = new Thread(() => second = try Success(b) catch { case e: Throwable => Failure(e) },
      "graft-sink")
    t.start()
    val first = try Try(a) finally t.join()
    (first, second)
  }

  /** Daily sync (reference `main.py:454-550`): fetch per account with
    * failure isolation → first-wins dedup on RAW records → flatten+pivot on
    * the batch's action types → CSV audit and append to the day-partitioned
    * table (schema-evolving). `dryRun` builds and audits but skips the
    * table sink (reference `main.py:462,538-540`).
    *
    * One pass, like the reference: the dedup is materialized once (two
    * jobs, see [[dedupPivot]]), the action types are observed on that fill,
    * and the CSV audit and the append (one job each) both read the
    * materialization, so each raw record is scanned once and the dedup
    * shuffle runs once: 4 jobs in all. Every count in the result is
    * observed on those jobs (see [[EtlCounters]]); none runs a job of its
    * own.
    *
    * The audit and the append do not depend on each other and run at the
    * same time: the append on a new thread, the audit on the caller's. Both
    * have ended before the materialization is released. So, unlike the
    * reference, the append does not wait for the audit to commit: a failed
    * audit can leave a committed append behind, and its error says how many
    * rows the append committed (a re-run of the day would append them
    * again). A failed append fails the sync whatever the audit did.
    */
  def dailySync(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      tablePath: String,
      auditCsvPath: String,
      dryRun: Boolean = false): JobResult = {
    val read = InsightsSource.read(spark, fixtureDir, accounts)
    val ((audited, append), rowsRead, rowsDeduped) = dedupPivot(read.data) { flat =>
      if (dryRun) (Sinks.csvAudit(flat, auditCsvPath), None)
      else both(Sinks.csvAudit(flat, auditCsvPath),
          Sinks.appendToTableChecked(spark, flat, tablePath)) match {
        case (Success(n), Success(a)) => (n, Some(a))
        case (audit, Failure(e)) =>
          audit.failed.foreach(e.addSuppressed)
          throw e
        case (Failure(e), Success(a)) =>
          throw new IllegalStateException(s"CSV audit to $auditCsvPath failed after the " +
            s"append committed ${a.appended} rows to $tablePath; re-running this day " +
            "appends them again", e)
      }
    }
    val rows = append.fold(audited)(_.appended)
    val rejectNote = append.filter(_.rejected > 0).fold("")(r =>
      s"; rejected ${r.rejected} rows failing REQUIRED columns: " + r.rowErrors.mkString(" | "))
    val failed = read.failedAccounts.map(_._1)
    val failNote =
      if (failed.isEmpty) "" else s" (failed accounts: ${failed.mkString(", ")})"
    JobResult(if (dryRun) "dry_run" else "success",
      s"processed $rows rows$failNote$rejectNote", rows,
      EtlCounters(rowsRead, rowsDeduped, append.fold(0L)(_.rejected), rows, failed))
  }

  /** Backfill (reference `backfill.py:177-291`): ranged read, dedup across
    * the WHOLE multi-day batch, explicit inclusive range filter (the API may
    * return out-of-range rows), CSV output named like the reference. Same
    * single materialization as [[dailySync]]; the row count is observed on
    * the CSV write.
    */
  def backfill(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      startDate: String,
      endDate: String,
      outDir: String): (String, JobResult) = {
    require(startDate <= endDate, s"start $startDate must be <= end $endDate")
    val read = InsightsSource.read(spark, fixtureDir, accounts,
      dateStart = Some(startDate), dateStop = Some(endDate))
    val path = s"$outDir/backfill_${startDate}_to_$endDate.csv"
    val (n, rowsRead, rowsDeduped) = dedupPivot(read.data) { flat =>
      Sinks.csvAudit(AdOps.dateRangeFilter(flat, startDate, endDate), path)
    }
    (path, JobResult("success", s"backfilled $n rows", n,
      EtlCounters(rowsRead, rowsDeduped, appended = n,
        failedAccounts = read.failedAccounts.map(_._1))))
  }

  /** CSV → table append (reference `load_csv_to_bq.py:86-110`): header skip +
    * schema inference + WRITE_APPEND, reporting the rows loaded and rejected
    * as observed on the append's write. The table's size is
    * [[Monitoring.rowCount]]'s to report; counting it here would scan the
    * whole table after every load.
    */
  def loadCsv(spark: SparkSession, csvPath: String, tablePath: String): JobResult = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(csvPath)
    val loaded = Sinks.appendToTableChecked(spark, df, tablePath)
    JobResult("success", s"loaded ${loaded.appended} rows",
      loaded.appended, EtlCounters(rejected = loaded.rejected, appended = loaded.appended))
  }

  /** Daily sync as an INCREMENTAL streaming job: the landing zone consumed
    * as a file stream ([[InsightsSource.readStream]]), each micro-batch run
    * through the daily sync's core ([[dedupPivot]] → checked append),
    * Trigger.AvailableNow to drain-and-stop. This is the Spark-native form
    * of the reference's scheduler-triggered batch (SURVEY §1.2): re-running
    * picks up only NEW fixture files (checkpointed source offsets), giving
    * exactly-once file consumption instead of max-instances=1 discipline.
    *
    * Each micro-batch pivots on its own action types, so a novel type that
    * lands mid-stream evolves the table in the same run. Dedup is per
    * micro-batch. The counters are summed over the batches; `rowsProcessed`
    * is the rows this run appended.
    */
  def dailySyncStreaming(
      spark: SparkSession,
      fixtureDir: String,
      accounts: Seq[String],
      tablePath: String,
      checkpointDir: String): JobResult = {
    val total = new AtomicReference(EtlCounters())
    val q = InsightsSource.readStream(spark, fixtureDir, accounts).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (append, rowsRead, rowsDeduped) =
          dedupPivot(batch)(Sinks.appendToTableChecked(spark, _, tablePath))
        val counters = EtlCounters(rowsRead, rowsDeduped, append.rejected, append.appended)
        total.getAndUpdate(_ + counters): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counters = total.get
    JobResult("success", s"streaming sync appended ${counters.appended} rows",
      counters.appended, counters)
  }

  /** S4: most-recent backfill file discovery (`load_csv_to_bq.py:132-148`). */
  def latestBackfillCsv(dir: String): Option[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.map(_.getName).filter(n => n.startsWith("backfill_") && n.endsWith(".csv"))
      .sorted(Ordering[String].reverse).headOption.map(n => s"$dir/$n")
  }
}
