package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ads.{Monitoring, Pipelines, Sinks}

/** Summary values of an ads table, compared with the generator's. */
object TableStats {
  val static = Set("campaign_name", "ad_name", "publisher_platform", "impressions", "clicks",
    "spend", "date_start", "date_stop", "video_2sec_views", "video_30sec_views",
    "video_avg_watch_time", "video_p25_views", "video_p50_views", "video_p75_views",
    "video_p100_views", "p_date")

  def of(df: DataFrame): Map[String, Any] = {
    val actions = df.columns.filterNot(static).sorted.toSeq
    val actionSum =
      if (actions.isEmpty) lit(0.0)
      else actions.map(c => coalesce(sum(col(c).cast("double")), lit(0.0))).reduce(_ + _)
    val r = df.agg(
      count(lit(1)).cast("double"),
      coalesce(sum(col("impressions").cast("double")), lit(0.0)),
      coalesce(sum(col("clicks").cast("double")), lit(0.0)),
      coalesce(sum(round(col("spend").cast("double") * 100)), lit(0.0)),
      actionSum).head()
    Map("rows" -> r.getDouble(0).toLong, "impressions" -> r.getDouble(1).toLong,
      "clicks" -> r.getDouble(2).toLong, "spend_cents" -> r.getDouble(3).toLong,
      "actions_sum" -> r.getDouble(4).toLong, "action_columns" -> actions)
  }

  /** (parquet data files, total bytes) under a table directory. */
  def files(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".parquet"))
    val fs = walk(new File(path))
    (fs.size.toLong, fs.map(_.length()).sum)
  }
}

/** `ads_daily`: the reference's daily job. Each pass is one reporting day:
  * `dailySync` of that day's account files into one growing table, then the
  * monitoring reads on the table. After the timed passes the reference's
  * two batch jobs run once as whole jobs on their own landing files:
  * `backfill` to CSV, `loadCsv` of that CSV into a fresh table, and
  * `compact` of that table.
  */
final class AdsDaily(cfg: Map[String, String]) extends Workload {
  private val accounts = cfg("accounts").split(',').toSeq
  private val days = cfg("days").split(',').toSeq
  private val warmDays = cfg("warm_days").split(',').toSeq
  private val input = cfg("input")
  private val scratch = cfg("scratch")
  private val table = s"$scratch/table"
  private val rawRows = days.map(d => d -> cfg(s"raw_rows.$d").toLong).toMap
  private val observed = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var batch = Map.empty[String, Any]
  private var tracedRaw = 0L
  /** Wall time of the spans the harness opens, traced passes only. */
  private val spanWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs `body` as the harness span `name`. */
  private def span[T](trace: Option[Trace], name: String)(body: => T): (Op, Option[T]) = {
    trace.foreach(_.setSpan(name))
    val r = Main.timed(name)(body)
    trace.foreach { t => t.setSpan(""); spanWall(name) += r._1.seconds }
    r
  }

  private def cycle(spark: SparkSession, dir: String, day: String, tbl: String,
      trace: Option[Trace]): (Seq[Op], Map[String, Any]) = {
    val (sync, res) = span(trace, "Pipelines.dailySync") {
      Pipelines.dailySync(spark, dir, accounts, tbl, s"$scratch/audit/$day")
    }
    val today = java.time.LocalDate.parse(day).plusDays(1).toString
    val (o1, n) = span(trace, "Monitoring.rowCount") {
      Monitoring.rowCount(Sinks.readTable(spark, tbl))
    }
    val (o2, health) = span(trace, "Monitoring.healthCheck") {
      Monitoring.healthCheck(Sinks.readTable(spark, tbl), today).head().getAs[String]("status")
    }
    val (o3, rollup) = span(trace, "Monitoring.dailyRollup") {
      Monitoring.dailyRollup(Sinks.readTable(spark, tbl), today).collect().length
    }
    Main.deleteTree(s"$scratch/audit/$day")
    (Seq(sync.copy(kind = "sync"), o1, o2, o3), Map(
      "day" -> day,
      "synced_rows" -> res.map(_.rowsProcessed).getOrElse(-1L),
      "table_rows" -> n.getOrElse(-1L),
      "health" -> health.getOrElse(""),
      "rollup_rows" -> rollup.getOrElse(-1)))
  }

  /** backfill -> loadCsv -> compact over [start, end] of the landing files. */
  private def batchJobs(spark: SparkSession, start: String, end: String, dir: String,
      trace: Option[Trace]): (Seq[Op], Map[String, Any]) = {
    val tbl = s"$dir/table"
    val (b, bf) = span(trace, "Pipelines.backfill") {
      Pipelines.backfill(spark, cfg("landing"), accounts, start, end, s"$dir/csv")
    }
    val (l, loaded) = bf match {
      case Some((csv, _)) => span(trace, "Pipelines.loadCsv")(Pipelines.loadCsv(spark, csv, tbl))
      case None => (Op("Pipelines.loadCsv", 0, Some("skipped: backfill failed")), None)
    }
    val (c, compacted) = loaded match {
      case Some(_) => span(trace, "Sinks.compact")(Sinks.compact(spark, tbl))
      case None => (Op("Sinks.compact", 0, Some("skipped: load failed")), None)
    }
    val stats = compacted.map(_ => TableStats.of(Sinks.readTable(spark, tbl)))
    Main.deleteTree(dir)
    (Seq(b, l, c), Map(
      "backfilled_rows" -> bf.map(_._2.rowsProcessed).getOrElse(-1L),
      "loaded_rows" -> loaded.map(_.rowsProcessed).getOrElse(-1L),
      "compact_files" -> compacted.map { case (x, y) => Seq(x, y) }.getOrElse(Seq.empty),
      "table" -> stats.getOrElse(Map.empty)))
  }

  /** A warm-up unit syncs a warm-up day into a scratch table. */
  def warmUp(spark: SparkSession, k: Int): Unit = {
    val d = warmDays(k % warmDays.size)
    cycle(spark, s"$input/warm/$d", d, s"$scratch/warm_table", None)
  }

  override def reset(spark: SparkSession): Unit = Main.deleteTree(s"$scratch/warm_table")

  override def hasPass(i: Int): Boolean = i < days.size

  def pass(spark: SparkSession, i: Int, trace: Option[Trace]): Seq[Op] = {
    val d = days(i)
    if (trace.isDefined) tracedRaw += rawRows(d)
    val (ops, obs) = cycle(spark, s"$input/daily/$d", d, table, trace)
    observed += obs
    ops
  }

  override def finale(spark: SparkSession, trace: Option[Trace]): Seq[Op] = {
    val (ops, obs) = batchJobs(spark, cfg("start"), cfg("end"), s"$scratch/batch", trace)
    batch = obs
    ops
  }

  def primary(kind: String): Boolean = kind == "sync"

  def checks(spark: SparkSession): Map[String, Any] =
    Map("days" -> observed.toSeq, "table" -> TableStats.of(Sinks.readTable(spark, table)),
      "batch" -> batch)

  /** Per traced day for the daily job's layers (the inner layers are the
    * module functions `dailySync` calls), per run for the batch jobs.
    */
  private val daily: Seq[(String, String, Seq[String])] = Seq(
    ("InsightsSource.read", "Pipelines.dailySync>InsightsSource.read", Seq("s", "jobs", "rows_read")),
    ("AdOps.collectActionTypes", "Pipelines.dailySync>AdOps.collectActionTypes",
      Seq("s", "jobs", "task_s", "shuffle_mb", "rows_read")),
    ("AdOps.flattenAndPivot", "Pipelines.dailySync>AdOps.flattenAndPivot", Seq("s")),
    ("Sinks.csvAudit", "Pipelines.dailySync>Sinks.csvAudit",
      Seq("s", "jobs", "task_s", "rows_read", "out_mb")),
    ("SchemaEvolution.tableSchema", "Pipelines.dailySync>SchemaEvolution.tableSchema", Seq("s", "jobs")),
    ("Sinks.appendToTableChecked", "Pipelines.dailySync>Sinks.appendToTableChecked",
      Seq("s", "jobs", "task_s", "shuffle_mb", "rows_read", "out_mb")),
    ("Pipelines.dailySync", "Pipelines.dailySync", Seq("s", "jobs")),
    ("Monitoring.rowCount", "Monitoring.rowCount", Seq("s", "jobs", "rows_read")),
    ("Monitoring.healthCheck", "Monitoring.healthCheck", Seq("s", "jobs", "rows_read")),
    ("Monitoring.dailyRollup", "Monitoring.dailyRollup", Seq("s", "jobs", "rows_read")))
  private val once: Seq[(String, String, Seq[String])] = Seq(
    ("Pipelines.backfill", "Pipelines.backfill", Seq("s", "jobs", "task_s", "shuffle_mb", "rows_read")),
    ("Pipelines.loadCsv", "Pipelines.loadCsv", Seq("s", "jobs", "task_s", "rows_read", "out_mb")),
    ("Sinks.compact", "Sinks.compact", Seq("s", "jobs", "task_s", "shuffle_mb", "out_mb")))

  def layerMetrics(t: Trace, nTraced: Int, tracedWall: Double, cpus: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    def report(brackets: Seq[(String, String, Seq[String])], per: Double): Unit =
      brackets.foreach { case (name, key, fields) =>
        val spanKey = !key.contains('>')
        val c = t.listener.sum(_ == key)
        fields.foreach {
          case "s" => out(s"$name.s") = (if (spanKey) spanWall(key) else t.sampledSeconds(key)) / per
          case "jobs" => out(s"$name.jobs") = c.jobs / per
          case "task_s" => out(s"$name.task_s") = c.taskNs / 1e9 / per
          case "shuffle_mb" => out(s"$name.shuffle_mb") = c.shuffleBytes / 1e6 / per
          case "rows_read" => out(s"$name.rows_read") = c.rowsRead / per
          case "out_mb" => out(s"$name.out_mb") = c.outBytes / 1e6 / per
        }
      }
    report(daily, nTraced.toDouble)
    report(once, 1.0)
    out("etl.rows_read_per_row") = if (tracedRaw == 0) 0.0
      else t.listener.sum(_ == "Pipelines.dailySync").rowsRead.toDouble / tracedRaw
    out("etl.backfill_rows_read_per_row") =
      t.listener.sum(_ == "Pipelines.backfill").rowsRead.toDouble / cfg("landing_raw_rows").toDouble
    val passes = t.listener.sum(k => !k.contains('>') && !once.exists(_._2 == k))
    out("etl.core_use") = if (tracedWall <= 0) 0.0 else passes.taskNs / 1e9 / (tracedWall * cpus)
    val (files, bytes) = TableStats.files(table)
    val rows = Sinks.readTable(SparkSession.active, table).count()
    out("Sinks.table_files") = files.toDouble
    out("Sinks.table_bytes_per_row") = if (rows == 0) 0.0 else bytes.toDouble / rows
    out.toMap
  }
}
