package graft.ads

import org.apache.spark.sql.SparkSession

/** The reference's three executables as one CLI (reference `main.py`,
  * `backfill.py`, `load_csv_to_bq.py`):
  *
  *   runMain graft.ads.AdsCli daily    <fixtureDir> <acct1,acct2> <table> <auditCsv> [--dry-run]
  *   runMain graft.ads.AdsCli backfill <fixtureDir> <acct1,acct2> <start> <end> <outDir>
  *   runMain graft.ads.AdsCli load     <table> <csvPath|outDir-to-glob>
  *   runMain graft.ads.AdsCli compact  <table> [targetMB]
  */
object AdsCli {

  /** The result as one JSON object; Jackson escapes the message, which can
    * carry data values (the reject sample quotes campaign names).
    */
  def jsonLine(r: JobResult): String = {
    val c = r.counters
    val fields = new java.util.LinkedHashMap[String, Any]()
    fields.put("status", r.status)
    fields.put("message", r.message)
    fields.put("rows_processed", r.rowsProcessed)
    fields.put("rows_read", c.rowsRead)
    fields.put("rows_deduped", c.rowsDeduped)
    fields.put("rejected", c.rejected)
    fields.put("appended", c.appended)
    fields.put("failed_accounts", java.util.List.of(c.failedAccounts: _*))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(fields)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark: SparkSession = graft.GraftSession.build("graft-ads", cpus.toInt)
    try {
      val result = args.toList match {
        case "daily" :: fixtures :: accts :: table :: audit :: rest =>
          Pipelines.dailySync(spark, fixtures, accts.split(',').toSeq, table, audit,
            dryRun = rest.contains("--dry-run"))
        case "backfill" :: fixtures :: accts :: start :: end :: outDir :: Nil =>
          val (path, r) = Pipelines.backfill(spark, fixtures, accts.split(',').toSeq,
            start, end, outDir)
          r.copy(message = s"${r.message} -> $path")
        case "load" :: table :: src :: Nil =>
          val csv =
            if (new java.io.File(src).isDirectory)
              Pipelines.latestBackfillCsv(src).getOrElse(
                sys.error(s"no backfill_*.csv under $src"))
            else src
          Pipelines.loadCsv(spark, csv, table)
        case "compact" :: table :: rest =>
          val targetMB = rest.headOption.map(_.toLong).getOrElse(128L)
          val (before, after) = Sinks.compact(spark, table, targetMB * 1024 * 1024)
          JobResult("success", s"compacted $table: $before -> $after files", after)
        case other =>
          sys.error(s"usage: daily|backfill|load|compact ... (got: ${other.mkString(" ")})")
      }
      println(jsonLine(result))
    } finally spark.stop()
  }
}
