package graft.ads

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SchemaMemo

/** Outcome of a checked table append: rows written, rows rejected by
  * REQUIRED-column validation, and a bounded sample of per-row error
  * messages (the engine-side mirror of BigQuery's `insert_rows_json`
  * per-row error list, reference `main.py:441-447`).
  */
final case class AppendResult(
    appended: Long, rejected: Long, rowErrors: Seq[String])

/** K1-K4: the reference's sinks (SURVEY.md §2.2), parquet/CSV stand-ins for
  * the warehouse.
  */
object Sinks {

  /** K1: CSV audit artifact (reference `main.py:529-535`): header row, static
    * columns first then action columns — SORTED, fixing the reference's
    * set-iteration column order. coalesce(1) mirrors the single audit file;
    * at scale you would drop the coalesce and audit a directory.
    *
    * @return rows written, observed on the write itself (no extra job)
    */
  def csvAudit(flat: DataFrame, path: String): Long =
    countWritten(flat)(
      _.coalesce(1).write.mode("overwrite").option("header", "true").csv(path))

  /** K2/K4: append to the day-partitioned table (reference
    * `insert_rows_json` + DAY partitioning, `docs/GCP_SETUP.md:144-152`).
    * A typed `p_date` partition column is derived from the string
    * `date_start` the rows carry (the reference's declared-DATE /
    * in-flight-STRING mismatch, resolved at the boundary).
    *
    * Schema evolution: the batch is aligned to merge(existing, incoming)
    * so new action columns append as typed NULL-backed columns and old
    * files simply lack them (readers get the merged schema, see
    * [[readTable]]).
    *
    * Checked: rows with a null REQUIRED column (schema.json mode,
    * [[AdSchema.requiredCols]]) are REJECTED — reported with per-row error
    * messages and optionally routed to `errorPath` — instead of silently
    * appended; BigQuery would refuse them row-by-row.
    *
    * One pass: the append write is the only job on the success path. An
    * [[Observation]] on that write counts appended and rejected rows as
    * they stream past, so `flat` is neither cached nor counted separately;
    * callers that read `flat` more than once materialize it themselves
    * (see [[Pipelines.dailySync]]). The error sample and `errorPath` re-read
    * `flat`, the sample only when rows were rejected. The schema the write
    * produced goes to [[graft.SchemaMemo]] under the table's new version,
    * so the next [[readTable]] runs no footer-merge job.
    */
  def appendToTableChecked(
      spark: SparkSession, flat: DataFrame, path: String,
      errorPath: Option[String] = None, maxErrorSample: Int = 20): AppendResult = {
    val required = AdSchema.requiredCols.filter(flat.columns.contains)
    val errCol = concat_ws("; ", required.map(c =>
      when(col(c).isNull, lit(s"$c: null value for REQUIRED column"))): _*)
    val marked = flat.withColumn("_row_errors", errCol)
    val valid = col("_row_errors") === ""
    val counts = Observation()
    val good = marked
      .observe(counts, count(when(valid, 1)).as("appended"),
        count(when(!valid, 1)).as("rejected"))
      .filter(valid).drop("_row_errors")
    val table = aligned(spark, good, path)
    table.write.mode("append").partitionBy("p_date").parquet(path)
    val appended = counts.get("appended").asInstanceOf[Long]
    val rejected = counts.get("rejected").asInstanceOf[Long]
    // every new file holds all of `table`'s data columns, a superset of the
    // older files' in the same order, so the merging read of the new
    // version returns them in that order, then p_date (partition type
    // inference on, as GraftSession leaves it), all nullable. With no rows
    // appended no file was added and the memo already holds the version.
    if (appended > 0) {
      val (date, data) = table.schema.partition(_.name == "p_date")
      SchemaMemo.recordMerged(spark, path,
        StructType((data ++ date).map(_.copy(nullable = true))))
    }
    val bad = marked.filter(!valid)
    val sample =
      if (rejected == 0) Seq.empty
      else {
        val ident = required.map(c => concat(lit(s"$c="), coalesce(col(c), lit("NULL"))))
        bad.select(concat(lit("row["), concat_ws(", ", ident: _*), lit("]: "),
            col("_row_errors")).as("e"))
          .limit(maxErrorSample).collect().map(_.getString(0)).toSeq
      }
    errorPath.foreach(p => bad.write.mode("append").parquet(p))
    AppendResult(appended, rejected, sample)
  }

  /** `flat` with its `p_date` partition column, projected onto the merge of
    * the table's current schema and its own (evolution-aware).
    */
  private def aligned(spark: SparkSession, flat: DataFrame, path: String): DataFrame = {
    val withDate = flat.withColumn("p_date", to_date(col("date_start"), "yyyy-MM-dd"))
    val target = SchemaEvolution.tableSchema(spark, path)
      .map(SchemaEvolution.merge(_, withDate.schema))
      .getOrElse(withDate.schema)
    SchemaEvolution.alignTo(withDate, target)
  }

  /** Runs `write` over `df` and returns the rows it wrote, counted by an
    * observation on the write's own plan.
    */
  private def countWritten(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Idempotent variant: overwrite only the partitions present in the batch
    * (dynamic partition overwrite, a per-write option — the session's mode
    * is left alone) — our improvement over the reference's
    * max-instances=1 + manual `SELECT DISTINCT` remediation
    * (`README.md:377-385`). Re-running a day is then safe by construction.
    */
  def overwritePartitions(spark: SparkSession, flat: DataFrame, path: String): Long =
    countWritten(aligned(spark, flat, path))(_.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date").parquet(path))

  /** Table read with the footer-merged schema (evolution-aware), given to
    * the reader from [[SchemaEvolution.tableSchema]]: on a table unchanged
    * since its last merge the read plans without a Spark job. A missing or
    * empty table falls back to the plain merging read and fails as it does.
    */
  def readTable(spark: SparkSession, path: String): DataFrame =
    SchemaEvolution.tableSchema(spark, path)
      .fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
      .parquet(path)

  /** Small-file compaction: rewrite each day partition into
    * ceil(bytes / targetBytes) files. Daily appends leave one small file
    * per run per partition; at 100 TB the read cost of a table is driven
    * by file count as much as byte count, so periodic compaction is part
    * of the sink contract. Data is byte-identical after (spec-asserted).
    *
    * The rewrite goes to a sibling staging directory and is swapped in by
    * two renames once the write has committed, so no job ever reads a file
    * that has already been replaced. A crash before the swap leaves the
    * table untouched; a crash between the renames leaves the old files at
    * `<path>.compact-old`. The next run deletes both leftovers.
    *
    * @return (files before, files after)
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    def dataFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f).filter(_.getName.endsWith(".parquet"))
      walk(new java.io.File(path))
    }
    val before = dataFiles
    val totalBytes = before.map(_.length()).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(table.getParent, s"${table.getName}.compact-staging")
    val old = new Path(table.getParent, s"${table.getName}.compact-old")
    val df = readTable(spark, path) // fails here if the table is missing
    // leftovers of an interrupted run; `path` exists, so neither holds the table
    Seq(staging, old).foreach(fs.delete(_, true))
    val partitioned = df.columns.contains("p_date")
    // repartition by the partition column so each day writes nFiles max,
    // and rows of one day land together (one writer per (day, slot))
    val compacted =
      if (partitioned) df.repartition(nFiles, col("p_date"))
      else df.repartition(nFiles)
    val writer = compacted.write
    (if (partitioned) writer.partitionBy("p_date") else writer).parquet(staging.toString)
    if (!fs.rename(table, old) || !fs.rename(staging, table))
      throw new java.io.IOException(s"compaction of $path could not swap in $staging")
    fs.delete(old, true)
    (before.size.toLong, dataFiles.size.toLong)
  }
}
