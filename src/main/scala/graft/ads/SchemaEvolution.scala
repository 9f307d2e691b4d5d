package graft.ads

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** E: dynamic schema evolution (reference `ensure_bq_schema`,
  * `main.py:400-438`): diff incoming columns against the table schema and
  * append the new ones as NULLABLE, typed by the rule in
  * [[AdSchema.evolvedType]]. Columns are only ever ADDED, never retyped or
  * dropped (monotone evolution).
  *
  * Parquet has no server-side `update_table`, so the merged schema is what
  * the files themselves carry: a footer merge (`mergeSchema=true`) computes
  * it once per table version and [[tableSchema]] memoizes it, so readers
  * pass it in and plan without a Spark job; writers align batches to the
  * union schema first.
  */
object SchemaEvolution {

  /** New-field diff + typing rule. Existing fields keep their type even when
    * the rule would choose differently (reference updates only add fields).
    */
  def merge(existing: StructType, incoming: StructType): StructType = {
    val known = existing.fieldNames.toSet
    val added = incoming.fields.collect {
      case f if !known(f.name) =>
        StructField(f.name, AdSchema.evolvedType(f.name), nullable = true)
    }
    StructType(existing.fields ++ added)
  }

  /** Project `df` onto `target`: missing columns become typed NULLs, common
    * columns are cast to the target type, order follows `target`. A pure
    * projection — codegen'd, no shuffle.
    */
  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** What the footer merge of a table depends on: its data files (path,
    * length, mtime) and the session settings that map parquet types to
    * Spark types or infer partition columns.
    */
  private final case class TableVersion(
      files: Seq[(String, Long, Long)], settings: Seq[Option[String]])

  private val mergeSettings = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** The last footer merge per qualified table path. */
  private val merged = new ConcurrentHashMap[String, (TableVersion, StructType)]()

  /** Current merged schema of a parquet table dir, or None if the table
    * doesn't exist yet (no directory, or an empty one).
    *
    * The footer merge runs a Spark job, so its result is memoized per table
    * version: while the table's data files and the session's schema
    * settings are unchanged, the schema of the last merge is returned
    * without a job. Any write to the table, through [[Sinks]] or not, adds
    * or replaces files, which changes the version and forces a new merge.
    * Names starting with `_` (other than `k=v` partition dirs) or `.` are
    * left out, as Spark's file listing leaves them out of a read.
    */
  def tableSchema(spark: SparkSession, path: String): Option[StructType] = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top =
      if (fs.exists(table) && fs.getFileStatus(table).isDirectory) fs.listStatus(table).toSeq
      else Seq.empty
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def files(s: FileStatus): Seq[FileStatus] =
      if (hidden(s.getPath.getName)) Seq.empty
      else if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq(s)
    if (top.isEmpty) None
    else {
      val version = TableVersion(
        top.flatMap(files).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted,
        mergeSettings.map(spark.conf.getOption))
      val key = fs.makeQualified(table).toString
      Option(merged.get(key)).collect { case (`version`, schema) => schema }.orElse {
        val schema = spark.read.option("mergeSchema", "true").parquet(path).schema
        merged.put(key, (version, schema))
        Some(schema)
      }
    }
  }
}
