package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The inferred schema of every parquet table the program reads, memoized
  * per table version.
  *
  * Inferring a parquet schema reads file footers in a Spark job. A table's
  * schema only changes when its files or the session's type-mapping
  * settings do, so the last inference per table is kept with the version it
  * was made at, and readers of an unchanged table pass it to
  * `spark.read.schema(...)` and plan without a job. Any write to the table,
  * through this program or not, adds or replaces files, which changes the
  * version and forces a fresh inference, unless the writer records the
  * schema it produced ([[recordMerged]]).
  */
object SchemaMemo {

  /** What a table's inferred schema depends on: its data files (path,
    * length, mtime) and the session settings that map parquet types to
    * Spark types or infer partition columns.
    */
  private final case class Version(
      files: Seq[(String, Long, Long)], settings: Seq[Option[String]])

  private val schemaSettings = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** The last inference per (qualified path, footer-merging read). */
  private val inferred = new ConcurrentHashMap[(String, Boolean), (Version, StructType)]()

  /** Schema of the parquet file or table directory at `path` as the plain
    * read (`spark.read.parquet`) or, with `mergeSchema`, the footer-merging
    * read infers it; None if `path` holds no data files (it is missing, or
    * an empty directory), where the caller's own read keeps its error.
    *
    * A miss runs that read; a hit on the current version runs no Spark job.
    */
  def schema(spark: SparkSession, path: String, mergeSchema: Boolean): Option[StructType] =
    current(spark, path).map { case (table, version) =>
      val key = (table, mergeSchema)
      Option(inferred.get(key)).collect { case (`version`, s) => s }.getOrElse {
        val reader = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
        val s = reader.parquet(path).schema
        inferred.put(key, (version, s))
        s
      }
    }

  /** Records `merged` as the schema the footer-merging read of `path`
    * returns at its current version, so the next [[schema]] call runs no
    * job. For a writer that has just added files whose schema it knows;
    * `merged` must be exactly what that read would infer, and no other
    * writer may have changed the table since.
    */
  def recordMerged(spark: SparkSession, path: String, merged: StructType): Unit =
    current(spark, path).foreach { case (table, version) =>
      inferred.put((table, true), (version, merged))
    }

  /** The qualified path and current version of the parquet file or table
    * directory at `path`; None if it holds no data files. Names starting
    * with `_` (other than `k=v` partition dirs) or `.` are left out, as
    * Spark's file listing leaves them out of a read.
    */
  private def current(spark: SparkSession, path: String): Option[(String, Version)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def files(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(files)
    val found =
      try files(fs.getFileStatus(root))
      catch { case _: FileNotFoundException => Seq.empty }
    if (found.isEmpty) None
    else Some((fs.makeQualified(root).toString, Version(
      found.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted,
      schemaSettings.map(spark.conf.getOption))))
  }
}
