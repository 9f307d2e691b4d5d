package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.SchemaMemo

/** E: dynamic schema evolution (reference `ensure_bq_schema`,
  * `main.py:400-438`): diff incoming columns against the table schema and
  * append the new ones as NULLABLE, typed by the rule in
  * [[AdSchema.evolvedType]]. Columns are only ever ADDED, never retyped or
  * dropped (monotone evolution).
  *
  * Parquet has no server-side `update_table`, so the merged schema is what
  * the files themselves carry: [[tableSchema]] takes it from a footer merge
  * (`mergeSchema=true`) that the shared [[graft.SchemaMemo]] runs once per
  * table version, so readers pass it in and plan without a Spark job;
  * writers align batches to the union schema first.
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

  /** Current merged schema of a parquet table dir, or None if the table
    * doesn't exist yet (no directory, or one without data files): the
    * footer-merging read's schema, run once per table version through
    * [[graft.SchemaMemo]].
    */
  def tableSchema(spark: SparkSession, path: String): Option[StructType] =
    SchemaMemo.schema(spark, path, mergeSchema = true)
}
