package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC apply: a keyed upsert sink for Structured Streaming.
  *
  * Each micro-batch is first collapsed to one row per key (last version
  * wins within the batch, by `versionCol` then arrival order is made
  * irrelevant — the reduction is deterministic), then merged into the
  * target table with `graft.operators.Merge.upsert`. Combined with
  * checkpointing this gives effectively-once APPLICATION of a change
  * stream: re-delivered micro-batches overwrite with the same values
  * instead of duplicating — the streaming form of the reference's
  * idempotent daily re-run.
  *
  * Scale notes: the merge anti-join shuffles on the key (or broadcasts the
  * batch when small — the common CDC case); the read-merge-rewrite of the
  * target is the plain-parquet trade-off, which is exactly what table
  * formats amortize with partition overwrite — on a partitioned target
  * you'd prune the rewrite to touched partitions (see Sinks.appendToTableChecked's
  * layout). State never lives on the driver.
  */
object UpsertSink {

  /** Drain `updates` into the parquet table at `tablePath`, upserting by
    * `keys`; within a batch the highest `versionCol` per key wins.
    */
  def applyAvailable(
      spark: SparkSession,
      updates: DataFrame,
      tablePath: String,
      keys: Seq[String],
      versionCol: String,
      checkpointDir: String): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val q = updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(versionCol).desc +: keys.map(col): _*)
        val lastPerKey = batch
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .drop("__rn")
        val target = new java.io.File(tablePath)
        val merged =
          if (!target.exists()) lastPerKey
          else graft.operators.Merge.upsert(
            spark.read.parquet(tablePath), lastPerKey, keys)
        // rewrite through a staging dir: the merge READS the live table,
        // so writing over it in place would pull the rug under the scan
        val stage = tablePath + ".stage"
        merged.write.mode("overwrite").parquet(stage)
        org.apache.commons.io.FileUtils.deleteQuietly(target)
        new java.io.File(stage).renameTo(target)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }
}
