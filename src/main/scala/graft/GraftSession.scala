package graft

import org.apache.spark.sql.SparkSession

/** The engine's recommended session configuration, used by the Verify and
  * Bench mains and available to library users.
  *
  * Settings and the 100 TB reasoning:
  *  - AQE on (+ skew-join split): runtime re-planning replaces hand-tuned
  *    partition counts when stage statistics disagree with estimates;
  *  - shuffle partitions sized to the core count locally (the cluster-size
  *    knob at scale), not the 200 default;
  *  - 128 MB scan partitions: large enough to amortize task overhead,
  *    small enough that a partition's working set fits executor memory;
  *  - UTC session time zone: oracle/engine date parity;
  *  - parquet TIMESTAMP(NANOS) read as a raw long (Spark rejects it
  *    natively; [[Tables.events]] truncates it to micros);
  *  - graft extensions (cosine_sim, rolling_hash) registered up front.
  */
object GraftSession {

  /** Root of the on-disk scratch the queries write (staged inputs, stream
    * sinks): `target` under the working directory.
    */
  val scratchRoot: String = new java.io.File("target").getAbsolutePath

  def build(appName: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standard (RFC 4648) base64, no 76-char MIME line breaks — portable
      // across engines (the oracle's base64 is unchunked)
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // The driver contract replays streams FINITELY (Trigger.AvailableNow):
      // after the data batch, the default extra no-data micro-batch only
      // advances the watermark to evict state a terminating query discards
      // anyway — it emits nothing (profiled: st4 batch 1 = 0 input rows,
      // 0 emitted, ~4 s of pure state-store commits; 32 partitions × 4 join
      // stores ≈ 90 s of task-time commit per batch). Disabling halves st4.
      // A CONTINUOUS deployment should leave the default (true): there the
      // no-data batch is what evicts state and finalizes append-mode
      // windows during input lulls.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark) // a reused session lacks the injected ones
    spark
  }
}
