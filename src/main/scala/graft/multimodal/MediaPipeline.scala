package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (mm1/mm2): media travels through the engine
  * as an opaque `binary` payload column keyed by `media_id`, and is cut
  * into frames with plain column ops, no UDF.
  *
  * Scale notes: payloads stay columnar (parquet binary) end to end; frame
  * sampling is a narrow per-row pass (no shuffle); partition byte size is
  * controlled upstream via `spark.sql.files.maxPartitionBytes` so a batch of
  * payloads fits executor memory.
  */
object MediaPipeline {

  /** Attach a payload column (here: the doc text bytes standing in for real
    * media blobs) — the ingest boundary of a media table.
    */
  def toMediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Frame-sample shape for video-like payloads: chunk the payload into
    * fixed-size "frames" and keep every `stride`-th — pure column ops, no
    * UDF (an index sequence sliced out of the base64 payload; the last
    * frame may be short).
    */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.select(col("media_id"), base64(col("payload")).as("b64"))
      .select(col("media_id"), posexplode(expr(
        s"""CASE WHEN length(b64) = 0 THEN array()
           |ELSE transform(sequence(0, CAST((length(b64) - 1) DIV $frameBytes AS INT)),
           |               i -> substring(b64, i * $frameBytes + 1, $frameBytes))
           |END""".stripMargin)).as(Seq("frame_no", "frame")))
      .filter(col("frame_no") % stride === 0)
}
