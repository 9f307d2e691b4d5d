package graft.ads

import org.apache.spark.sql.types._

/** Data model of the reference's ad-insights pipeline.
  *
  * Raw stage mirrors the nested API record (reference `main.py:349-391`,
  * fields list `main.py:274-287`): scalars arrive string-encoded, video
  * metrics as single-element `[{value}]` wrappers, `actions` as an array of
  * `{action_type, value}` structs. Flat stage is the wide `ad_data` row
  * (reference `schema.json:1-34`): 15 static columns + one column per
  * observed normalized action_type.
  */
object AdSchema {

  /** `[{value: string}]` metric wrapper (reference `main.py:349-356`). */
  val metricWrapper: ArrayType =
    ArrayType(StructType(Seq(StructField("value", StringType))))

  /** `[{action_type, value}]` (reference `main.py:389-391`). */
  val actionsType: ArrayType =
    ArrayType(StructType(Seq(
      StructField("action_type", StringType),
      StructField("value", StringType))))

  val videoMetricCols: Seq[String] = Seq(
    "video_continuous_2_sec_watched_actions",
    "video_30_sec_watched_actions",
    "video_avg_time_watched_actions",
    "video_p25_watched_actions",
    "video_p50_watched_actions",
    "video_p75_watched_actions",
    "video_p100_watched_actions")

  /** Nested source-boundary schema. `ingest_idx` is the explicit arrival
    * order within a page that the source stamps on each record — the
    * reference depends on Python list order (`main.py:504-509`); under
    * parallelism order must be data, not happenstance. The reader orders
    * records by (account, page, `ingest_idx`): a page file's values are
    * lifted to `page << 40` plus the record's own (see [[InsightsSource]]),
    * so a page's values must lie in [0, 2^40). The reader cannot see line
    * numbers, so an unstamped record orders by (account, page) only, as 0
    * within its page. `results` is requested by the reference but never
    * extracted (`main.py:285`) — carried and dropped, same as there.
    */
  val rawSchema: StructType = StructType(
    Seq(
      StructField("campaign_name", StringType),
      StructField("ad_name", StringType),
      StructField("publisher_platform", StringType),
      StructField("impressions", StringType),
      StructField("clicks", StringType),
      StructField("spend", StringType),
      StructField("date_start", StringType),
      StructField("date_stop", StringType)) ++
      videoMetricCols.map(StructField(_, metricWrapper)) ++
      Seq(
        StructField("actions", actionsType),
        StructField("results", StringType),
        StructField("ingest_idx", LongType)))

  /** The 5 identity/date columns typed STRING by the evolution rule
    * (reference `main.py:429-431`).
    */
  val stringCols: Set[String] =
    Set("campaign_name", "ad_name", "publisher_platform", "date_start", "date_stop")

  /** REQUIRED-mode columns (reference `schema.json:2-9`): the identity/date
    * columns a warehouse row may not lack — BigQuery rejects such rows with
    * per-row errors; the table sink mirrors that contract.
    */
  val requiredCols: Seq[String] =
    Seq("campaign_name", "ad_name", "publisher_platform", "date_start", "date_stop")

  /** Static flat columns in declared order (reference `schema.json:2-17`).
    * Dates stay strings in flight (reference carries `YYYY-MM-DD` strings);
    * the table sink stores a proper DateType partition column beside them.
    */
  val staticFlatCols: Seq[StructField] = Seq(
    StructField("campaign_name", StringType),
    StructField("ad_name", StringType),
    StructField("publisher_platform", StringType),
    StructField("impressions", LongType),
    StructField("clicks", LongType),
    StructField("spend", DoubleType),
    StructField("date_start", StringType),
    StructField("date_stop", StringType),
    StructField("video_2sec_views", LongType),
    StructField("video_30sec_views", LongType),
    StructField("video_avg_watch_time", DoubleType),
    StructField("video_p25_views", LongType),
    StructField("video_p50_views", LongType),
    StructField("video_p75_views", LongType),
    StructField("video_p100_views", LongType))

  /** Evolution typing rule (reference `main.py:429-434`): the 5 identity/date
    * columns are STRING, every other dynamically-appearing column is FLOAT
    * (even semantically-integer action counts — a documented reference quirk
    * we preserve at the sink boundary).
    */
  def evolvedType(name: String): DataType =
    if (stringCols(name)) StringType else DoubleType
}
