package graft.ads

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's transform operators, one function each, re-expressed as
  * declarative Spark plans (SURVEY.md §2.3-§2.6).
  */
object AdOps {

  /** P3: first-element metric extraction with the empty-list guard
    * (reference `backfill.py:126-133` — the guarded variant; `main.py:353`
    * crashes on `[]`, a divergence we resolve toward the guard). Missing,
    * empty, or non-numeric → 0.
    */
  /** Numeric-shape guard: ANSI mode (Spark 4 default) makes `cast` throw on
    * malformed strings; the reference's Python `int()` would throw too, but
    * our documented coercion is malformed → 0, so gate the cast explicitly.
    */
  private def numericOrNull(c: Column, pattern: String): Column =
    when(c.rlike(pattern), c)

  def extractMetric(c: Column): Column =
    coalesce(numericOrNull(try_element_at(c, lit(1)).getField("value"),
      "^-?[0-9]+$").cast("long"), lit(0L))

  /** P3 float variant (avg watch time, reference `main.py:375`). */
  def extractMetricDouble(c: Column): Column =
    coalesce(numericOrNull(try_element_at(c, lit(1)).getField("value"),
      "^-?[0-9]+(\\.[0-9]+)?$").cast("double"), lit(0.0))

  /** P4: action_type → legal column name (reference `main.py:384,390`). */
  def normalizeActionName(actionType: String): String =
    actionType.replace(".", "_")

  /** V1 pass 1: the distinct action_type set across the batch (reference
    * `main.py:517-520`). Sorted for a deterministic column order — the
    * reference iterates a Python set (`main.py:532`), which is
    * run-nondeterministic; we fix that as a documented improvement.
    *
    * Driver-side collect is deliberate and bounded: the key set is the
    * column dimension (hundreds at most), never the row dimension.
    *
    * This standalone form runs its own jobs. The pipelines observe the same
    * set on the job that materializes their flat rows instead (see
    * `Pipelines.dedupPivot`).
    */
  def collectActionTypes(raw: DataFrame): Seq[String] =
    raw.select(explode(col("actions.action_type")).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted

  /** P2 + V1 pass 2: nested record → flat wide row, [[flattenToMap]] then
    * [[expandActions]]. Both are row-local projections: no shuffle, no
    * aggregate, partition-count preserving at any SF.
    */
  def flattenAndPivot(raw: DataFrame, actionTypes: Seq[String]): DataFrame =
    expandActions(flattenToMap(raw), actionTypes)

  /** The action map column of [[flattenToMap]]'s rows. */
  val actionsCol = "__actions"

  /** P2: nested record → the static flat columns plus one [[actionsCol]]
    * map from action type to its value, already guarded to a long
    * (malformed → 0). The reference's per-row overwrite semantics
    * (`main.py:389-391`: later entries win per key) are part of the
    * expression: an entry is dropped when a later entry repeats its action
    * type, so `map_from_entries` never sees a duplicate key and the result
    * holds under any `spark.sql.mapKeyDedupPolicy`. The lambdas run once per
    * row, however many action columns [[expandActions]] makes of the map.
    */
  def flattenToMap(raw: DataFrame): DataFrame = {
    def guardedLong(c: Column) =
      coalesce(numericOrNull(c, "^-?[0-9]+$").cast("long"), lit(0L))
    val entries = transform(
      filter(col("actions"), (a, i) => !exists(slice(col("actions"), i + 2, size(col("actions"))),
        b => b.getField("action_type") === a.getField("action_type"))),
      a => struct(a.getField("action_type").as("k"), guardedLong(a.getField("value")).as("v")))
    raw.select(
      col("campaign_name"),
      col("ad_name"),
      col("publisher_platform"),
      guardedLong(col("impressions")).as("impressions"),
      guardedLong(col("clicks")).as("clicks"),
      coalesce(numericOrNull(col("spend"), "^-?[0-9]+(\\.[0-9]+)?$").cast("double"),
        lit(0.0)).as("spend"),
      col("date_start"),
      col("date_stop"),
      extractMetric(col("video_continuous_2_sec_watched_actions")).as("video_2sec_views"),
      extractMetric(col("video_30_sec_watched_actions")).as("video_30sec_views"),
      extractMetricDouble(col("video_avg_time_watched_actions")).as("video_avg_watch_time"),
      extractMetric(col("video_p25_watched_actions")).as("video_p25_views"),
      extractMetric(col("video_p50_watched_actions")).as("video_p50_views"),
      extractMetric(col("video_p75_watched_actions")).as("video_p75_views"),
      extractMetric(col("video_p100_watched_actions")).as("video_p100_views"),
      map_from_entries(when(col("actions").isNull, array()).otherwise(entries))
        .as(actionsCol))
  }

  /** V1 pass 2: [[flattenToMap]]'s rows with the map expanded to one long
    * column per action type, in the given order, named by
    * [[normalizeActionName]]. A type the row lacks zero-fills
    * (`main.py:383-386`).
    */
  def expandActions(flat: DataFrame, actionTypes: Seq[String]): DataFrame = {
    val actionCols = actionTypes.map { t =>
      coalesce(try_element_at(col(actionsCol), lit(t)), lit(0L)).as(normalizeActionName(t))
    }
    flat.select(flat.columns.filterNot(_ == actionsCol).map(col).toSeq ++ actionCols: _*)
  }

  /** D1: deterministic first-wins dedup (reference `main.py:500-515`).
    * Key = the reference's composite key; order = explicit ingest order.
    * One shuffle on the key; the reference's O(rows) driver hash-set scan
    * becomes a distributed window.
    */
  val dedupKey: Seq[String] =
    Seq("campaign_name", "ad_name", "date_start", "publisher_platform")

  def dedupFirstWins(
      raw: DataFrame,
      keys: Seq[String] = dedupKey,
      orderCols: Seq[String] = Seq("account_idx", "ingest_idx")): DataFrame =
    firstWinsRank(raw, keys, orderCols).filter(col(rankCol) === 1).drop(rankCol)

  /** D1 without its filter: every raw row, with its position in ingest order
    * among the rows sharing its key in [[rankCol]] (1 = the winner).
    */
  def firstWinsRank(
      raw: DataFrame,
      keys: Seq[String] = dedupKey,
      orderCols: Seq[String] = Seq("account_idx", "ingest_idx")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    raw.withColumn(rankCol, row_number().over(w))
  }

  val rankCol = "__rn"

  /** F2: inclusive date-range filter (reference `backfill.py:263-269`).
    * ISO-8601 strings compare correctly lexicographically — same reliance as
    * the reference, and Catalyst pushes the predicate to the scan.
    */
  def dateRangeFilter(df: DataFrame, start: String, end: String): DataFrame =
    df.filter(col("date_start").between(start, end))
}
