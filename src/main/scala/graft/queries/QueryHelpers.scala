package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The exact-arithmetic and text devices and the stages several query
  * objects share, each with its DuckDB twin so both engines compute the
  * same values.
  */
object QueryHelpers {

  /** round(ln(c)·1e6) as BIGINT — both engines evaluate ln on the same
    * exact integer (t11/mi1's contract; the 1-ulp .5-boundary risk is the
    * documented dsir1 class).
    */
  def lnMicro(c: Column): Column =
    round(log(c.cast("double")) * 1e6).cast("long")
  def lnMicroSql(e: String): String =
    s"CAST(round(ln($e) * 1e6) AS BIGINT)"

  /** DuckDB twin of graft.operators.Sampling.bucket: the first 4 md5
    * nibbles as a 16-bit integer (dsir1's arithmetic).
    */
  def h16(e: String): String =
    s"""((strpos('0123456789abcdef', substr(md5($e), 1, 1)) - 1) * 4096
       | + (strpos('0123456789abcdef', substr(md5($e), 2, 1)) - 1) * 256
       | + (strpos('0123456789abcdef', substr(md5($e), 3, 1)) - 1) * 16
       | + (strpos('0123456789abcdef', substr(md5($e), 4, 1)) - 1))""".stripMargin

  /** Purchase revenue by day: (day 'yyyy-MM-dd', cents) with cents the
    * day's exact integer sum of round(value·100), plus the day's purchase
    * count `cnt` when `withCount`. [[purchaseCentsByDaySql]] is the
    * oracle's CTE `dc`.
    */
  def purchaseCentsByDay(s: SparkSession, d: String, withCount: Boolean = false): DataFrame =
    Tables.events(s, d).filter(col("event_type") === "purchase")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
        (if (withCount) Seq(count(lit(1)).cast("long").as("cnt")) else Nil): _*)
  def purchaseCentsByDaySql(withCount: Boolean = false): String = {
    val cnt = if (withCount) ", CAST(count(*) AS BIGINT) AS cnt" else ""
    s"""dc AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
       |          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents$cnt
       |        FROM events WHERE event_type = 'purchase' GROUP BY 1)""".stripMargin
  }

  /** The whitespace class a token split uses: Spark regex and DuckDB regex. */
  val ws = "[ \\t\\n\\f\\r]+"
  val wsSql = """[ \t\n\f\r]+"""
}
