package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{log, round}

/** The exact-arithmetic and text devices several query objects share, each
  * with its DuckDB twin so both engines compute the same values.
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

  /** The whitespace class a token split uses: Spark regex and DuckDB regex. */
  val ws = "[ \\t\\n\\f\\r]+"
  val wsSql = """[ \t\n\f\r]+"""
}
