package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Morton (Z-order) key of two columns, and its DuckDB twin (z1).
  *
  * Parquet file pruning works off per-file min/max. A single-column sort
  * prunes on that column and on no other; rows clustered by the Morton
  * interleave of two columns give each file a compact tile in both
  * dimensions (Delta/Iceberg `OPTIMIZE ZORDER BY`). The key is plain
  * codegen'd column arithmetic.
  */
object Layout {

  /** Morton key: interleave the low `bits` bits of two non-negative
    * integer columns (a in even positions, b in odd).
    */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The identical key as a DuckDB SQL expression (oracle parity). */
  def zorderOracleExpr(a: String, b: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(($a // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($b // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")
}
