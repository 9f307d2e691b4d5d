package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey follows the Morton sequence on a 4x4 grid") {
    val grid = for { y <- 0 until 4; x <- 0 until 4 } yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y"), 2).as("z"))
      .orderBy("y", "x").as[(Int, Int, Long)].collect().map(_._3).toSeq
    // row-major (y outer) walk of the 4x4 Morton curve
    assert(got == Seq(0L, 1, 4, 5, 2, 3, 6, 7, 8, 9, 12, 13, 10, 11, 14, 15))
  }
}
