package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  // Production wires the rule through spark.sql.extensions
  // (GraftExtensions → GraftSession); under sbt's parallel suite
  // execution getOrCreate may hand this suite a REUSED session whose
  // sessionState has no extensions, so the spec injects the same rule
  // object at runtime via experimental.extraOptimizations — deterministic
  // for any session. If both paths are present the rule applies twice,
  // which is safe: a rewritten join has an equi key and no longer matches.
  // The session is shared with the suites that run after this one, so the
  // rule this spec adds is removed again in afterAll.
  private var added = false
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("RangeJoinRewriteSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    if (!s.experimental.extraOptimizations.exists(_ eq RangeJoinRewrite)) {
      s.experimental.extraOptimizations ++= Seq(RangeJoinRewrite)
      added = true
    }
    s
  }

  override protected def afterAll(): Unit =
    try if (added) spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq RangeJoinRewrite)
    finally super.afterAll()

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def points = Seq(
    (1L, ts("2024-01-01 06:00:00")),
    (2L, ts("2024-01-03 23:59:59")),
    (3L, ts("2024-02-10 12:00:00"))).toDF("pid", "t")

  private def ivals = Seq(
    (10L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
    (11L, ts("2024-01-02 00:00:00"), ts("2024-01-05 00:00:00")),
    (12L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))).toDF("iid", "s", "e")

  test("theta range join plans as binned equi-join, not nested loop") {
    val j = points.join(ivals, col("t") >= col("s") && col("t") < col("e"))
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)
    assert(phys.contains("Generate"), phys)
    assert(j.select("pid", "iid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 11L)))
  }

  test("rewritten result equals the brute-force nested loop, any bin width") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    val ps = (1 to 80).map(i =>
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(40 * 86400) * 1000L)))
      .toDF("pid", "t")
    val is = (1 to 30).map { i =>
      val s0 = base + rnd.nextInt(40 * 86400) * 1000L
      (100L + i, new java.sql.Timestamp(s0),
        new java.sql.Timestamp(s0 + (1 + rnd.nextInt(6 * 86400)) * 1000L))
    }.toDF("iid", "s", "e")
    def run() = ps.join(is, col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    spark.conf.set("spark.graft.rangeJoin.enabled", "false")
    val brute = try run() finally spark.conf.unset("spark.graft.rangeJoin.enabled")
    Seq(3600L, 86400L, 7L * 86400).foreach { bin =>
      spark.conf.set("spark.graft.rangeJoin.binSeconds", bin.toString)
      try assert(run() == brute, s"bin $bin")
      finally spark.conf.unset("spark.graft.rangeJoin.binSeconds")
    }
  }

  test("point on the RIGHT side also rewrites") {
    val j = ivals.join(points, col("t") >= col("s") && col("t") < col("e"))
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)
    assert(j.select("pid", "iid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 11L)))
  }

  test("j11_range_join_auto (the driver-path query) rewrites: no nested loop") {
    val df = graft.SparkEntry.queries("j11_range_join_auto")(spark, "/root/testdata/sf0.001")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)
    assert(phys.contains("Generate"), phys)
    assert(df.count() > 0)
  }

  test("TIMESTAMP_NTZ range joins rewrite too (UTC session is fixed-offset)") {
    val p = points.select(col("pid"), col("t").cast("timestamp_ntz").as("t"))
    val i = ivals.select(col("iid"), col("s").cast("timestamp_ntz").as("s"),
      col("e").cast("timestamp_ntz").as("e"))
    val j = p.join(i, col("t") >= col("s") && col("t") < col("e"))
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)
    assert(j.select("pid", "iid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 11L)))
  }

  test("join with an equi key is left alone (residual range is fine there)") {
    val p2 = points.withColumn("k", col("pid") % 2)
    val i2 = ivals.withColumn("k", col("iid") % 2)
    val j = p2.join(i2, p2("k") === i2("k") && col("t") >= col("s") && col("t") < col("e"))
    assert(!j.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("extra residual conjuncts survive the rewrite") {
    val j = points.join(ivals,
      col("t") >= col("s") && col("t") < col("e") && col("pid") =!= col("iid") % 9)
    // 10 % 9 = 1 kills the (1, 10) pair; (2, 11) has 11 % 9 = 2 — also killed
    assert(j.select("pid", "iid").as[(Long, Long)].collect().isEmpty)
    val j2 = points.join(ivals,
      col("t") >= col("s") && col("t") < col("e") && col("iid") > 10L)
    assert(j2.select("pid", "iid").as[(Long, Long)].collect().toSet == Set((2L, 11L)))
  }
}
