package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkSpec, Tables}
import graft.operators.SkewJoin

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("cosine_sim: identity = 1, orthogonal = 0, matches manual dot") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(3.0f, 4.0f), Array(4.0f, 3.0f))
    ).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) == 0.0)
    assert(math.abs(got(2) - 24.0 / 25.0) < 1e-12)
  }

  test("rolling_hash: fold semantics, codegen path matches interpreted") {
    GraftFunctions.register(spark)
    assert(RollingHash.hash("") == 0L)
    assert(RollingHash.hash("a") == 'a'.toLong)
    assert(RollingHash.hash("ab") == (('a' * 31 + 'b') & 0xFFFFFFFFL))
    val got = Seq("", "a", "ab", "spark rolling hash").toDF("s")
      .select(expr("rolling_hash(s)")).as[Long].collect()
    assert(got.toSeq == Seq("", "a", "ab", "spark rolling hash")
      .map(RollingHash.hash))
  }

  test("top-k aggregator equals the window formulation") {
    val li = Tables.lineitem(spark, sf)
    val viaAgg = li.groupBy("l_suppkey")
      .agg(TopKAggregator.topK(5)($"l_extendedprice", $"l_orderkey").as("top"))
      .select($"l_suppkey", explode($"top").as("t"))
      .select($"l_suppkey", $"t.score".as("score"), $"t.id".as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey").orderBy($"score".desc, $"id")
    val viaWindow = li.select($"l_suppkey", $"l_extendedprice".as("score"),
      $"l_orderkey".as("id"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5).drop("rn")
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
  }

  test("salted join equals the plain join") {
    val li = Tables.lineitem(spark, sf).select($"l_partkey".as("p_partkey"),
      $"l_extendedprice")
    val part = Tables.part(spark, sf)
    val plain = li.join(part, "p_partkey")
      .groupBy("p_brand").agg(count(lit(1)).as("n"), round(sum($"l_extendedprice"), 2))
    val salted = SkewJoin.saltedEquiJoin(li, part, "p_partkey", salts = 8)
      .groupBy("p_brand").agg(count(lit(1)).as("n"), round(sum($"l_extendedprice"), 2))
    assert(salted.collect().toSet == plain.collect().toSet)
  }

  test("register on a GraftSession keeps the registry's entries") {
    spark // the suite's session, restored as the default below
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val graft = try GraftSession.build("functions-spec", 4) finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(graft ne spark)
    val registry = graft.sessionState.functionRegistry
    val id = FunctionIdentifier("cosine_sim")
    val info = registry.lookupFunction(id).get
    assert(info.getClassName == classOf[CosineSimilarity].getName)
    GraftFunctions.register(graft)
    GraftFunctions.register(graft)
    assert(registry.lookupFunction(id).get eq info)
    val row = graft.sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)), " +
      "capped_distinct(x, 10) FROM VALUES (1L), (2L), (2L) AS t(x)").head()
    assert(row.getDouble(0) == 1.0 && row.getSeq[Long](1) == Seq(1L, 2L))
  }
}
