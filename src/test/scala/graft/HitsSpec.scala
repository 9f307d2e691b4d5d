package graft

import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** hub1's two-round HITS: authority is NOT degree — a part stocked by few
  * strong hubs outranks a part stocked by more weak ones (the property the
  * operator exists for; a1 round-1 IS degree, so the contrast proves the
  * mutual recursion did something). Hand-computed fixture.
  */
class HitsSpec extends SparkSpec {

  test("round-2 authority ranks a low-degree part above a higher-degree one via hub strength") {
    import spark.implicits._
    // s1, s2 are strong hubs (10 parts each incl. A); s3-s5 stock only B.
    // degree: A=2 < B=3; auth2: A = h(s1)+h(s2) = 11+11 = 22, B = 3·3 = 9.
    val e = (
      Seq((1L, 100L), (2L, 100L)) ++                      // A = 100
      (1 to 9).map(i => (1L, 200L + i)) ++                // s1's filler parts
      (1 to 9).map(i => (2L, 300L + i)) ++                // s2's filler parts
      Seq((3L, 101L), (4L, 101L), (5L, 101L))             // B = 101
    ).toDF("s", "p")
    val auth = GraphQueries.hitsAuthorities(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auth(100L) == 22L, s"auth(A) = ${auth(100L)}, expected 22")
    assert(auth(101L) == 9L, s"auth(B) = ${auth(101L)}, expected 9")
    val degA = e.filter(col("p") === 100L).count()
    val degB = e.filter(col("p") === 101L).count()
    assert(degA < degB && auth(100L) > auth(101L),
      "authority should invert the degree order on this fixture")
  }

  test("hub1 query is deterministic and integer-exact across runs") {
    val sf = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("hub1_hits")(spark, sf)
    val b = SparkEntry.queries("hub1_hits")(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
