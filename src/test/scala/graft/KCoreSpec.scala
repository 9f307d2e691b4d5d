package graft

import graft.queries.GraphQueries

/** kc1's bounded k-core peel: the helper on hand-peelable toy graphs (the
  * query pins k = 80 for the part graph, so semantics are proven at k = 2/3
  * through the same code path), plus the query-level fixpoint and
  * monotonicity invariants on testdata.
  */
class KCoreSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("3-core of a 4-clique with a path tail: the tail peels, the clique stays") {
    // 4-clique {1,2,3,4} + tail 4-5, 5-6: degrees 1,2,3 -> 3; 4 -> 4;
    // 5 -> 2; 6 -> 1. Round 1 drops {5,6} (and edges 4-5, 5-6); the
    // clique is degree-3 everywhere after that — the fixpoint
    val e = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    assert(rows(GraphQueries.kCore(e, k = 3, rounds = 3)) ==
      Seq((1L, 4L, 6L), (2L, 4L, 6L), (3L, 4L, 6L)))
  }

  test("2-core of a path cascades to empty — each round exposes the next endpoints") {
    // path 1-2-3-4: round 1 drops the endpoints {1,4} leaving edge 2-3,
    // round 2 drops {2,3} (their degree fell to 1), round 3 is empty —
    // the cascade a single-pass degree filter would miss
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L))
    assert(rows(GraphQueries.kCore(e, k = 2, rounds = 3)) ==
      Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("a cycle IS its own 2-core: nothing peels") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L))
    assert(rows(GraphQueries.kCore(e, k = 2, rounds = 2)) ==
      Seq((1L, 3L, 3L), (2L, 3L, 3L)))
  }

  test("kc1 on testdata: counts are monotone nonincreasing and round 6 is a fixpoint") {
    val out = rows(SparkEntry.queries("kc1_kcore")(spark, "/root/testdata/sf0.001"))
    assert(out.size == 6)
    out.sliding(2).foreach { case Seq((_, n1, e1), (_, n2, e2)) =>
      assert(n2 <= n1 && e2 <= e1, s"peel grew: $out")
    }
    val Seq(r5, r6) = out.drop(4).map { case (_, n, e) => (n, e) }
    assert(r5 == r6, s"not converged within 6 rounds on sf0.001: $out")
  }
}
