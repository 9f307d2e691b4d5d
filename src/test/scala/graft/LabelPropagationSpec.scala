package graft

import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** lp1's synchronous LPA: finds communities connected components can't
  * (two dense cliques joined by one bridge edge are ONE component but TWO
  * LPA communities), ties break to the smallest label, and the sync
  * schedule is deterministic across runs.
  */
class LabelPropagationSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  test("two cliques with a bridge: one CC component, two LPA communities") {
    // cliques {1,2,3,4} and {10,11,12,13}, bridged by 4-10
    def clique(ids: Seq[Long]) =
      for { i <- ids; j <- ids if i < j } yield (i, j)
    val e = edges(clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ (4L, 10L): _*)
    val labels = GraphQueries.labelPropagation(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val left = Seq(1L, 2L, 3L, 4L).map(labels)
    val right = Seq(10L, 11L, 12L, 13L).map(labels)
    assert(left.distinct.size == 1, s"left clique split: $left")
    assert(right.distinct.size == 1, s"right clique split: $right")
    assert(left.head != right.head,
      s"bridge merged the cliques into one community (CC semantics, not LPA)")
    // same graph through the CC machinery: ONE component — the contrast
    // that makes lp1 a distinct operator from dd6
    val cc = graft.dedup.Clusters.assignKeepers(e)
    assert(cc.select("keeper_id").distinct().count() == 1)
  }

  test("tie votes resolve to the smallest label") {
    // node 5 sees exactly one vote each from 1 and 2 in round 1 → picks 1
    val labels = GraphQueries.labelPropagation(edges((1L, 5L), (2L, 5L)), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(5L) == 1L, s"tie broke to ${labels(5L)}, expected 1")
  }

  test("synchronous schedule is deterministic across runs") {
    val sf = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("lp1_label_propagation")(spark, sf)
    val b = SparkEntry.queries("lp1_label_propagation")(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
