package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** The scale property PageRank claims: edges are hash-partitioned on `src`
  * once at prepare() time, and a power-iteration round consumes that cached
  * partitioning directly — the planner never lands an ENSURE_REQUIREMENTS
  * exchange on the cached edge scan, so per-round shuffle cost is O(|ranks|),
  * not O(|edges|). AQE and auto-broadcast are disabled here so the iteration
  * join is a genuine shuffle join (at spec scale AQE would broadcast the rank
  * side and the assertion would pass vacuously). The out-degree rides on
  * the cached edges, so a round joins the edge scan exactly once.
  */
class PageRankPlanSpec extends SparkSpec {

  private def everyNode(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(everyNode)

  /** Walk down through unary operators (Sort, Project, partial aggregates…)
    * to the shuffle's data source; a join/aggregate boundary is a legitimate
    * reason to re-shuffle, a bare cached scan is not.
    */
  @annotation.tailrec
  private def unaryDescend(p: SparkPlan): SparkPlan =
    if (p.children.size == 1) unaryDescend(p.children.head) else p

  /** Joins between `p` and the cached edge scan beneath it, not looking
    * past an aggregate; None when no such scan is reachable.
    */
  private def joinsToScan(p: SparkPlan): Option[Int] = p match {
    case _: InMemoryTableScanExec => Some(0)
    case _: BaseAggregateExec     => None
    case j: BaseJoinExec          => j.children.flatMap(joinsToScan).headOption.map(_ + 1)
    case _                        => p.children.flatMap(joinsToScan).headOption
  }

  test("pagerank iteration re-uses the pre-partitioned edge cache (no edge re-shuffle)") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = spark.range(2000).select(
        (col("id") % 97).as("src"), (col("id") % 89 + 1000).as("dst"))
      val g = PageRank.prepare(PageRank.partitioned(edges).persist())
      val pr0 = g.nodes.select(col("node"), lit(1.0 / g.n).as("pr"))
      val stepDf = PageRank.step(g, g.nodes, lit(0.15 / g.n), pr0, 0.85, 9)
      stepDf.collect()
      val nodes = everyNode(stepDf.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "edges are not read from the cache")
      assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "no shuffle join in the iteration plan — assertion would be vacuous")
      val offending = nodes.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          unaryDescend(e.child).isInstanceOf[InMemoryTableScanExec] => e
      }
      assert(offending.isEmpty,
        s"cached edge scan re-shuffled per iteration:\n${offending.mkString("\n")}")
      // the contribution sum's input: edges ⨝ ranks and no further join
      // (a separate out-degree table would add one)
      val edgeJoins = nodes.collect { case a: BaseAggregateExec => a }
        .flatMap(a => a.children.flatMap(joinsToScan))
      assert(edgeJoins == Seq(1), s"joins on the edge scan per aggregate: $edgeJoins")
      g.edges.unpersist()
    }
  }
}
