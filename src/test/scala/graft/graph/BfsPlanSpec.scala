package graft.graph

import graft.{Rounds, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** The scale property Bfs claims (Bfs.scala Scaladoc): edges are
  * hash-partitioned on `src` once at prepare() time, and every expansion
  * round consumes that cached partitioning directly — the planner never
  * lands an ENSURE_REQUIREMENTS exchange on the cached edge scan, so a
  * round shuffles O(|frontier|), not O(|edges|). Same contract and harness
  * as PageRankPlanSpec: AQE and auto-broadcast are disabled so the
  * frontier join is a genuine shuffle join and the assertion can't pass
  * vacuously by broadcasting the frontier.
  */
class BfsPlanSpec extends SparkSpec {

  private def everyNode(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(everyNode)

  @annotation.tailrec
  private def unaryDescend(p: SparkPlan): SparkPlan =
    if (p.children.size == 1) unaryDescend(p.children.head) else p

  test("bfs expansion re-uses the pre-partitioned edge cache (frontier is the only per-round shuffle)") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Rounds.withCached(Bfs.prepare(spark.range(2000).select(
        (col("id") % 97).as("src"), (col("id") % 89 + 100).as("dst")))) { edges =>
        edges.count() // materialize the cache, as run()'s first round does
        val settled = spark.range(0, 5).select(col("id").as("node"),
          lit(0).as("dist"))
        val frontier = settled
        val round = Bfs.expand(edges, frontier, settled, 1)
        round.collect()
        val nodes = everyNode(round.queryExecution.executedPlan)
        assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
          "edges are not read from the cache")
        assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
          "no shuffle in the expansion plan — assertion would be vacuous")
        val offending = nodes.collect {
          case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
            unaryDescend(e.child).isInstanceOf[InMemoryTableScanExec] => e
        }
        assert(offending.isEmpty,
          s"cached edge scan re-shuffled per round:\n${offending.mkString("\n")}")
      }
    }
  }

  test("duplicate seed rows yield one (node, 0) row") {
    val edges = spark.range(1).select(lit(10L).as("src"), lit(20L).as("dst"))
    val seeds = spark.range(2).select(lit(10L).as("node")) // same seed twice
    val out = Bfs.run(edges, seeds, maxHops = 1).orderBy("node").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((10L, 0), (20L, 1)))
  }
}
