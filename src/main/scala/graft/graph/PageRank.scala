package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Rounds

/** Distributed PageRank as iterated joins — the second iterative graph
  * operator next to graft.dedup.Clusters (connected components). Global
  * rank and personalized rank are one computation: global teleports to
  * every node, personalized only to a seed set.
  *
  * Scale design (100 TB of edges): the edge set is hash-partitioned on
  * `src` ONCE and cached, with each edge's out-degree `deg` attached as a
  * column; every iteration's edge⨝rank join consumes that partitioning
  * directly (asserted in PageRankPlanSpec — no ENSURE_REQUIREMENTS exchange
  * ever sits on the cached scan, and a round joins the edge scan exactly
  * once), so per-round shuffle cost is O(|ranks|) for the rank side plus
  * the keyed contribution sum on dst — never O(|edges|). Rank state is one
  * row per node, localCheckpointed per round so lineage stays O(1). The
  * node count is the only driver-side state: one scalar, observed on the
  * node-set checkpoint's own job. Global rank's teleport term is the
  * driver-computed literal `teleport / n`, the same IEEE double as the
  * oracle's `0.15 / n` (and no plan-time division by zero on an empty
  * graph).
  *
  * Determinism (oracle parity): ranks are rounded to `roundTo` decimals at
  * EVERY iteration, so sub-ulp summation-order differences between engines
  * are squashed each round instead of compounding; the teleport constant is
  * taken literally (never computed as 1 − damping, whose double value
  * differs from the 0.15 literal in the last ulp).
  */
object PageRank {

  /** The one-time graph state an iteration consumes: the cached edges
    * from [[partitioned]], the node set derived FROM that partitioned
    * cache and checkpointed, and the node count.
    */
  private[graph] final case class Graph(edges: DataFrame, nodes: DataFrame, n: Long)

  /** Edges pre-partitioned on the iteration join key with their source's
    * out-degree (a window over `src`, which runs exchange-free on the
    * partitioned rows). Cached, the scan satisfies every round's edge⨝rank
    * distribution requirement, so only the O(|nodes|) rank side shuffles
    * per iteration, never the O(|edges|) cache.
    */
  private[graft] def partitioned(edges0: DataFrame): DataFrame =
    edges0.repartition(col("src"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))

  /** `edges` is the cached [[partitioned]] frame; its first scan is the
    * node set's checkpoint job, which also fills the cache.
    */
  private[graph] def prepare(edges: DataFrame): Graph = {
    val nodeCount = Observation()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .observe(nodeCount, count(lit(1)).as("n"))
      .localCheckpoint()
    Graph(edges, nodes, nodeCount.get("n").asInstanceOf[Long])
  }

  /** Rank mass flowing into each node: every edge carries its source's
    * rank split evenly over the source's out-degree.
    */
  private def contribs(g: Graph, pr: DataFrame): DataFrame =
    g.edges
      .join(pr.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("pr") / col("deg")).as("in_c"))

  /** One power-iteration round as a lazy plan (PageRankPlanSpec asserts no
    * exchange ever lands on the cached edge scan in this plan): each node
    * of `base` (the node set, with any columns `jump` reads) gets the
    * teleport `jump` plus its damped in-flow.
    */
  private[graph] def step(g: Graph, base: DataFrame, jump: Column, pr: DataFrame,
      damping: Double, roundTo: Int): DataFrame =
    base
      .join(contribs(g, pr), Seq("node"), "left")
      .select(col("node"),
        round(jump + lit(damping) * coalesce(col("in_c"), lit(0.0)), roundTo).as("pr"))

  /** @param edges directed (src, dst); make it symmetric upstream if the
    *              graph is undirected (also removes dangling nodes).
    */
  def run(edges0: DataFrame, iters: Int, teleport: Double = 0.15,
      damping: Double = 0.85, roundTo: Int = 9): DataFrame =
    rank(edges0, None, iters, teleport, damping, roundTo)

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds0`
    * (restricted to nodes present in the graph), uniformly 0.15/|S| —
    * "what's near THESE nodes" instead of gr1's global importance. Same
    * scale contract as [[run]]. Seeds travel as a broadcast (a seed set is
    * query input, dimension-sized).
    */
  def runPersonalized(edges0: DataFrame, seeds0: DataFrame, iters: Int,
      teleport: Double = 0.15, damping: Double = 0.85,
      roundTo: Int = 9): DataFrame =
    rank(edges0, Some(seeds0), iters, teleport, damping, roundTo)

  private def rank(edges0: DataFrame, seeds0: Option[DataFrame], iters: Int,
      teleport: Double, damping: Double, roundTo: Int): DataFrame =
    Rounds.withCached(partitioned(edges0)) { edges =>
      val g = prepare(edges)
      // (base, share): builds the frame a round's ranks sit on, and gives
      // the part of a mass that lands on one of its nodes
      val (base, share): (() => DataFrame, Double => Column) = seeds0 match {
        case None => (() => g.nodes, mass => lit(mass / g.n))
        case Some(s0) =>
          val seeds = s0.select("node")
            .join(g.nodes, Seq("node"), "left_semi").distinct().localCheckpoint()
          val ns = seeds.agg(count(lit(1)).as("ns"))
          (() => g.nodes.crossJoin(broadcast(ns))
            .join(broadcast(seeds.withColumn("is_seed", lit(1))), Seq("node"), "left"),
            mass => when(col("is_seed").isNotNull, lit(mass) / col("ns")).otherwise(lit(0.0)))
      }
      // pr₀ is a cheap projection over the checkpointed node set consumed
      // ONCE (by round 1) — checkpointing it was a pure extra job
      val pr0 = base().select(col("node"), round(share(1.0), roundTo).as("pr"))
      // every round is checkpointed, so the result never reads the edge cache
      Rounds.iterate(pr0, iters) { (pr, _) =>
        step(g, base(), share(teleport), pr, damping, roundTo)
      }
    }

  /** The same computation as one DuckDB query: `edgesSql` must define CTEs
    * `ed(src, dst)`, and also `seeds0(node)` when `seeded`. Iterations
    * unroll as materialized CTEs (the same pattern as
    * graft.dedup.Clusters.unrolledSql); seeded, never-reached nodes
    * (pr = 0) drop from the result. teleport/damping/roundTo mirror
    * [[run]]'s parameters — a caller overriding them gets the same
    * override in the oracle plan.
    */
  def unrolledSql(edgesSql: String, iters: Int, topK: Int, seeded: Boolean = false,
      teleport: Double = 0.15, damping: Double = 0.85,
      roundTo: Int = 9): String = {
    // nn.n counts the nodes the teleport spreads over
    val (mass, seedJoin, reached) =
      if (seeded)
        ("""seeds AS MATERIALIZED (
           |  SELECT DISTINCT s0.node FROM seeds0 s0 JOIN nodes USING (node)),
           |nn AS (SELECT count(*) AS n FROM seeds)""".stripMargin,
          " LEFT JOIN seeds s USING (node)", " WHERE pr > 0")
      else ("nn AS (SELECT count(*) AS n FROM nodes)", "", "")
    def share(m: String): String =
      if (seeded) s"CASE WHEN s.node IS NOT NULL THEN $m / nn.n ELSE 0 END" else s"$m / nn.n"
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT n2.node, round(${share(teleport.toString)} + $damping * coalesce(c.s, 0), $roundTo) AS pr
         |  FROM nodes n2 CROSS JOIN nn$seedJoin
         |  LEFT JOIN (SELECT ed.dst AS node, sum(p.pr / d.deg) AS s
         |             FROM ed JOIN $prev p ON p.node = ed.src
         |             JOIN deg d ON d.src = ed.src
         |             GROUP BY 1) c ON c.node = n2.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgesSql,
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM ed
       |  UNION SELECT DISTINCT dst FROM ed),
       |$mass,
       |p0 AS (SELECT node, round(${share("1.0")}, $roundTo) AS pr FROM nodes CROSS JOIN nn$seedJoin),
       |$rounds
       |SELECT node, pr FROM p$iters$reached ORDER BY pr DESC, node LIMIT $topK""".stripMargin
  }
}
