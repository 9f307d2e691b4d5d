package graft.graph

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed PageRank as iterated joins — the second iterative graph
  * operator next to graft.dedup.Clusters (connected components).
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
  * node-set checkpoint's own job. Each round's teleport term is the
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

  /** The one-time graph state an iteration consumes: edges pre-partitioned
    * on the join key and cached with their source's out-degree (a window
    * over `src`, which runs exchange-free on the partitioned rows), the
    * node set derived FROM that partitioned cache and checkpointed, and the
    * node count.
    */
  private[graph] final case class Graph(edges: DataFrame, nodes: DataFrame, n: Long)

  private[graph] def prepare(edges0: DataFrame): Graph = {
    // every iteration re-reads the edge set — materialize it ONCE (its
    // upstream plan may be an expensive join+distinct), PRE-PARTITIONED on
    // the iteration join key: the cached scan then satisfies every round's
    // edge⨝rank distribution requirement, so only the O(|nodes|) rank side
    // shuffles per iteration, never the O(|edges|) cache. Spill-safe so a
    // 100 TB-derived edge list doesn't have to fit in memory.
    val edges = edges0.repartition(col("src"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
    * exchange ever lands on the cached edge scan in this plan).
    */
  private[graph] def step(g: Graph, pr: DataFrame, teleport: Double,
      damping: Double, roundTo: Int): DataFrame =
    g.nodes
      .join(contribs(g, pr), Seq("node"), "left")
      .select(col("node"),
        round(lit(teleport / g.n) +
          lit(damping) * coalesce(col("in_c"), lit(0.0)), roundTo).as("pr"))

  /** @param edges directed (src, dst); make it symmetric upstream if the
    *              graph is undirected (also removes dangling nodes).
    */
  def run(edges0: DataFrame, iters: Int, teleport: Double = 0.15,
      damping: Double = 0.85, roundTo: Int = 9): DataFrame = {
    val g = prepare(edges0)
    // pr₀ is a cheap projection over the checkpointed node set consumed
    // ONCE (by round 1) — checkpointing it was a pure extra job
    var pr = g.nodes.select(col("node"), round(lit(1.0 / g.n), roundTo).as("pr"))
    (1 to iters).foreach { _ =>
      pr = step(g, pr, teleport, damping, roundTo).localCheckpoint()
    }
    // the final pr is checkpointed (lineage cut), so the edge cache can go
    g.edges.unpersist()
    pr
  }

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds0`
    * (restricted to nodes present in the graph), uniformly 0.15/|S| —
    * "what's near THESE nodes" instead of gr1's global importance. Same
    * scale contract as [[run]]: edges partitioned once and cached, per
    * round only the rank side shuffles, per-round rounding keeps the two
    * engines in lockstep, localCheckpoint bounds lineage. Seeds travel as
    * a broadcast (a seed set is query input, dimension-sized).
    */
  def runPersonalized(edges0: DataFrame, seeds0: DataFrame, iters: Int,
      teleport: Double = 0.15, damping: Double = 0.85,
      roundTo: Int = 9): DataFrame = {
    val g = prepare(edges0)
    val seeds = seeds0.select("node")
      .join(g.nodes, Seq("node"), "left_semi").distinct().localCheckpoint()
    val ns = seeds.agg(count(lit(1)).as("ns"))
    def teleportTerm: org.apache.spark.sql.Column =
      when(col("is_seed").isNotNull, lit(teleport) / col("ns")).otherwise(lit(0.0))
    def withSeed(df: DataFrame): DataFrame = df
      .crossJoin(broadcast(ns))
      .join(broadcast(seeds.withColumn("is_seed", lit(1))), Seq("node"), "left")
    // pr₀: cheap projection consumed once by round 1 — no checkpoint (run's
    // reasoning)
    var pr = withSeed(g.nodes)
      .select(col("node"),
        round(when(col("is_seed").isNotNull, lit(1.0) / col("ns"))
          .otherwise(lit(0.0)), roundTo).as("pr"))
    (1 to iters).foreach { _ =>
      pr = withSeed(g.nodes)
        .join(contribs(g, pr), Seq("node"), "left")
        .select(col("node"),
          round(teleportTerm
            + lit(damping) * coalesce(col("in_c"), lit(0.0)), roundTo).as("pr"))
        .localCheckpoint()
    }
    g.edges.unpersist()
    pr
  }

  /** [[runPersonalized]] as one DuckDB query: `edgesSql` must define CTEs
    * `ed(src, dst)` AND `seeds0(node)`. teleport/damping/roundTo mirror
    * [[runPersonalized]]'s parameters — a caller overriding them gets the
    * same override in the oracle plan.
    */
  def personalizedSql(edgesSql: String, iters: Int, topK: Int,
      teleport: Double = 0.15, damping: Double = 0.85,
      roundTo: Int = 9): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT n2.node,
         |         round(CASE WHEN s.node IS NOT NULL THEN $teleport / ns.ns ELSE 0 END
         |               + $damping * coalesce(c.s, 0), $roundTo) AS pr
         |  FROM nodes n2 CROSS JOIN ns
         |  LEFT JOIN seeds s ON s.node = n2.node
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
       |seeds AS MATERIALIZED (
       |  SELECT DISTINCT s0.node FROM seeds0 s0 JOIN nodes USING (node)),
       |ns AS (SELECT count(*) AS ns FROM seeds),
       |p0 AS (SELECT n2.node,
       |         round(CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.ns ELSE 0 END, $roundTo) AS pr
       |       FROM nodes n2 CROSS JOIN ns LEFT JOIN seeds s ON s.node = n2.node),
       |$rounds
       |SELECT node, pr FROM p$iters
       |WHERE pr > 0 ORDER BY pr DESC, node LIMIT $topK""".stripMargin
  }

  /** The identical computation as one DuckDB query: `edgesSql` must define
    * CTEs `ed(src, dst)`; iterations unroll as materialized CTEs (the same
    * pattern as graft.dedup.Clusters.unrolledSql). teleport/damping/roundTo
    * mirror [[run]]'s parameters.
    */
  def unrolledSql(edgesSql: String, iters: Int, topK: Int,
      teleport: Double = 0.15, damping: Double = 0.85,
      roundTo: Int = 9): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT n2.node, round($teleport / nn.n + $damping * coalesce(c.s, 0), $roundTo) AS pr
         |  FROM nodes n2 CROSS JOIN nn
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
       |nn AS (SELECT count(*) AS n FROM nodes),
       |p0 AS (SELECT node, round(1.0 / nn.n, $roundTo) AS pr FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, pr FROM p$iters ORDER BY pr DESC, node LIMIT $topK""".stripMargin
  }
}
