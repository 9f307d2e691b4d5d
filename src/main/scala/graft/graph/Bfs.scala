package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Rounds

/** Multi-hop BFS (unweighted shortest hop-distance from a seed set) as
  * frontier-at-a-time joins — the third iterative graph operator next to
  * PageRank and graft.dedup.Clusters.
  *
  * Scale design (100 TB of edges): each round joins ONLY the current
  * frontier (nodes first settled last round) against the edge set — the
  * settled interior never re-enters the join, so round cost is
  * O(|frontier| + its incident edges), not O(|settled| x degree). Edges are
  * hash-partitioned on `src` once and cached (same discipline as
  * PageRank.prepare); the frontier side is the only per-round shuffle —
  * asserted in BfsPlanSpec (no ENSURE_REQUIREMENTS exchange on the cached
  * edge scan). Distance state is one row per reached node,
  * localCheckpointed per round so lineage stays O(1) across rounds.
  *
  * Determinism: hop distances are integers and min() is order-insensitive,
  * so the result is exactly reproducible on any engine/partitioning —
  * the DuckDB oracle unrolls the same rounds as CTEs.
  */
object Bfs {

  /** Hash-partition edges on `src` once; cached (see [[run]]), every
    * expansion round reuses this partitioning directly.
    */
  def prepare(edges0: DataFrame): DataFrame =
    edges0.select(col("src"), col("dst")).repartition(col("src"))

  /** One BFS round: nodes first reached at distance `hop` — the frontier's
    * out-neighbors minus everything already settled. Only the frontier side
    * shuffles; `edges` (from [[prepare]]) is consumed with its cached
    * partitioning.
    */
  def expand(edges: DataFrame, frontier: DataFrame, settled: DataFrame,
             hop: Int): DataFrame =
    edges
      .join(frontier.select(col("node").as("src")), "src")
      .select(col("dst").as("node")).distinct()
      .join(settled, Seq("node"), "left_anti")
      .select(col("node"), lit(hop).as("dist"))

  /** Hop distances ≤ maxHops from `seeds`.
    *
    * @param edges0 directed edges (src, dst); pass both directions for an
    *               undirected graph
    * @param seeds dataframe with one `node` column (distance 0); duplicate
    *              seed rows are deduplicated
    * @return (node, dist) for every node within maxHops
    */
  def run(edges0: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    Rounds.withCached(prepare(edges0)) { edges =>
      // fill the cache before round 1 is planned: round 1's reach carries
      // the cache's stats into the settled set, and an unfilled cache's
      // estimate (the whole upstream join) keeps round 2's anti-join on
      // settled from being pushed below its distinct as a broadcast
      edges.count()
      val seeded = seeds.select(col("node")).distinct()
        .select(col("node"), lit(0).as("dist"))
        .localCheckpoint()
      // No per-round emptiness probe (one Spark job per round): with a
      // FIXED hop budget an emptied frontier no-ops the remaining rounds
      // (expand of an empty frontier is empty), so the probe only ever
      // costs — see Sssp.run for the same reasoning. Each round's reach is
      // checkpointed, so the settled set is a flat union of ≤maxHops
      // checkpointed frames — O(1)-deep lineage without a checkpoint of
      // its own (which re-materialized ALL settled rows every round).
      val (settled, _) = (1 to maxHops).foldLeft((seeded, seeded)) {
        case ((settled, frontier), hop) =>
          val reached = expand(edges, frontier, settled, hop).localCheckpoint()
          (settled.unionByName(reached), reached)
      }
      settled
    }
  }
}
