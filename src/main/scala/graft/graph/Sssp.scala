package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Rounds

/** Weighted single-source shortest paths (bounded synchronous
  * Bellman–Ford) — the weighted sibling of [[Bfs]].
  *
  * Semantics: after `rounds` synchronous relaxation rounds, `dist(v)` is
  * the exact minimum-weight path from the seed set using at most `rounds`
  * edges. Synchronous min-relaxation over integer weights is
  * order-insensitive, so the result is exactly reproducible on any
  * engine/partitioning and the DuckDB oracle just unrolls the same rounds
  * as CTEs (the Bfs contract, weights added).
  *
  * Scale design (100 TB of edges): the Bfs discipline — edges are
  * hash-partitioned on `src` once and cached; each round joins ONLY the
  * frontier (nodes whose distance improved last round) against the edge
  * set, so round cost is O(|improved| + incident edges), never
  * O(|settled| × degree). Unlike hop-BFS, a weighted relaxation can
  * REVISIT a node (a longer-hop but lighter path), so the frontier is
  * "improved this round", not "first reached": the per-round min-merge
  * keeps distance state at one row per reached node and localCheckpoint
  * keeps lineage O(1) across rounds.
  */
object Sssp {

  /** Distances ≤ `rounds` edges deep from `seeds`.
    *
    * @param edges0 directed weighted edges (src, dst, w), w a
    *               non-negative integer column; pass both directions for
    *               an undirected graph
    * @param seeds  dataframe with one `node` column (distance 0)
    * @return (node, dist) for every node reachable within `rounds` edges
    */
  def run(edges0: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0)
    // every round reuses the cached partitioning; round 1's job fills it
    // (unlike Bfs's, no round here plans differently on an unfilled cache)
    Rounds.withCached(edges0.select(col("src"), col("dst"), col("w"))
        .repartition(col("src"))) { edges =>
      val seeded = seeds.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint()
      // The state is the round's checkpointed min-merge; the frontier (the
      // nodes it improved) and the distances are filters over it, so
      // neither needs its own checkpoint. No per-round emptiness probe:
      // the probe was its own Spark job every round (~1/12 of the query's
      // job budget each), and under a FIXED round count an emptied
      // frontier makes every remaining round a no-op anyway (empty cand ⇒
      // merged = dist), so the early exit buys nothing at any scale where
      // `rounds` is sized to the graph — while the probe is paid on every
      // round of every run.
      Rounds.iterate(seeded, rounds) { (merged, r) =>
        // every seed is new in round 1
        val frontier = if (r == 1) merged
          else merged.filter(col("old").isNull || col("dist") < col("old"))
        // candidate distances through the frontier's out-edges
        val cand = edges
          .join(frontier.select(col("node").as("src"), col("dist").as("fd")), "src")
          .select(col("dst").as("node"), (col("fd") + col("w")).as("dist"))
        // min-merge with the settled map; a node improves iff its new
        // min beats its old distance (or it is newly reached)
        merged.select(col("node"), col("dist"), lit(1).as("settled"))
          .unionByName(cand.select(col("node"), col("dist"), lit(0).as("settled")))
          .groupBy("node")
          .agg(min(col("dist")).as("dist"),
            min(when(col("settled") === 1, col("dist"))).as("old"))
      }.select(col("node"), col("dist"))
    }
  }

  /** Oracle-side mirror: the same synchronous rounds unrolled as CTEs.
    * `edgesCte` must define `ed(src, dst, w)`; `seedsCte` must define
    * `seeds(node)`. Emits `d$rounds(node, dist)` and selects it ordered.
    */
  def unrolledSql(edgesCte: String, seedsCte: String, rounds: Int): String = {
    val init =
      "d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM seeds)"
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT ed.dst AS node, d.dist + ed.w AS dist
         |    FROM d${i - 1} d JOIN ed ON ed.src = d.node
         |  ) GROUP BY node)""".stripMargin
    }
    s"""WITH $edgesCte,
       |$seedsCte,
       |$init,
       |${steps.mkString(",\n")}
       |SELECT node, dist FROM d$rounds ORDER BY node""".stripMargin
  }
}
