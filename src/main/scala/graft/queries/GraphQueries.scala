package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Rounds, Tables}
import QueryHelpers.lnMicroSql

/** Graph queries: PageRank (gr1, personalized ppr1), triangles and
  * clustering (gr2, gr4), BFS and weighted shortest paths (gr3, sssp1),
  * the k-core peel (kc1), label propagation (lp1), HITS (hub1),
  * Adamic–Adar link prediction (lk1) and modularity (gm1).
  *
  * gr1/gr3/sssp1 walk the customer↔supplier trade graph; the rest run on a
  * co-purchase graph from [[coPurchaseEdges]], the one build (Spark and
  * oracle) every co-purchase query shares. Round-based algorithms run a
  * FIXED number of unrolled rounds, so both engines replay the same
  * bounded recursion (an unbounded while-loop can never hash-match an
  * oracle).
  *
  * Scale design (100 TB): gr2/gr4 orient edges by (degree, id) before the
  * wedge join — the classic bound (Suri & Vassilvitskii, WWW'11): every
  * wedge is enumerated from its LOWEST-degree endpoint, so per-key join
  * groups are O(sqrt(m)) on skewed graphs instead of O(max-degree); the
  * closure check is a left-semi equi-join, never a cartesian.
  */
object GraphQueries {
  import Tables.{lineitem, orders}

  /** Co-purchase edges `(a, b)`, a < b, over lineitem rows `li`: two `key`
    * values (suppliers or parts) are linked when they share an order,
    * counting only lines with `l_quantity >= minQuantity` when that is set.
    * The naive pairing self-join on the order has (keys-per-order)² fan-out
    * and an unbounded join group on a hot order, so `maxOrderFanout` caps
    * it — orders with more than `cap` qualifying keys are dropped (the same scale guard
    * as dd2's/dd8's document-frequency caps), pinned in the oracle too.
    *
    * With a cap, pair generation needs NO join at all: one keyed shuffle
    * collects each order's (deduped, sorted) supplier set, the size filter
    * applies the cap, and pairs explode narrowly at O(cap²) per order —
    * 2 exchanges total vs the self-join's 4, and measured FASTER than the
    * uncapped join build at sf0.1. The collector is
    * [[graft.functions.CappedCollectSet]]: its aggregation buffer admits at
    * most cap+1 distinct elements (cap+1 observed distinct values already
    * PROVE the order is over the cap), so even an adversarial order with
    * ≫10⁶ suppliers holds O(cap) state — no unbounded collect_set buffer
    * exists anywhere in the build; the `size <= cap` verdict is identical
    * row-for-row (see CappedCollectSet's exactness note).
    *
    * `None` = exact: every co-purchase pair via the inverted-index
    * self-join, join groups unbounded.
    *
    * [[coPurchaseEdgesSql]] is the oracle's spelling of the same build.
    */
  def coPurchaseEdges(li: DataFrame, key: String, minQuantity: Option[Int],
      maxOrderFanout: Option[Int]): DataFrame = {
    val base = minQuantity.fold(li)(q => li.filter(col("l_quantity") >= q))
      .select(col("l_orderkey").as("o"), col(key).as("s"))
    maxOrderFanout match {
      case Some(cap) =>
        base.groupBy("o").agg(
            graft.functions.CappedCollectSet.sortedSetCapped(cap)(col("s")).as("ss"))
          .filter(size(col("ss")) <= cap)
          .select(explode(col("ss")).as("a"), col("ss"))
          .select(col("a"), explode(col("ss")).as("b"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
      case None =>
        base.as("x").join(base.as("y"),
            col("x.o") === col("y.o") && col("x.s") < col("y.s"))
          .select(col("x.s").as("a"), col("y.s").as("b")).distinct()
    }
  }

  /** [[coPurchaseEdges]] as DuckDB CTEs `base`, `hot`, `bc` and `e`: `e`
    * holds the edges, and an order with more than `maxOrderFanout`
    * distinct keys is dropped, as in the capped Spark build.
    */
  def coPurchaseEdgesSql(key: String, minQuantity: Option[Int], maxOrderFanout: Int): String = {
    val where = minQuantity.fold("")(q => s" WHERE l_quantity >= $q")
    s"""base AS (SELECT DISTINCT l_orderkey AS o, $key AS s FROM lineitem$where),
       |hot AS (SELECT o FROM base GROUP BY o HAVING count(*) > $maxOrderFanout),
       |bc AS (SELECT b.o, b.s FROM base b
       |       WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.o = b.o)),
       |e AS MATERIALIZED (SELECT DISTINCT x.s AS a, y.s AS b
       |      FROM bc x JOIN bc y ON x.o = y.o AND x.s < y.s)""".stripMargin
  }

  /** The customer↔supplier trade graph (gr1, gr3): one directed edge
    * `(src, dst)` each way per distinct (customer, supplier) pair traded
    * through orders×lineitem. Node ids are parity-disjoint (customer = 2k,
    * supplier = 2k+1): unlike a fixed additive offset this cannot collide
    * at ANY scale factor. [[tradeEdgesSql]] is the oracle's spelling.
    */
  def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = orders(s, d)
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("s"))
      .distinct()
    // the two directions are disjoint (c even, s odd), so plain union
    // equals SQL UNION's dedup here
    e0.select(col("c").as("src"), col("s").as("dst"))
      .union(e0.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The oracle's [[tradeEdges]]: CTEs `e0(c, s)` and `ed(src, dst)`. */
  val tradeEdgesSql: String =
    """e0 AS MATERIALIZED (
      |  SELECT DISTINCT CAST(2 * o_custkey AS BIGINT) AS c,
      |                  CAST(2 * l_suppkey + 1 AS BIGINT) AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |ed AS MATERIALIZED (SELECT c AS src, s AS dst FROM e0 UNION SELECT s, c FROM e0)""".stripMargin

  /** Degrees (n, d) and per-node triangle counts (n, n_tri) of an
    * undirected edge list `(a, b)`. Every edge is oriented from its
    * (degree, id)-smaller endpoint, which bounds wedge fan-out by O(sqrt m)
    * even on power-law degree skew and finds each triangle exactly once:
    * one wedge join, then a left-semi closure on the third edge.
    *
    * `e` and the oriented edges each feed several consumers; they are NOT
    * persisted, because Catalyst dedups their exchanges as ReusedExchange
    * (plan-asserted in Wave12Spec) and an sf10 A/B measured an explicit
    * MEMORY_AND_DISK persist 20% slower than the reused exchanges.
    * [[trianglesSql]] is the oracle's spelling.
    */
  private def triangles(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val flip = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val dir = withDeg.select(
      when(flip, col("a")).otherwise(col("b")).as("src"),
      when(flip, col("b")).otherwise(col("a")).as("dst"))
    val wedges = dir.as("e1")
      .join(dir.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tri = wedges.join(
      dir.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"), "left_semi")
    val perNode = tri.select(col("a").as("n"))
      .unionAll(tri.select(col("b"))).unionAll(tri.select(col("c")))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    (deg, perNode)
  }

  /** [[triangles]] as DuckDB CTEs over an edge CTE `e`: `deg`, `dir`,
    * `tri` and the per-node counts `pt`. deg and dir are MATERIALIZED:
    * dir is referenced three times and DuckDB inlines plain CTEs, so
    * without the hint the whole edge pipeline is re-derived per reference
    * (at sf10 that recomputation overflowed 73 GB of spill).
    */
  private val trianglesSql: String =
    """deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |dir AS MATERIALIZED (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
      |               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
      |        FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |        FROM dir e1 JOIN dir e2 ON e1.dst = e2.src
      |        JOIN dir e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pt AS (SELECT n, CAST(count(*) AS BIGINT) AS n_tri
      |       FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
      |             UNION ALL SELECT c FROM tri) GROUP BY 1)""".stripMargin

  /** Two unrolled HITS rounds from hub₀ = 1 over a bipartite incidence
    * `(s, p)`: round 1 gives auth₁(p) = degree, hub₁(s) = Σ auth₁ of its
    * parts; round 2 gives auth₂(p) = Σ hub₁ of its suppliers. All scores
    * are EXACT integer sums of counts. Returns (p, auth).
    */
  def hitsAuthorities(e: DataFrame): DataFrame = {
    val a1 = e.groupBy("p").agg(count(lit(1)).as("a"))
    val h1 = e.join(a1, "p").groupBy("s").agg(sum(col("a")).as("h"))
    e.join(h1, "s").groupBy("p").agg(sum(col("h")).as("auth"))
  }

  /** Synchronous majority-vote label propagation over undirected edges
    * `(a, b)`: `rounds` sync updates of label(v) ← argmax over neighbor
    * labels (max vote count, tie → smallest label). Deterministic by
    * construction — the async/random-order schedule of the original
    * algorithm can never hash-match an oracle. Returns (node, lbl) for
    * every edge endpoint. Per round: one join shuffling labels onto the
    * symmetric edge list, one (node, cand) count, one argmax-by-struct
    * agg; labels localCheckpoint between rounds so iterative lineage
    * doesn't stack (the gr1 pattern).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val labels0 = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    Rounds.iterate(labels0, rounds) { (labels, _) =>
      val votes = sym.join(
        labels.select(col("node").as("v"), col("lbl").as("nl")), "v")
        .select(col("u").as("node"), col("nl").as("cand"))
      // argmax(count, then min label) as ONE agg over a struct ordering —
      // (cnt, -cand) max picks the highest count, then the smallest
      // label — cheaper than a per-node rank window and identical rows
      votes.groupBy("node", "cand").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("cand")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
    }
  }

  /** Bounded k-core peel over undirected edges `(a, b)`: `rounds`
    * synchronous rounds of "drop every node whose degree < k, then drop
    * edges touching a dropped node", emitting one (round, n_nodes,
    * n_edges) row per round. The fixpoint is reached when two consecutive
    * rows agree — the caller reads convergence off the rows, and both
    * engines replay the SAME bounded recursion (lp1/gr1's fixed-round
    * class: an unbounded while-loop can never hash-match an oracle).
    * Per round: ONE keyed degree shuffle + two semi-joins; edges
    * localCheckpoint between rounds so iterative lineage doesn't stack.
    */
  def kCore(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // materialize the pair build ONCE: round 1 consumes it from three
    // plans (degree agg + both join probes). Serialized columnar
    // persist, NOT localCheckpoint: checkpoint blocks store DESERIALIZED
    // InternalRows (~60 B per 2-long edge), and with two |E|-row
    // generations live during a round build the sf10 peel (115M pairs)
    // needed a 48 GB heap — the compressed columnar cache carries the
    // same rows in ~1/6 the space and the peel fits the default heap.
    // (The per-round counts are SEPARATE actions, so this is the
    // cross-action consumer class where r12 measured persists winning —
    // gm1/lk1 — not the single-action ReusedExchange class of gr2/gr4.)
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var edges = edges0.persist(level)
    edges.count(): Unit // materialize before the loop's triple consumption
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // DELTA PEEL: only round 1 pays the full 2|E|-row degree shuffle.
    // From round 2 on, a surviving node's degree changes ONLY by its edges
    // into last round's DROPPED set — deg_r(u) = deg_{r-1}(u) − |edges of
    // u into dropped_{r-1}| — so each later round joins the edge cache
    // against the (typically tiny, post-checkpoint stats-sized) dropped
    // set instead of re-aggregating every edge endpoint, and removes dead
    // edges with two anti-joins against the SAME small set instead of two
    // semi-joins against the |V|-sized alive set. Fixpoint rounds (empty
    // dropped) degrade to cheap no-op scans. The r13 memory discipline is
    // unchanged: eager per-round counts, serialized edge persists, prev
    // generation unpersisted before the next is built, node-grain state
    // localCheckpointed (cuts per-round lineage).
    var degAll: DataFrame = null     // (u, dg) over e_{r-1}, checkpointed
    var olderEdges: DataFrame = null // e_{r-2}: the set last round's dropped
                                     // nodes were dropped FROM — the delta
                                     // source; released after the round's
                                     // degree checkpoint, so peak live edge
                                     // generations stay at TWO (unchanged)
    for (r <- 1 to rounds) {
      val deg =
        if (r == 1)
          edges.select(col("a").as("u")).unionAll(edges.select(col("b")))
            .groupBy("u").agg(count(lit(1)).as("dg"))
        else {
          // deg_r(u) = deg_{r-1}(u) − |e_{r-2} edges at u into dropped_{r-1}|
          // for u alive after round r−1: ONE pass over the cached edge set
          // (two tiny probe joins in the same stage — a semi-join per
          // direction would scan the cache twice) emitting only endpoints
          // of edges INCIDENT to the dropped set, so the round's shuffle
          // carries incident-edge rows, never the full 2|E| endpoint
          // stream. An edge with BOTH endpoints dropped contributes only
          // to dropped nodes' deltas, which the alive-keyed left join
          // discards.
          val dropped = degAll.filter(col("dg") < k.toLong).select("u")
          val delta = olderEdges
            .join(dropped.select(col("u").as("da")), col("a") === col("da"), "left")
            .join(dropped.select(col("u").as("db")), col("b") === col("db"), "left")
            .filter(col("da").isNotNull || col("db").isNotNull)
            .select(explode(array(
              when(col("db").isNotNull, col("a")),
              when(col("da").isNotNull, col("b")))).as("u"))
            .filter(col("u").isNotNull)
            .groupBy("u").agg(count(lit(1)).as("rm"))
          degAll.filter(col("dg") >= k.toLong)
            .join(delta, Seq("u"), "left")
            .select(col("u"),
              (col("dg") - coalesce(col("rm"), lit(0L))).as("dg"))
        }
      // node-grain state is checkpointed (≤|V| rows of two longs): the
      // degree build runs ONCE per round; without it the edge filter, the
      // node count and the NEXT round's delta would each recompute it.
      // localCheckpoint here also CUTS the growing per-round lineage at
      // node grain, which the serialized edge persists do not. alive and
      // dropped are cheap FILTERS over this one checkpoint — one
      // materialization job per round, not one per derived set. A
      // generation's checkpoint blocks are freed by the ContextCleaner
      // once the frame is unreachable (CacheLifecycleSpec); only the
      // serialized edge persists are released here.
      degAll = deg.localCheckpoint()
      if (olderEdges != null) olderEdges.unpersist()
      val dropNow = degAll.filter(col("dg") < k.toLong).select("u")
      olderEdges = edges
      edges = edges
        .join(dropNow.select(col("u").as("a")), Seq("a"), "left_anti")
        .join(dropNow.select(col("u").as("b")), Seq("b"), "left_anti")
        .select("a", "b")
        .persist(level)
      // per-round counts are cheap scans of the materialized blocks; they
      // are BOUNDED driver data (two longs per round — the pivot-key
      // collect class), and taking them eagerly lets the dead round's
      // blocks free immediately: holding all rounds at once is what bent
      // the sf10 curve (seven deserialized 113M-row caches spilling +
      // GC-thrashing the heap)
      rows += ((r.toLong,
        degAll.filter(col("dg") >= k.toLong).count(), edges.count()))
    }
    // the result rows are already materialized driver-side (two longs per
    // round); release the final edge generations before returning
    if (olderEdges != null) olderEdges.unpersist()
    edges.unpersist()
    rows.toSeq.toDF("round", "n_nodes", "n_edges").orderBy("round")
  }

  def all: Seq[Q] = Seq(

    // ── GR1: PageRank (graft.graph.PageRank) over the customer↔supplier
    // trade graph ([[tradeEdges]]: distinct pairs through orders×lineitem,
    // symmetrized so no node dangles, parity-disjoint ids). 3 Lloyd-
    // style rounds of iterated joins, per-round rounding for cross-engine
    // determinism; oracle = the same rounds unrolled as materialized CTEs.
    Q("gr1_pagerank",
      graft.graph.PageRank.unrolledSql(s"WITH $tradeEdgesSql", iters = 3, topK = 20)) { (s, d) =>
      graft.graph.PageRank.run(tradeEdges(s, d), iters = 3)
        .orderBy(col("pr").desc, col("node")).limit(20)
    },

    // ── GR2: per-node triangle counts on the supplier co-purchase graph
    // (suppliers linked when a high-quantity item of each shares an order),
    // by [[triangles]]' degree-oriented wedge join + semi-join closure — no
    // post-hoc dedup, no cartesian.
    Q("gr2_triangle_count",
      s"""WITH ${coPurchaseEdgesSql("l_suppkey", Some(40), 25)},
        |$trianglesSql
        |SELECT n AS node, n_tri FROM pt
        |ORDER BY n_tri DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      // fan-out cap 25 pinned in the oracle (qualifying suppliers/order is
      // ~7 on this corpus — AnalyticsSpec asserts the cap changes nothing)
      val (_, perNode) = triangles(
        coPurchaseEdges(Tables.lineitem(s, d), "l_suppkey", Some(40), Some(25)))
      perNode.select(col("n").as("node"), col("n_tri"))
        .orderBy(col("n_tri").desc, col("node")).limit(20)
    },

    // ── GR3: multi-hop BFS (graft.graph.Bfs) — hop distances ≤3 from
    // customer 1 over the customer↔supplier trade graph (gr1's graph).
    // Each round expands ONLY the frontier; the settled interior never
    // re-joins. Integer distances + min semantics = exactly reproducible,
    // so the oracle just unrolls the rounds as CTEs.
    Q("gr3_bfs_hops",
      s"""WITH $tradeEdgesSql,
        |d0 AS (SELECT CAST(2 AS BIGINT) AS node, 0 AS dist),
        |r1 AS (SELECT DISTINCT ed.dst AS node FROM ed JOIN d0 ON ed.src = d0.node),
        |a1 AS (SELECT node, dist FROM d0 UNION ALL
        |       SELECT node, 1 FROM r1 WHERE node NOT IN (SELECT node FROM d0)),
        |r2 AS (SELECT DISTINCT ed.dst AS node FROM ed JOIN a1 ON ed.src = a1.node AND a1.dist = 1),
        |a2 AS (SELECT node, dist FROM a1 UNION ALL
        |       SELECT node, 2 FROM r2 WHERE node NOT IN (SELECT node FROM a1)),
        |r3 AS (SELECT DISTINCT ed.dst AS node FROM ed JOIN a2 ON ed.src = a2.node AND a2.dist = 2),
        |a3 AS (SELECT node, dist FROM a2 UNION ALL
        |       SELECT node, 3 FROM r3 WHERE node NOT IN (SELECT node FROM a2))
        |SELECT node, dist FROM a3 ORDER BY node""".stripMargin) { (s, d) =>
      val seeds = s.range(1, 2).select((col("id") * 2).as("node")) // customer 1 → 2
      graft.graph.Bfs.run(tradeEdges(s, d), seeds, maxHops = 3).orderBy("node")
    },

    // ── GR4: per-node local clustering coefficient — gr2 answers "how
    // many triangles does the GRAPH have"; gr4 answers "which NODES sit
    // in dense neighborhoods" (2·tri(v) / deg(v)·(deg(v)−1)), the local-
    // density feature fraud/community pipelines rank on. Same graph cut
    // and capped edge build as gr2 (l_quantity ≥ 40, order fanout ≤ 25,
    // both pinned in the oracle), same degree-oriented wedge plan — the
    // O(√m) fan-out bound — plus ONE |nodes|-keyed degree join; coeff in
    // integer ppm (truncating div; tri ≤ deg²/2 and 2e6·tri stays far
    // under 2^63 for any capped build). Top-20 under the total order
    // (coeff desc, n_tri desc, node).
    Q("gr4_clustering_coeff",
      s"""WITH ${coPurchaseEdgesSql("l_suppkey", Some(40), 25)},
        |$trianglesSql
        |SELECT deg.n AS node, deg.d AS degree, coalesce(pt.n_tri, 0) AS n_tri,
        |       CAST((2000000 * coalesce(pt.n_tri, 0)) // (deg.d * (deg.d - 1)) AS BIGINT) AS coeff_ppm
        |FROM deg LEFT JOIN pt ON pt.n = deg.n
        |WHERE deg.d >= 2
        |ORDER BY coeff_ppm DESC, n_tri DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      // the capped collector feeds deg, the orientation join AND (unlike
      // gr2) the final coefficient join
      val (deg, perNode) = triangles(
        coPurchaseEdges(Tables.lineitem(s, d), "l_suppkey", Some(40), Some(25)))
      deg.filter(col("d") >= 2)
        .join(perNode, Seq("n"), "left")
        .select(col("n").as("node"), col("d").as("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          expr("cast((2000000 * coalesce(n_tri, 0)) div (d * (d - 1)) as bigint)")
            .as("coeff_ppm"))
        .orderBy(col("coeff_ppm").desc, col("n_tri").desc, col("node"))
        .limit(20)
    },

    // ── KC1: k-core decomposition (bounded peel) over the PART
    // co-purchase graph — the density filter the graph family lacked:
    // gr2 counts triangles (local density), dd6 merges components
    // (reachability); the k-core is the maximal subgraph where EVERY
    // node keeps ≥ k neighbors — the "dense nucleus" recommendation and
    // fraud pipelines cut to. k = 80 on the part graph (median degree
    // ~115 at sf0.01, so the peel genuinely iterates: 5 rounds to the
    // fixpoint there). Six UNROLLED rounds, convergence read off two
    // consecutive equal rows — the fixed-round contract (lp1/gr1's
    // class) both engines replay identically; the oracle is the same
    // six rounds as materialized CTEs. Edges build through the capped
    // collector (order fanout ≤ 16 — lines/order is structurally ~13 on
    // this schema, so the cap is a pure adversarial guard, pinned in
    // the oracle as NOT EXISTS hot). Per round: ONE keyed degree
    // shuffle + two semi-joins, edges localCheckpointed between rounds.
    // 100 TB: pair explosion is O(|orders|·cap²) narrow generation (no
    // self-join), round count is fixed, and every per-round shuffle
    // keys on the node id — the whole peel is 18 bounded shuffles
    // whatever the corpus size.
    Q("kc1_kcore", {
      val roundCtes = (1 to 6).map { r =>
        s"""d$r AS MATERIALIZED (SELECT u, count(*) AS dg
           |  FROM (SELECT a AS u FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
           |a$r AS MATERIALIZED (SELECT u FROM d$r WHERE dg >= 80),
           |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
           |  WHERE a IN (SELECT u FROM a$r) AND b IN (SELECT u FROM a$r))""".stripMargin
      }.mkString(",\n")
      val roundRows = (1 to 6).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round," +
          s" (SELECT CAST(count(*) AS BIGINT) FROM a$r) AS n_nodes," +
          s" (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges"
      }.mkString(" UNION ALL ")
      s"""WITH ${coPurchaseEdgesSql("l_partkey", None, 16)},
         |e0 AS (SELECT a, b FROM e),
         |$roundCtes
         |SELECT * FROM ($roundRows) ORDER BY round""".stripMargin
    }) { (s, d) =>
      kCore(coPurchaseEdges(Tables.lineitem(s, d), "l_partkey", None, Some(16)), k = 80, rounds = 6)
    },

    // ── LP1: community detection by synchronous majority-vote label
    // propagation (Raghavan et al. 2007) over gr2's supplier co-purchase
    // graph — the community readout dd6's connected components can't give
    // (CC merges everything reachable; LPA finds densely-linked groups
    // inside one component). Three SYNCHRONOUS rounds with a total
    // tie-break (max vote count, then smallest label) make the fixpoint-
    // free schedule a pure function of the data: async/random-order LPA —
    // the paper's default — can never hash-match an oracle. Per round the
    // plan is one join (labels onto the symmetric edge list, shuffles on
    // key), one (node, cand) keyed count, and one argmax-by-struct agg —
    // rank-carrying rows only, the gr1 iteration pattern, with labels
    // localCheckpointed between rounds so lineage doesn't stack. Edges
    // build once through the capped collector and are localCheckpointed
    // before 3 rounds × 2 directions of reuse.
    Q("lp1_label_propagation", {
      def round(prev: String, cur: String): String =
        s"""c$cur AS (SELECT s.u AS node, l.lbl AS cand, count(*) AS cnt
           |       FROM sym s JOIN l$prev l ON l.node = s.v GROUP BY 1, 2),
           |l$cur AS MATERIALIZED (SELECT node, cand AS lbl FROM
           |  (SELECT node, cand, row_number() OVER (PARTITION BY node
           |     ORDER BY cnt DESC, cand) AS rn FROM c$cur) WHERE rn = 1)"""
          .stripMargin
      s"""WITH ${coPurchaseEdgesSql("l_suppkey", Some(40), 25)},
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |                     UNION ALL SELECT b, a FROM e),
         |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT node, lbl FROM l3 ORDER BY node""".stripMargin
    }) { (s, d) =>
      val e = coPurchaseEdges(Tables.lineitem(s, d), "l_suppkey", Some(40), Some(25)).localCheckpoint()
      labelPropagation(e, rounds = 3).orderBy("node")
    },

    // ── HUB1: HITS hubs & authorities (Kleinberg 1999) on the BIPARTITE
    // supplier→part incidence — the mutually-recursive centrality gr1's
    // damped PageRank isn't (PageRank ranks within one node set; HITS
    // scores the two sides of an incidence against each other: a part is
    // authoritative when stocked by good hubs, a supplier a good hub when
    // it stocks authoritative parts). Two unrolled sync rounds from
    // hub₀ = 1, kept in EXACT integers — every score is a sum of counts
    // (magnitude ≤ maxdeg⁴, far inside BIGINT), so there is no float
    // normalization step to disagree on and the oracle replays the
    // arithmetic verbatim. Plan: two keyed join+agg rounds over the
    // distinct incidence (shuffles on s / p only carry the score column),
    // top-20 via TakeOrderedAndProject — never a global sort.
    Q("hub1_hits",
      """WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |      FROM lineitem WHERE l_quantity >= 40),
        |a1 AS (SELECT p, count(*) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT e.s, CAST(sum(a1.a) AS BIGINT) AS h
        |       FROM e JOIN a1 USING (p) GROUP BY 1),
        |a2 AS (SELECT e.p, CAST(sum(h1.h) AS BIGINT) AS auth
        |       FROM e JOIN h1 USING (s) GROUP BY 1)
        |SELECT p AS part, auth FROM a2
        |ORDER BY auth DESC, part LIMIT 20""".stripMargin) { (s, d) =>
      val e = Tables.lineitem(s, d).filter(col("l_quantity") >= 40)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct().localCheckpoint()
      hitsAuthorities(e)
        .select(col("p").as("part"), col("auth"))
        .orderBy(col("auth").desc, col("part")).limit(20)
    },

    // ── LK1: Adamic–Adar link prediction on the supplier co-purchase
    // graph — "which non-adjacent suppliers SHOULD be linked?": score a
    // candidate pair by Σ over common neighbors z of 1/ln(deg z), the
    // classic common-neighbor weighting that discounts promiscuous hubs
    // (Adamic & Adar 2003). Each term is the exact integer
    // 1e12 div lnMicro(deg) (deg ≥ 2 for any common neighbor by
    // construction, so the ln is never 0; per-term truncation then exact
    // sums — mi1's per-cell class). Existing edges leave by anti join;
    // top-20 under the (score, n_common, a, b) total order. The graph is
    // the SPARSE co-purchase cut (l_quantity ≥ 48, degrees 2–16 at
    // sf0.01) — gr2's ≥ 40 cut is near-complete (min degree 53 on 100
    // nodes), where "predict a missing link" is vacuous.
    // 100 TB: edges build through the capped collector (fanout ≤ 25,
    // pinned in the oracle); common-neighbor MIDS are capped at degree
    // ≤ 50 (pinned in the oracle) — a hub's 1/ln(deg) → 0 contribution
    // isn't worth its deg² wedge fan-out, so the cap is both the scale
    // guard (wedge rows ≤ |mids|·50²/2) and statistically near-free; the
    // wedge self-join keys on the mid node.
    Q("lk1_adamic_adar", {
      val lnD = lnMicroSql("d")
      s"""WITH ${coPurchaseEdgesSql("l_suppkey", Some(48), 25)},
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |adj AS (SELECT a AS mid, b AS nb FROM e
         |        UNION ALL SELECT b AS mid, a AS nb FROM e),
         |mids AS (SELECT n AS mid, d FROM deg WHERE d BETWEEN 2 AND 50),
         |w AS (SELECT x.nb AS a, y.nb AS b, m.d
         |      FROM mids m JOIN adj x ON x.mid = m.mid
         |      JOIN adj y ON y.mid = m.mid AND x.nb < y.nb),
         |cand AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
         |           CAST(sum(1000000000000 // $lnD) AS BIGINT) AS aa_micro
         |         FROM w GROUP BY 1, 2),
         |ne AS (SELECT c.* FROM cand c
         |       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b))
         |SELECT a, b, n_common, aa_micro
         |FROM ne ORDER BY aa_micro DESC, n_common DESC, a, b LIMIT 20""".stripMargin
    }) { (s, d) =>
      // deg, both adj orientations and the anti join all scan e — persist
      // the capped build once (gm1's serialized-persist lesson);
      // registry-tracked so a long-lived driver's clear() releases the
      // disk blocks (they are not LRU-evicted)
      val e = graft.CacheRegistry.track(
        coPurchaseEdges(Tables.lineitem(s, d), "l_suppkey", Some(48), Some(25))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val deg = e.select(col("a").as("n")).unionAll(e.select(col("b")))
        .groupBy("n").agg(count(lit(1)).cast("long").as("d"))
      val adj = e.select(col("a").as("mid"), col("b").as("nb"))
        .unionAll(e.select(col("b").as("mid"), col("a").as("nb")))
      val mids = deg.filter(col("d").between(2L, 50L))
        .select(col("n").as("mid"), col("d"))
      // prune adjacency to capped mids BEFORE the wedge self-join: the
      // join input is then |mids|·deg≤50 rows and fan-out is bounded
      val adjM = adj.join(mids, "mid")
      val wedges = adjM.as("x")
        .join(adjM.select(col("mid"), col("nb").as("nb2")).as("y"),
          col("x.mid") === col("y.mid") && col("x.nb") < col("nb2"))
        .select(col("x.nb").as("a"), col("nb2").as("b"), col("x.d").as("dm"))
      val cand = wedges.groupBy("a", "b")
        .agg(count(lit(1)).cast("long").as("n_common"),
          sum(expr(s"1000000000000L div cast(round(ln(cast(dm as double)) * 1e6) as bigint)"))
            .cast("long").as("aa_micro"))
      cand.join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("aa_micro").desc, col("n_common").desc, col("a"), col("b"))
        .limit(20)
    },

    // ── GM1: Newman modularity of the brand partition on the part
    // co-purchase graph — the "is this grouping real structure?" scalar
    // the graph family lacked: lp1 FINDS communities, gm1 SCORES a given
    // partition (here p_brand — do brands cluster in co-purchase?).
    // Q·4m² = Σ_c (4m·e_c − d_c²) is pure integer (e_c = intra-community
    // edges, d_c = community degree sum, m = |edges|); q_ppm travels
    // sign·(abs div 4m²) since near-random partitions land epsilon-
    // negative. Edges build through kc1's capped collector (order fanout
    // ≤ 16, pinned in the oracle as NOT EXISTS hot). m = 0 → NULL.
    // 100 TB: pair generation O(orders·cap²) narrow rows; the brand
    // lookup joins KEYED on partkey (part is fact-sized/30 —
    // unbroadcastable, tq14's lesson); everything after the two keyed
    // joins is agg over the |brands| table.
    Q("gm1_modularity",
      s"""WITH ${coPurchaseEdgesSql("l_partkey", None, 16)},
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg
        |        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |nb AS (SELECT p_partkey AS n, p_brand AS c FROM part),
        |dc AS (SELECT nb.c, CAST(sum(deg.dg) AS BIGINT) AS d_c,
        |              CAST(count(*) AS BIGINT) AS nn
        |       FROM deg JOIN nb ON nb.n = deg.n GROUP BY 1),
        |ec AS (SELECT na.c, CAST(count(*) AS BIGINT) AS e_c
        |       FROM e JOIN nb na ON na.n = e.a JOIN nb nbb ON nbb.n = e.b
        |       WHERE na.c = nbb.c GROUP BY 1),
        |s AS (SELECT CAST(sum(dc.nn) AS BIGINT) AS n_nodes,
        |        CAST(max(m.m) AS BIGINT) AS n_edges,
        |        CAST(count(*) AS BIGINT) AS n_comms,
        |        sum(4 * CAST(m.m AS HUGEINT) * coalesce(ec.e_c, 0)
        |            - CAST(dc.d_c AS HUGEINT) * dc.d_c) AS num
        |      FROM dc CROSS JOIN m LEFT JOIN ec ON ec.c = dc.c)
        |SELECT n_nodes, n_edges, n_comms,
        |       CASE WHEN n_edges = 0 THEN NULL
        |            ELSE CAST(CAST(sign(num) AS BIGINT)
        |                   * ((abs(num) * 1000000)
        |                      // (4 * CAST(n_edges AS HUGEINT) * n_edges)) AS BIGINT) END AS q_ppm
        |FROM s""".stripMargin) { (s, d) =>
      // the capped edge build feeds deg and ec inside ONE action, so its
      // closing distinct-Exchange is deduped by Catalyst's ReusedExchange
      // (gr4's round-13 lesson) — NOT persisted: at sf30 the 340M-edge
      // MEMORY_AND_DISK cache spilled ~10 GB and bent the curve (210-370 s
      // vs 131 s unpersisted; at sf10 the two forms tie within noise).
      // m derives from deg (Σdeg = 2m) so e is scanned twice, not three
      // times (kc1's recompute lesson).
      val e = coPurchaseEdges(Tables.lineitem(s, d), "l_partkey", None, Some(16))
      val deg = e.select(col("a").as("n")).unionAll(e.select(col("b")))
        .groupBy("n").agg(count(lit(1)).cast("long").as("dg"))
      val m = deg.agg(expr("cast(sum(dg) div 2 as bigint)").as("m"))
      val nb = Tables.part(s, d)
        .select(col("p_partkey").as("n"), col("p_brand").as("c"))
      val dc = deg.join(nb, "n")
        .groupBy("c").agg(sum("dg").cast("long").as("d_c"),
          count(lit(1)).cast("long").as("nn"))
      val ec = e
        .join(nb.select(col("n").as("a"), col("c").as("ca")), "a")
        .join(nb.select(col("n").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).cast("long").as("e_c"))
      dc.crossJoin(broadcast(m))
        .join(ec, Seq("c"), "left")
        .agg(sum("nn").cast("long").as("n_nodes"),
          max("m").cast("long").as("n_edges"),
          count(lit(1)).cast("long").as("n_comms"),
          sum(expr("4 * cast(m as decimal(38,0)) * coalesce(e_c, 0)" +
            " - cast(d_c as decimal(38,0)) * d_c")).as("num"))
        .select(col("n_nodes"), col("n_edges"), col("n_comms"),
          when(col("n_edges") === 0L, lit(null).cast("long"))
            .otherwise(expr("cast(cast(sign(num) as bigint)" +
              " * ((abs(num) * 1000000)" +
              " div (4 * cast(n_edges as decimal(38,0)) * n_edges)) as bigint)"))
            .as("q_ppm"))
    },

    // ── PPR1: personalized PageRank from the NATION_1 suppliers on the
    // supplier co-purchase graph — gr1 ranks global importance; ppr1 ranks
    // proximity to a seed set (the "related to your catalog" query behind
    // recommendation candidates). Three unrolled rounds, teleport mass
    // 0.15/|seeds| on seeds only, per-round round(·,9) keeps both engines
    // in lockstep (gr1's device); never-reached nodes (pr = 0) drop so
    // the result is the seeds' 3-hop neighborhood ranking. Edge build =
    // gr2's capped collector (fanout ≤ 25, pinned in the oracle).
    // 100 TB: PageRank's contract — edges partitioned once and cached,
    // only the O(|nodes|) rank side shuffles per round, seeds broadcast.
    Q("ppr1_personalized_pagerank",
      graft.graph.PageRank.unrolledSql(
        s"""WITH ${coPurchaseEdgesSql("l_suppkey", Some(40), 25)},
          |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
          |     UNION SELECT b, a FROM e),
          |seeds0 AS (SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier
          |           WHERE s_nationkey = 1)""".stripMargin,
        iters = 3, topK = 20, seeded = true)) { (s, d) =>
      val e = coPurchaseEdges(Tables.lineitem(s, d), "l_suppkey", Some(40), Some(25))
      val ed = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 1)
        .select(col("s_suppkey").cast("long").as("node"))
      graft.graph.PageRank.runPersonalized(ed, seeds, iters = 3)
        .filter(col("pr") > 0.0)
        .orderBy(col("pr").desc, col("node")).limit(20)
    },

    // ── SSSP1: weighted shortest paths (graft.graph.Sssp) — minimum
    // total-weight routes from customer 1 over the customer↔supplier
    // trade graph, edge weight = the lightest trade (min quantity) on the
    // relation. 6 synchronous Bellman–Ford rounds; integer weights + min
    // semantics = exactly reproducible, oracle unrolls the rounds as CTEs
    // (the gr3 contract, weights added).
    // 100 TB: frontier-only relaxation over edges partitioned once.
    Q("sssp1_weighted_paths",
      graft.graph.Sssp.unrolledSql(
        """e0 AS MATERIALIZED (
          |  SELECT CAST(2 * o_custkey AS BIGINT) AS c,
          |         CAST(2 * l_suppkey + 1 AS BIGINT) AS s,
          |         CAST(min(l_quantity) AS BIGINT) AS w
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |ed AS MATERIALIZED (SELECT c AS src, s AS dst, w FROM e0
          |                    UNION ALL SELECT s, c, w FROM e0)""".stripMargin,
        "seeds AS (SELECT CAST(2 AS BIGINT) AS node)",
        rounds = 6)) { (s, d) =>
      val e0 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).cast("long").as("c"),
          (col("l_suppkey") * 2 + 1).cast("long").as("s"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
      val ed = e0.select(col("c").as("src"), col("s").as("dst"), col("w"))
        .unionByName(e0.select(col("s").as("src"), col("c").as("dst"), col("w")))
      val seeds = s.range(1).select(lit(2L).as("node"))
      graft.graph.Sssp.run(ed, seeds, rounds = 6).orderBy("node")
    }
  )
}
