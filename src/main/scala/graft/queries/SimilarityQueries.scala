package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.similarity.{KMeans, ProductQuantizer}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`ArrayType(FloatType)`, dim 64).
  *
  * Determinism: floats are widened to double BEFORE any arithmetic (exact),
  * dot products fold sequentially over the array (`aggregate`), ranking is on
  * the ROUNDED cosine with the neighbor id as a total tie-break — so both
  * engines rank the exact same values and the top-k set is bit-stable.
  *
  * Scale design (100 TB of vectors):
  *  - `sim1` (brute force) broadcasts the query set and streams the corpus —
  *    correct baseline, O(Q·N); this is the plan you run when Q is small.
  *  - `sim2` (IVF) prunes the scan to the query's coarse partition (`label` is
  *    the cluster assignment), the classic inverted-file layout: at scale the
  *    corpus is *storage-partitioned* by label so the probe is partition
  *    pruning, not a filter over the full scan.
  */
object SimilarityQueries {

  /** Top-k cosine neighbours of the 10 query vectors (vec_id < 10) in
    * `corpus`, within the query's label when `sameLabelOnly`.
    */
  private[queries] def topkCos(corpus: DataFrame, sameLabelOnly: Boolean, k: Int): DataFrame = {
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val joined =
      if (sameLabelOnly)
        corpus.join(broadcast(queries),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      else
        corpus.crossJoin(broadcast(queries)).filter(col("vec_id") =!= col("qid"))
    // cosine_sim is graft's codegen'd Catalyst expression — one fused
    // primitive loop per pair instead of zip_with/aggregate lambdas
    // (bit-identical accumulation order, so oracle parity holds).
    val scored = joined
      .withColumn("cos_sim", round(expr("cosine_sim(qe, embedding)"), 4))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("cos_sim"))
      .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
  }

  /** Stage the embeddings label-partitioned under the repo target dir —
    * the IVF storage layout (one directory per coarse cluster).
    */
  private def stagePartitioned(s: SparkSession, d: String): String = {
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"${graft.GraftSession.scratchRoot}/ivf-stage/emb_$sf"
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Tables.embeddings(s, d).write.mode("overwrite")
        .partitionBy("label").parquet(dir)
    }
    dir
  }

  /** Oracle: same math in DuckDB via a constant range(64) unnest. */
  private[queries] def cosSql(sameLabelOnly: Boolean, k: Int): String = {
    val labelPred = if (sameLabelOnly) "AND e.label = q.label" else ""
    s"""WITH norms AS (
       |  SELECT vec_id, sqrt(sum(CAST(embedding[r.range+1] AS DOUBLE)
       |                          * CAST(embedding[r.range+1] AS DOUBLE))) AS nrm
       |  FROM embeddings, range(64) r GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS nid,
       |         sum(CAST(q.embedding[r.range+1] AS DOUBLE)
       |             * CAST(e.embedding[r.range+1] AS DOUBLE)) AS dot
       |  FROM embeddings q, embeddings e, range(64) r
       |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id $labelPred
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT qid, nid, round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
       |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms ne ON ne.vec_id = nid),
       |ranked AS (
       |  SELECT qid, nid, cos_sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
       |  FROM scored)
       |SELECT qid, nid, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY qid, cos_sim DESC, nid""".stripMargin
  }

  /** The km family's seed centroids: the 8 lowest-id vectors as (cid, cvec). */
  private def seedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** KMeans.assign against [[seedCentroids]] as DuckDB CTEs `c`, `d` and
    * `rr`: `rr` ranks each vector's rounded distances to the 8 seeds, ties on
    * cid, so rn = 1 is its assignment and rn = 2 its runner-up.
    */
  private val kmAssignSql =
    """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |d AS (SELECT e.vec_id, c.cid,
      |        round(sum((CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))
      |                * (CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))), 4) AS dist
      |      FROM embeddings e, c, range(64) r GROUP BY 1, 2),
      |rr AS (SELECT vec_id, cid, dist,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)""".stripMargin

  /** The PQ index emb3, emb4 and emb8 search: 4-entry codebooks per 8-dim
    * subspace trained by one Lloyd step from the vec_id < 4 seeds (sub, cid,
    * cv), the corpus encoded against them (vec_id, sub, code), and the
    * subvectors of the 8 query vectors vec_id < 8 (qid, sub, sv).
    */
  private def pqIndex(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val books = ProductQuantizer.train(emb, "vec_id", "embedding",
      nSub = 8, subDim = 8, k = 4, iters = 1)
    val subs = ProductQuantizer.subvectors(emb, "vec_id", "embedding", nSub = 8, subDim = 8)
    val codes = ProductQuantizer.encode(subs, "vec_id", books).select("vec_id", "sub", "code")
    (books, codes, subs.filter(col("vec_id") < 8).withColumnRenamed("vec_id", "qid"))
  }

  /** [[pqIndex]] as DuckDB CTEs over the `s` (sub) and `dims` (i) ranges:
    * `sv` the long-form subvectors, `b0` → `b1` the seed and trained
    * codebooks, `codes` the encoded corpus and `dt` the queries' distance
    * table in 1e-4 fixed point.
    */
  private val pqIndexSql =
    """sv AS (SELECT e.vec_id, s.sub, d.i AS dim,
      |              CAST(e.embedding[s.sub*8 + d.i + 1] AS DOUBLE) AS x
      |       FROM embeddings e, s, dims d),
      |b0 AS (SELECT sub, CAST(vec_id AS BIGINT) AS cid, dim, x AS c
      |       FROM sv WHERE vec_id < 4),
      |d1 AS (SELECT v.vec_id, v.sub, b.cid,
      |              round(sum((v.x - b.c) * (v.x - b.c)), 4) AS dist
      |       FROM sv v JOIN b0 b ON b.sub = v.sub AND b.dim = v.dim
      |       GROUP BY 1, 2, 3),
      |a1 AS (SELECT vec_id, sub, cid FROM (
      |         SELECT vec_id, sub, cid, row_number() OVER (
      |           PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d1)
      |       WHERE rn = 1),
      |m1 AS (SELECT a.sub, a.cid, v.dim, round(avg(v.x), 6) AS c
      |       FROM a1 a JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub
      |       GROUP BY 1, 2, 3),
      |b1 AS (SELECT b0.sub, b0.cid, b0.dim, coalesce(m1.c, b0.c) AS c
      |       FROM b0 LEFT JOIN m1 ON m1.sub = b0.sub AND m1.cid = b0.cid
      |                           AND m1.dim = b0.dim),
      |d2 AS (SELECT v.vec_id, v.sub, b.cid,
      |              round(sum((v.x - b.c) * (v.x - b.c)), 4) AS dist
      |       FROM sv v JOIN b1 b ON b.sub = v.sub AND b.dim = v.dim
      |       GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, sub, cid AS code FROM (
      |            SELECT vec_id, sub, cid, row_number() OVER (
      |              PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM d2)
      |          WHERE rn = 1),
      |dt AS (SELECT v.vec_id AS qid, v.sub, b.cid AS code,
      |              CAST(round(sum((v.x - b.c) * (v.x - b.c)) * 10000) AS BIGINT) AS dfp
      |       FROM sv v JOIN b1 b ON b.sub = v.sub AND b.dim = v.dim
      |       WHERE v.vec_id < 8 GROUP BY 1, 2, 3)""".stripMargin

  /** emb4's IVF-PQ search: the [[seedCentroids]] are the coarse lists, each
    * query probes its 2 nearest, and ADC over [[pqIndex]] ranks only the
    * probed lists' vectors → the top `k` (qid, nid, adist_fp) per query.
    */
  private def ivfPqTopK(emb: DataFrame, k: Int): DataFrame = {
    val cents = seedCentroids(emb)
    val coarse = KMeans.assign(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cid").as("lid"))
    // probe ranking is nq×8 rows — the window is trivially small
    val pw = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    val probe = emb.filter(col("vec_id") < 8)
      .crossJoin(broadcast(cents))
      .withColumn("dist", round(KMeans.sqDist("embedding", "cvec"), 4))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("cid").as("lid"))
    val (books, codes, qsubs) = pqIndex(emb)
    val dtable = ProductQuantizer.distanceTable(qsubs, books, "qid")
    val cand = codes.join(coarse, "vec_id").join(broadcast(probe), "lid")
    val w = Window.partitionBy("qid").orderBy(col("adist_fp"), col("vec_id"))
    cand.join(broadcast(dtable), Seq("qid", "sub", "code"))
      .groupBy("qid", "vec_id").agg(sum(col("dfp")).as("adist_fp"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("adist_fp"))
  }

  /** [[ivfPqTopK]] as DuckDB CTEs, up to `ad`: every probed candidate's
    * (qid, nid, adist_fp) before the top-k cut.
    */
  private val ivfPqSql =
    s"""WITH s AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
       |dims AS (SELECT CAST(range AS INT) AS i FROM range(8)),
       |c8 AS (SELECT vec_id AS lid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |dc AS (SELECT e.vec_id, c.lid,
       |         round(sum((CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))
       |                 * (CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))), 4) AS dist
       |       FROM embeddings e, c8 c, range(64) r GROUP BY 1, 2),
       |asn AS (SELECT vec_id, lid FROM (
       |          SELECT vec_id, lid, row_number() OVER (
       |            PARTITION BY vec_id ORDER BY dist, lid) AS rn FROM dc)
       |        WHERE rn = 1),
       |probe AS (SELECT vec_id AS qid, lid FROM (
       |            SELECT vec_id, lid, row_number() OVER (
       |              PARTITION BY vec_id ORDER BY dist, lid) AS rn FROM dc
       |            WHERE vec_id < 8)
       |          WHERE rn <= 2),
       |$pqIndexSql,
       |cand AS (SELECT p.qid, c.vec_id, c.sub, c.code
       |         FROM codes c JOIN asn a ON a.vec_id = c.vec_id
       |                      JOIN probe p ON p.lid = a.lid),
       |ad AS (SELECT cand.qid, cand.vec_id AS nid, CAST(sum(dt.dfp) AS BIGINT) AS adist_fp
       |       FROM cand JOIN dt ON dt.qid = cand.qid AND dt.sub = cand.sub
       |                        AND dt.code = cand.code
       |       GROUP BY 1, 2)""".stripMargin

  def all: Seq[Q] = Seq(
    // ── SIM1: brute-force cosine top-k (exact baseline) ────────────────────
    Q("sim1_cosine_topk", cosSql(sameLabelOnly = false, k = 10)) { (s, d) =>
      topkCos(Tables.embeddings(s, d), sameLabelOnly = false, k = 10)
    },

    // ── SIM2: IVF-style probe — search only the query's coarse cluster ─────
    Q("sim2_ivf_topk", cosSql(sameLabelOnly = true, k = 5)) { (s, d) =>
      topkCos(Tables.embeddings(s, d), sameLabelOnly = true, k = 5)
    },

    // ── SIM2B: the REAL inverted-file layout — corpus storage-partitioned
    // by label, probe = equi-join on the partition column, so Spark inserts
    // a dynamic-partition-pruning subquery and the scan reads only probed
    // partitions (asserted in PlanSpec). Same math, same oracle as sim2;
    // at 100 TB this is the difference between scanning the corpus and
    // scanning nProbe/nList of it.
    Q("sim2b_ivf_partitioned", cosSql(sameLabelOnly = true, k = 5)) { (s, d) =>
      topkCos(s.read.parquet(stagePartitioned(s, d)), sameLabelOnly = true, k = 5)
    },

    // ── DD5: embedding-cosine near-duplicate pairs, EXACT via the blocked
    // all-pairs equi-join (graft.similarity.AllPairs) — shuffle-on-block-id,
    // per-task memory O(N/nBlocks), no nested-loop cartesian. Exact is the
    // honest plan here: the 0.45 threshold is corpus-relative, deep inside
    // the background cosine tail (p99.9≈0.377), where measured SRP-LSH
    // cannot reach recall 1.0 with any pruning (0.97 recall while still
    // scanning 47% of pairs at sf0.1). The LSH-candidate variant for the
    // high-cosine regime is dd5b below (recall-gated in its oracle).
    Q("dd5_embedding_neardup",
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v,
        |         sqrt(array_inner_product(CAST(embedding AS DOUBLE[64]),
        |                                  CAST(embedding AS DOUBLE[64]))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS i, b.vec_id AS j,
        |       round(array_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(array_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      graft.similarity.AllPairs.cosinePairs(
        Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45)
        .orderBy("i", "j")
    },

    // ── DD5C: the SAMPLED exact referee — dd5's semantics restricted to a
    // deterministic md5-bucket vector sample sized in-plan to ~2000 rows
    // (AllPairs.sampledCosinePairs). The pair subset is identical in both
    // engines at ANY corpus size, so this row keeps exact-cosine near-dup
    // verification two-engine-checkable at scale factors where the full
    // O(n²·dim) baseline is infeasible in the oracle (at sf10's 200k
    // vectors the full referee is 2×10¹⁰ pair-cosines; the sample stays
    // ~2×10⁶). The 0.35 threshold sits below dd5's 0.45, inside the
    // background-cosine tail, so the row count is meaningful at every SF
    // (272 / 4.1k / 4.6k pairs at sf0.01/0.1/1).
    Q("dd5c_neardup_sampled",
      """WITH t AS (SELECT least(65536, 131072000 // count(*)) AS t FROM embeddings),
        |s AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v,
        |         sqrt(array_inner_product(CAST(embedding AS DOUBLE[64]),
        |                                  CAST(embedding AS DOUBLE[64]))) AS nrm
        |  FROM embeddings, t
        |  WHERE (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1) < t.t)
        |SELECT a.vec_id AS i, b.vec_id AS j,
        |       round(array_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE round(array_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.35
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      graft.similarity.AllPairs.sampledCosinePairs(
        Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.35, targetSample = 2000)
        .orderBy("i", "j")
    },

    // ── DD5B: the LSH-candidate near-dup path (multi-table SRP candidates +
    // exact cosine verify) — the plan you run when near-dups are real
    // duplicates (cosine ≥ ~0.9), where it prunes to a few % of pairs at
    // recall 1.0 (asserted on planted dups in AnnLshSpec). The pair SET is
    // approximate (the seeded tables aren't oracle-expressible), but — the
    // agg4/sim3 pattern — the QUALITY bound is oracle-gated: the exact
    // all-pairs result (dd5's operator) referees in-engine, `n_exact` is
    // hash-checked against DuckDB's independent O(n²) computation, and
    // `recall_ok` asserts LSH recall ≥ 0.1 at this deliberately hostile
    // threshold (measured 0.14/0.36/0.23 at sf0.001/0.01/0.1 —
    // deterministic, seeded; 0.45 sits inside the background cosine tail,
    // which is exactly why dd5's exact plan is the recommended operator
    // there). A broken banding/verify flips the flag → hash mismatch.
    Q("dd5b_embedding_neardup_lsh",
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v,
        |         sqrt(array_inner_product(CAST(embedding AS DOUBLE[64]),
        |                                  CAST(embedding AS DOUBLE[64]))) AS nrm
        |  FROM embeddings)
        |SELECT count(*) AS n_exact, 1 AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(array_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // 8 tables: the demonstration config — at this corpus-relative
      // threshold more tables only buy candidates, not usable recall
      val lsh = graft.similarity.AnnLsh.neardupPairs(
        emb, "vec_id", "embedding", threshold = 0.45, dim = 64, nTables = 8)
        .select("i", "j")
      val exact = graft.similarity.AllPairs.cosinePairs(
        emb, "vec_id", "embedding", threshold = 0.45).select("i", "j")
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      val nHit = lsh.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      nEx.crossJoin(nHit).select(col("n_exact"),
        when(col("hits") / col("n_exact") >= 0.1, lit(1)).otherwise(lit(0))
          .as("recall_ok"))
    },

    // ── DD9: SemDeDup — cluster-then-dedup semantic near-dup pruning
    // (graft.similarity.SemDedup; Abbas et al. 2023). k-means clusters
    // bound the pairing: all-pairs work drops from dd5's O(n²) to O(n²/k)
    // with k chosen in-plan from the corpus size (1-row broadcast,
    // integer arithmetic — identical in both engines). Within-cluster
    // pairs are an EQUI-join on cluster id (shuffle on key, AQE skew
    // split); keep = first-wins by vec_id. k = floor(sqrt(n)) in-plan —
    // the self-balancing choice that keeps E-step (n·k·d) and pairing
    // ((n²/k)·d) BOTH at O(n^1.5·d); IEEE sqrt is correctly rounded, so
    // floor(sqrt(count)) is identical in both engines. Recall vs the
    // exact pair set is the paper's accepted trade, measured in
    // SemDedupSpec. The oracle replays centroid choice (vec_id < k), the
    // km1 round-then-argmin assignment, and the dd5 rounded-cosine
    // contract.
    Q("dd9_semdedup",
      """WITH n AS (SELECT least(4096, greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT))) AS k FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings, n WHERE vec_id < n.k),
        |d AS (SELECT e.vec_id, c.cid,
        |        round(sum((CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))
        |                * (CAST(e.embedding[r.range+1] AS DOUBLE) - CAST(c.ce[r.range+1] AS DOUBLE))), 4) AS dist
        |      FROM embeddings e, c, range(64) r GROUP BY 1, 2),
        |rr AS (SELECT vec_id, cid,
        |              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d),
        |asn AS (SELECT vec_id, cid FROM rr WHERE rn = 1),
        |x AS MATERIALIZED (
        |  SELECT a.vec_id, a.cid, CAST(e.embedding AS DOUBLE[64]) AS v,
        |         sqrt(array_inner_product(CAST(e.embedding AS DOUBLE[64]),
        |                                  CAST(e.embedding AS DOUBLE[64]))) AS nrm
        |  FROM asn a JOIN embeddings e USING (vec_id)),
        |dup AS (SELECT DISTINCT hi.vec_id
        |        FROM x hi JOIN x lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
        |        WHERE round(array_inner_product(hi.v, lo.v) / (hi.nrm * lo.nrm), 4) >= 0.45)
        |SELECT a.vec_id, a.cid, CAST(dup.vec_id IS NULL AS INT) AS keep
        |FROM asn a LEFT JOIN dup ON a.vec_id = dup.vec_id
        |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
      graft.similarity.SemDedup.keepFlags(
        Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45)
        .orderBy("vec_id")
    },

    // ── EMB2: product quantization — the standard high-ratio vector
    // compression for ANN at scale (Jégou et al. 2011): the 64-dim vector
    // splits into 8 contiguous 8-dim subspaces, each encoded as the id of
    // its nearest 4-entry sub-codebook centroid → 8 codes ≈ 2 bytes/vector
    // (vs emb1's int8 4×). Codebooks here are the deterministic seed
    // vectors' subvectors (vec_id < 4 — the km1 convention; a production
    // trainer runs KMeans.fit per subspace). The corpus-side plan is one
    // narrow 8× subspace explode + a BROADCAST codebook join + the
    // (vec_id, sub)-keyed argmin window — codebooks are K·dim floats on
    // every executor, the corpus never shuffles beyond the window's hash
    // partition. Distances round to 4dp before the argmin with ties on
    // cid (the km1 cross-engine assignment contract, per subspace).
    Q("emb2_product_quantize",
      """WITH s AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 4),
        |d AS (SELECT e.vec_id, s.sub, c.cid,
        |        round(sum((CAST(e.embedding[s.sub*8 + r.range + 1] AS DOUBLE)
        |                 - CAST(c.ce[s.sub*8 + r.range + 1] AS DOUBLE))
        |                * (CAST(e.embedding[s.sub*8 + r.range + 1] AS DOUBLE)
        |                 - CAST(c.ce[s.sub*8 + r.range + 1] AS DOUBLE))), 4) AS dist
        |      FROM embeddings e, s, c, range(8) r GROUP BY 1, 2, 3),
        |rr AS (SELECT vec_id, sub, cid, dist,
        |              row_number() OVER (PARTITION BY vec_id, sub
        |                                 ORDER BY dist, cid) AS rn FROM d)
        |SELECT vec_id, sub, cid AS code, dist FROM rr WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin) { (s, d) =>
      val pq = graft.similarity.ProductQuantizer
      val emb = Tables.embeddings(s, d)
      val subs = pq.subvectors(emb, "vec_id", "embedding", nSub = 8, subDim = 8)
      val books = pq.initCodebooks(emb, "vec_id", "embedding",
        nSub = 8, subDim = 8, k = 4)
      pq.encode(subs, "vec_id", books).orderBy("vec_id", "sub")
    },

    // ── EMB3: trained product quantization + ADC query — emb2's round-10
    // completion (graft.similarity.ProductQuantizer): one Lloyd step per
    // subspace trains the 4-entry codebooks from the emb2 seeds (assign →
    // 6dp-rounded means, emptied cluster keeps its seed), the corpus is
    // encoded against the TRAINED books, and 8 query vectors (vec_id < 8)
    // are answered by ADC: a broadcast (qid, sub, code) distance table in
    // INTEGER 1e-4 fixed-point (exact Σ over subspaces — no float-order
    // wobble in the ranking), one encoded-corpus scan for all queries,
    // top-3 per query. At 100 TB the encoded corpus is 8 codes/vector and
    // every join side except the corpus itself is broadcast. The oracle
    // replays the full train→encode→ADC chain in long form.
    Q("emb3_pq_adc",
      s"""WITH s AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
         |dims AS (SELECT CAST(range AS INT) AS i FROM range(8)),
         |$pqIndexSql,
         |ad AS (SELECT dt.qid, c.vec_id AS nid, CAST(sum(dt.dfp) AS BIGINT) AS adist_fp
         |       FROM codes c JOIN dt ON dt.sub = c.sub AND dt.code = c.code
         |       GROUP BY 1, 2)
         |SELECT qid, nid, adist_fp FROM (
         |  SELECT qid, nid, adist_fp, row_number() OVER (
         |    PARTITION BY qid ORDER BY adist_fp, nid) AS rn FROM ad)
         |WHERE rn <= 3 ORDER BY qid, adist_fp, nid""".stripMargin) { (s, d) =>
      val (books, codes, qsubs) = pqIndex(Tables.embeddings(s, d))
      ProductQuantizer.adcTopK(codes, books, qsubs, "qid", "vec_id", k = 3)
        .orderBy("qid", "adist_fp", "nid")
    },

    // ── EMB4: IVF-PQ — the FAISS-style composed index (Jégou et al. 2011
    // §IV): km1's 8-centroid coarse quantizer partitions the corpus into
    // inverted lists; queries probe their nprobe=2 nearest lists; ADC with
    // emb3's TRAINED codebooks runs ONLY inside probed lists. This is how
    // a 10⁹-vector index answers without scanning: candidate work is
    // (nprobe/k_coarse) of the corpus, the coarse assignment is the
    // broadcast argmin-agg E-step, the probe table (nq·nprobe rows) and
    // distance table broadcast, and the Σ over subspaces stays exact
    // 1e-4 fixed-point. The oracle replays coarse-assign → probe →
    // train → encode → masked ADC in one CTE chain.
    Q("emb4_ivfpq_adc",
      ivfPqSql +
        """
          |SELECT qid, nid, adist_fp FROM (
          |  SELECT qid, nid, adist_fp, row_number() OVER (
          |    PARTITION BY qid ORDER BY adist_fp, nid) AS rn FROM ad)
          |WHERE rn <= 3 ORDER BY qid, adist_fp, nid""".stripMargin) { (s, d) =>
      ivfPqTopK(Tables.embeddings(s, d), k = 3).orderBy("qid", "adist_fp", "nid")
    },

    // ── SIM4: per-label centroids — the IVF coarse-quantizer / k-means
    // ── EMB8: IVF-PQ with exact refinement (the FAISS `refine` pattern —
    // Jégou et al. 2011 §V / IndexRefineFlat): emb4's compressed ADC scan
    // is the cheap first stage, but PQ distances are approximations and
    // the top of the list can be mis-ordered; the production fix is a
    // 4×-overfetch shortlist by ADC, then EXACT distances on the raw
    // vectors for ONLY those candidates, re-ranked to the final top-3.
    // 100 TB: the corpus is touched as codes (16 bytes/vector) in the ADC
    // stage; full float vectors are fetched by a broadcast semi-join of
    // the (queries × 12)-row shortlist — the refine stage reads
    // |shortlist| vectors, not the corpus. Exact distances ride the
    // family's ×10000 fixed-point contract; every rank window partitions
    // by query over ≤ 12 candidate rows.
    Q("emb8_ivfpq_refine",
      ivfPqSql +
        """,
          |short AS (SELECT qid, nid FROM (
          |            SELECT qid, nid, row_number() OVER (
          |              PARTITION BY qid ORDER BY adist_fp, nid) AS rn FROM ad)
          |          WHERE rn <= 12),
          |ex AS (SELECT sh.qid, sh.nid,
          |         CAST(round(sum((CAST(q.embedding[r.range+1] AS DOUBLE) - CAST(v.embedding[r.range+1] AS DOUBLE))
          |                      * (CAST(q.embedding[r.range+1] AS DOUBLE) - CAST(v.embedding[r.range+1] AS DOUBLE)))
          |                    * 10000) AS BIGINT) AS dist_fp
          |       FROM short sh JOIN embeddings q ON q.vec_id = sh.qid
          |                     JOIN embeddings v ON v.vec_id = sh.nid, range(64) r
          |       GROUP BY 1, 2)
          |SELECT qid, nid, dist_fp FROM (
          |  SELECT qid, nid, dist_fp, row_number() OVER (
          |    PARTITION BY qid ORDER BY dist_fp, nid) AS rn FROM ex)
          |WHERE rn <= 3 ORDER BY qid, dist_fp, nid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // 4x-overfetch shortlist by ADC (12 = 4 x the final top-3)
      val short = ivfPqTopK(emb, k = 12).select("qid", "nid")
      // refine: fetch ONLY the shortlist's raw vectors (broadcast
      // semi-fetch — the corpus is never rescanned as floats) and re-rank
      // by exact distance
      val qv = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val rv = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      val rw = Window.partitionBy("qid").orderBy(col("dist_fp"), col("nid"))
      broadcast(short.join(broadcast(qv), "qid"))
        .join(rv, "nid")
        .select(col("qid"), col("nid"),
          round(KMeans.sqDist("qe", "ne") * 10000)
            .cast("long").as("dist_fp"))
        .withColumn("rn", row_number().over(rw)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid"), col("dist_fp"))
        .orderBy("qid", "dist_fp", "nid")
    },

    // ── EMB9: binary quantization + Hamming shortlist + exact rerank —
    // the 1-bit extreme of the compression ladder (emb1 int8 4×, emb7
    // block fp8, emb2/3/4 PQ ~16-32×; emb9 is 64×: sign bits packed into
    // two BIGINT words). Search = Hamming distance on signatures (XOR +
    // popcount — pure integer, identical on both engines), overfetch a
    // 32-candidate shortlist, then EXACT cosine rerank of only those
    // (emb8's refine pattern) to the final top-3. 100 TB: the corpus
    // scan reads 16 bytes/vector; raw floats are fetched by the
    // (queries×32)-row broadcast semi-join, never scanned.
    Q("emb9_binary_quant",
      """WITH sig AS (SELECT vec_id,
        |         CAST(sum(CASE WHEN r.range < 32 AND embedding[r.range+1] > 0
        |                       THEN (CAST(1 AS BIGINT) << r.range) ELSE 0 END) AS BIGINT) AS lo,
        |         CAST(sum(CASE WHEN r.range >= 32 AND embedding[r.range+1] > 0
        |                       THEN (CAST(1 AS BIGINT) << (r.range - 32)) ELSE 0 END) AS BIGINT) AS hi
        |       FROM embeddings, range(64) r GROUP BY 1),
        |q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM sig WHERE vec_id < 10),
        |h AS (SELECT q.qid, s.vec_id AS nid,
        |        CAST(bit_count(xor(q.qlo, s.lo)) + bit_count(xor(q.qhi, s.hi)) AS BIGINT) AS ham
        |      FROM q JOIN sig s ON s.vec_id <> q.qid),
        |sl AS (SELECT qid, nid, ham,
        |         row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
        |       FROM h),
        |cand AS (SELECT qid, nid FROM sl WHERE rn <= 32),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS ve,
        |        sqrt(array_inner_product(CAST(embedding AS DOUBLE[64]),
        |                                 CAST(embedding AS DOUBLE[64]))) AS nrm
        |      FROM embeddings),
        |sc AS (SELECT c.qid, c.nid,
        |         round(array_inner_product(vq.ve, vn.ve) / (vq.nrm * vn.nrm), 4) AS cos_sim
        |       FROM cand c JOIN v vq ON vq.vec_id = c.qid JOIN v vn ON vn.vec_id = c.nid),
        |rr AS (SELECT qid, nid, cos_sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
        |       FROM sc)
        |SELECT qid, nid, cos_sim FROM rr WHERE rn <= 3
        |ORDER BY qid, cos_sim DESC, nid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val sig = emb.select(col("vec_id"),
        expr("aggregate(transform(sequence(0, 31)," +
          " i -> IF(embedding[i] > 0F, shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)")
          .as("lo"),
        expr("aggregate(transform(sequence(32, 63)," +
          " i -> IF(embedding[i] > 0F, shiftleft(1L, i - 32), 0L)), 0L, (a, x) -> a + x)")
          .as("hi"))
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
      val h = sig.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          (expr("bit_count(qlo ^ lo)") + expr("bit_count(qhi ^ hi)"))
            .cast("long").as("ham"))
      val wq = Window.partitionBy("qid").orderBy(col("ham"), col("nid"))
      val cand = h.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 32).select("qid", "nid")
      val sc = cand
        .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
        .select(col("qid"), col("nid"),
          round(expr("cosine_sim(qe, ne)"), 4).as("cos_sim"))
      val wr = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
      sc.withColumn("rn", row_number().over(wr)).filter(col("rn") <= 3)
        .select("qid", "nid", "cos_sim")
        .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
    },

    // M-step: mean vector per cluster, emitted LONG-form (label, dim, c) so
    // the compare stays scalar. Explode-to-dims + groupBy(label, dim) is
    // one shuffle with map-side partials — at 100 TB this is how you
    // (re)train the coarse quantizer without collecting vectors anywhere.
    Q("sim4_centroids",
      """WITH u AS (SELECT label, r.range AS i,
        |                  CAST(embedding[r.range + 1] AS DOUBLE) AS x
        |           FROM embeddings, range(64) r)
        |SELECT label, CAST(i AS INT) AS dim, round(avg(x), 6) AS c
        |FROM u GROUP BY 1, 2 ORDER BY label, dim""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
        .orderBy("label", "dim")
    },

    // ── KM1: k-means E-step (graft.similarity.KMeans.assign) — nearest of
    // 8 deterministic seed centroids per vector, broadcast E-step with a
    // codegen'd fold distance; dist rounds before the argmin and ties break
    // on cid, so assignment is a pure function of the data in both engines.
    Q("km1_kmeans_assign",
      kmAssignSql + "\nSELECT vec_id, cid, dist FROM rr WHERE rn = 1 ORDER BY vec_id") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      KMeans.assign(emb, "vec_id", "embedding", seedCentroids(emb)).orderBy("vec_id")
    },

    // ── KM2: one full Lloyd iteration — E-step assignment then per-cluster
    // dimension means (the retrained coarse quantizer), LONG-form like sim4
    // so the compare stays scalar. KMeans.recompute/fit are the array-form
    // production path (inertia-descent asserted in KMeansSpec).
    Q("km2_kmeans_step",
      s"""$kmAssignSql,
         |a AS (SELECT vec_id, cid FROM rr WHERE rn = 1),
         |u AS (SELECT a.cid, r2.range AS dim, CAST(e.embedding[r2.range+1] AS DOUBLE) AS x
         |      FROM a JOIN embeddings e ON e.vec_id = a.vec_id, range(64) r2)
         |SELECT cid, CAST(dim AS INT) AS dim, round(avg(x), 6) AS c
         |FROM u GROUP BY 1, 2 ORDER BY cid, dim""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      KMeans.assign(emb, "vec_id", "embedding", seedCentroids(emb))
        .select("vec_id", "cid")
        .join(emb, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
        .orderBy("cid", "dim")
    },

    // ── KM3: farthest-point (k-center / maxmin) k-means seeding — the
    // deterministic init km1/km2 assumed as given (their codebooks are
    // "vec_id < k" by convention; km3 is the principled seeding: each new
    // centroid is the point FARTHEST from the chosen set, the standard
    // 2-approximation to k-center and the deterministic cousin of
    // kmeans++). Three rounds, each ONE corpus scan against the ≤2-row
    // broadcast of chosen vectors; distances are the km1 family's
    // round(Σ(Δ²), 4) doubles; argmax ties break to the smallest vec_id
    // via TakeOrdered(1) on (dist desc, vec_id). Seed 1 is the minimum
    // vec_id (1-row broadcast anchor).
    // 100 TB: no driver-side vectors, no global sort.
    Q("km3_farthest_init",
      """WITH m AS (SELECT min(vec_id) AS c1 FROM embeddings),
        |p1 AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[64]) AS v
        |       FROM embeddings e JOIN m ON e.vec_id = m.c1),
        |d1 AS (SELECT e.vec_id,
        |         round(sum((CAST(e.embedding[r.range+1] AS DOUBLE) - p1.v[r.range+1])
        |                 * (CAST(e.embedding[r.range+1] AS DOUBLE) - p1.v[r.range+1])), 4) AS dist
        |       FROM embeddings e, p1, range(64) r GROUP BY 1),
        |c2 AS (SELECT vec_id, dist FROM d1 ORDER BY dist DESC, vec_id LIMIT 1),
        |ch AS (SELECT m.c1 AS vec_id FROM m UNION ALL SELECT vec_id FROM c2),
        |d2 AS (SELECT e.vec_id, min(dd.dist) AS dist
        |       FROM embeddings e,
        |            LATERAL (SELECT round(sum((CAST(e.embedding[r.range+1] AS DOUBLE)
        |                              - CAST(c.embedding[r.range+1] AS DOUBLE))
        |                            * (CAST(e.embedding[r.range+1] AS DOUBLE)
        |                              - CAST(c.embedding[r.range+1] AS DOUBLE))), 4) AS dist
        |                     FROM ch JOIN embeddings c ON c.vec_id = ch.vec_id, range(64) r
        |                     GROUP BY ch.vec_id) dd
        |       GROUP BY 1),
        |c3 AS (SELECT vec_id, dist FROM d2 ORDER BY dist DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, m.c1 AS vec_id, CAST(NULL AS DOUBLE) AS dist FROM m
        |UNION ALL SELECT 2, vec_id, dist FROM c2
        |UNION ALL SELECT 3, vec_id, dist FROM c3
        |ORDER BY round""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      def sq(a: Column, b: Column): Column =
        round(expr("aggregate(zip_with(cast(va as array<double>), cast(vb as array<double>)," +
          " (x, y) -> (x - y) * (x - y)), 0d, (acc, z) -> acc + z)"), 4)
      val m = emb.agg(min("vec_id").as("c1"))
      val p1 = emb.join(broadcast(m), col("vec_id") === col("c1"))
        .select(col("vec_id").as("cid"), col("embedding").as("vb"))
      def minDist(chosen: DataFrame): DataFrame = emb
        .select(col("vec_id"), col("embedding").as("va"))
        .crossJoin(broadcast(chosen))
        .select(col("vec_id"), sq(col("va"), col("vb")).as("dist"))
        .groupBy("vec_id").agg(min("dist").as("dist"))
      val c2 = minDist(p1).orderBy(col("dist").desc, col("vec_id")).limit(1)
      val ch2 = p1.select("cid")
        .unionAll(c2.select(col("vec_id").as("cid")))
        .join(emb, col("cid") === emb("vec_id"))
        .select(col("cid"), col("embedding").as("vb"))
      val c3 = minDist(ch2).orderBy(col("dist").desc, col("vec_id")).limit(1)
      m.select(lit(1L).as("round"), col("c1").as("vec_id"),
          lit(null).cast("double").as("dist"))
        .unionAll(c2.select(lit(2L).as("round"), col("vec_id"), col("dist")))
        .unionAll(c3.select(lit(3L).as("round"), col("vec_id"), col("dist")))
        .orderBy("round")
    },

    // ── SIM3: signed-random-projection LSH ANN (multi-probe). The neighbor
    // SETS are approximate by design (the seeded hyperplanes aren't
    // expressible in the oracle) — but, same keys-exact pattern as
    // agg4/agg6, the QUALITY bound is oracle-gated: the query computes the
    // exact brute-force top-k in-engine as referee, semi-joins the ANN
    // result against it, and emits overall recall@10 ≥ 0.15 as `recall_ok`,
    // which DuckDB asserts as literal 1. A broken LSH (wrong buckets,
    // broken multi-probe, non-seeded planes) flips the flag and the driver
    // hash mismatches. The bound is aggregate, not per-query: at 6 planes
    // the probe set covers ~11% of buckets, so single queries legitimately
    // miss (measured overall recall 0.20/0.28/0.34 at sf0.001/0.01/0.1 —
    // deterministic, seeded); the per-query distribution and determinism
    // stay spec-gated in AnnLshSpec (recall ≥ 0.4 at 4 planes).
    Q("sim3_ann_lsh",
      """SELECT count(*) AS n_queries, 1 AS recall_ok FROM embeddings
        |WHERE vec_id < 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val ann = graft.similarity.AnnLsh.topk(
        corpus = emb, queries = emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 10, dim = 64)
      val exact = topkCos(Tables.embeddings(s, d), sameLabelOnly = false, k = 10)
      val hits = ann.join(exact.select(col("qid"), col("nid")),
          Seq("qid", "nid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      emb.filter(col("vec_id") < 10).agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          when(col("hits") / (col("n_queries") * 10) >= 0.15, lit(1))
            .otherwise(lit(0)).as("recall_ok"))
    },

    // ── CM1: per-cluster simplified silhouette (Hruschka 2004 — the
    // linear-time variant: b uses the second-nearest CENTROID, not mean
    // pairwise distance, so the whole score is the km1 E-step shape:
    // broadcast centroids, one codegen'd sq_dist pass, NO pairwise term).
    // Top-2 per point comes from one hash agg collecting k=8 scalar
    // (dist, cid) structs (partition-local after the broadcast join — the
    // map-side combine finishes each group before the shuffle, so n
    // 2-struct rows move, never n·k; contrast the dd9 lesson where a
    // row_number window sorted vector payloads). Scores go to exact
    // integer ppm per point, so cluster means are order-independent:
    // integer sums + one terminal division, the j1 money contract.
    Q("cm1_silhouette",
      s"""$kmAssignSql,
         |p AS (SELECT vec_id,
         |        min(CASE WHEN rn = 1 THEN cid END) AS cid,
         |        min(CASE WHEN rn = 1 THEN dist END) AS a,
         |        min(CASE WHEN rn = 2 THEN dist END) AS b
         |      FROM rr WHERE rn <= 2 GROUP BY vec_id),
         |sv AS (SELECT cid, CASE WHEN greatest(a, b) = 0 THEN 0
         |              ELSE CAST(round((b - a) / greatest(a, b) * 1000000) AS BIGINT) END AS sppm
         |       FROM p)
         |SELECT cid, count(*) AS n,
         |       round(sum(sppm) * 1.0 / (count(*) * 1000000.0), 6) AS mean_s
         |FROM sv GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val top2 = emb.crossJoin(broadcast(seedCentroids(emb)))
        .select(col("vec_id"),
          round(KMeans.sqDist("embedding", "cvec"), 4).as("dist"),
          col("cid"))
        .groupBy("vec_id")
        .agg(slice(array_sort(collect_list(struct(col("dist"), col("cid")))), 1, 2).as("t"))
        .select(col("t")(0).getField("cid").as("cid"),
          col("t")(0).getField("dist").as("a"),
          col("t")(1).getField("dist").as("b"))
      top2
        .select(col("cid"),
          when(greatest(col("a"), col("b")) === 0, lit(0L))
            .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")) * 1000000)
              .cast("long")).as("sppm"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sum(col("sppm")).as("sp"))
        .select(col("cid"), col("n"),
          round(col("sp") * 1.0 / (col("n") * 1000000.0), 6).as("mean_s"))
        .orderBy("cid")
    },

    // ── EMB6: Johnson–Lindenstrauss random projection 64→16 dims with a
    // seeded Rademacher (±1) matrix (Achlioptas 2003's database-friendly
    // projection: sign entries, no Gaussian sampling). The projection
    // matrix is DERIVED, not stored: sign(i, r) = parity of the first
    // md5 hex digit of "i:r", so both engines materialize the identical
    // matrix from nothing — the ord1/ct1 md5-determinism device. The
    // corpus-side plan is: quantize each coordinate to exact integer
    // micro-units once (the j1 money lesson — the ±-weighted sum is then
    // INTEGER arithmetic, no float summation order to disagree on), then
    // one crossJoin against the BROADCAST 16-row sign table and a fused
    // zip_with/aggregate fold per (vector, output-dim) — 16 output rows
    // per vector, no shuffle of the corpus at all (the 1024-entry sign
    // table costs 16×64 md5 calls total, once, not per row).
    Q("emb6_random_projection",
      """WITH sg AS (SELECT r.range AS r, i.range AS i,
        |    CASE WHEN ascii(substr(md5(i.range || ':' || r.range), 1, 1)) % 2 = 0
        |         THEN 1 ELSE -1 END AS s
        |  FROM range(16) r, range(64) i)
        |SELECT e.vec_id, sg.r,
        |       CAST(sum(sg.s * CAST(round(CAST(e.embedding[sg.i + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS proj_micro
        |FROM embeddings e, sg GROUP BY 1, 2
        |ORDER BY vec_id, r""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val signs = s.range(16).select(col("id").as("r"),
        expr("""transform(sequence(0, 63), i ->
                 CASE WHEN ascii(substr(md5(concat(cast(i AS STRING), ':',
                                    cast(id AS STRING))), 1, 1)) % 2 = 0
                      THEN 1L ELSE -1L END)""").as("sg"))
      val mv = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x AS DOUBLE) * 1000000d) AS BIGINT))")
          .as("mv"))
      mv.crossJoin(broadcast(signs))
        .select(col("vec_id"), col("r"),
          expr("aggregate(zip_with(mv, sg, (x, sn) -> x * sn), 0L, (acc, t) -> acc + t)")
            .as("proj_micro"))
        .orderBy("vec_id", "r")
    },

    // ── EMB7: blockwise absmax 4-bit quantization — the block-quant recipe
    // behind QLoRA-era weight/vector compression (Dettmers et al. 2022:
    // small blocks bound the quantization error a single per-vector scale
    // (emb1's int8) smears across all 64 dims when one coordinate is an
    // outlier). 8 blocks of 8 dims; per block scale = max|v|, codes
    // round(v·7/scale) ∈ [-7, 7] → 4 bits + one 8-ths scale per block.
    // Determinism: v·7/scale is ONE IEEE multiply + ONE divide — both
    // correctly rounded, so the doubles are bit-identical in both engines;
    // round() of them can only disagree at exact .5, where Spark HALF_UP
    // and DuckDB half-away-from-zero coincide for every sign. The plan is
    // a narrow 8× generator per vector (sequence explode — no join at
    // all), everything else per-row inside codegen; the corpus's only
    // shuffle is the final presentation sort.
    Q("emb7_block_quant",
      """WITH b AS (SELECT vec_id, r.range AS blk,
        |    list_transform(embedding[r.range*8+1 : r.range*8+8],
        |                   x -> CAST(x AS DOUBLE)) AS bv
        |  FROM embeddings, range(8) r),
        |m AS (SELECT vec_id, blk, bv,
        |        list_reduce(list_transform(bv, x -> abs(x)),
        |                    (a, b) -> greatest(a, b)) AS am FROM b)
        |SELECT vec_id, CAST(blk AS BIGINT) AS blk,
        |       CAST(round(am * 1000000) AS BIGINT) AS scale_micro,
        |       array_to_string(list_transform(bv,
        |         x -> CAST(CAST(CASE WHEN am = 0 THEN 0
        |                             ELSE round(x * 7 / am) END AS INTEGER) AS VARCHAR)), ',') AS q4
        |FROM m ORDER BY vec_id, blk""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          explode(expr("sequence(0L, 7L)")).as("blk"))
        .select(col("vec_id"), col("blk"),
          expr("slice(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(blk*8+1 AS INT), 8)")
            .as("bv"))
        .select(col("vec_id"), col("blk"), col("bv"),
          expr("aggregate(bv, 0D, (a, x) -> greatest(a, abs(x)))").as("am"))
        .select(col("vec_id"), col("blk"),
          round(col("am") * 1000000).cast("long").as("scale_micro"),
          expr("""array_join(transform(bv,
                   x -> CAST(CAST(CASE WHEN am = 0D THEN 0
                                       ELSE round(x * 7 / am) END AS INT) AS STRING)), ',')""")
            .as("q4"))
        .orderBy("vec_id", "blk")
    },

    // ── NG1: deterministic negative sampling — the contrastive-training
    // pairing step (each anchor gets a pseudo-random OTHER vector as its
    // negative) WITHOUT rand() and WITHOUT a cartesian: rank the corpus by
    // a seeded hash (ord1's shuffle), offset each rank by an independent
    // hash in [1, n-1], wrap mod n, and equi-join rank to rank. The offset
    // range excludes 0, so negative != anchor by construction; every
    // vector is an anchor exactly once, and each pair replays identically
    // across runs, engines, and partitionings. The cosine travels with the
    // pair so a trainer can split easy/hard negatives downstream.
    //
    // Plan: two GlobalIds-class rank tables (range repartition + O(P)
    // prefix-sum), one co-partitioned rank equi-join, two vec_id joins to
    // fetch embeddings, per-row codegen'd cosine. No broadcast of the
    // corpus, no driver state — at 10^9 vectors this is three keyed
    // shuffles and a narrow map.
    Q("ng1_negative_sampling", {
      val h48 = (0 until 12).map { j =>
        s"(strpos('0123456789abcdef', substr(md5('ngo:' || CAST(r AS VARCHAR)), ${j + 1}, 1)) - 1) * ${1L << (4 * (11 - j))}"
      }.mkString("(", "\n + ", ")")
      s"""WITH p AS (SELECT vec_id,
         |             row_number() OVER (ORDER BY md5('ng0:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
         |               AS r
         |           FROM embeddings),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         |o AS (SELECT vec_id AS anchor,
         |             (r + 1 + ($h48 % (n - 1))) % n AS nr
         |      FROM p CROSS JOIN tot),
         |j AS (SELECT o.anchor, p2.vec_id AS negative
         |      FROM o JOIN p p2 ON p2.r = o.nr),
         |e AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v,
         |         sqrt(array_inner_product(CAST(embedding AS DOUBLE[64]),
         |                                  CAST(embedding AS DOUBLE[64]))) AS nrm
         |  FROM embeddings)
         |SELECT anchor, negative,
         |       round(array_inner_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4) AS cos_sim
         |FROM j JOIN e ea ON ea.vec_id = j.anchor
         |       JOIN e eb ON eb.vec_id = j.negative
         |ORDER BY anchor""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val p = graft.operators.EpochShuffle.withPosition(
        emb.select("vec_id"), col("vec_id"), "ng0", "r")
      val tot = emb.agg(count(lit(1)).as("n"))
      val o = p.crossJoin(broadcast(tot)).select(
        col("vec_id").as("anchor"),
        expr("(r + 1 + (cast(conv(substring(md5(concat('ngo:', cast(r as string))), 1, 12), 16, 10) as bigint) % (n - 1))) % n")
          .as("nr"))
      val pairs = o.join(p.select(col("vec_id").as("negative"), col("r").as("nr")), "nr")
      pairs
        .join(emb.select(col("vec_id").as("anchor"), col("embedding").as("ea")), "anchor")
        .join(emb.select(col("vec_id").as("negative"), col("embedding").as("eb")), "negative")
        .select(col("anchor"), col("negative"),
          round(expr("cosine_sim(ea, eb)"), 4).as("cos_sim"))
        .orderBy("anchor")
    },

    // ── ANN2: IVF recall audit — per query vector, recall@5 of the
    // single-probe IVF search (sim2's same-cluster plan) against the
    // exact global top-5 (sim1's brute-force plan): the published metric
    // of every ANN index. Both top-5 sets use the pack's deterministic
    // ranking (rounded cosine, id tie-break) so the intersection is
    // exact; recall is integer ppm. Plan: sim1's broadcast-queries scan ×
    // sim2's pruned scan, then a |queries|·k-row join — the eval is as
    // cheap as the searches it audits.
    Q("ann2_recall_eval",
      s"""WITH ex AS (${SimilarityQueries.cosSql(sameLabelOnly = false, k = 5)}),
         |iv AS (${SimilarityQueries.cosSql(sameLabelOnly = true, k = 5)}),
         |hit AS (SELECT ex.qid,
         |               CAST(count(iv.nid) AS BIGINT) AS n_hit
         |        FROM ex LEFT JOIN iv ON iv.qid = ex.qid AND iv.nid = ex.nid
         |        GROUP BY 1)
         |SELECT qid, n_hit, (n_hit * 1000000) // 5 AS recall_ppm
         |FROM hit ORDER BY qid""".stripMargin) { (s, d) =>
      val ex = SimilarityQueries.topkCos(Tables.embeddings(s, d), sameLabelOnly = false, k = 5)
        .select(col("qid"), col("nid"))
      val iv = SimilarityQueries.topkCos(Tables.embeddings(s, d), sameLabelOnly = true, k = 5)
        .select(col("qid").as("iqid"), col("nid").as("inid"))
      ex.join(iv, col("iqid") === col("qid") && col("inid") === col("nid"), "left")
        .groupBy("qid").agg(count(col("inid")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          expr("(n_hit * 1000000L) div 5").as("recall_ppm"))
        .orderBy("qid")
    }
  )
}
