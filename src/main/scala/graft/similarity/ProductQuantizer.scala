package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Rounds

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the high-ratio vector compression behind
  * billion-scale ANN: split each d-dim vector into nSub contiguous
  * subspaces, train an independent k-entry codebook per subspace (Lloyd
  * iterations), store each vector as nSub small codes, and answer queries
  * with ADC (asymmetric distance computation): one small per-query
  * distance table, then approximate distance = Σ_sub dtable[code].
  *
  * `emb2_product_quantize` encodes against seed codebooks; this module
  * adds the real per-subspace TRAINER and the ADC query path
  * (`emb3_pq_adc`).
  *
  * Scale design (100 TB of vectors):
  *  - codebooks are nSub·k rows — ALWAYS broadcast; training scans the
  *    corpus once per Lloyd iteration (narrow subspace slice + broadcast
  *    join + per-(vec,sub) argmin window), M-step is one shuffle on
  *    (sub, cid, dim) with map-side partial sums. Codebook state never
  *    touches the driver (localCheckpoint between iterations, the KMeans
  *    lineage contract).
  *  - encoded corpus is nSub codes/vector (2 bits each at k=4) — the
  *    memory-resident index for a 10⁹-vector shard fits a single
  *    executor where raw floats never could.
  *  - ADC: the distance table is nQueries·nSub·k rows — broadcast; the
  *    scan of the encoded corpus is ONE pass regardless of query count,
  *    cost per (vector, query) is nSub integer lookups + a sum, and the
  *    per-query top-k is a shuffle on qid only. Distances travel as
  *    INTEGER 1e-4 fixed-point (the t11/dsir1 contract) so the Σ over
  *    subspaces is exact — no float-order wobble in the ranking.
  *
  * Determinism (the oracle contract): per-subspace distances round to
  * 4 dp before every argmin with ties on cid (the km1 rule); M-step
  * means round to 6 dp (the km2/sim4 rule); an emptied cluster keeps its
  * previous centroid so the codebook stays k entries.
  */
object ProductQuantizer {

  /** Narrow subspace explode: (idCol, sub, sv) — nSub rows per vector,
    * each carrying one subDim-slice. No shuffle.
    */
  def subvectors(df: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int): DataFrame =
    df.select(col(idCol), explode(expr(
        s"transform(sequence(0, ${nSub - 1}), " +
          s"i -> struct(i AS sub, slice($vecCol, i*$subDim + 1, $subDim) AS sv))"))
        .as("x"))
      .select(col(idCol), col("x.sub").as("sub"), col("x.sv").as("sv"))

  /** Deterministic init: the k lowest-id vectors' subvectors, cast to
    * double — (sub, cid, cv). The emb2/km1 seeding convention.
    */
  def initCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int, k: Int): DataFrame =
    subvectors(emb.filter(col(idCol) < k), idCol, vecCol, nSub, subDim)
      .select(col("sub"), col(idCol).cast("long").as("cid"),
        expr("transform(sv, x -> CAST(x AS DOUBLE))").as("cv"))

  /** Per-(vector, subspace) nearest codebook entry → (idCol, sub, code,
    * dist). Broadcast codebook join + `min(struct(dist, cid))` argmin —
    * struct ordering IS the round-then-argmin/tie-on-cid contract, and
    * the map-side combiner collapses the k candidates per (id, sub)
    * before the shuffle, so only n·nSub scalar rows move (the KMeans
    * .assign aggregation shape; a row_number window here sorts n·nSub·k
    * rows with their subvector payloads).
    */
  def encode(subs: DataFrame, idCol: String, books: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(subs.sparkSession)
    subs.join(broadcast(books), "sub")
      .select(col(idCol), col("sub"), col("cid"),
        round(KMeans.sqDist("sv", "cv"), 4).as("dist"))
      .groupBy(idCol, "sub")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col(idCol), col("sub"), col("m.cid").as("code"),
        col("m.dist").as("dist"))
  }

  /** One Lloyd step per subspace: encode against `books`, then 6dp-rounded
    * per-(sub, cid, dim) means; a cluster that lost every member keeps its
    * previous centroid (coalesce) so the codebook stays k entries.
    */
  def lloydStep(subs: DataFrame, idCol: String, books: DataFrame): DataFrame = {
    val means = encode(subs, idCol, books)
      .join(subs, Seq(idCol, "sub"))
      .select(col("sub"), col("code").as("cid"),
        posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy("sub", "cid", "dim")
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy("sub", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("mv"))
    books.join(means, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"),
        coalesce(col("mv"), col("cv")).as("cv"))
  }

  /** Train nSub independent k-entry codebooks with `iters` Lloyd steps
    * from the deterministic seed. Returns (sub, cid, cv).
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    val subs = subvectors(emb, idCol, vecCol, nSub, subDim)
    Rounds.iterate(
        initCodebooks(emb, idCol, vecCol, nSub, subDim, k).localCheckpoint(), iters) {
      (books, _) => lloydStep(subs, idCol, books)
    }
  }

  /** The ADC distance table (qid, sub, code, dfp): each query subvector's
    * squared distance to every codebook entry in 1e-4 fixed point.
    */
  def distanceTable(querySubs: DataFrame, books: DataFrame, qIdCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(querySubs.sparkSession)
    querySubs.join(broadcast(books), "sub")
      .select(col(qIdCol).as("qid"), col("sub"), col("cid").as("code"),
        round(KMeans.sqDist("sv", "cv") * 10000).cast("long").as("dfp"))
  }

  /** ADC top-k: `codes` is the encoded corpus (idCol, sub, code),
    * `querySubs` the queries' subvectors (qIdCol, sub, sv). The distance
    * table (qid, sub, cid, dfp) is nQ·nSub·k rows — broadcast; approximate
    * distance = Σ_sub dtable[code] in exact 1e-4 fixed-point. One encoded-
    * corpus scan for ALL queries; top-k per query shuffles on qid only.
    */
  def adcTopK(codes: DataFrame, books: DataFrame, querySubs: DataFrame,
      qIdCol: String, idCol: String, k: Int): DataFrame = {
    val dtable = distanceTable(querySubs, books, qIdCol)
    val w = Window.partitionBy("qid").orderBy(col("adist_fp"), col(idCol))
    codes.join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("dfp")).as("adist_fp"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col(idCol).as("nid"), col("adist_fp"))
  }
}
