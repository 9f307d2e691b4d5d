package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Rounds

/** Distributed Lloyd's k-means over an embedding column — the trainer for
  * the IVF coarse quantizer (`sim2`/`sim2b` probe the clusters this
  * produces; `sim4_centroids` is the M-step in isolation).
  *
  * Scale design (100 TB of vectors):
  *  - E-step: centroids are K rows — ALWAYS broadcast; the corpus streams
  *    through one codegen'd squared-distance loop per centroid and an
  *    argmin window partitioned by point id (map-side only, no corpus
  *    shuffle beyond the window's hash partition on the point id; with
  *    K·dim doubles per executor this is the textbook broadcast E-step).
  *  - M-step: posexplode to (cluster, dim, x) → one shuffle with map-side
  *    partial sums → reassemble arrays with a per-cluster sort — centroid
  *    state never touches the driver.
  *  - Each iteration localCheckpoints the (tiny) centroid table so the
  *    lineage doesn't grow by one E+M round per iteration.
  *
  * Determinism: distances are rounded before the argmin and ties break on
  * centroid id, so assignment is a pure function of the data — the same
  * contract the DuckDB oracles (`km1`/`km2`) replay.
  */
object KMeans {

  /** Sequential-fold squared L2 distance — same accumulation order as the
    * oracle's per-dim sum. Backed by the native `sq_dist` expression
    * (graft.functions.SqDist): one fused primitive loop in whole-stage
    * codegen, where the equivalent `aggregate(zip_with(...))` allocates an
    * array + lambda frames per row — at n·k E-step evaluations that
    * allocation chain was the dd9@sf10 bottleneck (~100 s of a 112 s run).
    * Callers must have GraftFunctions registered (assign/encode do it).
    */
  def sqDist(v: String, c: String): Column = expr(s"sq_dist($v, $c)")

  /** E-step: nearest centroid per point → (idCol, cid, dist). `centroids`
    * must have columns (cid, cvec) and be small (it is broadcast).
    *
    * Argmin is `min(struct(dist, cid))` — struct ordering IS the
    * round-then-argmin/tie-on-cid contract, and a hash aggregation (with
    * map-side partial combine over the k candidate rows, which are
    * partition-local after the broadcast join) shuffles only n SCALAR rows.
    * The previous row_number window sorted all n·k scored rows WITH their
    * vector payloads — at 200k vectors × k=447 that was a ~50 GB sort for
    * a result the combiner reduces to 200k×24 bytes (measured: dd9@sf10
    * 112 s → 9.6 s from this change alone).
    */
  def assign(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, roundTo: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    points.crossJoin(broadcast(centroids))
      .select(col(idCol), col("cid"),
        round(sqDist(vecCol, "cvec"), roundTo).as("dist"))
      .groupBy(idCol)
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col(idCol), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** M-step: per-cluster dimension means, reassembled into (cid, cvec).
    * A cluster that lost all points disappears (standard Lloyd behavior;
    * callers that must keep K alive re-seed from the input).
    */
  def recompute(points: DataFrame, idCol: String, vecCol: String,
      assigned: DataFrame): DataFrame =
    assigned.join(points, idCol)
      .select(col("cid"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("cid", "dim").agg(avg(col("x").cast("double")).as("m"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("cvec"))

  /** Total inertia (sum of assigned squared distances) as a 1-row frame. */
  def inertia(assigned: DataFrame): Double =
    assigned.agg(sum(col("dist"))).first().getDouble(0)

  /** Lloyd iterations from deterministic seeds (the K lowest point ids).
    * Returns the final (cid, cvec) table.
    */
  def fit(points: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    // orderBy+limit plans as TakeOrderedAndProject (distributed top-k) —
    // never a single-partition global window
    val seeds = points.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("cid"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("cvec"))
      .localCheckpoint()
    Rounds.iterate(seeds, iters) { (cents, _) =>
      recompute(points, idCol, vecCol, assign(points, idCol, vecCol, cents))
    }
  }
}
