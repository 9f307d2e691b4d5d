package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The shared round loop of the fixed-round iterative plans (PageRank,
  * Bfs, Sssp, label propagation, k-means, the PQ codebooks, BPE encoding,
  * at3's mass chain). It owns the two decisions every round loop makes:
  *
  *  - when to cut lineage: a `localCheckpoint` every `every` rounds, one
  *    job each; the rounds in between stack onto the next plan lazily;
  *  - when to release the input the rounds re-read: a spill-safe persist
  *    held for the rounds and dropped in a `finally`, so a failed round
  *    leaves no cache behind.
  *
  * A checkpoint's blocks are not released here: the ContextCleaner frees
  * them once the frame is unreachable (CacheLifecycleSpec).
  */
object Rounds {

  /** `n` rounds of `step` from `init`. Round `r` (1-based) gets the state
    * after round `r - 1`; the state after every `every`-th round is
    * `localCheckpoint`ed. `init` is used as given: a caller that wants it
    * checkpointed does so itself. With `n % every != 0` the returned state
    * is lazy over the last checkpoint.
    */
  def iterate(init: DataFrame, n: Int, every: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 0 && every >= 1, s"rounds $n, checkpoint every $every")
    (1 to n).foldLeft(init) { (state, r) =>
      val next = step(state, r)
      if (r % every == 0) next.localCheckpoint() else next
    }
  }

  /** Runs `body` over `df` persisted `MEMORY_AND_DISK` and unpersists it
    * when `body` returns or throws. Nothing is counted up front: the first
    * job that reads the frame fills the cache.
    *
    * Contract: the cache is gone once `body` returns, so `body`'s result
    * must not read it lazily: return a checkpointed frame or collected rows,
    * never a plan over `df` still to be run.
    */
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally cached.unpersist(blocking = false)
  }
}
