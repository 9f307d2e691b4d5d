package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Rounds]]' two decisions, checkpoint cadence and the release of the
  * cached round input, and the job budgets of the queries built on it.
  */
class RoundsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Persistent RDDs created since `before` that are no checkpoint. A
    * failed checkpoint job leaves its RDD registered but never
    * checkpointed; the ContextCleaner drops it once it is unreachable, so
    * GC is forced (bounded) before judging. A cache left in the
    * CacheManager stays reachable and is reported.
    */
  private def leakedCaches(before: Set[Int]): Seq[Int] = {
    def leaked = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !before(id) && !rdd.isCheckpointed => id }.toSeq
    var tries = 0
    while (leaked.nonEmpty && tries < 40) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    leaked.sorted
  }

  test("a PageRank run whose edges fail to evaluate releases its edge cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val edges = spark.range(10).select(col("id").as("src"),
      raise_error(lit("bad edge")).cast("long").as("dst"))
    val e = intercept[Exception](graft.graph.PageRank.run(edges, iters = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad edge")), e)
    // the cache manager forgot the edge plan (with AQE the failure comes
    // before the cache's RDD exists, so only this shows a kept entry)
    assert(graft.graph.PageRank.partitioned(edges).storageLevel == StorageLevel.NONE,
      "the failed run's edge cache is still registered")
    val leaked = leakedCaches(before)
    assert(leaked.isEmpty, s"persistent RDDs left by the failed run: $leaked")
  }

  test("iterate checkpoints every 8th of 24 rounds: 3 jobs") {
    val init = spark.range(4).toDF("x")
    val (out, counter) = JobCounter.during(spark) {
      Rounds.iterate(init, 24, every = 8)((df, _) => df.select((col("x") + 1).as("x")))
    }
    assert(counter.jobs.get == 3, counter.callSites)
    assert(out.agg(sum("x")).first().getLong(0) == 6 + 4 * 24)
  }

  test("iterate passes 1-based round numbers and leaves init as given") {
    val init = spark.range(1).select(lit(0L).as("x"))
    val (out, counter) = JobCounter.during(spark) {
      Rounds.iterate(init, 3, every = 4)((df, r) => df.select((col("x") * 10 + r).as("x")))
    }
    assert(counter.jobs.get == 0, counter.callSites) // 3 % 4 != 0: nothing to cut
    assert(out.first().getLong(0) == 123L)
  }

  test("withCached releases its cache when the body throws") {
    var cached: DataFrame = null
    intercept[IllegalStateException] {
      Rounds.withCached(spark.range(100).toDF("x")) { df =>
        cached = df
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
        df.count()
        throw new IllegalStateException("round failed")
      }
    }
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  // Job budgets of the round-loop queries: the jobs of a run at sf0.001
  // (after a warm-up run, so schema memos and memoized stages are as in a
  // long-lived session), build-time rounds plus the collect, the fewest of
  // three runs (ppr1 gives 30 or 31 from run to run). A higher count means
  // a round loop gained a job.
  Seq(
    "gr1_pagerank" -> 23,
    "gr3_bfs_hops" -> 23,
    "ppr1_personalized_pagerank" -> 31,
    "sssp1_weighted_paths" -> 26,
    "lp1_label_propagation" -> 19,
    "at3_markov_attribution" -> 52,
    "bpe2_apply_merges" -> 4,
    "emb3_pq_adc" -> 17
  ).foreach { case (name, maxJobs) =>
    test(s"$name runs at most $maxJobs jobs at sf0.001") {
      val q = SparkEntry.queries(name)
      q(spark, sf).collect()
      val counts = (1 to 3).map(_ => JobCounter.during(spark)(q(spark, sf).collect())._2.jobs.get)
      info(s"jobs per run: ${counts.mkString(", ")}")
      assert(counts.min <= maxJobs, counts)
    }
  }
}
