package graft

import org.apache.spark.sql.functions._

/** Behavioral invariants of the round-10 ML-adjacent operators
  * (graft.queries.MlQueries). The DuckDB oracle gates cross-engine
  * equality; these pin the SEMANTICS on fixtures where the right answer is
  * computable by hand.
  */
class MlQueriesSpec extends SparkSpec {

  private def q(name: String) =
    graft.queries.MlQueries.all.find(_.name == name).get

  private def tmpDir(prefix: String): String =
    CacheRegistry.trackPath(
      java.nio.file.Files.createTempDirectory(prefix).toString)

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ── ent1 ────────────────────────────────────────────────────────────────

  test("ent1: a single repeated token has zero entropy") {
    val dir = tmpDir("ent1a")
    writeDocs(dir, Seq((1L, "a a a a")))
    val out = q("ent1_token_entropy").run(spark, dir).collect()
    // n=4, one distinct token: H = ln4 − (4·ln4)/4 = 0 exactly (and the
    // micro-unit arithmetic preserves the exact zero: both terms are the
    // same rounded integer).
    assert(out.length == 1 && out(0).getLong(1) == 4L && out(0).getLong(2) == 0L)
  }

  test("ent1: n distinct tokens have entropy ln n") {
    val dir = tmpDir("ent1b")
    writeDocs(dir, Seq((1L, "a b c d")))
    val out = q("ent1_token_entropy").run(spark, dir).collect()
    // all counts 1 → ln(1)=0 → H = ln 4 = 1.386294…
    assert(out(0).getLong(2) == math.round(math.log(4) * 1e6))
  }

  // ── lr1 ─────────────────────────────────────────────────────────────────

  test("lr1: the logit is additive in token counts; pred thresholds at 0") {
    val dir = tmpDir("lr1")
    writeDocs(dir, Seq((1L, "alpha"), (2L, "alpha alpha")))
    val out = q("lr1_quality_logit").run(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    val (z1, p1) = out(1L)
    val (z2, p2) = out(2L)
    assert(z2 == 2 * z1, "doubling a token doubles its weight contribution")
    assert(p1 == (if (z1 > 0) 1 else 0) && p2 == (if (z2 > 0) 1 else 0))
  }

  // ── mk1 ─────────────────────────────────────────────────────────────────

  test("mk1: transition counts and ppm probabilities on a hand-built stream") {
    import spark.implicits._
    val dir = tmpDir("mk1")
    // user 1: A→B→A ; user 2: B→A  ⇒ A→B: 1, B→A: 2; each row's prob 1.0
    // (A only ever goes to B; B only ever goes to A).
    Seq(
      (1L, "2024-01-01 00:00:00", 1L, "A"), (2L, "2024-01-01 00:01:00", 1L, "B"),
      (3L, "2024-01-01 00:02:00", 1L, "A"), (4L, "2024-01-01 00:00:00", 2L, "B"),
      (5L, "2024-01-01 00:05:00", 2L, "A"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = q("mk1_markov_transitions").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(("A", "B") -> (1L, 1000000L), ("B", "A") -> (2L, 1000000L)))
  }

  // ── mom1 ────────────────────────────────────────────────────────────────

  test("mom1: a symmetric distribution has zero skew; uniform{1,2,3} has kurtosis −1.5") {
    import spark.implicits._
    val dir = tmpDir("mom1")
    Seq(("A", 1.0), ("A", 2.0), ("A", 3.0))
      .toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("mom1_higher_moments").run(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getDouble(2) == 2.0)      // mean
    assert(r.getDouble(3) == 0.0)      // skewness: m3 = 0 exactly
    assert(r.getDouble(4) == -1.5)     // m4/m2² − 3 = (2/3)/(4/9) − 3
  }

  // ── cap1 ────────────────────────────────────────────────────────────────

  test("cap1: n_kept = min(n_docs, K) per source on the real corpus") {
    val out = q("cap1_source_cap").run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (nDocs, nKept) =>
      assert(nKept == math.min(nDocs, 10L))
    }
  }

  test("cap1: kept mass is a pure function of the data (stable across runs)") {
    val a = q("cap1_source_cap").run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    val b = q("cap1_source_cap").run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(a == b)
  }

  // ── knn1 ────────────────────────────────────────────────────────────────

  test("knn1: a query whose 10 nearest neighbors are planted copies takes their label") {
    import spark.implicits._
    val dir = tmpDir("knn1")
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    // one query (vec_id 0, label 3) + 10 exact copies labeled 9 in the
    // corpus (cosine 1.0 beats everything) + 40 random distractors.
    val qv = vec()
    val rows =
      Seq((0L, qv, 3)) ++
        (0 until 10).map(i => (20L + i, qv.clone(), 9)) ++
        (0 until 40).map(i => (100L + i, vec(), i % 5))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("knn1_label_knn").run(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 0L && r.getInt(1) == 3 && r.getInt(2) == 9)
    assert(r.getLong(3) == 10L && r.getInt(4) == 0)
  }

  // ── pca1 ────────────────────────────────────────────────────────────────

  test("pca1: recovers a planted dominant direction") {
    import spark.implicits._
    val dir = tmpDir("pca1")
    val rnd = new scala.util.Random(13)
    // variance along dim 0 dominates: x = ±5·e0 + 0.05·noise
    val rows = (0 until 200).map { i =>
      val v = Array.fill(64)((rnd.nextGaussian() * 0.05).toFloat)
      v(0) = (if (i % 2 == 0) 5.0f else -5.0f) + v(0)
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v = q("pca1_power_iteration").run(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(v(0)) > 0.99, s"dominant component, got ${v(0)}")
    (1 until 64).foreach(j => assert(math.abs(v(j)) < 0.1, s"dim $j = ${v(j)}"))
    // unit norm within fixed-point rounding
    val nrm = math.sqrt(v.values.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-3)
  }

  // ── ct2 ─────────────────────────────────────────────────────────────────

  test("ct2: Bloom candidates dominate exact hits; exact hits agree with ct1") {
    val sf = "/root/testdata/sf0.001"
    val ct2 = q("ct2_bloom_decontam").run(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // no false negatives: every true hit passes the Bloom
    ct2.values.foreach { case (cand, exact) => assert(cand >= exact) }
    // soundness referee: docs with n_exact > 0 are EXACTLY ct1's flagged set
    val ct1 = graft.queries.CorpusQueries.all
      .find(_.name == "ct1_contamination").get.run(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(ct2.filter(_._2._2 > 0).keySet == ct1)
  }

  // ── wp1 ─────────────────────────────────────────────────────────────────

  test("wp1: weighted percentiles cross at the hand-computed mass thresholds") {
    import spark.implicits._
    val dir = tmpDir("wp1")
    // masses 10/10/60/20 over qty 1..4 (W=100): p50 first crosses at qty 3
    // (cum 80 ≥ 50), p90 at qty 4 (cum 80 < 90 ≤ 100)
    Seq((1.0, 0.10), (2.0, 0.10), (3.0, 0.60), (4.0, 0.20))
      .toDF("l_quantity", "l_extendedprice")
      .withColumn("l_returnflag", lit("A"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = q("wp1_weighted_percentile").run(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 100L && r.getLong(2) == 3L && r.getLong(3) == 4L)
  }

  // ── emb5 ────────────────────────────────────────────────────────────────

  test("emb5: when all information lives in the 16-dim prefix, overlap@10 is 10") {
    import spark.implicits._
    val dir = tmpDir("emb5")
    val rnd = new scala.util.Random(29)
    val rows = (0 until 60).map { i =>
      val v = Array.fill(64)(0.0f)
      (0 until 16).foreach(j => v(j) = rnd.nextGaussian().toFloat)
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("emb5_matryoshka_overlap").run(spark, dir).collect()
    assert(out.length == 10)
    out.foreach(r => assert(r.getLong(1) == 10L, s"qid ${r.getLong(0)}: ${r.getLong(1)}"))
  }

  // ── ab1 ─────────────────────────────────────────────────────────────────

  test("ab1: arm sizes and conversions tie out; significance thresholds the rounded z") {
    import spark.implicits._
    val dir = tmpDir("ab1")
    // 4 users; only user 1 converts (one purchase over the 200 threshold)
    Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 250.0),
      (2L, "2024-01-01 00:01:00", 2L, "purchase", 50.0),
      (3L, "2024-01-01 00:02:00", 3L, "view", 300.0),
      (4L, "2024-01-01 00:03:00", 4L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = q("ab1_proportion_ztest").run(spark, dir).collect()(0)
    val (nA, cA, nB, cB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nA + nB == 4 && cA + cB == 1)
    assert(r.getInt(5) == (if (math.abs(r.getDouble(4)) > 1.96) 1 else 0))
  }

  // ── ndcg1 ───────────────────────────────────────────────────────────────

  test("ndcg1: identical rankings score a perfect 1.0") {
    import spark.implicits._
    val dir = tmpDir("ndcg1")
    val rnd = new scala.util.Random(31)
    // all information in the prefix → prefix ranking == full ranking
    val rows = (0 until 60).map { i =>
      val v = Array.fill(64)(0.0f)
      (0 until 16).foreach(j => v(j) = rnd.nextGaussian().toFloat)
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q("ndcg1_rank_quality").run(spark, dir).collect()
    assert(out.length == 10)
    out.foreach(r => assert(r.getDouble(2) == 1.0,
      s"qid ${r.getLong(0)}: ndcg ${r.getDouble(2)}"))
  }

  // ── tr1 ─────────────────────────────────────────────────────────────────

  test("tr1: diff counts match the hand-derived snapshot rules") {
    val dir = tmpDir("tr1")
    // ids 1..10: B drops multiples of 7 (→ 7 removed), edits multiples of
    // 5 (→ 5, 10 changed); the other 7 are unchanged; B ⊆ A ⇒ no 'added'
    writeDocs(dir, (1L to 10L).map(i => (i, s"doc body $i")))
    val out = q("tr1_snapshot_diff").run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("removed" -> 1L, "changed" -> 2L, "unchanged" -> 7L))
  }

  test("pca1: result is invariant to input partitioning (all sums exact integers)") {
    val base = q("pca1_power_iteration").run(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // same data, different parallelism: the fixed-point contract means not
    // one micro-digit may move
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val alt = q("pca1_power_iteration").run(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(base == alt)
    }
  }
}
