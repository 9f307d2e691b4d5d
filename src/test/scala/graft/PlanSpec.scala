package graft

/** Physical-plan audits: the scale properties the queries claim (pushdown,
  * broadcast, top-k without global sort, codegen'd custom expression) are
  * asserted against `.explain` output so they can't silently regress.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("f2: date predicates are pushed to the parquet scan") {
    val p = plan("f2_date_range")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate"),
      s"no pushed date filter in:\n$p")
  }

  test("a1: count(*) prunes every column from the scan") {
    val p = plan("a1_count")
    assert(p.contains("ReadSchema: struct<>"), s"count scan reads columns:\n$p")
  }

  test("j1: dimension join broadcasts the small side") {
    assert(plan("j1_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("j5: star join broadcasts all dimensions (single shuffle join max)") {
    val p = plan("j5_star_join")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3)
  }

  test("s1: order-by-limit plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("s1_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("sim1: custom cosine expression runs inside whole-stage codegen") {
    // AQE: collect() (not count(), which plans a different query) so THIS
    // DataFrame's adaptive plan finalizes with codegen annotations
    val df = SparkEntry.queries("sim1_cosine_topk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_sim"), s"custom expression absent from plan:\n$p")
    // whole-stage codegen spans render as "*(n)" in the final adaptive plan
    assert(p.contains("*("), s"no codegen span in plan:\n$p")
  }

  test("d1: rank-limit pushes partial WindowGroupLimit below the shuffle") {
    val p = plan("d1_dedup_first_wins")
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
  }

  test("v1: pivot is a single aggregate (no join explosion)") {
    val p = plan("v1_pivot_events")
    assert(!p.contains("Join"), s"pivot plan contains a join:\n$p")
  }

  test("dd3: LSH verification is candidate-restricted (semi-join, no all-pairs table)") {
    val p = plan("dd3_minhash_lsh")
    // the shingle slice fed to Jaccard verification is gated by a semi-join
    // against candidate doc ids — the full pair table never materializes
    assert(p.contains("LeftSemi"), s"no candidate-restricting semi-join in:\n$p")
  }

  test("dd5: exact all-pairs is a blocked equi-join, not a nested-loop cartesian") {
    val p = plan("dd5_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"dd5 plans as a cartesian:\n$p")
  }

  test("tq3: composite plan = broadcast dim + top-k without global sort") {
    val p = plan("tq3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 is a global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate")
      || p.contains("GreaterThan(l_shipdate"), s"lineitem date filter not pushed:\n$p")
  }

  test("j10: binned range join plans as an equi-join, not a nested loop") {
    val p = plan("j10_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("gr2: triangle wedge-join is keyed (no cartesian) and closure is a semi-join") {
    val p = plan("gr2_triangle_count")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle enumeration degenerated to a nested loop:\n$p")
    assert(p.contains("LeftSemi"), s"closure check is not a semi-join:\n$p")
  }

  test("sp4: weighted-sample top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("sp4_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("dd8: substring-dup pair join is an equi-join on the window (no cartesian)") {
    val p = plan("dd8_substring_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"window join degenerated to a nested loop:\n$p")
  }

  test("dd8: text rides through the explode — no documents re-join on doc_id") {
    // the window build must NOT re-join documents to fetch text back: with
    // text carried through the generator the plan has NO doc_id-KEYED join
    // anywhere (the pair stage joins on `win` only; a re-join would add a
    // doc_id-keyed join + its Exchange pair per window-table reference and
    // roughly double the scan count). Scan-count reuse at this fixture
    // scale (4 shuffle partitions, everything broadcastable) varies with
    // AQE stage-reuse decisions, so the bound is generous; the keyed-join
    // assertion is the real gate.
    val p = plan("dd8_substring_dup")
    assert(!"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[doc_id".r
      .findFirstIn(p).isDefined,
      s"documents re-joined on doc_id in the window build:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans <= 7, s"documents re-joined in the window build ($scans scans):\n$p")
  }

  test("dd8: one win-keyed exchange serves window dedup and every win-keyed " +
    "consumer") {
    // substringWindows clusters by hash(win) BEFORE the (doc_id, win) dedup:
    // the dedup aggregate and the df-cap aggregate both run over that single
    // clustering with no ENSURE_REQUIREMENTS exchange of the exploded stream
    // on (doc_id, win) — the old `.distinct()` spelling exchanged the
    // generator output twice (once per key set)
    val p = plan("dd8_substring_dup")
    assert(p.contains("REPARTITION_BY_COL"),
      s"win-keyed repartition missing from the window build:\n$p")
    assert(!"Exchange hashpartitioning\\(doc_id#\\d+L?, win".r.findFirstIn(p).isDefined
      && !"Exchange hashpartitioning\\(win#\\d+, doc_id".r.findFirstIn(p).isDefined,
      s"(doc_id, win)-keyed dedup exchange is back:\n$p")
  }

  test("dq1: per-column hash-agg profiles — pruned scans, no Expand, no sort " +
    "of fact-sized data") {
    val p = plan("dq1_expectations")
    // one column-pruned scan per profiled column (columnar storage: same
    // total bytes as the old single 4-column scan), each leg a HASH
    // aggregate — the old multi-distinct Expand forced a SortAggregate
    // that sorted 5 expanded rows per scanned row
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 4, s"expected 4 column-pruned scans, got $scans:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand is back:\n$p")
    // the FACT-sized aggregation (directly over each scan) must be hash,
    // not sort — the old Expand form fell back to SortAggregate over 5
    // expanded rows per scanned row. (The keyless FINISH agg above the
    // grouped values legitimately sort-aggregates: min/max over strings
    // has an immutable buffer, and its input is one row per distinct
    // value — never fact-sized.)
    assert(!"SortAggregate\\(keys?=\\[[^\\]]".r.findFirstIn(p).isDefined,
      s"fact-sized (value-keyed) sort aggregation is back:\n$p")
    // value-KEYED hash aggs (partial + final per leg; the quantity leg's
    // key prints wrapped in normalizenanandzero, so match any non-empty key)
    val legAggs = "HashAggregate\\(keys?=\\[[^\\]]".r.findAllIn(p).size
    assert(legAggs >= 8,
      s"per-value hash-agg legs missing ($legAggs):\n$p")
    // every scan leg reads exactly ONE column
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.forall(sch => sch.count(_ == ':') == 1),
      s"a profile leg reads more than its own column:\n$schemas")
  }

  test("dq1b: per-column sketch profiles — pruned scans, no Expand, HLL present") {
    val p = plan("dq1b_expectations_sketch")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 4, s"expected 4 column-pruned scans, got $scans:\n$p")
    assert(!p.contains("Expand"), s"multi-distinct Expand is back:\n$p")
    // the 100 TB claim is the sketch: it must actually be in the plan, not
    // optimized away (the oracle gates its ±5% flag; this gates its presence)
    assert(p.contains("approx_count_distinct"), s"HLL sketch missing from plan:\n$p")
  }

  test("t12: repetition filter is one generator + one doc_id-keyed aggregation") {
    // tokens ride through the explode (no documents re-join) and the only
    // exchanges are the doc_id aggregation's — the distinct-aggregate
    // Expand adds its pair, but nothing shuffles the corpus twice
    val p = plan("t12_repetition")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"repetition filter scans documents $scans times:\n$p")
  }

  test("t10: vocab joins back to the corpus as a broadcast (corpus never shuffles to encode)") {
    val p = plan("t10_vocab_encode")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
  }

  test("co1: cohort join reuses the min-day aggregate's user_id partitioning") {
    // ev.groupBy(user_id) and the join back are on the SAME key: the agg's
    // output feeds the SortMergeJoin directly, so the plan carries exactly
    // two hashpartitioning(user_id) exchanges (agg input + the raw ev join
    // side) — a third would mean the co-partitioning was lost. AQE and
    // auto-broadcast off so the join genuinely shuffles at spec scale.
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan("co1_retention_cohorts")
      val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(p.contains("SortMergeJoin"), s"no shuffle join — vacuous:\n$p")
      assert(n == 2, s"expected 2 user_id exchanges, got $n:\n$p")
    }
  }

  test("dq2: the three lineitem referential checks share ONE lineitem scan") {
    val p = plan("dq2_referential")
    val liScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(liScans == 1,
      s"lineitem scanned $liScans times for the fact checks (want 1):\n$p")
  }

  test("w6: sessionization is ONE user_id shuffle (windows + rollup co-partition)") {
    // both window passes and the (user_id, session_id) rollup cluster on
    // user_id — the plan carries exactly one hashpartitioning(user_id)
    // exchange; a second would mean the rollup lost the window partitioning
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val p = plan("w6_sessionize")
      val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(n == 1, s"expected 1 user_id exchange, got $n:\n$p")
    }
  }

  test("sp5: per-source rates broadcast — the corpus never shuffles to be sampled") {
    val p = plan("sp5_source_mixture")
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled against rates:\n$p")
  }

  test("sim2b: label-partitioned IVF probe prunes partitions dynamically") {
    val p = plan("sim2b_ivf_partitioned").toLowerCase
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the label-partitioned scan:\n$p")
  }

  test("km1: the E-step broadcasts the centroid table, never shuffles the corpus against it") {
    val p = plan("km1_kmeans_assign")
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to join centroids:\n$p")
  }

  test("ct1: contamination hits join against a BROADCAST benchmark shingle set") {
    val p = plan("ct1_contamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark shingles not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination check degenerated:\n$p")
  }

  test("hh1: candidate second pass is a broadcast join (no full-vocab shuffle)") {
    val p = plan("hh1_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), s"candidate set not broadcast:\n$p")
  }

  test("pk1: packing windows per source — no single-partition global sort") {
    val p = plan("pk1_seq_pack")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"packing collapsed to one partition:\n$p")
    assert(p.contains("Window"), s"no window in packing plan:\n$p")
  }

  test("j12: interval-overlap join is a binned equi-join, not a nested loop") {
    val p = plan("j12_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap degenerated to a nested loop:\n$p")
  }

  test("runtime bloom-filter semi-join reduction injects on the fact side " +
    "of a selective shuffle join") {
    // At 100 TB a selective dim filter should prune the fact SHUFFLE, not
    // just the join: Spark's InjectRuntimeFilter plants a bloom filter
    // built from the filtered creation side into the fact scan side. The
    // size thresholds exist for real clusters; lower them to exercise the
    // rewrite on test data, and disable broadcast so the join actually
    // shuffles (broadcast joins don't need the bloom).
    import org.apache.spark.sql.functions._
    withConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_totalprice")
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$opt")
    }
  }

  test("ct2: the Bloom probe is broadcast hash joins, never a per-row array scan") {
    // array_contains over the position set is O(|filter|) per row — it
    // measured unbounded at sf10's 3M positions; the probe must be O(1)
    // broadcast hash lookups
    val p = plan("ct2_bloom_decontam")
    assert(!p.contains("array_contains"), s"linear array probe in ct2:\n$p")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      s"position probes not broadcast joins:\n$p")
  }

  test("src2: the n_chars filter and 3-column projection push into the ORC scan") {
    val p = plan("src2_orc_roundtrip")
    assert(p.contains("GreaterThanOrEqual(n_chars,200)"),
      s"no pushed ORC filter:\n$p")
    assert(p.contains("ReadSchema: struct<lang:string,source:string,n_chars:bigint>"),
      s"ORC scan reads more than it projects:\n$p")
  }

  test("cap1: per-source selection is a bounded aggregate, never a window sort") {
    // a row_number window would sort every row of a hot source on one
    // reducer; the TopKAggregator keeps O(K) state per group map-side
    val p = plan("cap1_source_cap")
    assert(!p.contains("Window"), s"cap1 plans a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"no bounded aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"kept ids not broadcast back:\n$p")
  }

  test("ent1/lr1: the documents scan reads only (doc_id, text)") {
    for (name <- Seq("ent1_token_entropy", "lr1_quality_logit")) {
      val p = plan(name)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name reads more than it projects:\n$p")
    }
  }

  test("knn1: query set broadcasts; the corpus never shuffles to be scored") {
    val p = plan("knn1_label_knn")
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffles against queries:\n$p")
  }

  test("pca1: a power-iteration step is generator + keyed agg — no corpus join") {
    val p = plan("pca1_power_iteration")
    // the direction vector rides as an array literal inside zip_with; the
    // only join is the 1-row norm broadcast
    assert(p.contains("Generate"), s"no posexplode generator:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), s"corpus-side join in pca1:\n$p")
  }
}
