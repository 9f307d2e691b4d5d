package graft

/** Results must not depend on the parallelism they were computed with —
  * the property that lets the same query run on 4 local threads and 1000
  * executors. The driver's oracle gate proves it indirectly (Verify runs
  * have used 4, 7, and 32 shuffle partitions across rounds); this spec pins
  * it in-repo with one representative per family whose ALGORITHM touches
  * partitioning or hash-derived sampling:
  * id1 (range-partitioned rank + per-partition offsets), w1 (running
  * window over an explicit total order), sp4 (md5-derived weighted sample),
  * sp5 (source-mixture sample), sp3 (leak-proof train/val/test split),
  * bal1 (language rebalance via hash sampling), z1 (Morton z-order key).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def runAt(partitions: Int, name: String): Seq[String] =
    withConf("spark.sql.shuffle.partitions" -> partitions.toString) {
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    }

  // ed1: GlobalIds rank + offset equi-join; cm1: integer-ppm sums through
  // a collect_list top-2 (order inside the collected array is sorted, and
  // the per-cluster mean is an exact integer sum); ols1: five integer
  // sufficient statistics then double arithmetic on the 3-row aggregate
  for (name <- Seq("id1_global_ids", "w1_window_running", "sp4_weighted_sample",
                   "sp5_source_mixture", "sp3_train_val_test",
                   "bal1_language_balance", "z1_zorder_key",
                   "ed1_fuzzy_neighbors", "cm1_silhouette",
                   "ols1_group_regression",
                   // round-10 ML family: ent1/lr1 integer micro-unit sums,
                   // mom1 integer power sums, mk1 windowed counts + integer
                   // ppm, cap1 total-ordered TopKAggregator merge (pca1 has
                   // its own invariance test in MlQueriesSpec)
                   "ent1_token_entropy", "lr1_quality_logit",
                   "mom1_higher_moments", "mk1_markov_transitions",
                   "cap1_source_cap",
                   // round-10 additions whose algorithms touch
                   // partitioning or argmax tie-breaks: lp1's sync
                   // vote argmax (struct-max over keyed counts), fi1's
                   // capped-collector baskets + TakeOrdered-50, cur1's
                   // GlobalIds curriculum rank, gini1's GlobalIds rank +
                   // HUGEINT sums, emb6's integer projection folds, emb7's
                   // per-block absmax codes, at1's carry-forward window
                   "lp1_label_propagation", "fi1_frequent_pairs",
                   "cur1_curriculum_order", "gini1_revenue_concentration",
                   "emb6_random_projection", "emb7_block_quant",
                   "at1_last_touch_attribution",
                   // this session's additions: dd10's collect_list
                   // reassembly (ordered by array_sort before the digest),
                   // sc1's decimal(38,0) rank statistics, bpe2/tok1's
                   // best-pair argmax chain (total order: count desc, then
                   // pair), nv1/nv2's keyed shingle aggs + GlobalIds decile
                   "dd10_line_dedup", "sc1_spearman", "bpe2_apply_merges",
                   "tok1_fertility", "nv1_source_novelty",
                   "nv2_novelty_curve",
                   // ng1's rank-offset pairing, dq4's 9-row window + div
                   // chain, an1's sorted-list float fold
                   "ng1_negative_sampling", "dq4_benford", "an1_anova",
                   "hill1_tail_index", "cr1_cramers_v", "ses1_exp_smoothing",
                   "ams1_second_moment", "rk1_rank_churn", "mc1_rolling_corr",
                   "seg1_rfm_segments", "ltv1_cohort_ltv", "pf1_pareto_frontier",
                   // StatQueries family: ks1's ECDF window over the
                   // distinct-score table, mi1's micro-ln contingency sums,
                   // gt1's freq-of-freq aggs, zipf1's TakeOrdered-512 +
                   // rank window, sur1's checkpointed-distinct + keyed
                   // window, tq8's broadcast star + conditional agg
                   "ks1_ks_test", "mi1_feature_mi", "gt1_good_turing",
                   "zipf1_zipf_slope", "sur1_life_table", "tq8_market_share",
                   // round-12 additions: emd1's ECDF-gap decimal sums, wt1's
                   // integer sufficient stats + 1-row double finish, sd1's
                   // weekday windows over the day-grain pre-agg
                   "emd1_wasserstein", "wt1_welch_ttest",
                   "sd1_weekday_decomp",
                   // wave 2: js1's decimal cell sums over a 1-row broadcast,
                   // acf1's lag self-join + decimal products, theil1's
                   // total-ordered median row_number windows
                   "js1_jensen_shannon", "acf1_autocorrelation",
                   "theil1_theil_sen",
                   // tq18/tq21: two-distinct Expand aggs + TakeOrdered on
                   // total (cents desc, key) / (numwait desc, name) orders
                   "tq18_big_orders", "tq21_late_supplier",
                   // kc1: capped-collector edge build + iterated degree
                   // aggs and semi-joins with localCheckpoint rounds;
                   // emb8: trained-codebook ADC shortlist + exact re-rank
                   // through total-ordered rank windows
                   "kc1_kcore", "emb8_ivfpq_refine",
                   // did1's conditional decimal sums + 1-row broadcast
                   // anchor; mm4's per-row signature + banded self-join
                   "did1_diff_in_diff", "mm4_phash_neardup",
                   // tq17's partkey window + exact-integer filter; qq1's
                   // ECDF window + conditional-min level grid
                   "tq17_small_qty_revenue", "qq1_quantile_drift",
                   // ab2's integer LLR prefix window over the day table
                   "ab2_sprt",
                   // TPC-H suite completion: tq1's decimal c4/c6 cell sums
                   // + truncating integral averages, tq10's
                   // aggregate-before-join rollup + TakeOrdered-20, tq15's
                   // 1-row-broadcast argmax equality (tie set must not
                   // depend on merge order), tq22's truncating global
                   // average + anti join
                   "tq1_pricing_summary", "tq10_returned_items",
                   "tq15_top_supplier", "tq22_dormant_customers",
                   // mwu1's decimal rank sums + single-sqrt double finish,
                   // kt1's day-grain pair signs + truncating ppm
                   "mwu1_mann_whitney", "kt1_kendall_tau",
                   // TPC-H completion wave C: tq2's window-min tie set,
                   // tq11's 1-row-broadcast threshold on decimal sums,
                   // tq16's anti-join + distinct-count grid
                   "tq2_min_cost_supplier", "tq11_important_stock",
                   "tq16_supplier_count",
                   // wave 7: prc1/tm1's ECDF windows over distinct-score
                   // tables, ka1's four-cell conditional agg, rg1's decimal
                   // sufficient stats + single-row Cramer solve, nb1's
                   // micro-ln score sums + per-doc argmax tie-break, gm1's
                   // capped edge build + decimal community sums, lk1's
                   // wedge self-join + truncating per-term division
                   "prc1_pr_curve", "tm1_trimmed_mean", "ka1_cohens_kappa",
                   "rg1_ridge_regression", "nb1_naive_bayes",
                   "gm1_modularity", "lk1_adamic_adar",
                   // wave 8: cd1's first-seen agg + day window, fc1's
                   // calendar self-join + per-day ppm truncation, dq5's
                   // double aggregate + ff-table order stats, mv2's
                   // partial-view union re-agg, pt1's per-user rank
                   // tie-break
                   "cd1_cumulative_distinct", "fc1_backtest_mape",
                   "dq5_key_skew", "mv2_join_delta", "pt1_top_paths",
                   // wave 9: ppr1's per-round rounded push, km3's
                   // TakeOrdered(1) argmax chain, v2's bounded top-k
                   // collect + pivot/unpivot, rp1's GlobalIds sample
                   // ranks + interval join, ci1's bucket sums + one-sqrt
                   // finish
                   "ppr1_personalized_pagerank", "km3_farthest_init",
                   "v2_pivot_topk_other", "rp1_range_splits",
                   "ci1_jackknife",
                   // wave 10: dd11's df-capped pair projection, pm1's md5
                   // permutation parities + decimal cross-multiplication,
                   // rbo1's TakeOrdered rankings × literal power grid
                   "dd11_containment", "pm1_permutation_test",
                   "rbo1_rank_overlap",
                   // wave 11: emb9's bit-pack + Hamming rank + rerank
                   // windows, at2's per-conversion rank tie-breaks + ppm
                   // division, s6's rank-before-collect + sorted concat
                   "emb9_binary_quant", "at2_position_weighted",
                   "s6_ordered_listagg",
                   // wave 12: gr4's degree-oriented wedge counts + integer
                   // ppm, llr1's exact-integer-ln cell terms + per-source
                   // rank window, cuped1's decimal moment sums + 1-row
                   // double finish, qn1's two GlobalIds rankings + rank
                   // equi-join, mm5's banded pairs + star rounds
                   "gr4_clustering_coeff", "llr1_keywords",
                   "cuped1_variance_reduction", "qn1_quantile_normalize",
                   "mm5_phash_clusters",
                   // wave 13: url3's TopKAggregator merge keyed by the
                   // derived registrable domain, dd8b's md5-bucket sample
                   // frame + window anti-join counts
                   "url3_domain_cap", "dd8b_substring_referee")) {
    test(s"$name is identical at 3, 5, and 13 shuffle partitions") {
      val results = Seq(3, 5, 13).map(runAt(_, name))
      assert(results(0) == results(1) && results(1) == results(2),
        s"$name varies with partition count")
    }
  }
}
